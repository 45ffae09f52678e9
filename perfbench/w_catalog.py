"""catalog_ingest: the reference's first job.

An op reads one window of course pages through the ``rest_paginated``
source from the benchmark's HTTP stub, normalizes them with
``pipelines.course_catalog.normalize`` (counting the hub table, which
materializes normalize's cached course frame) and writes the 13 tables.  The
check compares each written table's row count and natural-key set with a
pure-Python normalization of the same documents.
"""

from __future__ import annotations

import os
import shutil
import zlib

import pyarrow.parquet as pq

import data
from harness import component_sizes, median
from stub import RestStub

SIZES = component_sizes("catalog_ingest")

TABLES = ["courses", "categories", "subcategories", "course_categories", "course_subcategories",
          "topics", "promo_videos", "caption_locales", "instructors", "requirements",
          "what_you_will_learn", "caption_languages", "images"]


def oracle_keys(docs: list[dict]) -> dict[str, set]:
    """Natural-key set of each of the 13 tables, normalized in Python.
    Bridge tables are keyed by the dimension's title, not its surrogate id."""
    by_id = {d["id"]: d for d in docs}
    out: dict[str, set] = {t: set() for t in TABLES}
    for cid, d in by_id.items():
        out["courses"].add((cid,))
        for dim, bridge, field in (("categories", "course_categories", "primary_category"),
                                   ("subcategories", "course_subcategories", "primary_subcategory")):
            title = (d.get(field) or {}).get("title")
            if title is not None:
                out[dim].add((title,))
                out[bridge].add((cid, title))
        out["topics"].update((cid, t["id"]) for t in d["topics"] or [])
        out["promo_videos"].update((cid, v["type"], v["label"], v["file"]) for v in d["promo_video_url"] or [])
        out["caption_locales"].update((cid, c["locale"]) for c in d["caption_locales"] or [])
        out["instructors"].update((cid, i) for i in d["instructors"] or [])
        out["requirements"].update((cid, r) for r in ((d.get("requirements") or {}).get("list") or []))
        out["what_you_will_learn"].update(
            (cid, r) for r in ((d.get("what_you_will_learn") or {}).get("list") or []))
        out["caption_languages"].update((cid, lang) for lang in d["caption_languages"] or [])
        out["images"].update((cid, s) for s in (d["images"] or {}))
    return out


def written_keys(out_dir: str) -> dict[str, list]:
    """The same key sets, read back from the parquet the op wrote."""
    cols = {
        "courses": ["id"], "categories": ["title"], "subcategories": ["title"],
        "topics": ["course_id", "topic_id"],
        "promo_videos": ["course_id", "type", "label", "file"],
        "caption_locales": ["course_id", "locale"],
        "instructors": ["course_id", "instructor_name"],
        "requirements": ["course_id", "requirement"],
        "what_you_will_learn": ["course_id", "learning_outcome"],
        "caption_languages": ["course_id", "language"],
        "images": ["course_id", "size"],
    }
    t = {name: pq.read_table(os.path.join(out_dir, name)).to_pylist() for name in TABLES}
    keys: dict[str, list] = {n: [tuple(r[c] for c in cs) for r in t[n]] for n, cs in cols.items()}
    for dim, bridge, fk in (("categories", "course_categories", "category_id"),
                            ("subcategories", "course_subcategories", "subcategory_id")):
        title = {r["id"]: r["title"] for r in t[dim]}
        keys[bridge] = [(r["course_id"], title.get(r[fk])) for r in t[bridge]]
    return keys


class CatalogIngest:
    name = "catalog_ingest"

    def __init__(self, seed: int, size: str, work_dir: str, tracer, cpus: int) -> None:
        self.p = SIZES[size]
        self.tracer = tracer
        self.out_root = os.path.join(work_dir, "catalog")
        self.windows = data.course_windows(seed, self.p["windows"], self.p["pages"],
                                           self.p["page_size"], self.p["repeat_share"])
        # one seeded page per window answers the first request for it in
        # every op with 429, so the source's retry path runs in every op
        throttled = [1 + zlib.crc32(f"{seed}/{w}".encode()) % self.p["pages"]
                     for w in range(len(self.windows))]
        self.stub = RestStub(
            self.windows,
            lambda w, p: p == throttled[w],
            partitions=self.p["partitions"],
            max_conns=cpus,
        ).start()
        self.rows_out: list[int] = []
        self.written_bytes: dict[int, int] = {}

    def compute_oracle(self) -> None:
        self.expected = [oracle_keys([d for page in w for d in page]) for w in self.windows]

    def prepare(self, spark) -> None:
        from ub_etl_spark.sources.rest import RestPaginatedDataSource

        spark.dataSource.register(RestPaginatedDataSource)

    def pass_items(self, pass_no: int) -> list[int]:
        return [pass_no % len(self.windows)]

    def run_op(self, spark, op_id: int, window: int) -> str:
        from ub_etl_spark.pipelines.course_catalog import COURSE_SCHEMA, normalize

        tr = self.tracer
        out_dir = os.path.join(self.out_root, f"w{window}")
        with tr.span("sources.rest.load"):
            courses = (
                spark.read.format("rest_paginated")
                .schema(COURSE_SCHEMA)
                .option("url", self.stub.url(op_id, window))
                .option("pages", self.p["pages"])
                .option("page_size", self.p["page_size"])
                .option("partitions", self.p["partitions"])
                # the throttled pages cost one retry each; a short backoff
                # keeps the retry path exercised without sleeping the op away
                .option("backoff_s", 0.01)
                .load()
            )
        with tr.span("pipelines.course_catalog.normalize"):
            tables = normalize(courses)
            # normalize is lazy; counting its hub table builds the cached,
            # deduplicated course frame (the REST scan and the dedup) here,
            # and the writes below reuse it.  The explode, dim and bridge
            # plans still run inside the writes.
            tables["courses"].count()
        with tr.span("pipelines.course_catalog.write"):
            for name, df in tables.items():
                df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
        return out_dir

    @staticmethod
    def release(spark) -> None:
        """Drop the course frame normalize cached."""
        spark.catalog.clearCache()

    def fetch(self, window: int, out_dir: str) -> dict[str, list]:
        keys = written_keys(out_dir)
        rows = sum(len(v) for v in keys.values())
        self.rows_out.append(rows)
        self.written_bytes[window] = dir_bytes(out_dir)
        return keys

    @staticmethod
    def corrupt(keys: dict[str, list]) -> dict[str, list]:
        keys = dict(keys)
        keys["topics"] = keys["topics"][1:]  # one dropped row
        return keys

    def check(self, window: int, keys: dict[str, list]) -> bool:
        exp = self.expected[window]
        return all(len(keys[t]) == len(exp[t]) and set(keys[t]) == exp[t] for t in TABLES)

    def final_check(self) -> bool:
        return True

    def stored_and_input_bytes(self) -> tuple[int, int]:
        """Bytes of the tables on disk, and of the pages they came from."""
        return (sum(self.written_bytes.values()),
                sum(self.stub.page_bytes(w) for w in self.written_bytes))

    def reset_counters(self) -> None:
        self.stub.stats.reset()
        self.rows_out.clear()

    def layer_metrics(self) -> dict[str, float]:
        """Stub counters per op over every timed op; span times per call."""
        tr, st = self.tracer, self.stub.stats.snapshot()
        per_op = max(len(self.rows_out), 1)
        return {
            "sources.rest.requests": st["requests"] / per_op,
            "sources.rest.retries": st["retries"] / per_op,
            "sources.rest.bytes": st["bytes"] / per_op,
            "sources.rest.busy_s": st["busy_s"] / per_op,
            "sources.rest.idle_gap_s": st["idle_gap_s"] / per_op,
            "pipelines.course_catalog.normalize_s": median(tr.durations("pipelines.course_catalog.normalize")),
            "pipelines.course_catalog.write_s": median(tr.durations("pipelines.course_catalog.write")),
            "pipelines.course_catalog.rows_out": median(self.rows_out),
        }

    def close(self) -> None:
        self.stub.close()
        shutil.rmtree(self.out_root, ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
