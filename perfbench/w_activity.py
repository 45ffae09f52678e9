"""activity_upsert: the reference's second job.

Set-up writes the initial fact table with ``operators.storage.write_bucketed``
on (user_id, course_id).  Each op is one step: merge one batch through
``pipelines.user_activity.typed_facts`` and
``operators.storage.merge_into_bucketed`` (latest ``course_last_accessed_date``
wins), then one read, ``read_table`` plus a per-course aggregate.  The
reads between merges make a merge that fragments files and slows reads
show up in the op latency.

Each step's aggregate is checked against a DuckDB latest-wins replay of
the same inputs; at the end the whole table is compared with the replay
by row count and an order-insensitive row hash.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pyarrow as pa

import data
from harness import component_sizes, median

SIZES = component_sizes("activity_upsert")

RAW_ARROW = pa.schema([
    ("user_id", pa.int64()), ("user_name", pa.string()), ("user_surname", pa.string()),
    ("user_email", pa.string()), ("user_role", pa.string()), ("user_external_id", pa.string()),
    ("course_id", pa.int64()), ("course_title", pa.string()), ("course_category", pa.string()),
    ("course_duration", pa.float64()), ("completion_ratio", pa.float64()),
    ("num_video_consumed_minutes", pa.float64()), ("course_enroll_date", pa.string()),
    ("course_start_date", pa.string()), ("course_completion_date", pa.string()),
    ("course_first_completion_date", pa.string()), ("course_last_accessed_date", pa.string()),
    ("last_activity_date", pa.date32()), ("is_assigned", pa.bool_()), ("assigned_by", pa.string()),
    ("user_is_deactivated", pa.bool_()), ("lms_user_id", pa.string()),
])
TS_COLS = ["course_enroll_date", "course_start_date", "course_completion_date",
           "course_first_completion_date", "course_last_accessed_date"]
KEYS = ["user_id", "course_id"]
ORDER = "course_last_accessed_date"


def _typed_sql(path: str) -> str:
    """DuckDB view of a raw parquet file with the five timestamps parsed."""
    cols = ", ".join(
        f"strptime({c}, '%Y-%m-%dT%H:%M:%SZ') AS {c}" if c in TS_COLS else c for c in RAW_ARROW.names)
    return f"SELECT {cols} FROM read_parquet('{path}')"


class ActivityUpsert:
    name = "activity_upsert"

    def __init__(self, seed: int, size: str, work_dir: str, tracer, cpus: int) -> None:
        self.p = p = SIZES[size]
        self.tracer = tracer
        self.root = os.path.join(work_dir, "activity")
        self.table = os.path.join(self.root, "facts")
        sizes = [p["batch_sizes"][i % len(p["batch_sizes"])] for i in range(p["n_batches"])]
        initial, batches = data.activity_inputs(seed, p["initial_rows"], sizes, p["new_share"],
                                                p["stale_share"], p["zipf_a"])
        self.initial_path = os.path.join(self.root, "in", "initial.parquet")
        data.write_rows_parquet(initial, RAW_ARROW, self.initial_path)
        self.batch_paths, self.batch_bytes = [], []
        for i, rows in enumerate(batches):
            path = os.path.join(self.root, "in", f"batch{i:04d}.parquet")
            self.batch_bytes.append(data.write_rows_parquet(rows, RAW_ARROW, path))
            self.batch_paths.append(path)
        self.db = duckdb.connect()
        self.reset_counters()

    def compute_oracle(self) -> None:
        """The replay advances with the ops (see ``fetch``); nothing to precompute."""

    # -- program prep -----------------------------------------------------
    def prepare(self, spark) -> None:
        from ub_etl_spark.operators.storage import write_bucketed
        from ub_etl_spark.pipelines.user_activity import typed_facts

        with self.tracer.span("operators.storage.write_bucketed"):
            write_bucketed(typed_facts(spark.read.parquet(self.initial_path)), self.table, KEYS,
                           n_buckets=self.p["n_buckets"])
        self._replay_pending = True
        self.next_batch = 0

    def pass_items(self, pass_no: int) -> list[int]:
        return [self._take() for _ in self.p["batch_sizes"]]

    def _take(self) -> int:
        # past the generated batches, the sequence starts over: every row
        # is then a replay, which latest-wins must leave unchanged
        i = self.next_batch % len(self.batch_paths)
        self.next_batch += 1
        return i

    def run_op(self, spark, op_id: int, i: int) -> list:
        from pyspark.sql import functions as F

        from ub_etl_spark.operators.storage import merge_into_bucketed, read_table
        from ub_etl_spark.pipelines.user_activity import typed_facts

        tr = self.tracer
        with tr.span("operators.storage.merge_into_bucketed"):
            merge_into_bucketed(spark, self.table, typed_facts(spark.read.parquet(self.batch_paths[i])),
                                KEYS, order_by=[ORDER], n_buckets=self.p["n_buckets"])
        t0 = time.perf_counter()
        with tr.span("operators.storage.read_table"):
            rows = (
                read_table(spark, self.table)
                .groupBy("course_id")
                .agg(F.count(F.lit(1)).alias("n"), F.max(F.col(ORDER).cast("long")).alias("last"))
                .collect()
            )
        self.read_s.append(time.perf_counter() - t0)
        return rows

    @staticmethod
    def release(spark) -> None:
        """Nothing is cached across the op."""

    # -- checks -------------------------------------------------------------
    def fetch(self, i: int, rows: list) -> list[tuple]:
        if self._replay_pending:
            self.db.execute(f"CREATE OR REPLACE TABLE state AS {_typed_sql(self.initial_path)}")
            self._files = _files(self.table)
            self._replay_pending = False
        self.db.execute(f"""
            CREATE OR REPLACE TABLE state AS
            SELECT * EXCLUDE (v, rn) FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, course_id ORDER BY {ORDER} DESC, v ASC) AS rn
              FROM (SELECT *, 0 AS v FROM state
                    UNION ALL BY NAME
                    SELECT *, 1 AS v FROM ({_typed_sql(self.batch_paths[i])})))
            WHERE rn = 1""")
        files = _files(self.table)
        new = {f: s for f, s in files.items() if f not in self._files}
        rewritten = sum(new.values())
        self.touched.append(len({os.path.dirname(f) for f in new}))
        self.rewritten.append(rewritten)
        self.amplification.append(rewritten / self.batch_bytes[i])
        self.file_count.append(sum(1 for f in files if f.endswith(".parquet")))
        self._files = files
        return sorted((r["course_id"], r["n"], r["last"]) for r in rows)

    @staticmethod
    def corrupt(rows: list[tuple]) -> list[tuple]:
        c, n, last = rows[0]
        return [(c, n + 1, last)] + rows[1:]  # one changed value

    def check(self, i: int, rows: list[tuple]) -> bool:
        want = self.db.execute(
            f"SELECT course_id, count(*), max(epoch({ORDER}))::BIGINT FROM state GROUP BY course_id "
            "ORDER BY ALL").fetchall()
        return rows == [tuple(r) for r in want]

    def final_check(self) -> bool:
        """Whole table against the replay: row count and order-insensitive hash."""
        cols = ", ".join(RAW_ARROW.names)
        q = f"SELECT count(*), sum(hash({cols})) FROM "
        got = self.db.execute(q + f"read_parquet('{self.table}/*/*.parquet')").fetchone()
        want = self.db.execute(q + "state").fetchone()
        return got == want

    # -- metrics ------------------------------------------------------------
    def reset_counters(self) -> None:
        self.read_s, self.touched, self.rewritten = [], [], []
        self.amplification, self.file_count = [], []

    def stored_and_input_bytes(self) -> tuple[int, int]:
        """Bytes of the table on disk, and of the rows fed to it since prep."""
        fed = os.path.getsize(self.initial_path) + sum(self.batch_bytes[i % len(self.batch_bytes)]
                                                        for i in range(self.next_batch))
        return sum(_files(self.table).values()), fed

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tracer
        return {
            "operators.storage.write_bucketed_s": median(tr.durations("operators.storage.write_bucketed")),
            "operators.storage.merge_s": median(tr.durations("operators.storage.merge_into_bucketed")),
            "operators.storage.buckets_touched": median(self.touched),
            "operators.storage.bytes_rewritten": median(self.rewritten),
            "operators.storage.write_amplification": median(self.amplification),
            "operators.storage.file_count": median(self.file_count),
            "operators.storage.read_s": median(tr.durations("operators.storage.read_table")),
            "read_p50_s": median(self.read_s),
        }

    def close(self) -> None:
        self.db.close()
        shutil.rmtree(self.root, ignore_errors=True)


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                out[os.path.join(d, n)] = os.path.getsize(os.path.join(d, n))
    return out

