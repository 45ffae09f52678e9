"""Seeded input generators for the four benchmark components.

Every generator derives its random stream from the run's ``--seed`` and
returns plain Python / Arrow data; the program under test only ever sees
what these functions produce.  Sizes come from workloads.json, so the
same seed and size always give the same inputs.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "data spark python learn build model deploy scale cloud stream query index "
    "vector graph train test debug design secure agile rust java kotlin swift "
    "react node docker linux network storage cache shard batch merge join sort "
    "hash tree queue actor async kernel tensor matrix signal audio image video"
).split()

LOCALES = ["en_US", "es_ES", "fr_FR", "de_DE", "pt_BR", "ja_JP", "zh_CN", "it_IT"]
LEVELS = ["Beginner", "Intermediate", "Expert", "All Levels"]
IMAGE_SIZES = ["img_125_H", "img_240x135", "img_480x270", "img_750x422", "img_50x50"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts the values another stream draws."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * (i % 4)) for i, c in enumerate(stream))])


def _skewed_len(rng: np.random.Generator, cap: int) -> int:
    # Zipf(2) lengths: most arrays hold 1-2 entries, a few hold `cap`
    return int(min(rng.zipf(2.0), cap))


# ---------------------------------------------------------------------------
# catalog_ingest: nested course documents served page by page
# ---------------------------------------------------------------------------


def course_doc(rng: np.random.Generator, cid: int) -> dict:
    cat = int(rng.integers(0, 12))
    sub = int(rng.integers(0, 40))
    words = [WORDS[i] for i in rng.integers(0, len(WORDS), 4)]
    topics = [int(t) for t in rng.integers(0, 200, _skewed_len(rng, 12))]
    doc = {
        "id": cid,
        "title": f"Course {cid}: {' '.join(words)}",
        "description": " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), 20)),
        "url": f"/course/{cid}/",
        "estimated_content_length": int(rng.integers(10, 3000)),
        "num_lectures": int(rng.integers(1, 300)),
        "num_videos": int(rng.integers(0, 300)),
        "mobile_native_deeplink": f"app://course/{cid}",
        "is_practice_test_course": bool(rng.random() < 0.1),
        "num_quizzes": int(rng.integers(0, 20)),
        "num_practice_tests": int(rng.integers(0, 5)),
        "has_closed_caption": bool(rng.random() < 0.7),
        "last_update_date": str(dt.date(2018, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2400)))),
        "xapi_activity_id": f"xapi-{cid}",
        "is_custom": bool(rng.random() < 0.05),
        "is_imported": bool(rng.random() < 0.05),
        "headline": " ".join(words[:3]),
        "level": LEVELS[int(rng.integers(0, len(LEVELS)))],
        "locale": {"locale": LOCALES[int(rng.integers(0, len(LOCALES)))]},
        "primary_category": {"title": f"Category {cat}", "url": f"/cat/{cat}/"},
        "primary_subcategory": {"title": f"Subcategory {sub}", "url": f"/sub/{sub}/"},
        "topics": [{"id": t, "title": f"Topic {t}", "url": f"/topic/{t}/"} for t in topics],
        "promo_video_url": [
            {"type": "video/mp4", "label": str(q), "file": f"/v/{cid}/{q}.mp4"}
            for q in rng.choice([144, 360, 480, 720, 1080], _skewed_len(rng, 5), replace=False).tolist()
        ],
        "instructors": [f"Instructor {int(i)}" for i in rng.integers(0, 300, _skewed_len(rng, 6))],
        "requirements": (
            None
            if rng.random() < 0.2
            else {"list": [f"Know {WORDS[int(i)]}" for i in rng.integers(0, len(WORDS), _skewed_len(rng, 8))]}
        ),
        "what_you_will_learn": {
            "list": [f"Learn {WORDS[int(i)]} {int(i) % 7}" for i in rng.integers(0, len(WORDS), _skewed_len(rng, 15))]
        },
        "images": {
            s: f"/img/{cid}/{s}.jpg"
            for s in rng.choice(IMAGE_SIZES, int(rng.integers(1, len(IMAGE_SIZES) + 1)), replace=False).tolist()
        },
        "caption_languages": [
            LOCALES[int(i)].split("_")[0] for i in rng.integers(0, len(LOCALES), _skewed_len(rng, 8))
        ],
        "caption_locales": [
            {"locale": LOCALES[int(i)], "title": LOCALES[int(i)], "english_title": f"Lang {int(i)}"}
            for i in rng.integers(0, len(LOCALES), _skewed_len(rng, 8))
        ],
    }
    return doc


def course_windows(seed: int, n_windows: int, pages: int, page_size: int, repeat_share: float):
    """``n_windows`` windows of ``pages`` pages of ``page_size`` documents.

    A ``repeat_share`` of the slots repeat a document already served on an
    earlier page of the same window (identical copy, as a re-paginating
    API would), so the pipeline's dedup has work to do."""
    rng = rng_for(seed, "courses")
    windows = []
    next_id = 1
    for _ in range(n_windows):
        served: list[dict] = []
        window = []
        for p in range(pages):
            page = []
            for _ in range(page_size):
                if p > 0 and rng.random() < repeat_share:
                    page.append(served[int(rng.integers(0, len(served)))])
                else:
                    doc = course_doc(rng, next_id)
                    next_id += 1
                    page.append(doc)
            served.extend(page)
            window.append(page)
        windows.append(window)
    return windows


# ---------------------------------------------------------------------------
# activity_upsert: flat user-course facts, initial table + merge batches
# ---------------------------------------------------------------------------

_EPOCH0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def _iso(ts: int | None) -> str | None:
    if ts is None:
        return None
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _activity_row(rng: random.Random, user_id: int, course_id: int, accessed: int) -> dict:
    enroll = accessed - rng.randrange(86400, 400 * 86400)
    completed = accessed - rng.randrange(0, 86400) if rng.random() < 0.3 else None
    return {
        "user_id": user_id,
        "user_name": f"user{user_id}",
        "user_surname": f"sur{user_id % 977}",
        "user_email": f"user{user_id}@example.com",
        "user_role": "admin" if user_id % 50 == 0 else "learner",
        "user_external_id": f"ext-{user_id}",
        "course_id": course_id,
        "course_title": f"Course {course_id}",
        "course_category": f"Category {course_id % 12}",
        "course_duration": float(course_id % 90 + 10),
        "completion_ratio": round(rng.random(), 4),
        "num_video_consumed_minutes": round(rng.random() * 600, 2),
        "course_enroll_date": _iso(enroll),
        "course_start_date": _iso(enroll + 3600),
        "course_completion_date": _iso(completed),
        "course_first_completion_date": _iso(completed),
        "course_last_accessed_date": _iso(accessed),
        "last_activity_date": dt.datetime.fromtimestamp(accessed, dt.timezone.utc).date(),
        "is_assigned": rng.random() < 0.2,
        "assigned_by": "manager" if rng.random() < 0.2 else None,
        "user_is_deactivated": rng.random() < 0.02,
        "lms_user_id": f"lms-{user_id}",
    }


def activity_inputs(seed: int, initial_rows: int, batch_sizes: list[int], new_share: float,
                    stale_share: float, zipf_a: float):
    """Initial fact rows plus one list of rows per merge batch.

    Batch keys follow a Zipf law over the initial keys (hot keys are
    updated again and again), a ``new_share`` of rows are keys never seen,
    and a ``stale_share`` are replays of an older version of a key, whose
    older ``course_last_accessed_date`` must lose the merge.  Timestamps
    are unique per key, so latest-wins has exactly one answer."""
    rng = random.Random(f"activity/{seed}")
    n_users = max(1, initial_rows // 8)
    history: dict[tuple[int, int], list[dict]] = {}
    while len(history) < initial_rows:
        k = (rng.randrange(n_users), rng.randrange(4000))
        history.setdefault(k, [_activity_row(rng, k[0], k[1], _EPOCH0 + rng.randrange(30 * 86400))])
    keys = list(history)
    initial = [rows[0] for rows in history.values()]
    zipf_cdf = list(itertools.accumulate(1.0 / (r + 1) ** zipf_a for r in range(len(keys))))
    batches = []
    clock = _EPOCH0 + 31 * 86400
    for size in batch_sizes:
        clock += 86400
        rows: dict[tuple[int, int], dict] = {}
        while len(rows) < size:
            u = rng.random()
            if u < new_share:
                k = (n_users + rng.randrange(n_users), rng.randrange(4000))
                if k not in history and k not in rows:
                    rows[k] = _activity_row(rng, k[0], k[1], clock + rng.randrange(86400))
                continue
            k = keys[bisect.bisect_left(zipf_cdf, rng.random() * zipf_cdf[-1])]
            if k in rows:  # a hot key already in this batch: pick a uniform one
                k = keys[rng.randrange(len(keys))]
                if k in rows:
                    continue
            if u < new_share + stale_share and len(history[k]) > 1:
                rows[k] = history[k][rng.randrange(len(history[k]) - 1)]
            else:
                rows[k] = _activity_row(rng, k[0], k[1], clock + rng.randrange(86400))
        for k, r in rows.items():
            history.setdefault(k, []).append(r)
        batches.append(list(rows.values()))
    return initial, batches


def write_rows_parquet(rows: list[dict], schema: pa.Schema, path: str) -> int:
    """Write ``rows`` as one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# corpus_dedup: documents with planted near-duplicates, PII and spam
# ---------------------------------------------------------------------------

PII_TOKENS = ["alice.smith@example.com", "10.0.3.17", "555-0142", "bob_j@mail.org", "192.168.1.20", "555-9876"]


def corpus(seed: int, n_docs: int, min_len: int, max_len: int, dup_share: float,
           spam_share: float, pii_share: float, vocab: int):
    """(docs, planted_pairs).  Lengths follow a truncated power law;
    ``dup_share`` of the docs are near-duplicates (a few token edits) of an
    earlier "source" doc; ``spam_share`` repeat one short phrase, which the
    Gopher repetition gates must drop; ``pii_share`` contain PII tokens."""
    rng = rng_for(seed, "corpus")
    lex = [f"w{i}" for i in range(vocab)]
    # Zipfian word frequencies, so bigram statistics look like text
    probs = 1.0 / np.arange(1, vocab + 1) ** 1.05
    probs /= probs.sum()
    docs: list[tuple[int, str]] = []
    planted: list[tuple[int, int]] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < dup_share:
            src_id = int(rng.integers(0, i))
            toks = docs[src_id][1].split(" ")
            if len(toks) >= 40:
                toks = list(toks)
                for _ in range(max(1, len(toks) // 40)):
                    toks[int(rng.integers(0, len(toks)))] = lex[int(rng.integers(0, vocab))]
                docs.append((i, " ".join(toks)))
                planted.append((src_id, i))
                continue
        length = int(min(max_len, min_len * (1 - rng.random()) ** (-1 / 1.5)))
        if u > 1 - spam_share:
            phrase = [lex[int(j)] for j in rng.integers(0, vocab, 3)]
            toks = (phrase * (length // 3 + 1))[:length]
        else:
            toks = [lex[int(j)] for j in rng.choice(vocab, length, p=probs)]
            if rng.random() < pii_share:
                for _ in range(int(rng.integers(1, 4))):
                    toks[int(rng.integers(0, length))] = PII_TOKENS[int(rng.integers(0, len(PII_TOKENS)))]
        docs.append((i, " ".join(toks)))
    return docs, planted


def embeddings(seed: int, n: int, dim: int, n_clusters: int, noise: float):
    """(ids, matrix): vectors around ``n_clusters`` planted centres."""
    rng = rng_for(seed, "embeddings")
    centres = rng.normal(size=(n_clusters, dim))
    member = rng.integers(0, n_clusters, n)
    mat = centres[member] + noise * rng.normal(size=(n, dim))
    # float32-exact values so Spark's float array and numpy agree bit for bit
    return np.arange(n, dtype=np.int64), mat.astype(np.float32)


# ---------------------------------------------------------------------------
# warehouse_queries: the TPC-H-style star schema the registry queries read
# ---------------------------------------------------------------------------

P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
SEGMENTS = ["HOUSEHOLD", "FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, as the registry's exact-decimal aggregates assume
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def warehouse_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Tables with the column set, types and value domains of the
    registry's star schema, at scale factor ``sf`` (lineitem ~6M x sf)."""
    rng = rng_for(seed, "warehouse")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    flags = rng.integers(0, 3, n_line)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line),
    })
    return {"region": region, "nation": nation, "customer": customer, "supplier": supplier,
            "part": part, "orders": orders, "lineitem": lineitem}
