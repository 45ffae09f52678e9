"""Merge-semantics tests (SURVEY.md §5.2): idempotence + latest-wins.

Encodes the reference's refresh contract (README.md:156-163): incremental
updates, no duplicates, updates win, consistency after re-runs.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from ub_etl_spark.operators.merge import insert_if_absent, upsert_latest_wins


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def make_activity(spark, rows):
    return spark.createDataFrame(
        [Row(user_id=u, course_id=c, ratio=r, gen=g) for (u, c, r, g) in rows],
        schema="user_id long, course_id long, ratio double, gen int",
    )


def test_insert_if_absent_first_writer_wins(spark):
    existing = make_activity(spark, [(1, 10, 0.5, 1), (2, 20, 0.7, 1)])
    incoming = make_activity(spark, [(1, 10, 0.9, 2), (3, 30, 0.1, 2)])
    out = insert_if_absent(existing, incoming, ["user_id", "course_id"])
    assert rows_set(out) == {(1, 10, 0.5, 1), (2, 20, 0.7, 1), (3, 30, 0.1, 2)}


def test_insert_if_absent_idempotent(spark):
    existing = make_activity(spark, [(1, 10, 0.5, 1)])
    incoming = make_activity(spark, [(1, 10, 0.9, 2), (3, 30, 0.1, 2)])
    once = insert_if_absent(existing, incoming, ["user_id", "course_id"])
    twice = insert_if_absent(once, incoming, ["user_id", "course_id"])
    assert rows_set(once) == rows_set(twice)


def test_upsert_latest_wins(spark):
    existing = make_activity(spark, [(1, 10, 0.5, 1), (2, 20, 0.7, 1)])
    updates = make_activity(spark, [(1, 10, 0.9, 2), (3, 30, 0.1, 2)])
    out = upsert_latest_wins(existing, updates, ["user_id", "course_id"])
    assert rows_set(out) == {(1, 10, 0.9, 2), (2, 20, 0.7, 1), (3, 30, 0.1, 2)}


def test_upsert_fixpoint(spark):
    existing = make_activity(spark, [(1, 10, 0.5, 1)])
    updates = make_activity(spark, [(1, 10, 0.9, 2)])
    once = upsert_latest_wins(existing, updates, ["user_id", "course_id"])
    twice = upsert_latest_wins(once, updates, ["user_id", "course_id"])
    assert rows_set(once) == rows_set(twice) == {(1, 10, 0.9, 2)}


def test_upsert_within_batch_recency(spark):
    """Two generations inside one updates batch: order_by picks the winner."""
    existing = make_activity(spark, [])
    updates = make_activity(spark, [(1, 10, 0.3, 1), (1, 10, 0.8, 2)])
    out = upsert_latest_wins(existing, updates, ["user_id", "course_id"], order_by=["gen"])
    assert rows_set(out) == {(1, 10, 0.8, 2)}


def test_upsert_strict_newer_over_two_order_columns(spark):
    """order_by=["a", "b"] is a lexicographic recency order: the incoming
    row wins only when (a, b) is strictly newer than the stored one; on a
    tie the stored row stays.  One key per (stored, incoming) pair drawn
    from {1,2}^2 x {1,2}^2."""
    gens = [(a, b) for a in (1, 2) for b in (1, 2)]
    pairs = [(s, u) for s in gens for u in gens]
    schema = "k int, a int, b int, src string"
    existing = spark.createDataFrame(
        [(k, sa, sb, "stored") for k, ((sa, sb), _) in enumerate(pairs)], schema
    )
    updates = spark.createDataFrame(
        [(k, ua, ub, "incoming") for k, (_, (ua, ub)) in enumerate(pairs)], schema
    )
    out = upsert_latest_wins(existing, updates, ["k"], order_by=["a", "b"])
    got = {r.k: r.src for r in out.collect()}
    assert got == {
        k: "incoming" if u > s else "stored" for k, (s, u) in enumerate(pairs)
    }


def test_upsert_preserves_untouched_keys_at_scale(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    updates = orders.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.lit(0.0)
    )
    merged = upsert_latest_wins(orders, updates, ["o_orderkey"])
    assert merged.count() == orders.count()
    assert merged.filter((F.col("o_orderkey") % 100 == 0) & (F.col("o_totalprice") != 0)).count() == 0


# ---------------------------------------------------------------------------
# SCD Type-2 history (operators/merge.py scd2_history, SURVEY B33)
# ---------------------------------------------------------------------------


def make_changes(spark, rows):
    return spark.createDataFrame(
        [Row(key=k, seq=s, attr=a) for (k, s, a) in rows],
        schema="key long, seq int, attr string",
    )


def scd2(df):
    from ub_etl_spark.operators.merge import scd2_history

    return scd2_history(
        df, keys=["key"], tracked=["attr"], order_by=["seq"], valid_from_col="seq"
    )


def test_scd2_compresses_runs_and_stitches_intervals(spark):
    # key 1: A A B A -> runs (A,1..3) (B,3..4) (A,4..inf); key 2: single row
    df = make_changes(
        spark, [(1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, "A"), (2, 1, "X")]
    )
    out = {tuple(r) for r in scd2(df).collect()}
    assert out == {
        (1, "A", 1, 3, False),
        (1, "B", 3, 4, False),
        (1, "A", 4, None, True),
        (2, "X", 1, None, True),
    }


def test_scd2_one_current_row_per_key_and_contiguous(spark):
    df = make_changes(
        spark,
        [(k, s, ["A", "B", "B", "C", "A"][s - 1]) for k in (1, 2, 3) for s in range(1, 6)],
    )
    hist = scd2(df).collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r["key"], []).append(r)
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in rows) == 1
        assert rows[-1]["valid_to"] is None
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"]  # half-open intervals abut


def test_scd2_null_tracked_values_are_null_safe(spark):
    # NULL -> NULL is NOT a change; NULL -> A and A -> NULL are.
    df = make_changes(
        spark, [(1, 1, None), (1, 2, None), (1, 3, "A"), (1, 4, None)]
    )
    out = {tuple(r) for r in scd2(df).collect()}
    assert out == {
        (1, None, 1, 3, False),
        (1, "A", 3, 4, False),
        (1, None, 4, None, True),
    }


# ---------------------------------------------------------------------------
# table_diff (SURVEY.md B39)
# ---------------------------------------------------------------------------


def test_table_diff_classifies_all_transitions(spark):
    from ub_etl_spark.operators.merge import table_diff

    left = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, 40.0), (5, 50.0)],
        "k long, v double",
    )
    right = spark.createDataFrame(
        [(1, 10.0), (2, 21.0), (3, 30.0), (4, None), (6, 60.0)],
        "k long, v double",
    )
    rows = {
        r.k: r.status
        for r in table_diff(left, right, keys=["k"], compare_cols=["v"]).collect()
    }
    assert rows == {
        1: "same",
        2: "changed",
        3: "changed",  # NULL -> value is a change (null-safe compare)
        4: "changed",  # value -> NULL too
        5: "removed",
        6: "added",
    }


def test_table_diff_null_equals_null_is_same(spark):
    from ub_etl_spark.operators.merge import table_diff

    left = spark.createDataFrame([(1, None)], "k long, v double")
    right = spark.createDataFrame([(1, None)], "k long, v double")
    [r] = table_diff(left, right, keys=["k"], compare_cols=["v"]).collect()
    assert r.status == "same"


def test_merge_agg_state_equals_full_recompute_any_split(spark):
    """Algebraic-merge property: for ANY split of the raw rows, merging
    the two partial states equals the from-scratch aggregate."""
    from ub_etl_spark.operators.merge import merge_agg_state

    raw = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(50)], "k int, v double"
    ).withColumn("vd", F.col("v").cast("decimal(18,2)"))

    def partial(df):
        return df.groupBy("k").agg(
            F.sum("vd").alias("s"), F.count("*").alias("n"), F.max("v").alias("mx")
        )

    full = {(r.k, float(r.s), r.n, r.mx) for r in partial(raw).collect()}
    for split in (7, 25, 49):
        merged = merge_agg_state(
            partial(raw.filter(F.col("v") < split)),
            partial(raw.filter(F.col("v") >= split)),
            keys=["k"],
            sum_cols=["s"],
            count_col="n",
            max_cols=["mx"],
        )
        got = {(r.k, float(r.s), r.n, r.mx) for r in merged.collect()}
        assert got == full, f"split at {split} diverged"


def test_cdc_apply_semantics(spark, sf_dir):
    """Delete keys vanish, update keys carry the new value, insert keys
    appear, untouched base keys pass through unchanged."""
    from pyspark.sql import functions as F

    from ub_etl_spark.queries.merge import cdc_apply_changes
    from ub_etl_spark.sources.tables import load_table

    rows = cdc_apply_changes(spark, sf_dir).collect()
    out = {r.o_orderkey: r.o_totalprice for r in rows}
    assert len(rows) == len(out)  # exactly one output row per key
    orders = {
        r.o_orderkey: r.o_totalprice
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    # total-count identity: base evens minus deletes plus inserts
    expected = sum(
        1 for k in orders if (k % 2 == 0 and k % 8 != 0) or k % 2 == 1
    )
    assert len(rows) == expected
    for k, v in orders.items():
        if k % 8 == 0:
            assert k not in out  # latest op is D
        elif k % 4 == 0:
            assert abs(out[k] - (v + 5)) < 1e-9  # updated
        elif k % 2 == 1:
            assert out[k] == v  # inserted
        else:
            assert out[k] == v  # untouched base


# ---------------------------------------------------------------------------
# Incremental SCD2 apply (scd2_apply_changes)
# ---------------------------------------------------------------------------


def _scd2_rows(df):
    return {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current) for r in df.collect()
    }


def test_scd2_apply_equals_full_rebuild_all_stitch_cases(spark):
    """One fixture exercising every boundary case: key 1 = batch opens
    with the SAME value (run merges into the open row, later change
    still closes it); key 2 = batch opens CHANGED (current closes at
    batch start); key 3 = unseen key (inserts); key 4 = untouched by the
    batch (passes through); key 5 = same-valued single-run batch (stays
    current, no new version)."""
    from ub_etl_spark.operators.merge import scd2_apply_changes, scd2_history

    base = spark.createDataFrame(
        [
            (1, "a", 1), (1, "a", 2),
            (2, "x", 1),
            (4, "q", 1),
            (5, "m", 3),
        ],
        "k int, v string, t int",
    )
    batch = spark.createDataFrame(
        [
            (1, "a", 10), (1, "b", 11),
            (2, "y", 10), (2, "z", 12),
            (3, "n", 10),
            (5, "m", 10),
        ],
        "k int, v string, t int",
    )
    args = dict(keys=["k"], tracked=["v"], order_by=["t"], valid_from_col="t")
    hist = scd2_history(base, **args)
    applied = scd2_apply_changes(hist, batch, **args)
    rebuilt = scd2_history(base.unionByName(batch), **args)
    assert _scd2_rows(applied) == _scd2_rows(rebuilt)
    # spot-check the interesting rows
    got = _scd2_rows(applied)
    assert (1, "a", 1, 11, False) in got  # merged run, closed by the 'b' change
    assert (1, "b", 11, None, True) in got
    assert (2, "x", 1, 10, False) in got  # closed at batch start
    assert (5, "m", 3, None, True) in got  # single same-valued run: stays current
    assert (4, "q", 1, None, True) in got  # untouched key passes through


def test_scd2_apply_idempotent_on_empty_batch(spark):
    from ub_etl_spark.operators.merge import scd2_apply_changes, scd2_history

    base = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 5), (2, "x", 2)], "k int, v string, t int"
    )
    empty = spark.createDataFrame([], "k int, v string, t int")
    args = dict(keys=["k"], tracked=["v"], order_by=["t"], valid_from_col="t")
    hist = scd2_history(base, **args)
    assert _scd2_rows(scd2_apply_changes(hist, empty, **args)) == _scd2_rows(hist)


def test_scd2_apply_randomized_split_invariance(spark):
    """Property: for random change streams and EVERY split point,
    incremental apply equals the full rebuild — the contract
    dim_scd2_apply_changes states, exercised across run merges at the
    boundary, empty sides, single-key streams, and repeated values
    (deterministic seed; one Spark job per split)."""
    import random

    from ub_etl_spark.operators.merge import scd2_apply_changes, scd2_history

    rng = random.Random(23)
    rows = []
    t = 0
    for _ in range(60):
        t += 1
        rows.append((rng.randrange(6), rng.choice("abc"), t))
    full = spark.createDataFrame(rows, "k int, v string, t int")
    args = dict(keys=["k"], tracked=["v"], order_by=["t"], valid_from_col="t")
    expect = _scd2_rows(scd2_history(full, **args))
    for cut in (1, 15, 30, 45, 59):
        base = spark.createDataFrame(rows[:cut], "k int, v string, t int")
        batch = spark.createDataFrame(rows[cut:], "k int, v string, t int")
        got = _scd2_rows(
            scd2_apply_changes(scd2_history(base, **args), batch, **args)
        )
        assert got == expect, f"split at {cut} diverged from full rebuild"
