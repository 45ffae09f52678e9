"""Every registered query must carry its own bench row (r3 verdict
task 7): the HEADLINE list and the registry may not drift apart."""

from __future__ import annotations

import importlib.util
import os


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _headline():
    return _bench().HEADLINE


def test_headline_covers_registry_exactly():
    from ub_etl_spark.registry import load_all

    headline, registry = _headline(), load_all()
    missing = sorted(set(registry) - set(headline))
    stale = sorted(set(headline) - set(registry))
    dupes = sorted({n for n in headline if headline.count(n) > 1})
    assert not missing, f"registered queries without a bench row: {missing}"
    assert not stale, f"bench rows for unregistered queries: {stale}"
    assert not dupes, f"duplicate bench rows: {dupes}"


def test_documented_exceptions_name_real_queries():
    """The sanctioned->2x list must reference registered queries only, so
    a rename can't silently orphan an exception entry."""
    from ub_etl_spark.registry import load_all

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    registry = set(load_all())
    stale = sorted(set(mod.DOCUMENTED_EXCEPTIONS) - registry)
    assert not stale, f"exception entries for unregistered queries: {stale}"
    stale_notes = sorted(set(mod.ABS_TIME_NOTES) - registry)
    assert not stale_notes, f"abs-time notes for unregistered queries: {stale_notes}"


def test_abs_time_gate_against_committed_sidecar():
    """Absolute-time gate (r5 verdict task 4), enforced each round against
    the committed sf0.1 bench_detail.json: every query over ABS_TIME_GATE_S
    in the last full bench run must carry a DOCUMENTED_EXCEPTIONS or
    ABS_TIME_NOTES cost story.  A query newly crossing the gate fails here
    until someone measures it and writes the note."""
    import json

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    detail_path = os.path.join(os.path.dirname(__file__), "..", "bench_detail.json")
    with open(detail_path) as fh:
        detail = json.load(fh)
    if detail.get("sf") != 0.1:  # only the full-scale sidecar is meaningful
        return
    documented = set(mod.DOCUMENTED_EXCEPTIONS) | set(mod.ABS_TIME_NOTES)
    undocumented = sorted(
        n
        for n, sec in detail["queries"].items()
        if sec > mod.ABS_TIME_GATE_S and n not in documented
    )
    assert not undocumented, (
        f"queries over {mod.ABS_TIME_GATE_S}s without a cost note: {undocumented}"
    )


def test_zero_residue_against_committed_sidecar():
    """r9 verdict task 2: the zero-residue accounting, recomputed from
    bench.py's CURRENT constants against the committed sidecar — so a rule
    tweak or a note removal that reopens residue fails here without waiting
    for the next full bench run.  Calls the SAME residue_unexplained
    function bench.py's artifact emission uses (a query is explained by
    subfloor oracle, a documented exception, own floor-adjusted ratio < 2,
    or — small-oracle regime only: oracle under SMALL_ORACLE_FLOORS
    job-floors — own time within the machinery cap or an ABS_TIME_NOTES
    story), so the enforced rule cannot drift from the emitted one."""
    import json

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    detail_path = os.path.join(os.path.dirname(__file__), "..", "bench_detail.json")
    with open(detail_path) as fh:
        detail = json.load(fh)
    if detail.get("sf") != 0.1:  # only the full-scale sidecar is meaningful
        return
    residue = mod.residue_unexplained(
        detail["queries"], detail["oracle_queries"], detail["spark_job_floor_s"]
    )
    assert not residue, (
        f"unexplained >2x floor-adjusted residue vs committed sidecar: {residue}"
    )


def test_residue_rule_paths_synthetic():
    """Pin every escape path of residue_unexplained on synthetic inputs —
    the committed-sidecar gate only exercises whichever paths the current
    measurement happens to contain.  Covers: subfloor oracle, own
    floor-adjusted ratio < 2, small-oracle within the machinery cap
    (including the MACHINERY_CAP_MIN_S flooring when the sampled floor is
    low), small-oracle over the cap with an ABS_TIME_NOTES story, a
    documented exception, and the two true-residue shapes (small-oracle
    over cap without a story; big-oracle ratio >= 2)."""
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    noted = next(iter(set(mod.ABS_TIME_NOTES) - set(mod.DOCUMENTED_EXCEPTIONS)))
    excepted = next(iter(set(mod.DOCUMENTED_EXCEPTIONS) - set(mod.ABS_TIME_NOTES)))
    floor = 0.05  # 14 * 0.05 = 0.7 < MACHINERY_CAP_MIN_S -> cap floors at 1.0
    cutoff, cap = mod.machinery_bounds(floor)
    assert cutoff == 0.2 and cap == mod.MACHINERY_CAP_MIN_S
    timings = {
        "sub": 1.0,
        "ratio_ok": 0.3,
        "capped": 0.99,
        noted: 5.0,
        excepted: 9.9,
        "bad_small": 1.01,
        "bad_big": 2.0,
    }
    oracle = {
        "sub": 0.01,  # subfloor -> explained
        "ratio_ok": 0.30,  # floor-adj ratio 0.83 < 2 -> explained
        "capped": 0.10,  # small oracle, 0.99 <= cap 1.0 -> explained
        noted: 0.10,  # small oracle, over cap, noted -> explained
        excepted: 0.50,  # big oracle, ratio 19.7 -> exception -> explained
        "bad_small": 0.10,  # small oracle, over cap, NO story -> residue
        "bad_big": 0.50,  # big oracle, ratio 3.9, no story -> residue
    }
    assert mod.residue_unexplained(timings, oracle, floor) == [
        "bad_big",
        "bad_small",
    ]


def test_detail_sidecar_routing(tmp_path):
    """r10 verdict task 6: the committed bench_detail.json may only be
    written by a deliberate SPARK_GRAFT_BENCH_DETAIL run; an unadorned
    (driver-style) run routes to the round-stamped gitignored sidecar,
    with the previous round's stamped file as its delta base."""
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    here = str(tmp_path)
    # explicit env -> write and delta base are that path, verbatim
    assert mod.detail_sidecar_paths("/x/y.json", here) == ("/x/y.json", "/x/y.json")
    # no BENCH_r*.json yet -> round 0, delta base falls back to committed
    w, p = mod.detail_sidecar_paths(None, here)
    assert w.endswith("bench_detail_r00.json")
    assert p.endswith("bench_detail.json")
    # BENCH_r10 exists -> this run is round 11; no stamped r10 sidecar ->
    # fall back to the committed quiet-box artifact
    (tmp_path / "BENCH_r10.json").write_text("{}")
    w, p = mod.detail_sidecar_paths(None, here)
    assert w.endswith("bench_detail_r11.json")
    assert p.endswith("bench_detail.json")
    # a stamped predecessor exists -> like-for-like delta base
    (tmp_path / "BENCH_r11.json").write_text("{}")
    (tmp_path / "bench_detail_r11.json").write_text("{}")
    w, p = mod.detail_sidecar_paths(None, here)
    assert w.endswith("bench_detail_r12.json")
    assert p.endswith("bench_detail_r11.json")
    # the unadorned path NEVER names the committed sidecar
    assert os.path.basename(w) != "bench_detail.json"


def test_rolling_aggregate_set_is_session_free():
    """r13: the *_vs_rolling_floor aggregates exist to be comparable
    across runs, so their query set must be a pure function of
    ORACLE_FLOOR.json and the pinned ROLLING_CUT_S — never of one
    session's floor sample (the session-cut set churned 26 queries
    between the two r13 quiet-box runs and swung the emitted aggregate
    1.28 -> 1.68 while the ratios agreed to 0.4%; see the spread
    comment in bench.py).  Recomputes the committed sidecar's emitted
    aggregate from the pinned constant and the sidecar's own rolling
    floors: a regression to a session-dependent cut (or a silent cut
    change) makes the recomputation disagree with what the run emitted."""
    import json

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    detail_path = os.path.join(os.path.dirname(__file__), "..", "bench_detail.json")
    with open(detail_path) as fh:
        detail = json.load(fh)
    if detail.get("sf") != 0.1:
        return
    timings, rolling = detail["queries"], detail["oracle_floor_rolling"]
    above = [n for n in rolling if rolling[n] >= mod.ROLLING_CUT_S and n in timings]
    assert above, "pinned cut selected no queries — cut or floors corrupt"
    recomputed = round(
        sum(timings[n] for n in above) / sum(rolling[n] for n in above), 2
    )
    emitted = detail["aggregate_ratio_excl_subfloor_vs_rolling_floor"]
    assert recomputed == emitted, (
        f"pinned-cut recomputation {recomputed} != emitted {emitted}: the "
        "rolling aggregate's set is no longer the pinned-cut set"
    )


def test_rolling_floor_stamp_invalidation():
    """r13 (r12 ADVICE): a stored floor survives only when ALL THREE
    stamps match — oracle-SQL sha, DuckDB version, dataset fingerprint.
    Any mismatch re-seeds from the session; matching entries ratchet
    down; legacy entries (bare float / missing env stamps) adopt the
    current stamps.  Exercises merge_rolling_floors directly so the
    invalidation semantics can't silently regress."""
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stored = {
        "match": {"s": 0.5, "sha": "aaa", "duckdb": "v1", "data": "d1"},
        "sql_changed": {"s": 0.5, "sha": "OLD", "duckdb": "v1", "data": "d1"},
        "duck_changed": {"s": 0.5, "sha": "aaa", "duckdb": "v0", "data": "d1"},
        "data_changed": {"s": 0.5, "sha": "aaa", "duckdb": "v1", "data": "d0"},
        "legacy_float": 0.5,
        "legacy_no_env": {"s": 0.5, "sha": "aaa"},
        "legacy_no_sha": {"s": 0.5, "duckdb": "v1", "data": "d1"},
        "legacy_data_fp": {"s": 0.5, "sha": "aaa", "duckdb": "v1", "data": "dOLD"},
    }
    session = {n: 1.0 for n in stored} | {"new_query": 1.0}
    shas = {n: "aaa" for n in session}
    rolling, new_stored = mod.merge_rolling_floors(
        stored, session, shas, "v1", "d1", legacy_data_fps=("dOLD",)
    )
    # matching / legacy entries keep the faster stored floor (ratchet)
    assert rolling["match"] == 0.5
    assert rolling["legacy_float"] == 0.5
    assert rolling["legacy_no_env"] == 0.5
    # a dict entry missing the sha key adopts the current sha (ADVICE
    # r13: absence means never-stamped, same as the env stamps)
    assert rolling["legacy_no_sha"] == 0.5
    # an entry stamped under a superseded fingerprint of the same bytes
    # migrates (r14 formula change) instead of re-seeding
    assert rolling["legacy_data_fp"] == 0.5
    assert new_stored["legacy_data_fp"]["data"] == "d1"
    # any stamp mismatch re-seeds from the session
    assert rolling["sql_changed"] == 1.0
    assert rolling["duck_changed"] == 1.0
    assert rolling["data_changed"] == 1.0
    # unseen queries seed from the session
    assert rolling["new_query"] == 1.0
    # everything written back carries the full current stamp set
    for entry in new_stored.values():
        assert entry.keys() == {"s", "sha", "duckdb", "data"}
        assert entry["duckdb"] == "v1" and entry["data"] == "d1"
    # and a session SLOWER than a valid floor never loosens it
    rolling2, _ = mod.merge_rolling_floors(new_stored, {"match": 2.0},
                                           {"match": "aaa"}, "v1", "d1")
    assert rolling2["match"] == 0.5


def test_fit_line_keeps_oversized_line_parseable():
    """The driver line must come back as parseable JSON within the cap
    even when `queries` alone cannot shrink it: a long extra_conf is
    truncated, a long load_avg list dropped, and a line that still does
    not fit raises instead of printing a cut-off object."""
    import json

    import pytest

    fit = _bench()._fit_line
    line = {
        "metric": "headline_query_wall_clock_total",
        "load_avg_1m_per_pass": [1.25] * 3,
        "queries": {f"q{i}": 1.0 for i in range(10)},
        "extra_conf": "spark.sql.x=" + "y" * 5000,
    }
    out = fit(line)
    assert len(out) <= 1940
    got = json.loads(out)
    assert got["queries"] == {} and got["extra_conf"].endswith("...")
    assert got["load_avg_1m_per_pass"] == [1.25] * 3

    line = {
        "metric": "headline_query_wall_clock_total",
        "load_avg_1m_per_pass": [1.25] * 400,
        "queries": {"q0": 1.0},
        "extra_conf": "k=v",
    }
    got = json.loads(fit(line, cap=1940))
    assert "load_avg_1m_per_pass" not in got and got["extra_conf"]

    with pytest.raises(ValueError):
        fit({"metric": "m" * 3000, "queries": {}})
