"""The repository benchmark: run one named workload with a seed.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (mix.py; workloads.json has their layers, generator
parameters, pass counts and the layer-to-end-to-end map):

  reference_etl       catalog_ingest + activity_upsert
  curation_warehouse  corpus_dedup + warehouse_queries

Each is a closed loop with one client.  A run generates its inputs from
the seed and computes the oracles (untimed), then starts the Spark
session.  Each component then does the program's one-time prep
(DataSource registration, the initial bucketed load, the table loads)
and one untimed warm-up pass on a thread of its own, the components side
by side (see ``Run._warm_up``).  ``setup_s`` is the time from process
start to the first timed op, less the input generation and oracles.

The timed section runs the workload's fixed number of passes
(workloads.json), one op at a time; more follow only while --seconds
have not elapsed, so --seconds is a floor.  A pass has the same ops in
every run, so ``wall_s`` is the median pass time, ``op_p50_s`` the
median op latency, and ``op_tail_s`` a fixed rank within a pass (see
``harness.tail_rank``), its median over the passes; ``peak_rss_mb`` is
the process tree's peak memory during the section.  Every op's output is
checked, untimed, against its oracle, and the end state once more after
the last pass.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
timed passes in triples instead, untraced, traced, untraced, all three
over the same catalog window, corpus shard and query order (activity
batches are a stream and go on): one triple, and more while --seconds
have not elapsed.  It prints the per-layer metrics: spans recorded
around the benchmark's calls into each layer, counters at the same
boundaries, Spark job/stage/task counts per op.  The spans are kept in
memory and written to .perfbench_work/traces/ when the run ends;
``trace_overhead_s`` is the median over the triples of the traced pass
minus the mean of the two untraced passes around it.

Before the result, an ``env`` line records the run's surroundings: nproc,
the 1-minute load average at start and end, the share of CPU time the
host took from this machine during the timed section (steal), each
component's warm-up seconds and every timed op's seconds.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import JobCounter, RssSampler, Tracer, median, tail_rank  # noqa: E402


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt the first timed output of each component")
    return ap.parse_args(argv)


class Run:
    """One benchmark run of one workload in this process.

    With ``corrupt``, the first timed output of each component is corrupted
    before its check, which the self-test uses to show that a wrong result
    is counted as failed.
    """

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: str,
                 start: float, corrupt: bool = False) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = size
        self.start = start
        self.corrupt = corrupt
        self.corrupted: set[str] = set()
        self.cpus = harness.nproc()
        self.work_dir = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer()
        self.jobs = JobCounter()
        self.spark = None
        self.op_ids = itertools.count()  # shared by the warm-up threads
        self.warm_s: dict[str, float] = {}  # component -> its warm-up thread's seconds

    def stop_session(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - the JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=30)

    def _start_session(self) -> None:
        self.tracer.enabled = self.trace
        with self.tracer.span("session.get_spark"):
            self.spark = harness.start_spark(self.work_dir, self.cpus)
        self.tracer.enabled = False

    def _pass(self, wl, index: int, traced: bool) -> tuple[list[float], int]:
        """One timed pass over the items of pass ``index``.  Returns (op seconds, failed)."""
        self.tracer.enabled = traced
        times, failed = [], 0
        for tagged in wl.pass_items(index):
            ok, dt = self._op(tagged)
            times.append(dt)
            failed += not ok
        self.tracer.enabled = False
        return times, failed

    def _warm_up(self, wl) -> tuple[int, int]:
        """The program's one-time prep and the untimed warm-up, pass 0.

        Each component runs on its own thread, the components side by
        side, which keeps a run inside the benchmark's time budget: the
        thread does the component's prep (traced in a traced run), then
        its pass-0 ops in order.  No op releases its caches until every
        thread is done, so one component's release cannot drop a frame
        another component's op is still using.  Returns (ops, failed);
        the seconds each thread took go to ``warm_s``."""

        def warm(part) -> list[bool]:
            t0 = time.perf_counter()
            self.tracer.enabled = self.trace
            part.prepare(self.spark)
            self.tracer.enabled = False
            oks = [self._op((part, item), timed=False)[0] for item in part.pass_items(0)]
            self.warm_s[part.name] = time.perf_counter() - t0
            return oks

        with ThreadPoolExecutor(max_workers=len(wl.parts)) as pool:
            oks = [ok for oks in pool.map(warm, wl.parts) for ok in oks]
        for part in wl.parts:
            part.release(self.spark)
        return len(oks), oks.count(False)

    def _op(self, tagged, timed: bool = True) -> tuple[bool, float]:
        """Run one op, given as (component, item), then check its output
        untimed.  A timed op runs under its own job group and releases its
        caches inside the op; a warm-up op does neither.  Returns (ok, op
        seconds)."""
        part, item = tagged
        op_id = next(self.op_ids)
        self.tracer.op_id = op_id
        gid = self.jobs.begin(self.spark, op_id) if timed else None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                out = part.run_op(self.spark, op_id, item)
                if timed:
                    part.release(self.spark)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            return False, time.perf_counter() - t0
        finally:
            dt = time.perf_counter() - t0
            if gid is not None:
                self.jobs.end(self.spark, gid)
        try:
            result = part.fetch(item, out)
            if self.corrupt and timed and part.name not in self.corrupted:
                self.corrupted.add(part.name)
                result = part.corrupt(result)
            return bool(part.check(item, result)), dt
        except Exception:  # noqa: BLE001 - a failing check counts as a failed op
            traceback.print_exc()
            return False, dt

    def execute(self) -> dict:
        from mix import Mix

        os.makedirs(self.work_dir, exist_ok=True)
        sampler = RssSampler().start()
        env = {"nproc": self.cpus, "load_1m_start": harness.loadavg_1m()}
        wl = None
        try:
            t_bench = time.perf_counter()
            wl = Mix(self.workload, self.seed, self.size, self.work_dir, self.tracer, self.cpus)
            wl.compute_oracle()
            bench_side = time.perf_counter() - t_bench

            self._start_session()
            t_warm = time.perf_counter()
            attempted, failed = self._warm_up(wl)
            warm_s = time.perf_counter() - t_warm
            wl.reset_counters()
            setup_s = time.perf_counter() - self.start - bench_side
            sampler.peak_bytes = 0  # memory is reported for the timed section

            # The workload's fixed number of untraced passes, 1, 2, ...; a
            # traced run takes one triple over pass 1, so the traced pass
            # and the untraced passes on either side see the same stateless
            # inputs.  More follow only while --seconds have not elapsed.
            passes = []  # (traced, op seconds) in the order they ran
            overhead = []
            groups = 1 if self.trace else wl.passes
            kinds = (False, True, False) if self.trace else (False,)
            index = 1
            t_begin = time.perf_counter()
            ticks0 = harness.cpu_ticks()
            while index <= groups or time.perf_counter() - t_begin < self.seconds:
                group = []
                for traced in kinds:
                    times, bad = self._pass(wl, index, traced)
                    attempted += len(times)
                    failed += bad
                    passes.append((traced, times))
                    group.append(sum(times))
                if self.trace:
                    overhead.append(group[1] - (group[0] + group[2]) / 2)
                index += 1
            timed_s = time.perf_counter() - t_begin
            ticks1 = harness.cpu_ticks()
            steal_share = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
            # the end state (the merged table) is checked as one more op
            attempted += 1
            failed += not wl.final_check()

            untraced = [times for traced, times in passes if not traced]
            lat = [dt for times in untraced for dt in times]
            rank, tail_pct = tail_rank(len(untraced[0]))
            e2e = {
                "setup_s": setup_s,
                "wall_s": median([sum(times) for times in untraced]),
                "throughput": len(lat) / sum(lat),
                "op_p50_s": median(lat),
                "op_tail_s": median([sorted(times)[rank] for times in untraced]),
                "peak_rss_mb": sampler.peak_bytes / 2**20,
            }
            layers = {name: 0.0 for name in declared_metrics()[1]}
            layers["session.get_spark_s"] = median(self.tracer.durations("session.get_spark"))
            layers.update(wl.layer_metrics())
            layers.update(self.jobs.medians())
            layers["failed_ratio"] = failed / attempted
            layers["warmup_s"] = warm_s
            if self.trace:
                layers["trace_overhead_s"] = median(overhead)
            env.update(self.jobs.medians())
            env.update({"load_1m_end": harness.loadavg_1m(), "passes": len(passes), "untraced_passes": len(untraced),
                        "ops_per_pass": len(untraced[0]), "tail_percentile": tail_pct,
                        "steal_share": steal_share, "warm_s": self.warm_s,
                        "op_s": [[round(dt, 3) for dt in times] for _, times in passes],
                        "bench_side_s": bench_side, "warmup_s": warm_s, "timed_s": timed_s,
                        "since_start_s": time.perf_counter() - self.start})
            return {"e2e": e2e, "layers": layers, "env": env,
                    "attempted": attempted, "failed": failed}
        finally:
            if wl is not None:
                wl.close()
            sampler.stop()
            if self.trace:
                trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
                os.makedirs(trace_dir, exist_ok=True)
                self.tracer.dump(os.path.join(trace_dir, f"{self.workload}-seed{self.seed}.json"))


def prepare_process() -> dict[str, str]:
    """Guard the environment and put the repository on every path.

    Returns the guarded variables that were set (and are now unset)."""
    removed = harness.guard_env()  # before anything imports ub_etl_spark
    # The program's Python workers (REST DataSource reader, pandas UDFs)
    # import ub_etl_spark, so the repository root goes on their path too.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)
    return removed


def run_workload(name: str, seed: int, seconds: float, trace: bool, size: str,
                 start: float, corrupt: bool = False) -> dict:
    """One run in this process, with every scratch file under the checkout."""
    run = Run(name, seed, seconds, trace, size, start, corrupt)
    tmp = os.path.join(run.work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    try:
        return run.execute()
    finally:
        run.stop_session()
        shutil.rmtree(run.work_dir, ignore_errors=True)
        tempfile.tempdir = None


def report(res: dict, trace: bool, removed: dict[str, str]) -> dict:
    """Print every metric with its unit, then the result line; return it."""
    wanted = declared_metrics()[1 if trace else 0]
    values = res["layers"] if trace else res["e2e"]
    undeclared = set(values) - set(wanted)
    if undeclared:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    env = {**res["env"], "guarded_env_removed": sorted(removed)}
    print("env " + json.dumps(env, sort_keys=True))
    for name, unit in wanted.items():
        print(f"{name:48s} {values[name]:.6g} {unit}")
    print(f"op_tail_s is p{env['tail_percentile']:.1f} of the {env['ops_per_pass']} ops of a pass, "
          f"median over {env['untraced_passes']} untraced passes; "
          f"failed {res['failed']} of {res['attempted']} attempted")
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in wanted.items()},
    }
    print(json.dumps(out), flush=True)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ub_etl_spark", "__init__.py")):
        print(f"perfbench: no ub_etl_spark package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    removed = prepare_process()
    from mix import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.size,
                       PROCESS_START, args.corrupt)
    report(res, bool(args.trace), removed)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
