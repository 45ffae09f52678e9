"""Measurement plumbing shared by the workloads: spans, Spark job counts,
process-tree memory sampling, percentiles and the Spark session the
benchmark starts.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into a layer's public function, job counts come
from Spark's status tracker, memory from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

# Environment variables the program reads that would change what is
# measured.  The benchmark removes them before the session starts and
# reports which ones it found.
GUARDED_ENV = (
    "SPARK_GRAFT_EXTRA_CONF",
    "SPARK_GRAFT_MAX_RECORDS_PER_FILE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_CPUS",
)

# The inputs are megabytes; a 1 GB heap keeps the JVM small on a shared host.
DRIVER_MEMORY = "1g"

_SPAN_IDS = threading.Lock()

SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")


def load_spec() -> dict:
    """workloads.json: workloads, components, generator sizes, layer map."""
    with open(SPEC_PATH) as f:
        return json.load(f)


def component_sizes(component: str) -> dict:
    return load_spec()["components"][component]["sizes"]


def guard_env() -> dict[str, str]:
    """Unset every guarded variable; return the ones that were set."""
    return {k: os.environ.pop(k) for k in GUARDED_ENV if k in os.environ}


class Tracer:
    """In-memory spans around calls into the program's layers.

    A span records name, start, end, parent span and op id.  The on/off
    switch, the stack of open spans and the op id belong to the calling
    thread, so a warm-up thread can trace its component's set-up while
    another runs untraced ops.  Disabled, ``span`` costs one attribute
    test and records nothing.  ``dump`` writes the spans out once, at the
    end of the run.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()

    @property
    def enabled(self) -> bool:
        return getattr(self._local, "enabled", False)

    @enabled.setter
    def enabled(self, on: bool) -> None:
        self._local.enabled = on

    @property
    def op_id(self) -> int | None:
        return getattr(self._local, "op_id", None)

    @op_id.setter
    def op_id(self, op_id: int | None) -> None:
        self._local.op_id = op_id

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1]["id"] if stack else None,
               "op": self.op_id, "start": time.perf_counter(), "end": None}
        with _SPAN_IDS:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from ``/proc`` every
    ``interval_s`` on a daemon thread.

    Each process counts its proportional set size, so pages the forked
    Python workers share with their parent are counted once, not once per
    worker; the sum is the memory the tree holds."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue  # process ended between listdir and open
            ppid = int(stat[stat.rfind(")") + 2:].split()[1])
            kids[ppid].append(int(entry))
        return kids

    def sample(self) -> int:
        kids = self._children()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue  # the process ended
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self.interval_s)


class JobCounter:
    """Spark jobs, stages and tasks per op, from the status tracker.

    Each op runs under its own job group; after the op the tracker lists
    the group's jobs and each job's stages.  Stages and tasks count only
    what ran: a stage whose shuffle output was reused completes no task."""

    def __init__(self) -> None:
        self.per_op: list[tuple[int, int, int]] = []

    def begin(self, spark, op_id: int) -> str:
        gid = f"perfbench-op-{op_id}-{time.monotonic_ns()}"
        spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def end(self, spark, gid: str) -> None:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.per_op.append(self._counts(sc.statusTracker(), gid))

    @staticmethod
    def _counts(tracker, gid: str) -> tuple[int, int, int]:
        jobs = tracker.getJobIdsForGroup(gid)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return len(jobs), stages, tasks

    def medians(self) -> dict[str, float]:
        if not self.per_op:
            return {"spark.jobs_per_op": 0.0, "spark.stages_per_op": 0.0, "spark.tasks_per_op": 0.0}
        cols = list(zip(*self.per_op))
        return {
            "spark.jobs_per_op": median(cols[0]),
            "spark.stages_per_op": median(cols[1]),
            "spark.tasks_per_op": median(cols[2]),
        }


def median(values) -> float:
    v = sorted(values)
    if not v:
        return 0.0
    n = len(v)
    return float(v[n // 2]) if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def tail_rank(n: int) -> tuple[int, float]:
    """(index into a pass's sorted op latencies, its percentile) for
    ``op_tail_s``: the highest rank with at least ten of the pass's ``n``
    ops above it.  When that rank is not above the median (ten or fewer
    ops per pass give none, up to 21 give one at or below it), the
    slowest op stands in.  The rank depends only on the pass's
    composition, never on how many passes a run makes."""
    idx = n - 11  # exactly ten ops above it
    if idx <= (n - 1) / 2:
        idx = n - 1
    return idx, 100.0 * (idx + 1) / n


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str, cpus: int):
    """The program's session, sized ``local[cpus]`` with ``cpus`` shuffle
    partitions, with every scratch directory inside ``work_dir``.

    ``-XX:-UsePerfData`` keeps the JVMs from writing their performance
    counters to the system temp directory; SPARK_LOCAL_DIRS would override
    spark.local.dir."""
    from ub_etl_spark.session import get_spark

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        driver_memory=DRIVER_MEMORY,
        extra={
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
        },
    )
