"""Shared plumbing of the benchmark: where it writes, how it starts and
stops a Spark session, and the closed loop that times operations.

Everything here sits outside ``contessa_spark``: the program is driven
only through its public entry points and ``__spark_entry__``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Everything a run writes lives here, inside the checkout (gitignored).
WORK_ROOT = os.path.join(ROOT, ".bench_work")

OP_GROUP = "perfbench-op-{}"
# timed ops per run at least, untraced and traced (ABBA needs four)
TIMED_OPS = 2
TRACED_TIMED_OPS = 4


def cpus() -> int:
    """Cores this process may run on (``nproc`` without OMP overrides)."""
    return len(os.sched_getaffinity(0))


def program_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "contessa_spark")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def prepare_env(work: str) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    ``work`` and make the program importable. Call before pyspark loads."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR; a process may prepare twice
    # Shuffle/spill files and addPyFile copies (session.py reads this).
    # A departure from get_spark's own choice, /dev/shm: a run writes
    # only inside its checkout, so these go to disk (see README.md).
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(work: str, event_log: Optional[str]) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        # the JVM's own temp files (native-library extraction) and no
        # hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start_session(work: str, app: str, event_log: Optional[str] = None):
    """Fresh process → ready session: import, ``get_spark`` and package
    shipping, as a ``spark-submit`` job pays them.

    Returns ``(spark, setup_s, {"session.import_s", "session.get_spark_s"})``."""
    t0 = time.perf_counter()
    from contessa_spark.session import get_spark

    import __spark_entry__ as entry

    t1 = time.perf_counter()
    n = cpus()
    spark = get_spark(
        app,
        master=f"local[{n}]",
        shuffle_partitions=max(n, 8),
        extra_conf=session_conf(work, event_log),
    )
    t2 = time.perf_counter()
    entry._ship_package(spark)
    parts = {"session.import_s": t1 - t0, "session.get_spark_s": t2 - t1}
    return spark, time.perf_counter() - t0, parts


def cpu_times() -> List[int]:
    """The machine's CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: List[int], after: List[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: a run with a high share ran on a busy host."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # a later session in this process launches a new JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


# prctl(2) option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every descendant whose own parent
    exits first (a pyspark worker after its daemon, a multiprocessing
    resource tracker after its pool worker), so ``end_children`` can
    stop and wait for it instead of leaving it to init."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def child_pids() -> List[int]:
    """Children of this process, zombies included, from /proc."""
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended while we looked
        # the field after the state is the parent pid; the command name
        # before them is in parentheses and may hold spaces
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(entry))
    return out


def end_children(grace_s: float = 20.0) -> int:
    """Stop every process this one started, directly or through another,
    and wait for each to end: SIGTERM, then SIGKILL after ``grace_s``.
    Needs ``adopt_orphans`` first to reach grandchildren. Returns how
    many were still there."""
    import signal
    from multiprocessing import resource_tracker

    # The tracker ignores SIGTERM and ends when its pipe closes.
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    seen = set()
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        pids = child_pids()
        if not pids:
            return len(seen)
        seen.update(pids)
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.05)


def group_counts(sc, group: str):
    """Spark jobs of one job group, and failed tasks in their stages,
    from the status tracker (no event log needed)."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    failed = 0
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is not None:
            failed += info.numFailedTasks
    return len(job_ids), failed


def log(msg: str) -> None:
    print(f"perfbench [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median(xs: List[float]) -> float:
    return float(statistics.median(xs))


class Workload:
    """What a workload module provides. ``prepare`` makes the seeded
    inputs and the expected results before the measured session starts,
    in a spawned process: the attributes it sets are copied back, so
    they must unpickle without pyspark or the program (build Spark-side
    objects in ``bind``). ``op``/``check`` are one operation and its
    output check."""

    generate_s = 0.0
    tracer = None  # set by bind() in a traced run

    def span(self, name: str):
        """A span around a call into a layer; a no-op when not tracing."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def prepare(self) -> None:
        raise NotImplementedError

    def corrupt_expected(self) -> None:
        """Make one expected value wrong (self-test)."""
        raise NotImplementedError

    def bind(self, spark, tracer) -> None:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> bool:
        raise NotImplementedError

    def after_loop(self, loop, tracer) -> dict:
        """Extra traced measurements after the timed ops."""
        return {}

    def kernel_metrics(self) -> dict:
        """Offline single-core kernel timings (traced run)."""
        return {}

    def op_metrics(self, i: int) -> dict:
        """Per-layer figures the workload measured around op ``i``."""
        return {}

    def throughput(self, op_p50_s: float) -> str:
        return ""


@dataclass
class OpRecord:
    index: int
    phase: str  # "first", "warm", "timed" or "extra"
    seconds: float
    ok: bool
    jobs: int
    failed_tasks: int
    traced: bool
    error: Optional[str] = None


@dataclass
class Loop:
    """Closed loop, one client: the next operation starts only after the
    previous one returned and its output was checked."""

    spark: object
    op: Callable[[int], object]
    check: Callable[[int, object], bool]
    records: List[OpRecord] = field(default_factory=list)

    def run_one(
        self, phase: str, traced: bool = False, tracer=None, op=None, check=None
    ) -> OpRecord:
        sc = self.spark.sparkContext
        i = len(self.records)
        group = OP_GROUP.format(i)
        sc.setJobGroup(group, f"perfbench {phase} op {i}")
        fn = op or self.op
        err = None
        out = None
        t0 = time.perf_counter()
        try:
            if tracer is not None and traced:
                with tracer.op(i, phase):
                    out = fn(i)
            else:
                out = fn(i)
        except Exception:
            err = traceback.format_exc()
        dt = time.perf_counter() - t0
        jobs, failed_tasks = group_counts(sc, group)
        ok = err is None
        if ok:
            try:
                ok = bool((check or self.check)(i, out))
                if not ok:
                    err = "output mismatch"
            except Exception:
                ok, err = False, traceback.format_exc()
        log(f"op {i} ({phase}) {dt:.3f} s jobs={jobs}" + (f" FAILED: {err}" if err else ""))
        rec = OpRecord(i, phase, dt, ok, jobs, failed_tasks, traced, err)
        self.records.append(rec)
        return rec

    def run(self, seconds: float, tracer=None) -> None:
        """First op, one untimed warm op, then timed ops until ``seconds``
        have passed since the first op and at least ``TIMED_OPS``
        (traced: ``TRACED_TIMED_OPS``) ran. The second op of a session is
        the slowest after the first (10-20 % above the third), so with it
        in the median the figure would jump with the number of ops that
        fit in ``seconds``. With a tracer, timed ops run traced and
        untraced in ABBA order, so the two medians measure the tracing
        overhead."""
        traced_run = tracer is not None
        min_timed = TRACED_TIMED_OPS if traced_run else TIMED_OPS
        self.run_one("first", traced=traced_run, tracer=tracer)
        start = time.perf_counter()
        self.run_one("warm", traced=traced_run, tracer=tracer)
        n = 0
        while n < min_timed or time.perf_counter() - start < seconds:
            traced = traced_run and n % 4 in (0, 3)
            self.run_one("timed", traced=traced, tracer=tracer)
            n += 1

    def timed(self, traced: Optional[bool] = None) -> List[OpRecord]:
        return [
            r
            for r in self.records
            if r.phase == "timed" and (traced is None or r.traced == traced)
        ]


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(v), "unit": unit}
                for name, (v, unit) in metrics.items()
            },
        }
    )


