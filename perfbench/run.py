"""Seeded, closed-loop benchmark of contessa_spark's real jobs.

    python3 perfbench/run.py --workload web_filter --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Each run starts one fresh Spark session
(``local[nproc]``), runs a first operation, one warm-up operation and
then timed operations for ``--seconds``, one in flight at a time, and
checks every operation's output against an expected result computed before
the session starts. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see README.md in this directory).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context
from typing import Optional

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("web_filter", "rule_checks")

# Every per-layer metric a traced run reports, with its unit. A layer
# the workload does not exercise reports 0.
PER_LAYER = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.driver_hwm_mb": "MiB",
    "session.jvm_hwm_mb": "MiB",
    "sources.generate_s": "s",
    "functions.annotate_us_per_doc": "us",
    "functions.langid_us_per_doc": "us",
    "functions.perplexity_us_per_doc": "us",
    "functions.scrub_us_per_doc": "us",
    "op.jobs": "count",
    "op.timed_samples": "count",
    "op.self_s": "s",
    "op.driver_outside_jobs_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.empty_tasks": "count",
    "pipeline.failed_tasks": "count",
    "pipeline.annotate_stage_s": "s",
    "pipeline.task_p50_s": "s",
    "pipeline.task_max_s": "s",
    "pipeline.stage_wait_s": "s",
    "pipeline.executor_cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.driver_outside_jobs_s": "s",
    "pipeline.output_bytes": "bytes",
    "pipeline.resume_noop_s": "s",
    "pipeline.check_schema_version_s": "s",
    "pipeline.completed_buckets_s": "s",
    "pipeline.check_input_fingerprint_s": "s",
    "pipeline.self_s": "s",
    "runner.self_s": "s",
    "compiler.column_rules_s": "s",
    "compiler.custom_sql_s": "s",
    "compiler.jobs": "count",
    # rows, not bytes: Spark 4.1's parquet reader reports only footer
    # bytes in task input metrics (4,811 B for a 200k-row split)
    "compiler.scan_records": "count",
    "compiler.failed_tasks": "count",
    "compiler.self_s": "s",
    "results.small_merge_s": "s",
    "results.small_merge_calls": "count",
    "results.parquet_merge_s": "s",
    "results.medians_30_day_s": "s",
    "results.jobs": "count",
    "results.failed_tasks": "count",
    "results.self_s": "s",
    "consistency.count_s": "s",
    "consistency.diff_s": "s",
    "consistency.jobs": "count",
    "consistency.shuffle_bytes": "bytes",
    "consistency.failed_tasks": "count",
    "consistency.self_s": "s",
    "dedup.ngram_jaccard_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.jobs": "count",
    "dedup.tasks": "count",
    "dedup.task_p50_s": "s",
    "dedup.task_max_s": "s",
    "dedup.stage_wait_s": "s",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.spill_bytes": "bytes",
    "dedup.executor_cpu_s": "s",
    "dedup.pairs_out": "count",
    "dedup.failed_tasks": "count",
    "dedup.self_s": "s",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_s": "s",
}

# event-log figures reported per layer: metric suffix -> stage_stats key
LAYER_STAGE_METRICS = {
    "pipeline": {
        "tasks": "tasks",
        "empty_tasks": "empty_tasks",
        "failed_tasks": "failed_tasks",
        "annotate_stage_s": "top_stage_s",
        "task_p50_s": "task_p50_s",
        "task_max_s": "task_max_s",
        "stage_wait_s": "stage_wait_s",
        "executor_cpu_s": "executor_cpu_s",
        "gc_s": "gc_s",
    },
    "compiler": {"scan_records": "scan_records", "failed_tasks": "failed_tasks"},
    "results": {"failed_tasks": "failed_tasks"},
    "consistency": {"shuffle_bytes": "shuffle_write_bytes", "failed_tasks": "failed_tasks"},
    "dedup": {
        "tasks": "tasks",
        "failed_tasks": "failed_tasks",
        "task_p50_s": "task_p50_s",
        "task_max_s": "task_max_s",
        "stage_wait_s": "stage_wait_s",
        "shuffle_write_bytes": "shuffle_write_bytes",
        "spill_bytes": "spill_bytes",
        "executor_cpu_s": "executor_cpu_s",
    },
}

# failed-task counts are summed over the whole run, not a median
RUN_TOTALS = {f"{layer}.failed_tasks" for layer in LAYER_STAGE_METRICS}

# loaded by the measured set-up; the parent imports none of them before it
SETUP_MODULES = ("pyspark", "py4j", "pyarrow", "pandas", "contessa_spark", "__spark_entry__")


def make_workload(name: str, work: str, seed: int, **kw):
    if name == "web_filter":
        from web_filter import WebFilter

        return WebFilter(work, seed, **kw)
    from rule_checks import RuleChecks

    return RuleChecks(work, seed, **kw)


def prepare_workload(name: str, work: str, seed: int, workload_args: dict) -> dict:
    """Make the seeded inputs and the expected results; returns the
    workload's state. Runs in a spawned process, so the measuring
    process has loaded nothing of Spark or the program when its set-up
    clock starts."""
    wl = make_workload(name, work, seed, **workload_args)
    wl.prepare()
    return vars(wl)


def traced_op_metrics(wl, rec, tracer, log) -> dict:
    """Per-layer figures of one traced op, from its spans and its jobs."""
    from tracing import layer_of, outside_jobs_s, self_times, span_sums, stage_stats

    spans = [s for s in tracer.spans if s["op"] == rec.index]
    group = harness.OP_GROUP.format(rec.index)
    m = {"op.jobs": rec.jobs}
    for layer, secs in self_times(spans).items():
        m[f"{layer}.self_s"] = secs
    for name, (secs, calls) in span_sums(spans).items():
        if not name.startswith("op.") and name not in ("pipeline.run", "runner.run"):
            m[f"{name}_s"] = secs
        if name == "results.small_merge":
            m["results.small_merge_calls"] = calls
    root = next(s for s in spans if s["parent"] is None)
    m["op.driver_outside_jobs_s"] = outside_jobs_s(root, log.jobs_of(group))
    for layer, wanted in LAYER_STAGE_METRICS.items():
        ids = {str(s["id"]) for s in spans if layer_of(s["name"]) == layer}
        if not ids:
            continue
        m[f"{layer}.jobs"] = len(log.jobs_of(group, ids))
        st = stage_stats(log.stages_of(group, ids))
        for suffix, key in wanted.items():
            m[f"{layer}.{suffix}"] = st[key]
    pipe = [s for s in spans if s["name"] == "pipeline.run"]
    if pipe:
        m["pipeline.driver_outside_jobs_s"] = outside_jobs_s(pipe[0], log.jobs_of(group))
    m.update(wl.op_metrics(rec.index))
    return m


def per_layer(wl, loop, tracer, log, extra: dict) -> dict:
    """Medians over the traced timed ops; failed tasks summed over every
    traced op of the run."""
    every = {r.index: traced_op_metrics(wl, r, tracer, log) for r in loop.records if r.traced}
    traced = loop.timed(traced=True)
    untraced = loop.timed(traced=False)
    out = {name: 0.0 for name in PER_LAYER}
    timed_names = {k for r in traced for k in every[r.index]}
    for name in timed_names - RUN_TOTALS:
        out[name] = harness.median([every[r.index].get(name, 0.0) for r in traced])
    # layers only the probe ops after the loop run (rule_checks: dedup)
    probes = [r for r in loop.records if r.phase == "probe"]
    for name in {k for r in probes for k in every[r.index]} - timed_names - RUN_TOTALS:
        out[name] = harness.median([every[r.index].get(name, 0.0) for r in probes])
    for name in RUN_TOTALS:
        out[name] = sum(m.get(name, 0) for m in every.values())
    t_p50 = harness.median([r.seconds for r in traced])
    u_p50 = harness.median([r.seconds for r in untraced])
    out["op.timed_samples"] = len(traced)
    out["trace.op_p50_s"] = t_p50
    out["trace.untraced_op_p50_s"] = u_p50
    out["trace.overhead_s"] = t_p50 - u_p50
    out.update(extra)
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return out


def run(
    name: str,
    seed: int,
    seconds: float,
    trace: bool,
    workload_args: Optional[dict] = None,
    corrupt: bool = False,
):
    """One benchmark run in a fresh work directory. ``workload_args`` and
    ``corrupt`` (a deliberately wrong expected value) serve the self-test.

    Returns ``(result_json_line, summary_text, spans, op_records)``."""
    harness.adopt_orphans()
    work = os.path.join(harness.WORK_ROOT, f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.prepare_env(work)
    try:
        workload_args = workload_args or {}
        wl = make_workload(name, work, seed, **workload_args)
        with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as pool:
            state = pool.submit(prepare_workload, name, work, seed, workload_args)
            vars(wl).update(state.result())
        if corrupt:
            wl.corrupt_expected()
        harness.log(f"{name}: inputs and expected results ready")
        loaded = [m for m in SETUP_MODULES if m in sys.modules]
        if loaded:
            raise RuntimeError(f"loaded before the set-up clock starts: {loaded}")
        event_log = os.path.join(work, "eventlog") if trace else None
        spark, setup_s, setup_parts = harness.start_session(
            work, f"perfbench-{name}", event_log
        )
        harness.log(f"{name}: session ready, setup {setup_s:.3f} s")
        tracer = None
        try:
            if trace:
                from tracing import Tracer

                tracer = Tracer(spark)
            wl.bind(spark, tracer)
            loop = harness.Loop(spark, wl.op, wl.check)
            cpu0 = harness.cpu_times()
            loop.run(seconds, tracer)
            steal = harness.steal_share(cpu0, harness.cpu_times())
            # peaks of the timed loop, before a traced run's extra ops
            driver_hwm = harness.vm_hwm_mb(os.getpid())
            jvm_hwm = harness.vm_hwm_mb(harness.jvm_pid(spark))
            extra = wl.after_loop(loop, tracer) if trace else {}
        finally:
            harness.stop_session(spark)

        records = loop.records
        attempted = len(records)
        failed = sum(not r.ok for r in records)
        first = records[0].seconds
        timed = loop.timed(traced=False if trace else None)
        op_p50 = harness.median([r.seconds for r in timed])
        jobs = sorted({r.jobs for r in timed})
        summary = (
            f"{name} seed={seed}: setup_s={setup_s:.3f} s first_op_s={first:.3f} s "
            f"op_p50_s={op_p50:.3f} s (n={len(timed)}"
            + (f", {wl.throughput(op_p50)}" if wl.throughput(op_p50) else "")
            + f") failed_frac={failed / attempted:.3f} ({failed}/{attempted}) "
            f"failed_tasks={sum(r.failed_tasks for r in records)} "
            f"jobs/op={','.join(map(str, jobs))} "
            f"op_s={','.join(f'{r.seconds:.2f}' for r in records)} "
            f"driver_hwm={driver_hwm:.0f} MiB jvm_hwm={jvm_hwm:.0f} MiB "
            f"cpu_steal={100 * steal:.1f}%"
        )
        spans = None
        if trace:
            from tracing import EventLog, read_event_log

            extra.update(
                {
                    **setup_parts,
                    "session.driver_hwm_mb": driver_hwm,
                    "session.jvm_hwm_mb": jvm_hwm,
                    "sources.generate_s": wl.generate_s,
                }
            )
            extra.update(wl.kernel_metrics())
            log = EventLog(read_event_log(event_log))
            metrics = per_layer(wl, loop, tracer, log, extra)
            spans = tracer.spans
            traces = os.path.join(harness.WORK_ROOT, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(traces, f"{name}-{seed}-spans.json"))
            summary += f" trace_overhead={metrics['trace.overhead_s']:+.3f} s"
            values = {k: (v, PER_LAYER[k]) for k, v in metrics.items()}
        else:
            values = {
                "setup_s": (setup_s, "s"),
                "first_op_s": (first, "s"),
                "op_p50_s": (op_p50, "s"),
            }
        line = harness.result_line(failed == 0, attempted, failed, values)
        return line, summary, spans, records
    finally:
        # on every way out, errors included: no process of this run
        # outlives it
        left = harness.end_children()
        if left:
            harness.log(f"{name}: stopped {left} leftover process(es)")
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not harness.program_present():
        print(
            "perfbench: contessa_spark/ and __spark_entry__.py not found next to "
            "perfbench/; run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    t0 = time.perf_counter()
    line, summary, _, _ = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(summary + f" wall={time.perf_counter() - t0:.1f} s")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
