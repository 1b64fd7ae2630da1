"""Self-test of the benchmark (not of the program).

    python3 perfbench/selftest.py

Checks that
1. BENCHMARK.json lists exactly the metrics run.py reports;
2. the web input written from ``webgen.gen_row`` equals what
   ``webgen.generate`` produces in Spark for the same seed;
3. a traced ``web_filter`` run with one deliberately wrong expected
   value reports ``failed > 0``, and the spans of one op nest under
   that op's root span.
Exits 0 when every check passes. Takes about a minute on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SEED = 7
DOCS = 400


def check(ok: bool, what: str) -> bool:
    print(f"selftest: {'ok  ' if ok else 'FAIL'} {what}")
    return ok


def benchmark_json_matches() -> bool:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = check(
        [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER),
        "BENCHMARK.json per_layer names equal run.PER_LAYER",
    )
    ok &= check(
        all(run.PER_LAYER[m["name"]] == m["unit"] for m in bench["per_layer"]),
        "BENCHMARK.json per_layer units equal run.PER_LAYER",
    )
    return ok & check(
        [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS),
        "BENCHMARK.json workloads equal run.WORKLOADS",
    )


def web_input_matches_generate(work: str) -> bool:
    import pyarrow.parquet as pq

    from web_filter import make_chunk

    harness.prepare_env(work)  # run.run pointed it at its own, deleted, directory
    path = os.path.join(work, "selftest_part.parquet")
    make_chunk(0, DOCS, SEED, path)
    ours = pq.read_table(path).to_pandas()
    spark, _, _ = harness.start_session(work, "perfbench-selftest")
    try:
        from contessa_spark.sources.webgen import generate

        theirs = generate(spark, DOCS, seed=SEED).toPandas()
    finally:
        harness.stop_session(spark)
    ours["warc_ts"] = ours["warc_ts"].dt.tz_convert(None)
    same = all(
        [_norm(v) for v in ours[c]] == [_norm(v) for v in theirs[c]]
        for c in ("url", "warc_ts", "html", "text", "lang")
    )
    return check(same, f"gen_row parquet equals webgen.generate ({DOCS} rows)")


def _norm(v):
    return bytes(v) if isinstance(v, (bytes, bytearray, memoryview)) else str(v)


def wrong_expected_fails_and_spans_nest() -> bool:
    line, _, spans, records = run.run(
        "web_filter", SEED, 0, trace=True, workload_args={"n_docs": 2000}, corrupt=True
    )
    result = json.loads(line)
    ok = check(
        result["failed"] > 0 and not result["correct"],
        f"wrong expected value gives failed_frac > 0 "
        f"({result['failed']}/{result['attempted']})",
    )
    op = next(r.index for r in records if r.traced and r.phase == "timed")
    names = {s["name"] for s in spans if s["op"] == op}
    ok &= check(
        tracing.nests(spans, op)
        and {"op.timed", "pipeline.run", "results.small_merge"} <= names,
        f"spans of web_filter op {op} nest under it ({len(names)} span names)",
    )
    return ok


def main() -> int:
    if not harness.program_present():
        print("selftest: run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(harness.WORK_ROOT, f"selftest-{os.getpid()}")
    harness.prepare_env(work)
    try:
        ok = benchmark_json_matches()
        # first: run.run needs a process that has not loaded Spark yet
        ok &= wrong_expected_fails_and_spans_nest()
        ok &= web_input_matches_generate(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"selftest: {'passed' if ok else 'FAILED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
