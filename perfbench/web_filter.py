"""``web_filter``: the north-star job. One op is
``QualityFilterPipeline.run(mode="full")`` over 20k seeded web docs, on
a fresh ``base_path``, with the same ``PipelineConfig`` as ``bench.py``.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from datetime import datetime
from multiprocessing import get_context

import harness

N_DOCS = 20_000
TASK_TS = datetime(2025, 8, 1, 12, 0)
# offline kernel timings run on this many of the workload's own texts
KERNEL_DOCS = 2_000

# columns of annotate_rows the rule thresholds read
_RULE_INPUTS = [
    "lang_pred",
    "lang_conf",
    "ppl",
    "n_chars",
    "symbol_ratio",
    "repetition",
    "stopword_frac",
    "mean_word_len",
    "pii_changed",
]


def make_chunk(lo: int, hi: int, seed: int, path: str):
    """Pool worker: rows ``lo..hi`` of ``webgen.generate(spark, n, seed)``
    (its per-row function ``gen_row``, so the rows are identical)
    written as one parquet part, plus the pipeline's own annotate
    kernel over them for the expected result.

    Returns ``(rule inputs by column, seconds spent generating)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from contessa_spark.functions.annotate_udf import annotate_rows
    from contessa_spark.sources.webgen import gen_row

    t0 = time.perf_counter()
    rows = [gen_row(i, seed) for i in range(lo, hi)]
    cols = {k: [r[k] for r in rows] for k in ("url", "warc_ts", "html", "text", "lang")}
    table = pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
            "html": pa.array(cols["html"], pa.binary()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
        }
    )
    pq.write_table(table, path, compression="snappy")
    generate_s = time.perf_counter() - t0
    ann = annotate_rows(cols["text"])
    out = {k: list(ann[k]) for k in _RULE_INPUTS}
    out["url"], out["lang"] = cols["url"], cols["lang"]
    return out, generate_s


def rule_sql(d: dict) -> str:
    """DuckDB text of one DSL rule's predicate (rules.py semantics)."""
    col, typ = d["column"], d["type"]
    if typ == "not_null":
        return f"{col} IS NOT NULL"
    if typ == "expr":
        return d["expression"]
    ops = {"gt": ">", "gte": ">=", "lt": "<", "lte": "<="}
    return f"{col} {ops[typ]} {d['value']}"


def pipeline_config():
    """The ``PipelineConfig`` of ``bench.py``."""
    from contessa_spark.pipeline import PipelineConfig

    return PipelineConfig(n_buckets=max(harness.cpus() * 2, 16), bucket_by="input_partition")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def output_rows(path: str) -> int:
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class WebFilter(harness.Workload):
    def __init__(self, work: str, seed: int, n_docs: int = N_DOCS):
        self.work, self.seed, self.n_docs = work, seed, n_docs
        self.input_path = os.path.join(work, "web_input")
        self.generate_s = 0.0
        self.expected = {}
        self.output_bytes = {}
        self.last_base = None

    # ---- before the measured session ------------------------------

    def prepare(self) -> None:
        """Write the input as ``generate(...).write.parquet`` lays it out
        on ``local[nproc]`` (one part per ``spark.range`` slice) and
        recompute the summary and quality rows with pandas + DuckDB from
        ``annotate_rows`` and the ``rule_defs`` thresholds."""
        n = harness.cpus()
        os.makedirs(self.input_path, exist_ok=True)
        bounds = [(k * self.n_docs // n, (k + 1) * self.n_docs // n) for k in range(n)]
        with ProcessPoolExecutor(n, mp_context=get_context("spawn")) as pool:
            parts = list(
                pool.map(
                    make_chunk,
                    [lo for lo, _ in bounds],
                    [hi for _, hi in bounds],
                    [self.seed] * n,
                    [os.path.join(self.input_path, f"part-{k:05d}.parquet") for k in range(n)],
                )
            )
        # the slowest of the parallel workers is the generation wall time
        self.generate_s = max(g for _, g in parts)
        self.expected = self._expected([p for p, _ in parts])

    def _expected(self, parts) -> dict:
        import duckdb
        import pandas as pd

        from contessa_spark.pipeline import keep_rule_names, rule_defs

        frame = pd.DataFrame({k: [v for p in parts for v in p[k]] for k in parts[0]})
        cfg = pipeline_config()
        defs = {d["name"]: d for d in rule_defs(cfg)}
        keep = keep_rule_names(cfg)
        fails = [
            f"count(*) FILTER (WHERE ({rule_sql(defs[r])}) IS NOT TRUE) AS \"{r}\""
            for r in keep
        ]
        keep_all = " AND ".join(f"(({rule_sql(defs[r])}) IS TRUE)" for r in keep)
        con = duckdb.connect()
        try:
            con.register("ann", frame)
            row = con.execute(
                f"SELECT count(*) AS input, count(*) FILTER (WHERE {keep_all}) AS kept, "
                f"count(*) FILTER (WHERE pii_changed) AS scrubbed, {', '.join(fails)} FROM ann"
            ).fetchone()
        finally:
            con.close()
        total, kept, scrubbed, *failed = (int(v) for v in row)
        rules = {r: (total, f, total - f) for r, f in zip(keep, failed)}
        rules["pii_scrub"] = (total, scrubbed, total - scrubbed)
        return {"input": total, "kept": kept, "scrubbed": scrubbed, "rules": rules}

    def corrupt_expected(self) -> None:
        self.expected["kept"] += 1

    # ---- the measured session ---------------------------------------

    def bind(self, spark, tracer) -> None:
        from contessa_spark.pipeline import QualityFilterPipeline

        self.spark = spark
        self.tracer = tracer
        self.cfg = pipeline_config()
        self.pipeline_cls = QualityFilterPipeline

    def _base(self, i: int) -> str:
        return os.path.join(self.work, "runs", f"op{i}")

    def op(self, i: int):
        df = self.spark.read.parquet(self.input_path)
        pipe = self.pipeline_cls(self.spark, self._base(i), self.cfg)
        return pipe.run(df, task_ts=TASK_TS, mode="full")

    def check(self, i: int, summary: dict) -> bool:
        import pandas as pd

        exp = self.expected
        base = self._base(i)
        ok = (
            summary["input"] == exp["input"] == self.n_docs
            and summary["kept"] == exp["kept"]
            and summary["scrubbed"] == exp["scrubbed"]
            and summary["resumed_buckets_skipped"] == 0
            and output_rows(os.path.join(base, "output")) == exp["input"]
        )
        q = pd.read_parquet(os.path.join(base, "quality"))
        got = {
            r.rule_name: (int(r.total_records), int(r.failed), int(r.passed))
            for r in q.itertuples()
        }
        ok = ok and got == exp["rules"]
        self.output_bytes[i] = dir_bytes(os.path.join(base, "output"))
        # keep only the newest base: the resume probe reruns it
        if self.last_base:
            shutil.rmtree(self.last_base, ignore_errors=True)
        self.last_base = base
        self.last_summary = summary
        return ok

    # ---- traced run only --------------------------------------------

    def after_loop(self, loop, tracer) -> dict:
        """A second ``run()`` over the last completed base: every bucket
        is checkpointed, so this is the no-op resume cost."""
        done = self.last_summary["buckets_done"]
        base = self.last_base

        def resume(i):
            df = self.spark.read.parquet(self.input_path)
            pipe = self.pipeline_cls(self.spark, base, self.cfg)
            return pipe.run(df, task_ts=TASK_TS, mode="full")

        def check(i, s):
            return (
                s["input"] == self.expected["input"]
                and s["resumed_buckets_skipped"] == done
            )

        rec = loop.run_one("extra", traced=True, tracer=tracer, op=resume, check=check)
        return {"pipeline.resume_noop_s": rec.seconds}

    def kernel_metrics(self) -> dict:
        """Single-core µs per doc of the annotate kernel and its parts,
        on the workload's own texts (median of three passes)."""
        import pyarrow.parquet as pq

        from contessa_spark.functions.annotate_udf import annotate_rows
        from contessa_spark.functions.langid import detect_batch
        from contessa_spark.functions.perplexity import perplexity_batch
        from contessa_spark.functions.scrub import scrub_batch

        texts = pq.read_table(self.input_path, columns=["text"])["text"].to_pylist()
        texts = texts[:KERNEL_DOCS]
        out = {}
        for name, fn in [
            ("functions.annotate_us_per_doc", annotate_rows),
            ("functions.langid_us_per_doc", detect_batch),
            ("functions.perplexity_us_per_doc", perplexity_batch),
            ("functions.scrub_us_per_doc", scrub_batch),
        ]:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(texts)
                runs.append(time.perf_counter() - t0)
            out[name] = harness.median(runs) / len(texts) * 1e6
        return out

    def op_metrics(self, i: int) -> dict:
        return {"pipeline.output_bytes": self.output_bytes.get(i, 0)}

    def throughput(self, op_p50_s: float) -> str:
        return f"{self.n_docs / op_p50_s:.0f} docs/s"
