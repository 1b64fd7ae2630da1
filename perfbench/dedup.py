"""The dedup probe of a traced ``rule_checks`` run: one op is ``queries()["dedup_ngram_jaccard"]`` then
``queries()["dedup_minhash_lsh"]``, each into the ``noop`` sink, over a
seeded documents table from ``scripts/gen_scale_data.py``.

The sink discards rows, so each query carries an ``Observation`` with a
digest of its pair set (count and exact integer sums), computed by the
same action that writes.
"""

from __future__ import annotations

import os

import harness
from rule_checks import load_gen_scale_data

N_DOCS = 10_000


def digest_columns():
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n"),
        F.sum("id_a").alias("sum_a"),
        F.sum("id_b").alias("sum_b"),
        F.sum(F.col("id_a") * F.col("id_b")).alias("sum_ab"),
        F.sum("jaccard").alias("sum_j"),
    ]


def same_digest(got: dict, want: dict) -> bool:
    ints = ("n", "sum_a", "sum_b", "sum_ab")
    return all(int(got[k] or 0) == int(want[k] or 0) for k in ints) and abs(
        (got["sum_j"] or 0.0) - (want["sum_j"] or 0.0)
    ) <= 1e-6 * max(1, int(want["n"]))


class Dedup(harness.Workload):
    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.sf_dir = os.path.join(work, "docs")
        self.generate_s = 0.0
        self.minhash_digest = None
        self.pairs = {}

    def prepare(self) -> None:
        import time

        import duckdb
        import numpy as np
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        t0 = time.perf_counter()
        gen = load_gen_scale_data()
        docs = gen.gen_documents(np.random.default_rng(abs(self.seed)), N_DOCS)
        os.makedirs(self.sf_dir, exist_ok=True)
        path = os.path.join(self.sf_dir, "documents.parquet")
        pq.write_table(docs, path, compression="snappy")
        self.generate_s = time.perf_counter() - t0

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            row = con.execute(
                "SELECT count(*), sum(id_a), sum(id_b), sum(id_a * id_b), sum(jaccard) "
                f"FROM ({entry.oracle_sql()['dedup_ngram_jaccard']})"
            ).fetchone()
        finally:
            con.close()
        self.expected = dict(zip(("n", "sum_a", "sum_b", "sum_ab", "sum_j"), row))

    def corrupt_expected(self) -> None:
        self.expected["n"] += 1

    def bind(self, spark, tracer) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.tracer = tracer
        self.queries = entry.queries()

    def _run_query(self, name: str) -> dict:
        from pyspark.sql import Observation

        obs = Observation(name)
        df = self.queries[name](self.spark, self.sf_dir).observe(obs, *digest_columns())
        df.write.format("noop").mode("overwrite").save()
        return obs.get

    def op(self, i: int):
        with self.span("dedup.ngram_jaccard"):
            ngram = self._run_query("dedup_ngram_jaccard")
        with self.span("dedup.minhash_lsh"):
            minhash = self._run_query("dedup_minhash_lsh")
        return ngram, minhash

    def check(self, i: int, out) -> bool:
        ngram, minhash = out
        self.pairs[i] = int(ngram["n"]) + int(minhash["n"])
        if self.minhash_digest is None:
            self.minhash_digest = minhash
        return (
            same_digest(ngram, self.expected)
            and same_digest(minhash, self.minhash_digest)
            and int(minhash["n"]) > 0
        )

    def op_metrics(self, i: int) -> dict:
        return {"dedup.pairs_out": self.pairs[i]} if i in self.pairs else {}
