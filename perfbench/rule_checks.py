"""``rule_checks``: Contessa's own work on a TPC-H-like ``lineitem``.

One op runs ``QualityRunner.run`` with the seven rule types of
``_rule_counts_lineitem`` plus one ``sql`` rule, ``QualityRunner.run``
with the time-filtered events rule, then ``ConsistencyChecker.run`` for
``count`` (orders vs lineitem) and ``diff`` (customer keys vs order
keys). All four persist; the quality result table is pre-seeded with
30 days of history so ``medians_30_day`` reads real rows, and the fixed
``task_ts`` keeps every table the same size from op to op.

A traced run also measures the dedup layer: after the timed ops it runs
the dedup queries (``dedup.Dedup``) as probe ops in the same session.
"""

from __future__ import annotations

import importlib.util
import os
import sys
from datetime import datetime, timedelta

import harness

TASK_TS = datetime(2024, 2, 1, 12, 0)
TODAY = TASK_TS.date()
HISTORY_DAYS = 30
# dedup ops after the timed ones in a traced run; the first warms the
# dedup kernels' Python workers and is not in the figures
DEDUP_PROBE_OPS = 2
N_LINEITEM = 600_000
N_ORDERS = 150_000
N_CUSTOMER = 15_000
N_EVENTS = 100_000
N_USERS = 1_500

# the seven rule types of __spark_entry__._rule_counts_lineitem
LINEITEM_RULES = [
    {"name": "nn", "type": "not_null", "column": "l_orderkey"},
    {"name": "qty_gt", "type": "gt", "column": "l_quantity", "value": 25},
    {"name": "qty_gte", "type": "gte", "column": "l_quantity", "value": 25},
    {"name": "disc_lt_tax", "type": "lt", "column": "l_discount", "value": "l_tax"},
    {"name": "price_lte", "type": "lte", "column": "l_extendedprice", "value": 30000},
    {"name": "flag_eq", "type": "eq", "column": "l_returnflag", "value": "'N'"},
    {"name": "status_not", "type": "not", "column": "l_linestatus", "value": "'O'"},
]
SQL_VALIDITY = "l_extendedprice >= l_quantity * 900"
SQL_RULE = {
    "name": "price_per_unit_sql",
    "type": "sql",
    "column": "l_extendedprice",
    "sql": f"SELECT {SQL_VALIDITY} AS valid FROM {{{{ table_fullname }}}}",
    "description": "extended price covers the unit floor",
}


def load_gen_scale_data():
    """Import ``scripts/gen_scale_data.py`` (it reads ``sys.argv`` at
    import time, so give it an empty command line)."""
    path = os.path.join(harness.ROOT, "scripts", "gen_scale_data.py")
    spec = importlib.util.spec_from_file_location("gen_scale_data", path)
    mod = importlib.util.module_from_spec(spec)
    saved = sys.argv
    sys.argv = [path]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = saved
    return mod


def events_rule():
    from contessa_spark.time_filter import TimeFilter, TimeFilterColumn

    # the rule of __spark_entry__._rule_time_filter_events
    tf = TimeFilter(
        columns=[TimeFilterColumn("ts", since=datetime(2024, 1, 5), until=datetime(2024, 1, 15))]
    )
    return {
        "name": "value_gt0",
        "type": "gt",
        "column": "value",
        "value": 0,
        "time_filter": tf,
        "condition": "event_type IN ('click', 'view')",
    }


class RuleChecks(harness.Workload):
    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "tpch")
        self.quality_path = os.path.join(work, "results", "quality")
        self.consistency_path = os.path.join(work, "results", "consistency")
        self.generate_s = 0.0
        self.dedup = None

    # ---- before the measured session ------------------------------

    def prepare(self) -> None:
        import time

        import numpy as np
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        gen = load_gen_scale_data()
        rng = np.random.default_rng(abs(self.seed))
        os.makedirs(self.data, exist_ok=True)
        tables = {
            "customer": gen.gen_customer(rng, N_CUSTOMER),
            "orders": gen.gen_orders(rng, N_ORDERS, N_CUSTOMER),
            "lineitem": gen.gen_lineitem(rng, N_LINEITEM, N_ORDERS),
            "events": gen.gen_events(rng, N_EVENTS, N_USERS),
        }
        for name, table in tables.items():
            pq.write_table(
                table,
                os.path.join(self.data, f"{name}.parquet"),
                compression="snappy",
                row_group_size=200_000,
            )
        self.generate_s = time.perf_counter() - t0
        self._write_history(rng)
        self.expected = self._expected()

    def _rule_keys(self):
        return [(r["column"], r["name"], r["type"]) for r in LINEITEM_RULES] + [
            (SQL_RULE["column"], SQL_RULE["name"], SQL_RULE["type"]),
            ("value", "value_gt0", "gt"),
        ]

    def _write_history(self, rng) -> None:
        """30 days of earlier runs of the same rules, one file, in the
        result table's schema."""
        import pandas as pd

        rows = []
        for day in range(1, HISTORY_DAYS + 1):
            ts = datetime(TASK_TS.year, TASK_TS.month, TASK_TS.day, 12) - timedelta(days=day)
            for attr, name, typ in self._rule_keys():
                total = int(rng.integers(100_000, 600_000))
                failed = int(rng.integers(0, total // 2))
                rows.append(
                    {
                        "attribute": attr,
                        "rule_name": name,
                        "rule_type": typ,
                        "rule_description": "history",
                        "total_records": total,
                        "failed": failed,
                        "median_30_day_failed": None,
                        "passed": total - failed,
                        "median_30_day_passed": None,
                        "failed_percentage": 100.0 * failed / total,
                        "passed_percentage": 100.0 * (total - failed) / total,
                        "status": "invalid" if failed else "valid",
                        "time_filter": "not_set",
                        "task_ts": ts,
                        "created_at": ts,
                    }
                )
        frame = pd.DataFrame(rows)
        for c in ("median_30_day_failed", "median_30_day_passed"):
            frame[c] = frame[c].astype("float64")
        for c in ("task_ts", "created_at"):
            frame[c] = pd.to_datetime(frame[c]).dt.tz_localize("UTC")
        os.makedirs(self.quality_path, exist_ok=True)
        frame.to_parquet(
            os.path.join(self.quality_path, "part-00000.parquet"),
            index=False,
            coerce_timestamps="us",
        )
        self.history_rows = len(frame)

    def _expected(self) -> dict:
        """Every counter from DuckDB over the same parquet: the repo's
        own oracle SQL for the shared rules, plain SQL for the rest."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("customer", "orders", "lineitem", "events"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data, t + '.parquet')}'"
                )
            rules = {}
            for sql in (oracles["rule_counts_lineitem"], oracles["rule_time_filter_events"]):
                for name, total, failed, passed in con.execute(
                    f"SELECT rule_name, total_records, failed, passed FROM ({sql})"
                ).fetchall():
                    rules[name] = (total, failed, passed)
            rules[SQL_RULE["name"]] = con.execute(
                f"SELECT count(*), count(*) FILTER (WHERE NOT ({SQL_VALIDITY})), "
                f"count(*) FILTER (WHERE {SQL_VALIDITY}) FROM lineitem"
            ).fetchone()
            consistency = {
                m: con.execute(
                    f"SELECT total_records, failed, passed FROM ({oracles['consistency_' + m]})"
                ).fetchone()
                for m in ("count", "diff")
            }
            q = os.path.join(self.quality_path, "*.parquet")
            medians = con.execute(
                f"SELECT median(failed), median(passed) FROM '{q}' "
                f"WHERE task_ts >= TIMESTAMPTZ '{TODAY - timedelta(days=30)} 00:00:00+00' "
                f"AND task_ts <= TIMESTAMPTZ '{TODAY} 00:00:00+00'"
            ).fetchone()
        finally:
            con.close()
        return {
            "rules": {k: tuple(int(x) for x in v) for k, v in rules.items()},
            "consistency": {k: tuple(int(x) for x in v) for k, v in consistency.items()},
            "medians": tuple(float(x) for x in medians),
        }

    def corrupt_expected(self) -> None:
        total, failed, passed = self.expected["rules"]["nn"]
        self.expected["rules"]["nn"] = (total, failed + 1, passed)

    # ---- the measured session ---------------------------------------

    def bind(self, spark, tracer) -> None:
        from contessa_spark.consistency import ConsistencyChecker
        from contessa_spark.runner import QualityRunner

        self.spark = spark
        self.tracer = tracer
        self.runner = QualityRunner(spark)
        self.checker = ConsistencyChecker(spark)
        self.lineitem_rules = LINEITEM_RULES + [SQL_RULE]
        self.events_rules = [events_rule()]

    def op(self, i: int):
        from pyspark.sql import functions as F

        read = lambda t: self.spark.read.parquet(os.path.join(self.data, f"{t}.parquet"))
        lineitem, orders = read("lineitem"), read("orders")
        ctx = {"task_ts": TASK_TS}
        rows = self.runner.run(
            self.lineitem_rules,
            lineitem,
            check_table={"schema_name": "bench", "table_name": "lineitem"},
            result_table_path=self.quality_path,
            context=ctx,
            today=TODAY,
        )
        rows += self.runner.run(
            self.events_rules,
            read("events"),
            check_table={"schema_name": "bench", "table_name": "events"},
            result_table_path=self.quality_path,
            context=ctx,
            today=TODAY,
        )
        with self.span("consistency.count"):
            count = self.checker.run(
                "count", orders, lineitem, context=ctx,
                left_table_name="orders", right_table_name="lineitem",
                result_table_path=self.consistency_path,
            )
        with self.span("consistency.diff"):
            diff = self.checker.run(
                "diff",
                read("customer").select(F.col("c_custkey").alias("key")),
                orders.select(F.col("o_custkey").alias("key")),
                context=ctx,
                left_table_name="customer", right_table_name="orders",
                result_table_path=self.consistency_path,
            )
        return rows, count, diff

    def check(self, i: int, out) -> bool:
        import pyarrow.parquet as pq

        rows, count, diff = out
        exp = self.expected
        got = {r["rule_name"]: (r["total_records"], r["failed"], r["passed"]) for r in rows}
        medians = [(r["median_30_day_failed"], r["median_30_day_passed"]) for r in rows]
        consistency = {
            m: (cr.total_records, cr.failed, cr.passed) for m, cr in (("count", count), ("diff", diff))
        }
        n_quality = sum(
            pq.ParquetFile(os.path.join(self.quality_path, f)).metadata.num_rows
            for f in os.listdir(self.quality_path)
            if f.endswith(".parquet")
        )
        n_consistency = pq.read_table(self.consistency_path).num_rows
        return (
            got == exp["rules"]
            and all(
                abs(got_m - exp_m) < 1e-6
                for pair in medians
                for got_m, exp_m in zip(pair, exp["medians"])
            )
            and consistency == exp["consistency"]
            and n_quality == self.history_rows + len(exp["rules"])
            and n_consistency == 2
        )

    # ---- traced run only --------------------------------------------

    def after_loop(self, loop, tracer) -> dict:
        """The dedup probe: its seeded input and expected result are made
        here, after the timed ops, so untraced runs do not pay for them."""
        from dedup import Dedup

        self.dedup = Dedup(self.work, self.seed)
        self.dedup.prepare()
        self.dedup.bind(self.spark, tracer)
        for k in range(DEDUP_PROBE_OPS):
            loop.run_one(
                "probe_warm" if k == 0 else "probe",
                traced=True,
                tracer=tracer,
                op=self.dedup.op,
                check=self.dedup.check,
            )
        return {}

    def op_metrics(self, i: int) -> dict:
        return self.dedup.op_metrics(i) if self.dedup else {}
