"""Rule → Spark plan compiler.

The reference executes one full table scan **per rule**, sequentially,
counting rows in a Python loop (contessa/runner.py:77-86,
contessa/rules.py:61-102). Here all Column-expressible rules over a
table compile into **one** DataFrame pass: a single ``agg`` of 3N
counters (total/passed/failed per rule). Catalyst handles partial
(map-side) + final aggregation, so the counts of a quality-check run
are one scan + one tiny shuffle regardless of rule count — the plan
that survives a 100 TB table.

Failed examples cost more. With ``collect_examples > 0`` each failing
rule adds one ``limit`` job, and that job scans the whole table when
the rule has fewer failing rows than ``collect_examples``. Only
in-memory runs ask for examples; a persisted ``QualityRunner`` run
passes 0 (the result table has no example column) and adds none.

Counting semantics (exact parity with contessa/rules.py:84-93):

* ``total``  += 1 for every in-scope row,
* ``passed`` += 1 iff the predicate is TRUE,
* ``failed`` += 1 iff the predicate is FALSE,
* a NULL predicate counts in total only (three-valued logic).

"Scope" is the composed WHERE of the rule's time_filter and condition
(contessa/rules.py:41-59): a NULL scope expression excludes the row,
exactly as SQL WHERE does.
"""

from __future__ import annotations

from datetime import datetime
from functools import reduce
from operator import and_
from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from contessa_spark.rules import CustomSqlRule, OneColumnRule
from contessa_spark.utils import AggregatedResult


def scope_predicate(rule, task_ts: datetime) -> Optional[Column]:
    """Compose time_filter AND condition (contessa/rules.py:41-59,
    contessa/executor.py:28-51). Returns None when the rule has neither
    (whole-table scope)."""
    parts: List[Column] = []
    if rule.time_filter:
        parts.append(rule.time_filter.predicate(task_ts))
    if rule.condition:
        parts.append(F.expr(rule.condition))
    if not parts:
        return None
    return reduce(and_, parts)


def _count_if(cond: Column) -> Column:
    # count(CASE WHEN cond THEN 1 END): NULL/false contribute nothing —
    # stays inside whole-stage codegen, partial-aggregates map-side.
    return F.count(F.when(cond, F.lit(1)))


def compile_counters(rule: OneColumnRule, task_ts: datetime, idx: int) -> List[Column]:
    """3 aggregate Columns (total, passed, failed) for one rule."""
    scope = scope_predicate(rule, task_ts)
    pred = rule.predicate()
    in_scope = F.lit(True) if scope is None else scope.eqNullSafe(F.lit(True))
    return [
        _count_if(in_scope).alias(f"total_{idx}"),
        _count_if(in_scope & pred.eqNullSafe(F.lit(True))).alias(f"passed_{idx}"),
        _count_if(in_scope & pred.eqNullSafe(F.lit(False))).alias(f"failed_{idx}"),
    ]


def run_column_rules(
    df: DataFrame,
    rules: Sequence[OneColumnRule],
    task_ts: datetime,
    collect_examples: int = 10,
) -> List[AggregatedResult]:
    """Evaluate every Column-expressible rule in ONE scan of ``df``.

    Examples (failing values) are fetched per failing rule via
    ``limit(n)``, one extra job each, never a full-set driver collect
    (unlike the reference's O(failures) Python set,
    contessa/rules.py:74-95). CollectLimit stops early only once it
    has ``n`` rows; ``collect_examples=0`` skips these jobs.
    """
    if not rules:
        return []
    aggs: List[Column] = []
    for i, rule in enumerate(rules):
        aggs.extend(compile_counters(rule, task_ts, i))
    row = df.agg(*aggs).collect()[0]

    results: List[AggregatedResult] = []
    for i, rule in enumerate(rules):
        total = row[f"total_{i}"]
        passed = row[f"passed_{i}"]
        failed = row[f"failed_{i}"]
        examples: List[Any] = []
        if collect_examples and failed:
            scope = scope_predicate(rule, task_ts)
            failing = rule.predicate().eqNullSafe(F.lit(False))
            cond = failing if scope is None else (scope & failing)
            examples = [
                tuple(r)
                for r in df.where(cond)
                .select(rule.attribute)
                .limit(collect_examples)
                .collect()
            ]
        if getattr(rule, "only_failures_mode", False):
            # contessa/rules.py:80-82,96-101: report total_records=0;
            # failures are the failing rows themselves.
            results.append(
                AggregatedResult(
                    total_records=0, failed=failed, passed=0, failed_example=examples
                )
            )
        else:
            results.append(
                AggregatedResult(
                    total_records=total,
                    failed=failed,
                    passed=passed,
                    failed_example=examples,
                )
            )
    return results


def counters_df(
    df: DataFrame, rules: Sequence[OneColumnRule], task_ts: datetime
) -> DataFrame:
    """Fully declarative variant of run_column_rules: ONE scan, 3N
    counters, reshaped to one row per rule with ``stack`` — no driver
    collect, so it composes into larger plans and the driver/oracle
    correctness harness can hash it directly.

    Output: (attribute, rule_name, rule_type, total_records, failed,
    passed, status).
    """
    aggs: List[Column] = []
    for i, rule in enumerate(rules):
        aggs.extend(compile_counters(rule, task_ts, i))
    one = df.agg(*aggs)
    parts = []
    for i, rule in enumerate(rules):
        parts.append(
            f"'{rule.attribute}', '{rule.name}', '{rule.type}', "
            f"total_{i}, failed_{i}, passed_{i}"
        )
    stacked = one.selectExpr(
        f"stack({len(rules)}, {', '.join(parts)}) AS "
        f"(attribute, rule_name, rule_type, total_records, failed, passed)"
    )
    return stacked.withColumn(
        "status",
        F.when(F.col("failed") > 0, F.lit("invalid")).otherwise(F.lit("valid")),
    )


def run_custom_sql_rule(
    spark: SparkSession,
    rule: CustomSqlRule,
    context: Dict[str, Any],
    collect_examples: int = 10,
) -> AggregatedResult:
    """Evaluate a CustomSqlRule (its own ``spark.sql`` plan).

    First result column must be boolean validity
    (contessa/rules.py:84-87 raises ValueError otherwise);
    ``only_failures_mode`` treats every returned row as a failure with
    total_records=0 (contessa/rules.py:80-82).
    """
    out = rule.evaluate(spark, context)
    if rule.only_failures_mode:
        failed = out.count()
        examples = [tuple(r) for r in out.limit(collect_examples).collect()] if collect_examples else []
        return AggregatedResult(total_records=0, failed=failed, passed=0, failed_example=examples)

    first = out.schema[0]
    if first.dataType.simpleString() != "boolean":
        raise ValueError(
            f"Your query for rule `{rule.name}` of type `{rule.type}` does not "
            f"return list of booleans in column `valid`."
        )
    valid = F.col(first.name)
    row = out.agg(
        F.count(F.lit(1)).alias("total"),
        _count_if(valid.eqNullSafe(F.lit(True))).alias("passed"),
        _count_if(valid.eqNullSafe(F.lit(False))).alias("failed"),
    ).collect()[0]
    examples: List[Any] = []
    if collect_examples and row["failed"]:
        rest = [f.name for f in out.schema.fields[1:]]
        ex_df = out.where(valid.eqNullSafe(F.lit(False)))
        ex_df = ex_df.select(*rest) if rest else ex_df
        examples = [tuple(r) for r in ex_df.limit(collect_examples).collect()]
    return AggregatedResult(
        total_records=row["total"],
        failed=row["failed"],
        passed=row["passed"],
        failed_example=examples,
    )
