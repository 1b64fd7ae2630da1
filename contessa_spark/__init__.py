"""contessa_spark — a PySpark-native data-quality / web-text quality-filter engine.

A from-scratch reimplementation of the query and data-processing
capabilities of kiwicom/contessa (reference at /root/reference, v0.2.12),
re-expressed Spark-first:

* the declarative rule DSL (not_null / gt / gte / lt / lte / not / eq /
  custom sql) compiles to ``pyspark.sql.Column`` boolean predicates,
* all rules over one table evaluate in a **single scan** (one
  ``select`` + one ``agg`` of 3N counters) instead of N sequential scans,
* consistency checks (COUNT / DIFF) are distributed set operations,
* results upsert idempotently into a parquet quality-check table,
  rewritten on the driver (no Spark job),
* the shipped rule catalog instantiates the DSL as a language-ID +
  quality-filter + PII/toxicity-scrub pipeline over Common-Crawl-style
  web pages (see ``contessa_spark.pipeline``).

Reference semantics citations use ``path:line`` into /root/reference.
"""

from contessa_spark.time_filter import TimeFilter, TimeFilterColumn, parse_time_filter
from contessa_spark.normalizer import RuleNormalizer
from contessa_spark.rules import (
    NOT_NULL,
    GT,
    GTE,
    LT,
    LTE,
    NOT,
    EQ,
    SQL,
    Rule,
    get_rule_cls,
)
from contessa_spark.runner import QualityRunner
from contessa_spark.consistency import ConsistencyChecker

__version__ = "0.2.0"

__all__ = [
    "TimeFilter",
    "TimeFilterColumn",
    "parse_time_filter",
    "RuleNormalizer",
    "Rule",
    "get_rule_cls",
    "QualityRunner",
    "ConsistencyChecker",
    "NOT_NULL",
    "GT",
    "GTE",
    "LT",
    "LTE",
    "NOT",
    "EQ",
    "SQL",
]
