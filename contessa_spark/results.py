"""Quality-check result model + idempotent persistence.

Reference: contessa/models.py — QualityCheck row schema
(models.py:40-68), percentage/status derivation (models.py:117-127),
30-day median enrichment (models.py:129-151), and upsert identity
``(attribute, rule_name, rule_type, task_ts, time_filter)``
(models.py:78-87) realized as INSERT ... ON CONFLICT DO UPDATE
(contessa/db.py:61-88).

Spark realization: a fixed StructType (no dynamic per-table classes —
the table *name* is the parameter), widened counters to LongType for
10^12-row scale. A result table is a parquet directory upserted on the
driver with pandas + pyarrow, no Spark job: ``ParquetMergeWriter``
types the rows from the schema and ``LocalSmallTableMerge`` replaces
rows by key and swaps the directory. Timestamps are stored UTC-adjusted
in microseconds, as Spark writes ``TimestampType``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass
from datetime import date, datetime
from typing import Dict, List, Optional

from pyspark.sql import types as T

from contessa_spark.rules import Rule
from contessa_spark.utils import AggregatedResult

TIME_FILTER_DEFAULT = "not_set"  # contessa/models.py:29

# contessa/models.py:40-68 (SURVEY §1.2 mapping)
QUALITY_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("attribute", T.StringType(), False),
        T.StructField("rule_name", T.StringType(), False),
        T.StructField("rule_type", T.StringType(), False),
        T.StructField("rule_description", T.StringType(), True),
        T.StructField("total_records", T.LongType(), True),
        T.StructField("failed", T.LongType(), True),
        T.StructField("median_30_day_failed", T.DoubleType(), True),
        T.StructField("passed", T.LongType(), True),
        T.StructField("median_30_day_passed", T.DoubleType(), True),
        T.StructField("failed_percentage", T.DoubleType(), True),
        T.StructField("passed_percentage", T.DoubleType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("time_filter", T.StringType(), True),
        T.StructField("task_ts", T.TimestampType(), False),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

UPSERT_KEY = ["attribute", "rule_name", "rule_type", "task_ts", "time_filter"]

CONSISTENCY_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("left_table", T.StringType(), False),
        T.StructField("right_table", T.StringType(), False),
        T.StructField("status", T.StringType(), True),
        T.StructField("time_filter", T.StringType(), True),
        T.StructField("context", T.StringType(), True),
        T.StructField("task_ts", T.TimestampType(), False),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

# contessa/models.py:195-205
CONSISTENCY_UPSERT_KEY = [
    "type",
    "name",
    "left_table",
    "right_table",
    "task_ts",
    "time_filter",
]


def percentage(a: float, b: float) -> float:
    """contessa/models.py:121-127 — 0.0 on division by zero."""
    try:
        return (a / b) * 100
    except ZeroDivisionError:
        return 0.0


@dataclass
class CheckResult:
    """In-memory result when no result table is configured
    (contessa/models.py:303-375)."""

    rule_name: str = ""
    rule_type: str = ""
    rule_description: str = ""
    total_records: int = 0
    failed: int = 0
    passed: int = 0
    time_filter: Optional[str] = None
    failed_percentage: float = 0.0
    passed_percentage: float = 0.0
    status: str = "valid"
    failed_example: Optional[list] = None
    context: Optional[Dict] = None

    def init_row(self, rule: Rule, results: AggregatedResult, context: Dict = None):
        self.rule_name = rule.name
        self.rule_type = rule.type
        self.rule_description = rule.description
        self.total_records = results.total_records
        self.failed = results.failed
        self.passed = results.passed
        self.failed_example = results.failed_example
        if rule.time_filter:
            self.time_filter = str(rule.time_filter)
        self.failed_percentage = percentage(self.failed, self.total_records)
        self.passed_percentage = percentage(self.passed, self.total_records)
        self.status = "invalid" if self.failed > 0 else "valid"
        self.context = context

    def init_row_consistency(
        self,
        check: Dict,
        results: AggregatedResult,
        left_table_name: str,
        right_table_name: str,
        time_filter=None,
        context: Dict = None,
    ):
        # contessa/models.py:341-366 — note signed `failed` for COUNT:
        # percentage uses abs(failed); valid iff failed == 0.
        self.rule_type = check["type"]
        self.rule_name = check["name"]
        self.rule_description = check.get("description")
        self.total_records = results.total_records
        self.failed = results.failed
        self.passed = results.passed
        self.failed_example = results.failed_example
        if time_filter:
            self.time_filter = str(time_filter)
        self.failed_percentage = percentage(abs(self.failed), self.total_records)
        self.passed_percentage = percentage(self.passed, self.total_records)
        self.status = "valid" if results.failed == 0 else "invalid"
        context = dict(context or {})
        context.update(
            {"left_table_name": left_table_name, "right_table_name": right_table_name}
        )
        self.context = context


def build_quality_rows(
    rules: List[Rule],
    agg_results: List[AggregatedResult],
    task_ts: datetime,
    medians: Optional[Dict[str, Optional[float]]] = None,
) -> List[dict]:
    """One QualityCheck row per rule (contessa/models.py:89-127)."""
    med = medians or {"failed": None, "passed": None}
    rows = []
    for rule, res in zip(rules, agg_results):
        rows.append(
            {
                "attribute": rule.attribute,
                "rule_name": rule.name,
                "rule_type": rule.type,
                "rule_description": rule.description,
                "total_records": res.total_records,
                "failed": res.failed,
                "median_30_day_failed": med["failed"],
                "passed": res.passed,
                "median_30_day_passed": med["passed"],
                "failed_percentage": percentage(res.failed, res.total_records),
                "passed_percentage": percentage(res.passed, res.total_records),
                "status": "invalid" if res.failed > 0 else "valid",
                "time_filter": str(rule.time_filter)
                if rule.time_filter
                else TIME_FILTER_DEFAULT,
                "task_ts": task_ts,
                "created_at": datetime.utcnow(),
            }
        )
    return rows


def medians_30_day(
    result_path: str,
    today: Optional[date] = None,
    days: int = 30,
) -> Dict[str, Optional[float]]:
    """Exact 30-day medians over the *existing* result table
    (contessa/models.py:129-151). Computed BEFORE the current run's
    rows are merged, so the current run is excluded (ordering caveat,
    SURVEY §4). Whole-table scope (the reference applies no per-rule
    filter); the window is ``today-days 00:00 UTC <= task_ts <= today
    00:00 UTC``. Interpolated median ignoring nulls, as Spark's and
    DuckDB's ``median``; ``None`` when the window holds no value.
    """
    import pandas as pd

    table = LocalSmallTableMerge.read(result_path)
    if table is None:
        return {"failed": None, "passed": None}
    now = pd.Timestamp(today or date.today(), tz="UTC")
    ts = table["task_ts"]
    window = table[(ts >= now - pd.Timedelta(days=days)) & (ts <= now)]
    out = {}
    for c in ("failed", "passed"):
        m = window[c].median()
        out[c] = None if pd.isna(m) else float(m)
    return out


def _utc(frame):
    """Every timestamp column as UTC-adjusted time, the one convention
    of the result tables (what Spark's TimestampType writes). Naive
    values are taken as UTC: ``get_spark`` pins the session time zone
    to UTC. One unit as well, so equal keys compare equal."""
    import pandas as pd

    frame = frame.copy()
    for c in frame.columns:
        if pd.api.types.is_datetime64_any_dtype(frame[c]):
            frame[c] = pd.to_datetime(frame[c], utc=True).dt.as_unit("ns")
    return frame


# pandas dtype per Spark type of the result schemas
_PANDAS_DTYPE = {
    T.StringType: "string",
    T.LongType: "Int64",
    T.DoubleType: "float64",
    T.TimestampType: object,
}


class ParquetMergeWriter:
    """Typed row upsert: row dicts become a frame typed from a Spark
    schema, which ``LocalSmallTableMerge.merge`` upserts. Every result
    table of checks (runner, pipeline, consistency) is written here,
    so one table always has the same parquet types. A ``None`` in a
    non-nullable field raises, as Spark does when it builds a DataFrame
    from rows."""

    @staticmethod
    def merge(
        rows: List[dict], path: str, key_cols: List[str], schema: T.StructType
    ):
        import pandas as pd

        cols = {}
        for f in schema.fields:
            values = [r.get(f.name) for r in rows]
            if not f.nullable and any(v is None for v in values):
                raise ValueError(
                    f"field {f.name}: This field is not nullable, but got None."
                )
            col = pd.Series(values, dtype=_PANDAS_DTYPE[type(f.dataType)])
            if isinstance(f.dataType, T.TimestampType):
                col = pd.to_datetime(col, utc=True)
            cols[f.name] = col
        return LocalSmallTableMerge.merge(pd.DataFrame(cols), path, key_cols)


class LocalSmallTableMerge:
    """Driver-side upsert of a small parquet table (result and lineage
    tables) with pandas + pyarrow: zero Spark jobs.

    These tables hold one row per bucket/rule/run — thousands of rows,
    not data-plane rows — so a driver-side rewrite takes milliseconds
    where a Spark merge job (scheduler round-trip, shuffle file, commit
    protocol) costs seconds. Same semantics as contessa/db.py:61-88:
    re-running a check for the same key replaces its row.
    """

    @staticmethod
    def read(path: str):
        import glob

        import pandas as pd

        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return None
        return _utc(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))

    @classmethod
    def merge(cls, new_pdf, path: str, key_cols: List[str]) -> "object":
        """Upsert new_pdf into the parquet dir at path; returns the
        merged pandas frame."""
        import pandas as pd

        existing = cls.read(path)
        new_pdf = _utc(new_pdf)
        if existing is not None and len(existing) and not len(new_pdf):
            # nothing to upsert (e.g. a fully-resumed run): the table is
            # already the merge result — and concatenating an EMPTY
            # frame is the other half of the pandas all-NA deprecation
            return existing
        if existing is not None and len(existing):
            mask = ~existing.set_index(key_cols).index.isin(
                new_pdf.set_index(key_cols).index
            )
            survivors = existing[mask]
            # full replacement takes the NEW frame's schema: concat with
            # an empty survivor frame would union columns and resurrect
            # ones the caller dropped (migration downgrades do exactly
            # that) as all-NaN
            if not len(survivors):
                merged = new_pdf
            else:
                # pandas 2.x deprecates letting all-NA object columns
                # defer their dtype to the other frame during concat —
                # pre-coerce them to the counterpart's dtype so the
                # merge stays warning-free and future-proof
                survivors = survivors.copy()
                new_pdf = new_pdf.copy()
                for a, b in ((survivors, new_pdf), (new_pdf, survivors)):
                    for c in a.columns:
                        if (
                            c in b.columns
                            and a[c].dtype == object
                            and a[c].isna().all()
                            and b[c].dtype != object
                        ):
                            try:
                                a[c] = a[c].astype(b[c].dtype)
                            except (TypeError, ValueError):
                                pass  # e.g. all-NA → int64: leave as object
                merged = pd.concat([survivors, new_pdf], ignore_index=True)
        else:
            merged = new_pdf
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp, exist_ok=True)
        # Spark cannot read TIMESTAMP(NANOS) parquet — write micros
        merged.to_parquet(
            os.path.join(tmp, "part-00000.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        return merged
