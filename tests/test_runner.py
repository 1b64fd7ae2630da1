"""End-to-end runner parity (test/integration/test_runner.py:89-153,
FIXTURES.md F4) + persistence/upsert/median semantics."""

import os
from datetime import date, datetime

import pytest

from contessa_spark.results import QUALITY_CHECK_SCHEMA
from contessa_spark.runner import QualityRunner

TASK_TS = datetime(2018, 9, 12, 12, 0, 0)

BOOKING_SCHEMA = (
    "id bigint, src string, dst string, price int, "
    "turnover_after_refunds double, initial_price double, created_at timestamp"
)
BOOKING_ROWS = [
    (1, "BTS", None, 1, 100.0, 11.0, datetime(2018, 9, 12, 11, 50)),
    (2, None, "PEK", 33, 1.1, 13.0, datetime(2018, 1, 12, 15, 50)),  # outside 30d
    (3, "VIE", "JFK", 4, 5.5, 23.4, datetime(2018, 9, 11, 11, 50)),
    (4, "VIE", "VIE", 4, 0.0, 0.0, datetime(2018, 9, 11, 11, 50)),
]

CUSTOM_SQL = """
    SELECT
      CASE WHEN src = 'BTS' and dst is null THEN false ELSE true END as res
    from {{ table_fullname }}
"""

RULES = [
    {"name": "not_null_name", "type": "not_null", "column": "dst", "time_filter": "created_at"},
    {"name": "gt_name", "type": "gt", "column": "price", "value": 10, "time_filter": "created_at"},
    {"name": "sql_name", "type": "sql", "sql": CUSTOM_SQL, "column": "src_dst", "description": "test sql rule"},
    {"name": "not_name", "type": "not", "column": "src", "value": "dst"},
]


@pytest.fixture(scope="module")
def booking(spark):
    return spark.createDataFrame(BOOKING_ROWS, schema=BOOKING_SCHEMA)


def test_runner_e2e_in_memory(spark, booking):
    runner = QualityRunner(spark)
    out = runner.run(
        RULES,
        booking,
        check_table={"schema_name": "tmp", "table_name": "booking_all_v2"},
        context={"task_ts": TASK_TS},
    )
    by_name = {r.rule_name: r for r in out}
    r = by_name["not_null_name"]
    assert (r.failed, r.passed) == (1, 2)
    g = by_name["gt_name"]
    assert (g.failed, g.passed) == (3, 0)
    s = by_name["sql_name"]
    assert (s.failed, s.passed) == (1, 3)
    n = by_name["not_name"]
    assert (n.failed, n.passed) == (1, 3)
    assert n.status == "invalid"
    assert g.failed_percentage == 100.0


def test_runner_persists_and_upserts(spark, booking, tmp_path):
    check_table = {"schema_name": "tmp", "table_name": "booking_all_v2"}
    # the first run's rows stored by the runner, and the same rows
    # stored by Spark's own parquet writer (its timestamp encoding)
    for first_writer in ("runner", "spark"):
        path = str(tmp_path / f"quality_check_booking_{first_writer}")
        runner = QualityRunner(spark)
        rows = runner.run(
            RULES,
            booking,
            check_table=check_table,
            result_table_path=path,
            context={"task_ts": TASK_TS},
            today=date(2018, 9, 12),
        )
        if first_writer == "spark":
            spark.createDataFrame(rows, schema=QUALITY_CHECK_SCHEMA).write.mode(
                "overwrite"
            ).parquet(path)
        assert len(rows) == 4
        stored = spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(path)
        assert stored.count() == 4
        # first run: result table was empty at median time
        assert all(r["median_30_day_failed"] is None for r in stored.collect())

        # re-run same task_ts → rows REPLACED, not duplicated (db.py:61-88)
        runner.run(
            RULES,
            booking,
            check_table=check_table,
            result_table_path=path,
            context={"task_ts": TASK_TS},
            today=date(2018, 9, 12),
        )
        stored = spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(path)
        assert stored.count() == 4
        # same-day rerun: the median window cutoff is the DATE string
        # (models.py:140-141) so the noon rows of 2018-09-12 are NOT <=
        # '2018-09-12' — medians stay None, matching the reference quirk
        assert all(r["median_30_day_failed"] is None for r in stored.collect())

        # new task_ts a day later → rows appended; medians now see run 1
        runner.run(
            RULES,
            booking,
            check_table=check_table,
            result_table_path=path,
            context={"task_ts": datetime(2018, 9, 13, 12, 0)},
            today=date(2018, 9, 13),
        )
        stored = spark.read.schema(QUALITY_CHECK_SCHEMA).parquet(path)
        assert stored.count() == 8
        meds = {
            r["rule_name"]: r["median_30_day_failed"]
            for r in stored.collect()
            if r["task_ts"] == datetime(2018, 9, 13, 12, 0)
        }
        # median over run-1 failed values 1,3,1,1 → 1.0
        assert meds["gt_name"] == 1.0


def test_upsert_matches_naive_and_utc_adjusted_task_ts(tmp_path):
    """A stored UTC-adjusted task_ts (what Spark writes) and a naive one
    for the same instant are the same key: the row is replaced."""
    import pandas as pd
    import pyarrow.parquet as pq

    from contessa_spark.results import LocalSmallTableMerge

    path = str(tmp_path / "t")
    key = ["name", "task_ts"]
    stored = pd.DataFrame(
        {"name": ["a"], "task_ts": pd.to_datetime([TASK_TS]).tz_localize("UTC"), "v": [1]}
    )
    os.makedirs(path)
    stored.to_parquet(os.path.join(path, "part-0.parquet"), coerce_timestamps="us")
    LocalSmallTableMerge.merge(
        pd.DataFrame({"name": ["a"], "task_ts": [TASK_TS], "v": [2]}), path, key
    )
    table = pq.read_table(path)
    assert table.num_rows == 1
    assert table.column("v").to_pylist() == [2]
    assert str(table.schema.field("task_ts").type) == "timestamp[us, tz=UTC]"


def test_persisting_starts_no_spark_job(spark, booking, tmp_path):
    """Medians and the upsert run on the driver, and a persisted run
    collects no failed examples (the result table has no example
    column): it starts as many Spark jobs as an in-memory run without
    examples, and fewer than one that collects them."""
    path = str(tmp_path / "quality_check_jobs")
    runner = QualityRunner(spark)
    kw = {
        "check_table": {"schema_name": "tmp", "table_name": "booking_all_v2"},
        "context": {"task_ts": datetime(2018, 9, 13, 12, 0)},
        "today": date(2018, 9, 13),
    }
    # a stored earlier run, so the medians have rows to read
    runner.run(RULES, booking, result_table_path=path, **dict(kw, context={"task_ts": TASK_TS}))
    sc = spark.sparkContext
    jobs = {}
    for mode, result_path, examples in (
        ("in_memory_no_examples", None, 0),
        ("in_memory_examples", None, 10),
        ("persisting", path, 10),
    ):
        group = f"test_persisting_starts_no_spark_job.{mode}"
        sc.setJobGroup(group, mode)
        try:
            runner.run(
                RULES, booking, result_table_path=result_path, collect_examples=examples, **kw
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[mode] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["in_memory_no_examples"] > 0
    assert jobs["persisting"] == jobs["in_memory_no_examples"]
    assert jobs["persisting"] < jobs["in_memory_examples"]


def test_runner_in_memory_returns_failed_examples(spark, booking):
    """Without a result table the runner returns failed examples for
    every failing rule, the ``sql`` rule included."""
    out = QualityRunner(spark).run(
        RULES,
        booking,
        check_table={"schema_name": "tmp", "table_name": "booking_all_v2"},
        context={"task_ts": TASK_TS},
    )
    examples = {r.rule_name: sorted(r.failed_example, key=repr) for r in out if r.failed > 0}
    assert examples == {
        "not_null_name": [(None,)],
        "gt_name": [(1,), (4,), (4,)],
        "sql_name": [(False,)],
        "not_name": [("VIE",)],
    }


def test_median_30_day_window(spark, tmp_path):
    """FIXTURES.md F6 / test_models.py:54-78: medians 10.5 / 155 at
    today=2018-09-12; the 2018-07-12 row falls outside the window."""
    from contessa_spark.results import medians_30_day

    path = str(tmp_path / "quality_check_t")
    seed = [
        (10, 200, datetime(2018, 9, 11)),
        (3, 22, datetime(2018, 9, 10)),
        (11, 110, datetime(2018, 9, 9)),
        (55, 476, datetime(2018, 9, 8)),
        (77, 309, datetime(2018, 7, 12)),
    ]
    rows = [
        {
            "attribute": "a",
            "rule_name": "r",
            "rule_type": "t",
            "rule_description": None,
            "total_records": f + p,
            "failed": f,
            "median_30_day_failed": None,
            "passed": p,
            "median_30_day_passed": None,
            "failed_percentage": 0.0,
            "passed_percentage": 0.0,
            "status": "valid",
            "time_filter": "not_set",
            "task_ts": ts,
            "created_at": ts,
        }
        for f, p, ts in seed
    ]
    spark.createDataFrame(rows, schema=QUALITY_CHECK_SCHEMA).write.parquet(path)
    med = medians_30_day(path, today=date(2018, 9, 12))
    assert med == {"failed": 10.5, "passed": 155.0}


def test_user_context_overrides_defaults(spark):
    from contessa_spark.table import Table

    ctx = QualityRunner.get_context(
        Table("tmp", "t"), {"task_ts": TASK_TS, "extra": 1}
    )
    assert ctx["task_ts"] == TASK_TS
    assert ctx["extra"] == 1
    assert ctx["table_fullname"] == "tmp.t"


def test_custom_sql_strict_jinja(spark, booking):
    """test_rules.py:384-403 — missing template var raises."""
    import jinja2

    runner = QualityRunner(spark)
    bad = [
        {
            "name": "s",
            "type": "sql",
            "sql": "SELECT {{ missing_var }} FROM {{ table_fullname }}",
            "column": "c",
            "description": "d",
        }
    ]
    with pytest.raises(jinja2.UndefinedError):
        runner.run(bad, booking, context={"task_ts": TASK_TS})
