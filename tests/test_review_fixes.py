"""Regression tests for the round-1 review findings: as-of NULL payloads,
top-K label collision, CSV escaping, trends input validation, connected-
components convergence guard."""

from __future__ import annotations

import csv
import io

import pytest
from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark.nyc import api
from nyc_analytics_database_platform_spark.nyc.fixtures import nyc_tables
from nyc_analytics_database_platform_spark.operators.graph import connected_components
from nyc_analytics_database_platform_spark.operators.joins import asof_join
from nyc_analytics_database_platform_spark.operators.topk import topk_other


def test_asof_preserves_null_payload_of_true_match(spark):
    """A right row whose value is genuinely NULL must not be skipped in
    favor of an older row, and multi-column payloads must come from ONE row."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:02:00")], "k long, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 5.0, "old"),
            (1, "2024-01-01 10:01:00", None, "new"),
        ],
        "k long, ts string, v double, tag string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v", "tag")
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["v", "tag"]
    ).collect()[0]
    assert out["asof_tag"] == "new"
    assert out["asof_v"] is None  # NOT 5.0 from the older row


def test_topk_other_does_not_merge_real_other_label(spark):
    df = spark.createDataFrame(
        [("a", 100), ("Other", 90), ("b", 10), ("c", 5)], "label string, cnt long"
    )
    rows = {(r["label"], r["cnt"]) for r in topk_other(df, "label", "cnt", k=2).collect()}
    # head keeps the genuine 'Other' (90) untouched; tail b+c folds into a
    # separate synthetic Other row
    assert ("a", 100) in rows
    assert ("Other", 90) in rows
    assert ("Other", 15) in rows
    assert sum(c for _, c in rows) == 205


def test_topk_other_no_tail_row_when_no_tail(spark):
    df = spark.createDataFrame([("a", 3), ("b", 2)], "label string, cnt long")
    out = topk_other(df, "label", "cnt", k=5).collect()
    assert {r["label"] for r in out} == {"a", "b"}


def test_export_csv_escapes_commas_and_quotes(spark):
    tables = nyc_tables(spark)
    # inject a comma-bearing complaint type and a quote-bearing address
    tables["complaint_type"] = spark.createDataFrame(
        [(1, "Noise, Residential"), (2, "Heat/Hot Water"), (3, "Illegal Parking"),
         (4, "Blocked Driveway"), (5, "Street Condition"), (6, "Rodent"), (7, "Graffiti")],
        tables["complaint_type"].schema,
    )
    tables["property"] = spark.createDataFrame(
        [(10, 1, 'BLDG "A" PLAZA', None, 1920, None, None, 1, 0),
         (11, 1, "102 BROADWAY", "2A", 1985, None, None, 6, 0),
         (30, 3, "1 MAIN ST, BROOKLYN", None, 1960, None, None, 3, 1)],
        tables["property"].schema,
    )
    complaints = api.export_rows(spark, tables, "1-100-10", "complaints", "2024-01-01", "2024-12-31")
    parsed = list(csv.DictReader(io.StringIO(complaints)))
    assert any(r["Complaint Type"] == "Noise, Residential" for r in parsed)
    assert all(len(r) == 3 for r in parsed)
    sales = api.export_rows(spark, tables, "1-100-10", "sales", "2024-01-01", "2024-12-31")
    parsed = list(csv.DictReader(io.StringIO(sales)))
    assert any(r["Address"] == 'BLDG "A" PLAZA' for r in parsed)


def test_trends_rejects_malformed_dates(spark):
    tables = nyc_tables(spark)
    with pytest.raises(ValueError, match="invalid date window"):
        api.bbl_trends(spark, tables, "1-100-10", start="2024-01-01') --", end="2024-12-31")


def test_trends_reversed_window_is_empty(spark):
    # end's month before start's: the month spine is empty, not a crash
    tables = nyc_tables(spark)
    for metric in ("service_requests", "sales"):
        assert api.bbl_trends(spark, tables, "1-100-10", "2024-03-01", "2024-01-01", metric) == []
    assert api.bbl_trends(spark, tables, "5-999-999", "2024-03-01", "2024-01-01") is None


def test_connected_components_raises_on_non_convergence(spark):
    # a 30-link chain cannot converge in 1 iteration
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=1)
    # pointer jumping doubles reach per round -> a 30-link chain converges
    # in ~log2(30) rounds, comfortably under 8
    out = connected_components(edges, max_iterations=8)
    assert {r["component"] for r in out.collect()} == {0}
