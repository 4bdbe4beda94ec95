"""Golden end-to-end tests for the NYC-domain API (SURVEY.md section 5
item 2) - every reference edge case: empty sales -> zeroed stats, month gaps
-> 0/None fill, >5 complaint types -> Other bucket, date-range composition,
ordering determinism, unresolvable geocode -> typed error."""

from __future__ import annotations

import pytest

from nyc_analytics_database_platform_spark.nyc import api
from nyc_analytics_database_platform_spark.nyc.fixtures import nyc_tables
from nyc_analytics_database_platform_spark.sources.geocode import geocode_dim


@pytest.fixture(scope="module")
def tables(spark):
    return nyc_tables(spark)


def test_parse_bbl():
    assert api.parse_bbl("1-100-10") == (1, 100, 10)
    assert api.parse_bbl("4-11458-0029") == (4, 11458, 29)
    assert api.parse_bbl("9-1-1") is None  # borough out of range
    assert api.parse_bbl("nonsense") is None
    assert api.parse_bbl("1-2") is None


def test_summary_full_parcel(spark, tables):
    data = api.bbl_summary(spark, tables, "1-100-10", "2024-01-01", "2024-12-31")
    assert data["borough_name"] == "Manhattan"
    assert data["total_requests"] == 8  # 2023 request excluded by range
    assert data["active_requests"] == 5
    # ordering: count desc, then name
    assert data["complaints_by_type"][0] == {"type": "Noise", "count": 2, "active": 1}
    assert [r["type"] for r in data["complaints_by_type"][1:3]] == [
        "Blocked Driveway",
        "Graffiti",
    ]
    assert data["num_sales"] == 6
    # recent-first with sale_id tiebreak on the 2024-01-10 tie
    assert [s["price"] for s in data["sales"][:3]] == [1500000.0, 1100000.0, 800000.0]
    assert [s["price"] for s in data["sales"][4:]] == [1200000.0, 1000000.0]
    assert data["sale_stats"] == {
        "min_price": 800000.0,
        "max_price": 1500000.0,
        "median_price": 1050000.0,  # even count -> interpolated
    }
    one = api.bbl_summary(spark, tables, "1-100-10", "2024-04-01", "2024-04-30")
    assert one["sale_stats"] == {
        "min_price": 1500000.0,
        "max_price": 1500000.0,
        "median_price": 1500000.0,  # single sale -> itself
    }
    odd = api.bbl_summary(spark, tables, "1-100-10", "2024-01-01", "2024-01-31")
    assert odd["sale_stats"] == {
        "min_price": 900000.0,
        "max_price": 1200000.0,
        "median_price": 1000000.0,  # odd count -> exact middle
    }


def test_summary_zeroed_branches(spark, tables):
    # requests but no sales (server.py:237-240)
    d2 = api.bbl_summary(spark, tables, "2-200-20")
    assert (d2["total_requests"], d2["active_requests"]) == (2, 2)
    assert d2["num_sales"] == 0
    # reference returns 0 (not None) for empty-sales stats (server.py:237-240)
    assert d2["sale_stats"] == {"min_price": 0, "max_price": 0, "median_price": 0}
    # demo parcel: lookup hits, everything empty
    d4 = api.bbl_summary(spark, tables, "4-11458-0029")
    assert d4["borough_name"] == "Queens"
    assert d4["total_requests"] == 0 and d4["num_sales"] == 0
    # unknown parcel / malformed
    assert api.bbl_summary(spark, tables, "5-999-999") is None
    assert api.bbl_summary(spark, tables, "garbage") is None


def test_trends_zero_fill_complaints(spark, tables):
    rows = api.bbl_trends(spark, tables, "1-100-10", metric="service_requests")
    assert len(rows) == 12  # full requested window, not data bounds
    assert set(rows[0]) == {"month", "count"}  # reference row shape
    by_month = {r["month"]: r["count"] for r in rows}
    assert by_month["2024-01"] == 3
    assert by_month["2024-02"] == 2
    assert by_month["2024-03"] == 0  # gap month zero-filled
    assert by_month["2024-04"] == 3
    assert by_month["2024-12"] == 0
    # 'complaints' alias keeps working
    assert api.bbl_trends(spark, tables, "1-100-10", metric="complaints") == rows
    # cross-year window, start day later than end day: calendar months
    # trunc(start)..trunc(end), the final month included
    cross = api.bbl_trends(spark, tables, "1-100-10", "2023-11-15", "2024-02-10")
    assert cross == [
        {"month": "2023-11", "count": 0},
        {"month": "2023-12", "count": 1},
        {"month": "2024-01", "count": 3},
        {"month": "2024-02", "count": 1},  # 2024-02-14 is past the end
    ]


def test_trends_null_fill_sales_median(spark, tables):
    rows = api.bbl_trends(spark, tables, "1-100-10", metric="sales")
    assert set(rows[0]) == {"month", "median_price", "count"}  # server.py:292-302
    by_month = {r["month"]: (r["median_price"], r["count"]) for r in rows}
    assert by_month["2024-01"] == (1000000.0, 3)  # odd count -> exact middle
    assert by_month["2024-02"] == (950000.0, 2)  # even count -> interpolation
    assert by_month["2024-03"] == (None, 0)  # gap: median null, count zero
    assert by_month["2024-04"] == (1500000.0, 1)
    assert by_month["2024-11"] == (None, 0)
    cross = api.bbl_trends(spark, tables, "1-100-10", "2023-11-15", "2024-02-10", "sales")
    assert cross == [
        {"month": "2023-11", "median_price": None, "count": 0},
        {"month": "2023-12", "median_price": None, "count": 0},
        {"month": "2024-01", "median_price": 1000000.0, "count": 3},
        {"month": "2024-02", "median_price": 800000.0, "count": 1},
    ]


def test_analytics_top5_other_and_first_address(spark, tables):
    data = api.analytics(spark, tables, "1-100-10")
    rollup = data["complaints_top5_other"]
    assert len(rollup) == 6  # 7 types -> top 5 + Other
    assert rollup[-1]["type"] == "Other"
    assert rollup[-1]["count"] == 2
    assert sum(r["count"] for r in rollup) == data["total_requests"]
    assert data["first_address"] == "100 BROADWAY"  # latest sale's address
    # <=5 types -> no Other row
    d2 = api.analytics(spark, tables, "2-200-20")
    assert all(r["type"] != "Other" for r in d2["complaints_top5_other"])


def test_bookmarks_batched(spark, tables):
    out = api.bookmarks_summary(
        spark, tables, ["1-100-10", "2-200-20", "4-11458-0029", "bad-bbl"]
    )
    assert [r["bbl"] for r in out] == ["1-100-10", "2-200-20", "4-11458-0029"]
    full = out[0]
    assert full["total_requests"] == 9  # no date filter -> 2023 row included
    assert full["num_sales"] == 7
    assert full["median_price"] == 1000000.0
    assert out[1]["num_sales"] == 0 and out[1]["median_price"] is None
    assert out[2]["total_requests"] == 0


def test_compare_typed_error_and_demo_address(spark, tables):
    dim = geocode_dim(spark)
    # the reference demo address resolves to the Queens demo parcel
    result = api.compare(
        spark,
        tables,
        dim,
        ("88-08", "151ST AVE", "QUEENS"),
        ("100", "BROADWAY", "MANHATTAN"),
    )
    assert result["left"]["borough_name"] == "Queens"
    assert result["right"] is None  # geocoded fine but parcel not in DB
    with pytest.raises(api.GeocodeError):
        api.compare(
            spark,
            tables,
            dim,
            ("88-08", "151ST AVE", "QUEENS"),
            ("1", "NOWHERE AVE", "BRONX"),
        )


def test_export_csv(spark, tables):
    csv = api.export_rows(spark, tables, "1-100-10", "complaints", "2024-01-01", "2024-12-31")
    lines = csv.splitlines()
    # reference header strings, byte-for-byte (server.py:523-529)
    assert lines[0] == "Complaint Type,Total Count,Active Count"
    assert lines[1] == "Noise,2,1"
    assert len(lines) == 8  # header + 7 types
    sales_csv = api.export_rows(spark, tables, "1-100-10", "sales", "2024-01-01", "2024-12-31")
    # standard csv quoting: plain fields unquoted, specials escaped
    # (tests/test_review_fixes.py covers the escaping cases)
    assert sales_csv.splitlines()[0] == "Address,Sale Price,Sale Date"
    assert sales_csv.splitlines()[1] == "100 BROADWAY,1500000.0,2024-04-01"
