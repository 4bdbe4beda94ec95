"""The reference's end-user query API, engine-native (SURVEY.md section 2.11).

Each function mirrors a server.py entry point, with the same response shape
and edge-case semantics, but computed as a few batched collects instead of
serial SQL round-trips:

- bbl_summary       <- get_bbl_data (server.py:130-256; 5 round-trips -> 3
                       collects: parcel lookup, 311 by type, sale rows)
- bbl_trends        <- get_time_series_data + month spine (server.py:259-342;
                       2 collects: parcel lookup, per-month aggregate)
- analytics         <- /analytics route (server.py:383-432)
- compare           <- /compare route (server.py:435-473) - returns a typed
                       error for an unresolvable address instead of crashing
                       on None (the reference's latent bug, server.py:461,468)
- bookmarks_summary <- /bookmarks (server.py:561-580) - one batched pass, not
                       an N+1 loop
- export_rows       <- /export/<bbl> CSV (server.py:498-535)

Results are plain Python structures (these are API responses - small by
construction); all heavy lifting stays distributed.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_analytics_database_platform_spark.nyc.schema import ACTIVE_STATUSES

DEFAULT_START, DEFAULT_END = "2024-01-01", "2024-12-31"  # server.py:392-395


def parse_bbl(bbl: str) -> tuple[int, int, int] | None:
    """'b-bbbbb-llll' -> (borough, block, lot); None on malformed input
    (reference: server.py:118-127)."""
    parts = bbl.split("-")
    if len(parts) != 3:
        return None
    try:
        b, bl, l = (int(p) for p in parts)
    except ValueError:
        return None
    if not (1 <= b <= 5):
        return None
    return b, bl, l


def format_bbl(b: int, bl: int, l: int) -> str:
    return f"{b}-{bl}-{l}"


@dataclass
class GeocodeError(Exception):
    address: str

    def __str__(self) -> str:
        return f"could not geocode address: {self.address!r}"


def _resolve(tables: dict[str, DataFrame], bbl: str) -> tuple[Any, str] | None:
    """BBL parse + natural-key geographic_area point lookup (reference:
    server.py:118-152): (geographic_id, borough_name), or None for a
    malformed or unknown parcel."""
    parsed = parse_bbl(bbl)
    if parsed is None:
        return None
    b, bl, l = parsed
    rows = (
        tables["geographic_area"]
        .filter(
            (F.col("borough_code") == b)
            & (F.col("block_code") == bl)
            & (F.col("lot_code") == l)
        )
        .select("geographic_id", "borough_name")
        .collect()
    )
    return tuple(rows[0]) if rows else None


def _date_filtered(df: DataFrame, col: str, start: str | None, end: str | None) -> DataFrame:
    """Compositional optional date-range predicate (reference: server.py:155-167)."""
    if start:
        df = df.filter(F.col(col) >= F.lit(start).cast("date"))
    if end:
        df = df.filter(F.col(col) <= F.lit(end).cast("date"))
    return df


def _parcel_requests(
    tables: dict[str, DataFrame], gid: Any, start: str | None, end: str | None
) -> DataFrame:
    """The parcel's service_request rows inside the window."""
    return _date_filtered(
        tables["service_request"].filter(F.col("geographic_id") == gid),
        "created_date",
        start,
        end,
    )


def _parcel_sales(
    tables: dict[str, DataFrame], gid: Any, start: str | None, end: str | None
) -> DataFrame:
    """The parcel's sales inside the window, each with its property's address."""
    return _date_filtered(tables["sale"], "sale_date", start, end).join(
        tables["property"]
        .filter(F.col("geographic_id") == gid)
        .select("property_id", "property_address"),
        "property_id",
    )


def bbl_summary(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbl: str,
    start: str | None = None,
    end: str | None = None,
) -> dict[str, Any] | None:
    """get_bbl_data parity (server.py:130-256). The reference's five
    sequential queries collapse into: one SR pass (totals + by-type via
    grouping) and one sale-rows collect, whose prices give the stats."""
    parcel = _resolve(tables, bbl)
    if parcel is None:
        return None
    gid, borough_name = parcel

    # --- service requests: totals + by-type in one pass over one scan
    by_type = (
        _parcel_requests(tables, gid, start, end)
        .join(F.broadcast(tables["complaint_type"]), "complaint_type_id")
        .groupBy("complaint_type_name")
        .agg(
            F.count("*").alias("count"),
            F.sum(
                F.when(F.col("status").isin(*ACTIVE_STATUSES), 1).otherwise(0)
            ).alias("active_count"),
        )
        .orderBy(F.desc("count"), "complaint_type_name")
        .collect()
    )
    total_requests = sum(r["count"] for r in by_type)
    active_requests = sum(r["active_count"] for r in by_type)

    # --- sales: detail rows, recent first
    sales_rows = (
        _parcel_sales(tables, gid, start, end)
        .orderBy(F.desc("sale_date"), F.desc("sale_id"))
        .select(
            F.col("sale_price").cast("double").alias("price"),  # server.py:214
            F.date_format("sale_date", "yyyy-MM-dd").alias("date"),
            F.col("property_address").alias("address"),
        )
        .collect()
    )
    # sale_price is a non-null DECIMAL (schema.py), so every price is a
    # finite double. statistics.median halves the middle pair, which rounds
    # exactly like Spark's percentile(x, 0.5) = 0.5*a + 0.5*b.
    prices = [r["price"] for r in sales_rows]
    if prices:
        sale_stats = {
            "min_price": min(prices),
            "max_price": max(prices),
            "median_price": statistics.median(prices),
        }
    else:  # zeroed-stats branch: the reference returns 0, not None/NULL
        # (server.py:237-240 sets median/min/max = 0 when no sales exist)
        sale_stats = {"min_price": 0, "max_price": 0, "median_price": 0}

    return {
        "bbl": bbl,
        "borough_name": borough_name,
        "total_requests": total_requests,
        "active_requests": active_requests,
        "complaints_by_type": [
            {"type": r["complaint_type_name"], "count": r["count"], "active": r["active_count"]}
            for r in by_type
        ],
        "sales": [r.asDict() for r in sales_rows],
        "num_sales": len(sales_rows),  # server.py:252
        "sale_stats": sale_stats,
    }


def bbl_trends(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbl: str,
    start: str = DEFAULT_START,
    end: str = DEFAULT_END,
    metric: str = "service_requests",
) -> list[dict[str, Any]] | None:
    """get_time_series_data parity (server.py:259-342): monthly buckets over
    the REQUESTED window's month spine, with the reference's exact row
    shapes: metric 'service_requests' emits {month, count} with count
    zero-filled (server.py:312-316,337-338); metric 'sales' emits
    {month, median_price, count} with median_price null-filled and count
    zero-filled (server.py:292-302,316,339-340). 'complaints' is accepted
    as an alias for 'service_requests'.

    Documented deviation: the spine is calendar months trunc(start)..
    trunc(end), empty when end's month precedes start's; the reference
    iterates from the start date keeping its day-of-month
    (server.py:319-329), which silently drops the final month when
    day(start) > day(end) and crashes on day-31 starts - both sides agree
    on the default/whole-month windows the UI issues."""
    # Validate window bounds FIRST: route params come from outside the
    # program. Strict %Y-%m-%d, not fromisoformat, which also admits
    # '20240101' / week-date forms. Malformed dates raise regardless of
    # whether the parcel exists.
    try:
        first, last = (datetime.strptime(d, "%Y-%m-%d") for d in (start, end))
    except (TypeError, ValueError) as exc:
        raise ValueError(f"invalid date window: {start!r}..{end!r}") from exc

    parcel = _resolve(tables, bbl)
    if parcel is None:
        return None
    gid = parcel[0]

    if metric in ("service_requests", "complaints"):
        fact, col = _parcel_requests(tables, gid, start, end), "created_date"
        gap = {"count": 0}
        aggs = [F.count("*").alias("count")]
    elif metric == "sales":
        fact, col = _parcel_sales(tables, gid, start, end), "sale_date"
        gap = {"median_price": None, "count": 0}  # gap months: median NULL
        aggs = [
            F.percentile(F.col("sale_price").cast("double"), 0.5).alias("median_price"),
            F.count("*").alias("count"),
        ]
    else:
        raise ValueError(f"unknown metric {metric!r}")

    rows = fact.groupBy(F.date_format(col, "yyyy-MM").alias("month")).agg(*aggs).collect()
    by_month = {r["month"]: r.asDict() for r in rows}
    # spine over the requested window (server.py:319-329 iterates the window,
    # not the data bounds)
    out = []
    y, m = first.year, first.month
    while (y, m) <= (last.year, last.month):
        month = f"{y:04d}-{m:02d}"
        out.append(by_month.get(month) or {"month": month, **gap})
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def analytics(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbl: str,
    start: str = DEFAULT_START,
    end: str = DEFAULT_END,
) -> dict[str, Any] | None:
    """/analytics route parity (server.py:383-432): summary + top-5-plus-
    Other complaint rollup + first-address pick from the latest sale."""
    data = bbl_summary(spark, tables, bbl, start, end)
    if data is None:
        return None
    by_type = data["complaints_by_type"]
    if len(by_type) > 5:  # server.py:411-419
        top5 = by_type[:5]
        other = sum(r["count"] for r in by_type[5:])
        data["complaints_top5_other"] = top5 + [{"type": "Other", "count": other, "active": None}]
    else:
        data["complaints_top5_other"] = by_type
    data["first_address"] = data["sales"][0]["address"] if data["sales"] else None  # server.py:421-424
    return data


def compare(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    geocode_dim: DataFrame,
    addr1: tuple[str, str, str],
    addr2: tuple[str, str, str],
    start: str = DEFAULT_START,
    end: str = DEFAULT_END,
) -> dict[str, Any]:
    """/compare parity (server.py:435-473) with the None-deref fixed: an
    unresolvable address raises GeocodeError instead of crashing."""
    from nyc_analytics_database_platform_spark.sources.geocode import enrich_addresses

    addrs = spark.createDataFrame(
        [addr1, addr2], "house_number string, street string, borough string"
    )
    resolved = {
        (r["house_number"], r["street"], r["borough"]): r["key_code"]
        for r in enrich_addresses(addrs, geocode_dim).collect()
    }
    out = {}
    for label, addr in (("left", addr1), ("right", addr2)):
        key = resolved.get(addr)
        if key is None:
            raise GeocodeError(" ".join(addr))
        out[label] = bbl_summary(spark, tables, key, start, end)
    return out


def bookmarks_summary(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbls: list[str],
) -> list[dict[str, Any]]:
    """/bookmarks parity (server.py:561-580), batched: ONE grouped pass over
    all bookmarked keys instead of a serial per-key 5-query loop. No date
    filter, matching the reference."""
    parsed = [(bbl, parse_bbl(bbl)) for bbl in bbls]
    keys = [p for _, p in parsed if p is not None]
    if not keys:
        return []
    geo = tables["geographic_area"]
    key_df = spark.createDataFrame(
        keys, "borough_code int, block_code int, lot_code int"
    )
    matched = geo.join(
        F.broadcast(key_df), ["borough_code", "block_code", "lot_code"]
    ).select("geographic_id", "borough_name", "borough_code", "block_code", "lot_code")

    # Semi-join the facts down to the bookmarked parcels BEFORE aggregating:
    # a groupBy over the full fact tables would shuffle every geographic_id
    # at 100 TB to answer a handful of bookmarks.
    gids = matched.select("geographic_id")
    sr = (
        tables["service_request"]
        .join(F.broadcast(gids), "geographic_id", "left_semi")
        .groupBy("geographic_id")
        .agg(
            F.count("*").alias("total_requests"),
            F.sum(
                F.when(F.col("status").isin(*ACTIVE_STATUSES), 1).otherwise(0)
            ).alias("active_requests"),
        )
    )
    props = tables["property"].select("property_id", "geographic_id").join(
        F.broadcast(gids), "geographic_id", "inner"
    )
    sales = (
        tables["sale"]
        .join(props, "property_id")
        .groupBy("geographic_id")
        .agg(
            F.count("*").alias("num_sales"),
            F.percentile(F.col("sale_price").cast("double"), 0.5).alias("median_price"),
        )
    )
    rows = (
        matched.join(sr, "geographic_id", "left")
        .join(sales, "geographic_id", "left")
        .select(
            "borough_code",
            "block_code",
            "lot_code",
            "borough_name",
            F.coalesce("total_requests", F.lit(0)).alias("total_requests"),
            F.coalesce("active_requests", F.lit(0)).alias("active_requests"),
            F.coalesce("num_sales", F.lit(0)).alias("num_sales"),
            "median_price",
        )
        .collect()
    )
    by_key = {
        (r["borough_code"], r["block_code"], r["lot_code"]): r for r in rows
    }
    out = []
    for bbl, p in parsed:
        if p is not None and p in by_key:
            r = by_key[p]
            out.append(
                {
                    "bbl": bbl,
                    "borough_name": r["borough_name"],
                    "total_requests": r["total_requests"],
                    "active_requests": r["active_requests"],
                    "num_sales": r["num_sales"],
                    "median_price": r["median_price"],
                }
            )
    return out


def export_rows(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    bbl: str,
    what: str = "complaints",
    start: str | None = None,
    end: str | None = None,
) -> str:
    """/export CSV parity (server.py:498-535): the summary's rows as a CSV
    string (download-sized; the distributed sink for large exports is
    sources/sinks.write_csv)."""
    import csv
    import io

    data = bbl_summary(spark, tables, bbl, start, end)
    if data is None:
        return ""
    buf = io.StringIO()
    writer = csv.writer(buf, lineterminator="\n")
    # header strings and column order match the reference byte-for-byte
    # (server.py:523-529)
    if what == "complaints":
        writer.writerow(["Complaint Type", "Total Count", "Active Count"])
        for r in data["complaints_by_type"]:
            writer.writerow([r["type"], r["count"], r["active"]])
    elif what == "sales":
        writer.writerow(["Address", "Sale Price", "Sale Date"])
        for r in data["sales"]:
            writer.writerow([r["address"], r["price"], r["date"]])
    else:
        raise ValueError(f"unknown export type {what!r}")
    return buf.getvalue().rstrip("\n")
