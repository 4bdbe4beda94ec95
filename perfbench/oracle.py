"""DuckDB oracle for the dashboard: the reference's SQL query shapes
(PERCENTILE_CONT median, month spine zero-fill, top-5 plus Other) run over
the same generated parquet, assembled into the API's response shapes.

It shares no code with the engine, so a wrong engine answer cannot also be
the expected one.
"""

from __future__ import annotations

import math
import os

import duckdb

ACTIVE = "('Open', 'Pending', 'In Progress')"
NYC_TABLES = ("geographic_area", "property", "sale", "service_request",
              "complaint_type", "geocode")


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in NYC_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def parse_bbl(bbl: str) -> tuple[int, int, int] | None:
    parts = bbl.split("-")
    if len(parts) != 3:
        return None
    try:
        b, bl, lo = (int(p) for p in parts)
    except ValueError:
        return None
    return (b, bl, lo) if 1 <= b <= 5 else None


def _window(col: str, start: str | None, end: str | None) -> tuple[str, list]:
    sql, params = "", []
    if start:
        sql += f" AND {col} >= CAST(? AS DATE)"
        params.append(start)
    if end:
        sql += f" AND {col} <= CAST(? AS DATE)"
        params.append(end)
    return sql, params


def _geo(con, bbl: str):
    p = parse_bbl(bbl)
    if p is None:
        return None
    return con.execute(
        "SELECT geographic_id, borough_name FROM geographic_area "
        "WHERE borough_code = ? AND block_code = ? AND lot_code = ?", list(p)
    ).fetchone()


def summary(con, bbl: str, start: str | None = None, end: str | None = None):
    geo = _geo(con, bbl)
    if geo is None:
        return None
    gid, borough = geo
    w, wp = _window("sr.created_date", start, end)
    by_type = con.execute(
        "SELECT ct.complaint_type_name, COUNT(*) AS c, "
        f"SUM(CASE WHEN sr.status IN {ACTIVE} THEN 1 ELSE 0 END) "
        "FROM service_request sr JOIN complaint_type ct "
        "ON sr.complaint_type_id = ct.complaint_type_id "
        f"WHERE sr.geographic_id = ?{w} GROUP BY 1 ORDER BY c DESC, 1",
        [gid, *wp],
    ).fetchall()
    w, wp = _window("s.sale_date", start, end)
    sales = con.execute(
        "SELECT CAST(s.sale_price AS DOUBLE), strftime(s.sale_date, '%Y-%m-%d'), "
        "p.property_address FROM sale s JOIN property p ON s.property_id = p.property_id "
        f"WHERE p.geographic_id = ?{w} ORDER BY s.sale_date DESC, s.sale_id DESC",
        [gid, *wp],
    ).fetchall()
    if sales:
        lo, hi, med = con.execute(
            "SELECT MIN(CAST(s.sale_price AS DOUBLE)), MAX(CAST(s.sale_price AS DOUBLE)), "
            "PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY CAST(s.sale_price AS DOUBLE)) "
            "FROM sale s JOIN property p ON s.property_id = p.property_id "
            f"WHERE p.geographic_id = ?{w}", [gid, *wp],
        ).fetchone()
        stats = {"min_price": lo, "max_price": hi, "median_price": med}
    else:
        stats = {"min_price": 0, "max_price": 0, "median_price": 0}
    return {
        "bbl": bbl,
        "borough_name": borough,
        "total_requests": sum(r[1] for r in by_type),
        "active_requests": sum(r[2] for r in by_type),
        "complaints_by_type": [{"type": t, "count": c, "active": a} for t, c, a in by_type],
        "sales": [{"price": p, "date": d, "address": a} for p, d, a in sales],
        "num_sales": len(sales),
        "sale_stats": stats,
    }


def analytics(con, bbl: str, start: str, end: str):
    data = summary(con, bbl, start, end)
    if data is None:
        return None
    by_type = data["complaints_by_type"]
    if len(by_type) > 5:
        other = sum(r["count"] for r in by_type[5:])
        data["complaints_top5_other"] = by_type[:5] + [{"type": "Other", "count": other, "active": None}]
    else:
        data["complaints_top5_other"] = by_type
    data["first_address"] = data["sales"][0]["address"] if data["sales"] else None
    return data


def trends(con, bbl: str, start: str, end: str, metric: str):
    geo = _geo(con, bbl)
    if geo is None:
        return None
    spine = ("SELECT CAST(m AS DATE) AS m FROM generate_series("
             "date_trunc('month', CAST(? AS DATE)), date_trunc('month', CAST(? AS DATE)), "
             "INTERVAL 1 MONTH) t(m)")
    if metric == "service_requests":
        rows = con.execute(
            f"WITH spine AS ({spine}), agg AS ("
            "SELECT date_trunc('month', created_date) AS m, COUNT(*) AS c FROM service_request "
            "WHERE geographic_id = ? AND created_date BETWEEN CAST(? AS DATE) AND CAST(? AS DATE) "
            "GROUP BY 1) SELECT strftime(spine.m, '%Y-%m'), COALESCE(agg.c, 0) "
            "FROM spine LEFT JOIN agg ON spine.m = agg.m ORDER BY 1",
            [start, end, geo[0], start, end],
        ).fetchall()
        return [{"month": m, "count": c} for m, c in rows]
    rows = con.execute(
        f"WITH spine AS ({spine}), agg AS ("
        "SELECT date_trunc('month', s.sale_date) AS m, "
        "PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY CAST(s.sale_price AS DOUBLE)) AS med, "
        "COUNT(*) AS c FROM sale s JOIN property p ON s.property_id = p.property_id "
        "WHERE p.geographic_id = ? AND s.sale_date BETWEEN CAST(? AS DATE) AND CAST(? AS DATE) "
        "GROUP BY 1) SELECT strftime(spine.m, '%Y-%m'), agg.med, COALESCE(agg.c, 0) "
        "FROM spine LEFT JOIN agg ON spine.m = agg.m ORDER BY 1",
        [start, end, geo[0], start, end],
    ).fetchall()
    return [{"month": m, "median_price": med, "count": c} for m, med, c in rows]


def bookmarks(con, bbls: tuple[str, ...]):
    out = []
    for bbl in bbls:
        geo = _geo(con, bbl)
        if geo is None:
            continue
        gid, borough = geo
        total, active = con.execute(
            f"SELECT COUNT(*), COALESCE(SUM(CASE WHEN status IN {ACTIVE} THEN 1 ELSE 0 END), 0) "
            "FROM service_request WHERE geographic_id = ?", [gid],
        ).fetchone()
        n, med = con.execute(
            "SELECT COUNT(*), PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY CAST(s.sale_price AS DOUBLE)) "
            "FROM sale s JOIN property p ON s.property_id = p.property_id WHERE p.geographic_id = ?",
            [gid],
        ).fetchone()
        out.append({"bbl": bbl, "borough_name": borough, "total_requests": total,
                    "active_requests": active, "num_sales": n, "median_price": med})
    return out


def export(con, bbl: str, what: str, start: str, end: str) -> str:
    data = summary(con, bbl, start, end)
    if data is None:
        return ""
    if what == "complaints":
        lines = ["Complaint Type,Total Count,Active Count"]
        lines += [f"{_csv(r['type'])},{r['count']},{r['active']}" for r in data["complaints_by_type"]]
    else:
        lines = ["Address,Sale Price,Sale Date"]
        lines += [f"{_csv(r['address'])},{r['price']!r},{r['date']}" for r in data["sales"]]
    return "\n".join(lines)


def _csv(s: str) -> str:
    return f'"{s}"' if any(c in s for c in ',"\n') else s


def compare(con, addr1, addr2, start: str, end: str):
    out = {}
    for label, (hn, st, bo) in (("left", addr1), ("right", addr2)):
        row = con.execute(
            "SELECT key_code FROM geocode WHERE upper(trim(house_number)) = upper(trim(?)) "
            "AND upper(trim(street)) = upper(trim(?)) AND upper(trim(borough)) = upper(trim(?))",
            [hn, st, bo],
        ).fetchone()
        if row is None:
            return "GeocodeError"
        out[label] = summary(con, row[0], start, end)
    return out


def expected(con, req: tuple):
    ep, *args = req
    if ep == "analytics":
        return analytics(con, *args)
    if ep == "bbl_summary":
        return summary(con, *args)
    if ep == "bbl_trends":
        return trends(con, *args)
    if ep == "bookmarks_summary":
        return bookmarks(con, args[0])
    if ep == "export_rows":
        return export(con, *args)
    return compare(con, *args)


def same(a, b) -> bool:
    """Structural equality; floats equal to 1e-9 relative (the engine and
    DuckDB may sum or interpolate in another order)."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b
