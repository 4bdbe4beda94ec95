"""Seeded inputs for every workload: datasets, request streams, write streams.

Everything here is pure numpy/pyarrow and depends only on the seed, so the
same seed gives byte-identical parquet files and identical op streams, and
the program under test receives only the generated inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SKEW = 0.5      # Zipf exponent of rows per parcel
REQUEST_SKEW = 1.1   # Zipf exponent of requests per parcel
BOROUGHS = ("Manhattan", "Bronx", "Brooklyn", "Queens", "Staten Island")
STATUSES = ("Open", "Pending", "In Progress", "Closed", "Cancelled")
STATUS_P = (0.12, 0.06, 0.07, 0.65, 0.10)
STREETS = tuple(
    f"{n} {kind}"
    for n in ("BROADWAY", "MAIN", "PARK", "OCEAN", "UNION", "ELM", "CANAL",
              "GRAND", "BAY", "HILL", "RIVER", "MILL", "LAKE", "WATER")
    for kind in ("ST", "AVE", "PL", "RD")
)
FIRST_DAY = date(2022, 1, 1)
N_DAYS = (date(2024, 12, 31) - FIRST_DAY).days + 1


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a draw to one
    stream never shifts another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


# ---------------------------------------------------------------- NYC data

@dataclass(frozen=True)
class NycSize:
    parcels: int = 50_000
    properties: int = 60_000
    sales: int = 100_000
    requests: int = 1_000_000
    complaint_types: int = 24
    row_group: int = 131_072


def _dates(r: np.random.Generator, n: int) -> np.ndarray:
    days = r.integers(0, N_DAYS, n)
    return (np.datetime64(FIRST_DAY) + days.astype("timedelta64[D]"))


def nyc_tables(seed: int, size: NycSize = NycSize()) -> dict[str, pa.Table]:
    """The reference's normalized NYC schema (nyc/schema.py), synthetic.

    Parcels have one seeded popularity ranking: popular parcels carry more
    311 requests and more sales (a mild Zipf, so no one parcel's response
    dwarfs the rest), and the dashboard requests them more (a sharp Zipf,
    so hot keys repeat).
    service_request is in created_date order, the way a 311 feed lands."""
    r = rng_for(seed, "nyc")
    P = size.parcels
    codes = r.choice(5 * 99_999 * 60, size=P, replace=False)
    borough = (codes // (99_999 * 60) + 1).astype(np.int32)
    block = (codes // 60 % 99_999 + 1).astype(np.int32)
    lot = (codes % 60 + 1).astype(np.int32)
    gid = np.arange(1, P + 1, dtype=np.int64)
    rank = r.permutation(P)  # gid-1 -> popularity rank
    popularity = zipf_weights(P, DATA_SKEW)[rank]
    geo = pa.table({
        "geographic_id": gid,
        "borough_name": pa.array(np.array(BOROUGHS)[borough - 1]),
        "borough_code": borough,
        "block_code": block,
        "lot_code": lot,
    })

    n_prop = size.properties
    prop_gid = r.choice(gid, size=n_prop, p=popularity)
    house = r.integers(1, 3000, n_prop)
    street = np.array(STREETS)[r.integers(0, len(STREETS), n_prop)]
    prop_id = np.arange(1, n_prop + 1, dtype=np.int32)
    addr = np.char.add(np.char.add(house.astype(str), " "), street)
    # The property id makes every address unique, so an address names one
    # parcel for the geocode dimension.
    addr = np.char.add(np.char.add(addr, " #"), prop_id.astype(str))
    apt_mask = r.random(n_prop) < 0.3
    apt = np.where(apt_mask, np.char.add("A", r.integers(1, 40, n_prop).astype(str)), None)
    prop = pa.table({
        "property_id": prop_id,
        "geographic_id": prop_gid,
        "property_address": pa.array(addr),
        "apartment_number": pa.array(apt, pa.string()),
        "year_built": pa.array(r.integers(1880, 2024, n_prop).astype(np.int32)),
        "gross_sqft": pa.array(r.integers(50_000, 5_000_000, n_prop) / 100).cast(pa.decimal128(10, 2)),
        "land_sqft": pa.array(r.integers(20_000, 2_000_000, n_prop) / 100).cast(pa.decimal128(10, 2)),
        "residential_units": pa.array(r.integers(0, 40, n_prop).astype(np.int32)),
        "commercial_units": pa.array(r.integers(0, 5, n_prop).astype(np.int32)),
    })

    n_sale = size.sales
    prop_w = popularity[prop_gid - 1]
    sale_prop = r.choice(prop_id, size=n_sale, p=prop_w / prop_w.sum())
    sale = pa.table({
        "sale_id": np.arange(1, n_sale + 1, dtype=np.int32),
        "property_id": sale_prop,
        "sale_price": pa.array(r.integers(10_000_000, 500_000_000, n_sale) / 100).cast(pa.decimal128(12, 2)),
        "sale_date": pa.array(_dates(r, n_sale)),
    })

    n_sr = size.requests
    created = np.sort(_dates(r, n_sr))
    status = np.array(STATUSES)[r.choice(5, size=n_sr, p=STATUS_P)]
    closed_mask = status == "Closed"
    closed = np.where(closed_mask, created + r.integers(0, 30, n_sr).astype("timedelta64[D]"),
                      np.datetime64("NaT"))
    ct_w = zipf_weights(size.complaint_types, 0.8)
    sr = pa.table({
        "service_request_id": np.arange(1, n_sr + 1, dtype=np.int32),
        "geographic_id": r.choice(gid, size=n_sr, p=popularity),
        "resolution_id": pa.array(np.where(closed_mask, r.integers(1, 9, n_sr), 0).astype(np.int32),
                                  mask=~closed_mask),
        "agency_code": pa.array(np.array(AGENCIES)[r.integers(0, len(AGENCIES), n_sr)]),
        "complaint_type_id": (r.choice(size.complaint_types, size=n_sr, p=ct_w) + 1).astype(np.int32),
        "descriptor_id": pa.array(r.integers(1, 40, n_sr).astype(np.int32),
                                  mask=r.random(n_sr) < 0.2),
        "incident_address": pa.array(np.where(r.random(n_sr) < 0.9, "ADDR", None), pa.string()),
        "created_date": pa.array(created),
        "closed_date": pa.array(closed, mask=~closed_mask).cast(pa.date32()),
        "update_date": pa.array(created + 1, mask=r.random(n_sr) < 0.5),
        "status": pa.array(status),
    })

    agency = pa.table({
        "agency_code": pa.array(AGENCIES),
        "agency_name": pa.array([f"{a} Department" for a in AGENCIES]),
    })
    ctype = pa.table({
        "complaint_type_id": np.arange(1, size.complaint_types + 1, dtype=np.int32),
        "complaint_type_name": pa.array([f"Complaint {i:02d}" for i in range(1, size.complaint_types + 1)]),
    })
    desc = pa.table({
        "descriptor_id": np.arange(1, 40, dtype=np.int32),
        "descriptor_name": pa.array([f"Descriptor {i}" for i in range(1, 40)]),
    })
    res = pa.table({
        "resolution_id": np.arange(1, 9, dtype=np.int32),
        "description": pa.array([f"Resolution {i}" for i in range(1, 9)]),
    })
    geocode = pa.table({
        "house_number": pa.array(house.astype(str)),
        "street": pa.array(np.char.add(np.char.add(street, " #"), prop_id.astype(str))),
        "borough": pa.array(np.char.upper(np.array(BOROUGHS)[borough[prop_gid - 1] - 1])),
        "key_code": pa.array([
            f"{b}-{bl:05d}-{lo:04d}"
            for b, bl, lo in zip(borough[prop_gid - 1], block[prop_gid - 1], lot[prop_gid - 1])
        ]),
    })
    return {
        "geographic_area": geo, "property": prop, "sale": sale,
        "service_request": sr, "agency": agency, "complaint_type": ctype,
        "complaint_descriptor": desc, "resolution": res, "geocode": geocode,
        "_rank": pa.table({"rank": rank}),
    }


AGENCIES = ("NYPD", "DOB", "DSNY", "DEP", "DOT", "HPD", "DPR", "DOHMH", "TLC", "FDNY")


def write_tables(tables: dict[str, pa.Table], out_dir: str, row_group: int) -> dict[str, tuple[int, int]]:
    """One parquet file per table; returns {name: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        if name.startswith("_"):
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=row_group, compression="snappy")
        sizes[name] = (t.num_rows, os.path.getsize(path))
    return sizes


# -------------------------------------------------------- dashboard stream

ENDPOINTS = ("analytics", "bbl_summary", "bbl_trends", "bookmarks_summary",
             "export_rows", "compare")
# Page views of the reference's dashboard (SURVEY.md section 3). An
# analytics page load is the /analytics route followed by the two /trends
# fetches the page makes for the same parcel and window, one per metric
# (templates/analytics.html:368,401). The other views are one request each.
# bbl_summary has no route of its own: analytics, compare and export call it.
# Every block sends these views in this order, so each run sees the same
# composition, and two clients overlap the same kinds of work, whatever the
# seed; the seed picks data, keys and windows. The reference publishes no
# traffic, so the weights are unverified.
VIEW_BLOCK = ("analytics", "compare", "analytics", "bookmarks", "analytics", "export")
TRENDS_METRICS = ("service_requests", "sales")
BAD_KEYS = ("garbage", "9-100-10", "1-2", "0-0-0", "abc-def-ghi")
# A session's bookmark list could name a parcel twice, but
# nyc.api.bookmarks_summary then counts that parcel's sales once per
# repetition (a program defect, shown by test_known_defects.py). A benchmark
# run must be one on which no op fails, so the stream names each parcel once
# until the program is fixed; then set this to False.
DISTINCT_BOOKMARKS = True
# The analytics route defaults to calendar 2024 (server.py:392-395); the
# other two windows are unverified.
WINDOWS = (("2024-01-01", "2024-12-31"), ("2023-01-01", "2023-12-31"),
           ("2022-07-01", "2024-06-30"))


def view_kind(view: tuple[tuple, ...]) -> str:
    """The VIEW_BLOCK kind of a page view."""
    return {"analytics": "analytics", "compare": "compare", "bookmarks_summary": "bookmarks",
            "export_rows": "export"}[view[0][0]]


def dashboard_views(seed: int, tables: dict[str, pa.Table], n: int,
                    bad_every: int = 2 * len(VIEW_BLOCK)) -> list[tuple[tuple, ...]]:
    """`n` page views, each a tuple of requests (endpoint, args...) one user
    sends in order, with Zipf-skewed parcel keys. In every `bad_every` views
    (0: none) one export view at a seeded place carries a key that is
    malformed or names no parcel: a BBL typed into a URL. (Not an analytics
    page: one with such a key is not found and makes no /trends fetches,
    which would change the request mix from run to run.) The analytics
    pages of a block cover the date windows once each. A bookmark list is
    drawn parcel by parcel; it names each parcel once while
    DISTINCT_BOOKMARKS is set."""
    r = rng_for(seed, "dashboard")
    geo = tables["geographic_area"]
    w = zipf_weights(geo.num_rows, REQUEST_SKEW)[tables["_rank"]["rank"].to_numpy()]
    P = geo.num_rows
    borough = geo["borough_code"].to_numpy()
    block = geo["block_code"].to_numpy()
    lot = geo["lot_code"].to_numpy()
    codes = set(zip(borough.tolist(), block.tolist(), lot.tolist()))
    gc = tables["geocode"]
    prop_gid = tables["property"]["geographic_id"].to_numpy()
    has_addr = np.zeros(P, bool)
    has_addr[prop_gid - 1] = True
    addr_of = {}
    for i, g in enumerate(prop_gid):
        addr_of.setdefault(int(g), i)

    cdf = np.cumsum(w)

    def pick() -> int:
        return min(int(np.searchsorted(cdf, r.random())), P - 1)

    def key(bad: bool = False) -> str:
        if bad:
            if r.random() < 0.5:
                return BAD_KEYS[r.integers(0, len(BAD_KEYS))]
            while True:  # well-formed, but no such parcel
                k = (int(r.integers(1, 6)), int(r.integers(1, 99_999)), int(r.integers(61, 99)))
                if k not in codes:
                    return f"{k[0]}-{k[1]}-{k[2]}"
        g = pick()
        return f"{borough[g]}-{block[g]}-{lot[g]}"

    def address() -> tuple[str, str, str]:
        g = pick()
        while not has_addr[g]:
            g = pick()
        i = addr_of[g + 1]
        return (gc["house_number"][i].as_py(), gc["street"][i].as_py(), gc["borough"][i].as_py())

    kinds = [VIEW_BLOCK[i % len(VIEW_BLOCK)] for i in range(n)]
    windows: list[tuple[str, str]] = []
    for _ in range(0, n, len(VIEW_BLOCK)):
        page_windows = [WINDOWS[j] for j in r.permutation(len(WINDOWS))]
        windows += [page_windows.pop() if kind == "analytics"
                    else WINDOWS[int(r.integers(0, len(WINDOWS)))] for kind in VIEW_BLOCK]
    bad_views = set()
    for g in range(0, n, bad_every or n):
        exports = [i for i in range(g, min(g + bad_every, n)) if kinds[i] == "export"]
        if bad_every and exports:
            bad_views.add(exports[int(r.integers(0, len(exports)))])

    out: list[tuple[tuple, ...]] = []
    for i, view in enumerate(kinds):
        start, end = windows[i]
        if view == "analytics":
            k = key()
            reqs: tuple[tuple, ...] = (("analytics", k, start, end),)
            reqs += tuple(("bbl_trends", k, start, end, m) for m in TRENDS_METRICS)
        elif view == "bookmarks":
            marks: list[str] = []
            for _ in range(int(r.integers(5, 11))):
                k = key()
                while DISTINCT_BOOKMARKS and k in marks:
                    k = key()
                marks.append(k)
            reqs = (("bookmarks_summary", tuple(marks)),)
        elif view == "export":
            what = ("complaints", "sales")[int(r.integers(0, 2))]
            reqs = (("export_rows", key(i in bad_views), what, start, end),)
        else:
            reqs = (("compare", address(), address(), start, end),)
        out.append(reqs)
    return out


# ----------------------------------------------------------- ingest stream

# One cycle of the ingest mix: 8 writes (three appends, a merge-on-read and a
# copy-on-write delete, and each maintenance op) and 5 interleaved reads.
# The order is fixed, so every run walks the table through the same
# sequence of states; the seed varies the rows and which ids the deletes hit.
INGEST_CYCLE = ("append", "read_version", "delete_where_mor", "append",
                "changes_between", "optimize_files", "read_version",
                "delete_range_cow", "append", "changes_between", "purge_deletes",
                "read_version", "vacuum")


def ingest_ops(n_cycles: int) -> list[str]:
    return list(INGEST_CYCLE) * n_cycles


def ingest_batch(seed: int, batch_no: int, first_id: int, rows: int,
                 parcels: int) -> pa.Table:
    """One 311-style batch: ids first_id.., created dates advancing with
    the batch number, Zipf-skewed parcels."""
    r = rng_for(seed, f"b{batch_no}")
    w = zipf_weights(parcels, 0.9)
    day0 = np.datetime64(FIRST_DAY) + np.timedelta64(batch_no, "D")
    return pa.table({
        "service_request_id": np.arange(first_id, first_id + rows, dtype=np.int64),
        "geographic_id": (r.choice(parcels, size=rows, p=w) + 1).astype(np.int64),
        "complaint_type_id": (r.integers(1, 25, rows)).astype(np.int32),
        "created_date": pa.array(day0 + r.integers(0, 2, rows).astype("timedelta64[D]")),
        "status": pa.array(np.array(STATUSES)[r.choice(5, size=rows, p=STATUS_P)]),
    })



# ------------------------------------------------------------ reports data

@dataclass(frozen=True)
class RegistrySize:
    """Rows per table of the registry queries' star schema; the defaults
    match the smallest scale factor the registry is tested at (0.001)."""
    customers: int = 150
    suppliers: int = 10
    parts: int = 200
    orders: int = 1_500
    lineitems: int = 6_000
    events: int = 1_000
    users: int = 15
    documents: int = 500
    embeddings: int = 500
    dim: int = 64
    labels: int = 10


WORDS = ("scan", "column", "window", "order", "sort", "part", "agg", "value",
         "line", "key", "join", "merge", "group", "query", "a", "vector", "hash",
         "slow", "stream", "filter", "fast", "the", "batch", "spark", "table",
         "small", "data", "big", "customer", "row")
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _ts(r: np.random.Generator, n: int, first: str, days: int) -> np.ndarray:
    us = r.integers(0, days * 86_400_000_000, n)
    return np.datetime64(first, "us") + us.astype("timedelta64[us]")


def registry_tables(seed: int, size: RegistrySize = RegistrySize()) -> dict[str, pa.Table]:
    """The ten tables every registry query reads (catalog.TABLES), with the
    column types and value domains of the repo's test data, synthetic."""
    r = rng_for(seed, "registry")
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(r.uniform(lo, hi, n), 2)

    nc = size.customers
    customer = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": r.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                           "MACHINERY"])[r.integers(0, 5, nc)]),
    })
    ns = size.suppliers
    supplier = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": r.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    npt = size.parts
    adj = np.array(["cold", "small", "large", "blue", "old", "new", "hot", "red"])
    noun = np.array(["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"])
    part = pa.table({
        "p_partkey": np.arange(npt, dtype=np.int64),
        "p_name": pa.array(np.char.add(np.char.add(adj[r.integers(0, 8, npt)], " "),
                                       noun[r.integers(0, 8, npt)])),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, npt).astype(str))),
        "p_type": pa.array(np.array(["ECONOMY", "PROMO", "MEDIUM", "SMALL", "LARGE",
                                     "STANDARD"])[r.integers(0, 6, npt)]),
        "p_size": r.integers(1, 51, npt).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npt) % 200) * 0.1, 2),
    })
    no = size.orders
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[r.integers(0, 3, no)]),
        "o_totalprice": money(1000.0, 500_000.0, no),
        "o_orderdate": pa.array(_ts(r, no, "1995-01-01", 2404).astype("datetime64[D]")
                                .astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[r.integers(0, 5, no)]),
    })
    nl = size.lineitems
    okey = np.sort(r.integers(0, no, nl)).astype(np.int64)
    linenumber = np.ones(nl, np.int32)
    for i in range(1, nl):
        if okey[i] == okey[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    perm = r.permutation(nl)
    qty = r.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": okey[perm],
        "l_partkey": r.integers(0, npt, nl).astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": linenumber[perm],
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["N", "R", "A"])[r.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_ts(r, nl, "1995-01-02", 2498).astype("datetime64[D]")
                               .astype("datetime64[us]")),
    })
    ne = size.events
    events = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.sort(_ts(r, ne, "2024-01-01", 30))),
        "user_id": r.integers(0, size.users, ne).astype(np.int64),
        "event_type": pa.array(np.array(["click", "purchase", "error", "signup",
                                         "view"])[r.integers(0, 5, ne)]),
        "value": money(0.01, 330.0, ne),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
    })
    nd = size.documents
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and r.random() < 0.06:  # a near-duplicate of an earlier document
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(r.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS), n)]))
    documents = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(len(LANGS), size=nd, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })
    nv, dim = size.embeddings, size.dim
    label = r.integers(0, size.labels, nv).astype(np.int32)
    centers = r.normal(0, 1, (size.labels, dim))
    vec = centers[label] * 0.15 + r.normal(0, 1, (nv, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label,
    })
    return {"region": region, "nation": nation, "customer": customer, "supplier": supplier,
            "part": part, "orders": orders, "lineitem": lineitem, "events": events,
            "documents": documents, "embeddings": embeddings}
