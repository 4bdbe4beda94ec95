"""Program defects the benchmark's workloads steer round, each a strict
xfail: when the program is fixed the test passes, pytest reports it as a
failure, and the workload can be widened again (see the note by the
setting each test names). Starts a local Spark session.

    python3 -m pytest perfbench/test_known_defects.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, oracle  # noqa: E402

SMALL = gen.NycSize(parcels=500, properties=600, sales=1_000, requests=5_000, row_group=2_000)


@pytest.mark.xfail(strict=True, reason="bookmarks_summary counts a repeated parcel's sales "
                   "once per repetition; gen.DISTINCT_BOOKMARKS keeps repeats out of the stream")
def test_bookmarks_summary_answers_a_repeated_parcel_once_per_entry(tmp_path):
    from nyc_analytics_database_platform_spark.nyc import api
    from nyc_analytics_database_platform_spark.session import get_spark

    tables = gen.nyc_tables(5, SMALL)
    gen.write_tables(tables, str(tmp_path), SMALL.row_group)
    sold = tables["property"]["geographic_id"].to_numpy()[
        tables["sale"]["property_id"].to_numpy() - 1]
    geo = tables["geographic_area"]
    a, b = (f"{geo['borough_code'][g - 1]}-{geo['block_code'][g - 1]}-{geo['lot_code'][g - 1]}"
            for g in sold[:2])
    spark = get_spark("perfbench-known-defects")
    frames = {t: spark.read.parquet(str(tmp_path / f"{t}.parquet"))
              for t in ("geographic_area", "service_request", "property", "sale")}
    got = api.bookmarks_summary(spark, frames, [a, b, a])
    con = oracle.connect(str(tmp_path))
    want = oracle.bookmarks(con, (a, b, a))
    con.close()
    assert oracle.same(got, want)
