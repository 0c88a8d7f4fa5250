"""End-to-end Medallion pipeline test on reference-shaped climate
fixtures (FIXTURES.md group A): raw text → bronze → silver → gold."""

from __future__ import annotations

import glob
import os
import uuid
from collections import Counter

import pytest

from climate_anomaly_bigdata_pipeline_spark.plans import medallion as M

BERKELEY = """\
% Berkeley Earth comment line
% another comment
 1  2000  01  01  2000.001  -0.523
 2  2000  01  02  2000.004   1.210
 3  2000  02  01  2000.087   0.310
 4  2001  01  01  2001.001   2.900
 5  2001  01  02  2001.004   bad_value
 6  2001  02
"""

STATIONS = """\
USW00000001  40.1234  -74.5678    100 NY TEST_STATION_1
USW00000002  41.0000   12.5000     55    TEST_STATION_2
USW00000003  bad_lat   12.5000     55 CA TEST_STATION_3
SHORT
"""


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    (d / "berkeley_daily.txt").write_text(BERKELEY)
    (d / "ghcnd_stations.txt").write_text(STATIONS)
    return str(d)


def test_demo_noise_expr_distribution(spark):
    """The portable noise injection must be deterministic, bounded to
    (−2, 2] for ordinary keys, and actually inject both ±15 extremes
    over a reference-sized station×month grid."""
    keys = [(f"S{i:03d}", 2000 + i % 3, 1 + i % 12) for i in range(1200)]
    df = spark.createDataFrame(keys, "station_id string, year int, month int")
    out = df.withColumn("noise", M.demo_noise_expr())
    rows = out.collect()
    heat = sum(r["noise"] == 15.0 for r in rows)
    cold = sum(r["noise"] == -15.0 for r in rows)
    assert heat > 0 and cold > 0  # extremes exist (E≈48 / ≈44 of 1200)
    assert all(
        r["noise"] in (15.0, -15.0) or -2.0 <= r["noise"] <= 2.0 for r in rows
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, rows))


def test_medallion_inject_noise_end_to_end(spark):
    """inject_noise=True restores the reference's demo-hack behavior:
    noisy keys shift the anomaly, injected extremes pin z to ±5 and
    always land in the extremes output."""
    berkeley = spark.createDataFrame(
        [(y, m, 0.05 * m) for y in (2000, 2001) for m in range(1, 13)],
        "year int, month int, anomaly double",
    )
    stations = spark.createDataFrame(
        [
            (f"ST{i:03d}", f"NAME{i}", "XX", 10.0 + i, 20.0, 5.0)
            for i in range(50)
        ],
        "station_id string, name string, state string, "
        "latitude double, longitude double, elevation double",
    )
    gold = M.silver_to_gold(
        berkeley, stations, station_limit=50, inject_noise=True
    )
    fact = gold["climate_anomalies_monthly"].collect()
    assert len(fact) == 50 * 24
    forced = [r for r in fact if r["z_score"] in (5.0, -5.0)]
    assert forced  # the injection guarantees outliers exist
    extreme_keys = {
        (r["station_id"], r["date"])
        for r in gold["climate_extremes"].collect()
    }
    assert all((r["station_id"], r["date"]) in extreme_keys for r in forced)


def test_medallion_end_to_end(spark, raw_dir, tmp_path_factory):
    out_root = str(tmp_path_factory.mktemp("medallion"))
    paths = M.MedallionPaths(out_root)

    bronze_b = M.ingest_bronze(
        spark, os.path.join(raw_dir, "berkeley_daily.txt"), "berkeley_earth"
    )
    assert {"value", "ingestion_date", "source"} <= set(bronze_b.columns)

    silver_b, rejects_b = M.bronze_to_silver_berkeley(bronze_b)
    rows = silver_b.collect()
    # 6 data lines: 1 bad anomaly (cast null), 1 truncated (out-of-range
    # ordinal -> null) -> 4 valid
    assert len(rows) == 4
    [rej] = rejects_b.collect()
    assert rej["total_rows"] == 6 and rej["null_anomaly"] == 2

    bronze_s = M.ingest_bronze(
        spark, os.path.join(raw_dir, "ghcnd_stations.txt"), "noaa_ghcnd"
    )
    silver_s, rejects_s = M.bronze_to_silver_stations(bronze_s)
    srows = {r["station_id"]: r for r in silver_s.collect()}
    assert set(srows) == {"USW00000001", "USW00000002"}
    assert srows["USW00000002"]["state"] is None  # blank fixed-width field

    gold = M.silver_to_gold(silver_b, silver_s, station_limit=2, z_threshold=1.0)
    kpis = {r["year"]: r for r in gold["climate_kpis"].collect()}
    assert kpis[2000]["station_count"] == 2
    assert kpis[2000]["avg_global_anomaly"] == pytest.approx(0.3323, abs=1e-4)

    fact = gold["climate_anomalies_monthly"].collect()
    # 2 stations x 3 distinct (year, month) groups
    assert len(fact) == 6
    assert all(r["date"].day == 1 for r in fact)

    extremes = gold["climate_extremes"].collect()
    assert all(r["event_type"] in ("EXTREME_HEAT", "EXTREME_COLD") for r in extremes)

    # gold writes: only the fact is partitioned by year, one file per
    # year; every output gets a single-file CSV export
    M.write_gold(gold, paths)

    fact_dir = os.path.join(paths.gold, "climate_anomalies_monthly")
    assert glob.glob(os.path.join(fact_dir, "year=2000", "*.parquet"))
    year_dirs = glob.glob(os.path.join(fact_dir, "year=*"))
    assert {os.path.basename(d) for d in year_dirs} == {"year=2000", "year=2001"}
    for d in year_dirs:
        assert len(glob.glob(os.path.join(d, "part-*"))) == 1, d
    for name in ("climate_kpis", "stations_dim", "climate_extremes"):
        assert not glob.glob(os.path.join(paths.gold, name, "year=*")), name

    for name, df in gold.items():
        table = spark.read.parquet(os.path.join(paths.gold, name))
        csvs = glob.glob(os.path.join(paths.gold, f"{name}_csv", "*.csv"))
        assert len(csvs) == 1, name  # coalesce(1) single file
        with open(csvs[0]) as f:
            assert f.readline().strip().split(",") == df.columns, name
        table = table.select(*df.columns)
        exported = (
            spark.read.schema(table.schema).option("header", "true").csv(csvs[0])
        )
        assert Counter(map(tuple, exported.collect())) == Counter(
            map(tuple, table.collect())
        ), name


def test_write_gold_jobs_keep_callers_job_group(spark, raw_dir, tmp_path):
    """write_gold's writer threads inherit the caller's job group: every
    Parquet and CSV write job is attributed to it (a plain thread would
    start with empty local properties and lose them)."""
    silver_b, _ = M.bronze_to_silver_berkeley(
        M.ingest_bronze(
            spark, os.path.join(raw_dir, "berkeley_daily.txt"), "berkeley_earth"
        )
    )
    silver_s, _ = M.bronze_to_silver_stations(
        M.ingest_bronze(
            spark, os.path.join(raw_dir, "ghcnd_stations.txt"), "noaa_ghcnd"
        )
    )
    gold = M.silver_to_gold(silver_b, silver_s, station_limit=2, z_threshold=1.0)
    sc = spark.sparkContext
    group = f"write-gold-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "write_gold job-group propagation")
    try:
        M.write_gold(gold, M.MedallionPaths(str(tmp_path)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        gold["climate_anomalies_monthly"].unpersist()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # at least one job per sink: a Parquet and a CSV write per output
    assert len(jobs) >= 2 * len(gold)
