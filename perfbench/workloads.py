"""The benchmark's workloads: registry-query passes and the medallion
pipeline, each with an untimed correctness check.

A workload object owns its generated inputs. ``warm_up`` is the untimed
first pass that warms the JVM and the artifact store, ``run`` is one
timed run (with a :class:`~profiler.JobProfiler` it also collects
per-phase Spark counters), and ``check`` runs after the timed runs.
Query outputs are checked in ``warm_up``; the medallion outputs of the
last timed run are checked in ``check``.
"""

from __future__ import annotations

import importlib.util
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import datagen

OLAP_SHORT = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q12_late_priority_lines", "q13_customer_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_supplier_part_counts",
    "q17_small_quantity_revenue", "q18_large_volume_customers",
    "q19_disjunctive_revenue", "q20_promo_part_suppliers",
    "q21_waiting_suppliers", "q22_idle_rich_by_nation",
    "zscore_anomaly", "zscore_events", "zscore_lineitem", "iqr_outliers_events",
    "robust_zscore_events", "seasonal_zscore_events", "anomaly_ensemble_votes",
]
#: Python-side plan construction with tens of eager jobs per query.
DRIVER_ITERATIVE = [
    "pagerank_purchase_graph", "kcore_copurchase", "bfs_copurchase_distances",
    "entity_resolution_customers", "pca_top_component_embeddings",
    "textrank_keywords",
]
#: Executor work: shuffle (Jaccard joins) and the Arrow / Python-worker
#: boundary (codec decodes, perceptual hashing); builds are short.
EXECUTOR_HEAVY = [
    "prefix_jaccard_pairs", "dedup_threshold_sweep", "isotonic_regression_daily",
    "jpeg_decode_profile", "flac_decode_profile", "video_scene_cuts",
    "phash_image_dedup",
]
#: One pass over short OLAP queries (fixed per-query and per-job
#: overhead, Catalyst; two of them reach the similarity and time-series
#: operators), driver-iterative queries (builds of 25 eager jobs) and
#: executor-heavy queries (execution about 5x their build), short enough
#: for one process to start Spark, warm up and time it within the
#: benchmark's per-run budget.
REGISTRY_MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "zscore_lineitem", "cosine_topk",
    "cohort_retention_monthly", "kcore_copurchase",
    "prefix_jaccard_pairs", "jpeg_decode_profile", "flac_decode_profile",
]

#: The repository's scale-0.01 test tables (the data its DuckDB-oracle
#: tests run on), copied byte for byte so the benchmark reads nothing
#: outside its checkout.
HERE = os.path.dirname(os.path.abspath(__file__))
TABLES_DIR = os.path.join(HERE, "data", "sf0.01")

#: Phases of one registry query, in order.
QUERY_PHASES = ("build", "plan", "exec")
MEDALLION_LAYERS = ("bronze", "silver", "gold_build", "gold_write")


def _oracle_utils(root: str):
    """The repository's DuckDB-oracle comparison helpers, loaded read-only."""
    path = os.path.join(root, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def data_files(path: str) -> int:
    """Files a Spark write left under ``path``, markers and checksums excluded."""
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", ".")) and not f.endswith(".crc")
    )


@dataclass
class RunResult:
    """One timed run: per-operation latencies plus layer counters."""

    wall_s: float = 0.0
    ops: list[tuple[str, float]] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    phases: dict[str, dict] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


class QueryWorkload:
    """A fixed list of registry queries over the fixed tables in
    :data:`TABLES_DIR`. A pass runs every query once, in an order drawn
    from the seed; each query is three timed phases: the query function
    call (which runs any eager jobs), physical planning, and a noop
    write. Runs of different seeds do the same work.
    """

    #: The first timed pass after a cold JVM is still about 15 % slower;
    #: a second pass halves its weight in the median.
    min_runs = 2
    data_dir = TABLES_DIR

    def __init__(self, names: list[str]):
        self.names = names

    def describe(self) -> dict:
        return {"queries": self.names,
                "tables": os.path.relpath(self.data_dir, os.path.dirname(HERE))}

    def generate(self, tmp: str, seed: int) -> dict:
        """Nothing to generate: the tables are part of the benchmark."""
        return {"tables": sorted(os.listdir(self.data_dir))}

    def warm_up(self, spark, root: str) -> tuple[float, int, list[str]]:
        """The untimed first pass: collect every query once and compare
        it with its DuckDB oracle. Returns (Spark seconds, attempted,
        failure messages); oracle time is not counted."""
        from climate_anomaly_bigdata_pipeline_spark.queries import ORACLE, QUERIES

        ou = _oracle_utils(root)
        con = ou.duckdb_conn(self.data_dir)
        spark_s, failures = 0.0, []
        try:
            for name in self.names:
                try:
                    t0 = time.perf_counter()
                    got = QUERIES[name](spark, self.data_dir).toPandas()
                    spark_s += time.perf_counter() - t0
                    if name not in ORACLE:
                        failures.append(f"{name}: no oracle")
                        continue
                    ok, msg = ou.compare(got, con.execute(ORACLE[name]).fetchdf())
                    if not ok:
                        failures.append(f"{name}: {msg}")
                except Exception as e:  # noqa: BLE001 - a failing query is a result
                    failures.append(f"{name}: {type(e).__name__}: {e}")
        finally:
            con.close()
        return spark_s, len(self.names), failures

    def check(self, spark, root: str, last: RunResult) -> tuple[int, list[str]]:
        """Outputs were checked in :meth:`warm_up` on the same tables."""
        return 0, []

    def run(self, spark, seed: int, pass_no: int, prof=None, tracer=None) -> RunResult:
        from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

        order = np.random.default_rng([seed, pass_no]).permutation(len(self.names))
        res = RunResult(phases={p: {} for p in QUERY_PHASES})
        t_pass = time.perf_counter()
        for i in order:
            name = self.names[i]
            per_query: dict[str, dict] = {}
            t0 = time.perf_counter()
            try:
                with _timed(prof, tracer, "queries.build",
                            per_query.setdefault("build", {}), query=name):
                    df = QUERIES[name](spark, self.data_dir)
                with _timed(prof, tracer, "queries.plan",
                            per_query.setdefault("plan", {}), query=name):
                    df._jdf.queryExecution().executedPlan()
                with _timed(prof, tracer, "queries.exec",
                            per_query.setdefault("exec", {}), query=name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - counted, not fatal
                res.failed.append(f"{name}: {type(e).__name__}: {e}")
                continue
            res.ops.append((name, time.perf_counter() - t0))
            for p, stats in per_query.items():
                _accumulate(res.phases[p], stats)
            res.extra.setdefault("per_query", {})[name] = per_query
        res.wall_s = time.perf_counter() - t_pass
        return res


def _accumulate(into: dict, stats: dict) -> None:
    for k, v in stats.items():
        into[k] = into.get(k, 0) + v


@contextmanager
def _timed(prof, tracer, name: str, out: dict, **attrs):
    """Time one query phase or medallion layer into ``out``; with a
    profiler, also record a span and the phase's Spark counters."""
    if prof is None:
        t0 = time.perf_counter()
        try:
            yield
        finally:
            out["wall_s"] = time.perf_counter() - t0
        return
    with tracer.span(name, name, **attrs), prof.phase(name, out):
        yield


class MedallionWorkload:
    """The paper's job chain on generated climate text: raw → bronze
    (both feeds) → silver with reject accounting → gold build → gold
    Parquet writes plus the single-file CSV exports.

    The operation a user waits for is the whole pipeline run, so each
    run is one operation; its layers are timed as phases.
    """

    #: Timed runs per process at least: the first run after the
    #: warm-up is still slower, and a median of three sets it aside.
    min_runs = 3

    BERKELEY_REQUIRED = ["year", "month", "anomaly"]
    STATION_REQUIRED = ["station_id", "latitude", "longitude"]

    def __init__(self, berkeley_files: int, station_files: int,
                 stations_per_file: int, station_limit: int):
        self.berkeley_files = berkeley_files
        self.station_files = station_files
        self.stations_per_file = stations_per_file
        self.station_limit = station_limit

    def describe(self) -> dict:
        return {"berkeley_files": self.berkeley_files,
                "station_files": self.station_files,
                "stations_per_file": self.stations_per_file,
                "station_limit": self.station_limit,
                "bad_row_share": datagen.BAD_ROW_SHARE}

    def generate(self, tmp: str, seed: int) -> dict:
        self.raw_dir = os.path.join(tmp, "raw")
        self.out_root = os.path.join(tmp, "medallion")
        self.warm_dir = os.path.join(tmp, "warm")
        self.expected = datagen.write_climate_text(
            self.raw_dir, seed, self.berkeley_files, self.station_files,
            self.stations_per_file,
        )
        datagen.write_climate_text(os.path.join(self.warm_dir, "raw"), seed + 1, 1, 1,
                                   self.stations_per_file)
        return dict(self.expected)

    def warm_up(self, spark, root: str) -> tuple[float, int, list[str]]:
        """One untimed pipeline run on a one-file-per-feed input: it
        runs every code path of a timed run at a quarter of its size."""
        res = self._pipeline(spark, os.path.join(self.warm_dir, "raw"),
                             os.path.join(self.warm_dir, "medallion"), None, None)
        return res.wall_s, 1, res.failed

    def check(self, spark, root: str, last: RunResult) -> tuple[int, list[str]]:
        """After the timed runs: the last run's counters against the
        generator's counts and separate counts of the written layers,
        and its gold KPI table against DuckDB over the raw text."""
        if last.failed:
            return 0, []
        return 1, self.check_counters(spark, last) + self.check_kpis(spark, root)

    def check_counters(self, spark, res: RunResult) -> list[str]:
        """The run's observed counters against the generator's counts
        and against separate counts of the written layers."""
        e, got = self.expected, res.extra
        paths = os.path.join(self.out_root, "{}", "{}")
        count = {f"{feed}.{layer}_rows": spark.read.parquet(paths.format(layer, feed)).count()
                 for feed in ("berkeley", "stations") for layer in ("bronze", "silver")}
        checks = {
            "berkeley.rows_in": (got["berkeley.rows_in"], e["berkeley_lines"],
                                 count["berkeley.bronze_rows"]),
            "berkeley.parsed": (got["berkeley.parsed"],
                                e["berkeley_lines"] - e["berkeley_comments"]),
            "berkeley.rows_out": (got["berkeley.rows_out"], e["berkeley_valid"],
                                  count["berkeley.silver_rows"]),
            "stations.rows_in": (got["stations.rows_in"], e["station_lines"],
                                 count["stations.bronze_rows"]),
            "stations.rows_out": (got["stations.rows_out"], e["station_valid"],
                                  count["stations.silver_rows"]),
        }
        return [f"counter {k}: observed {v[0]}, expected {v[1:]}"
                for k, v in checks.items() if len(set(v)) != 1]

    def check_kpis(self, spark, root: str) -> list[str]:
        import duckdb

        ou = _oracle_utils(root)
        files = os.path.join(self.raw_dir, "berkeley", "*.txt")
        oracle = duckdb.connect().execute(f"""
            WITH lines AS (
              SELECT regexp_split_to_array(trim(line), '\\s+') AS t
              FROM (SELECT unnest(string_split(content, chr(10))) AS line
                    FROM read_text('{files}'))
              WHERE line <> '' AND NOT starts_with(line, '%')
            ), parsed AS (
              SELECT TRY_CAST(t[2] AS INTEGER) AS year, TRY_CAST(t[3] AS INTEGER) AS month,
                     TRY_CAST(t[6] AS FLOAT) AS anomaly FROM lines
            )
            SELECT year,
                   round(avg(anomaly), 4) AS avg_global_anomaly,
                   round(max(anomaly), 4) AS max_anomaly,
                   round(min(anomaly), 4) AS min_anomaly,
                   round(stddev_samp(anomaly), 4) AS std_dev_anomaly,
                   {self.expected['station_valid']} AS station_count
            FROM parsed
            WHERE year IS NOT NULL AND month IS NOT NULL AND anomaly IS NOT NULL
            GROUP BY year
        """).fetchdf()
        gold = spark.read.parquet(
            os.path.join(self.out_root, "gold", "climate_kpis")
        ).toPandas()
        # DuckDB rounds a small negative mean to -0.0 where Spark gives
        # 0.0; compare() orders rows by their printed values, so the
        # sign would misalign rows whose values are equal.
        for df in (gold, oracle):
            for c in df.columns:
                if df[c].dtype.kind == "f":
                    df[c] = df[c] + 0.0
        # Both sides round to 4 decimals after summing in different
        # orders, so a value may differ by one unit in the last place.
        ok, msg = ou.compare(gold, oracle, rtol=0.0, atol=1.5e-4)
        return [] if ok else [f"gold climate_kpis vs DuckDB: {msg}"]

    def run(self, spark, seed: int, pass_no: int, prof=None, tracer=None) -> RunResult:
        return self._pipeline(spark, self.raw_dir, self.out_root, prof, tracer)

    def _pipeline(self, spark, raw_dir: str, out_root: str, prof, tracer) -> RunResult:
        from climate_anomaly_bigdata_pipeline_spark.operators.observability import (
            with_quality_metrics,
        )
        from climate_anomaly_bigdata_pipeline_spark.plans import medallion as M
        from climate_anomaly_bigdata_pipeline_spark.sources import io as IO

        paths = M.MedallionPaths(out_root)
        feeds = {
            "berkeley": (M.bronze_to_silver_berkeley, self.BERKELEY_REQUIRED),
            "stations": (M.bronze_to_silver_stations, self.STATION_REQUIRED),
        }
        res = RunResult(phases={layer: {} for layer in MEDALLION_LAYERS})
        counters = res.extra
        t_run = time.perf_counter()
        try:
            with _timed(prof, tracer, "plans.medallion.bronze", res.phases["bronze"]):
                for feed in feeds:
                    M.ingest_bronze(spark, os.path.join(raw_dir, feed), feed,
                                    os.path.join(paths.bronze, feed))
            with _timed(prof, tracer, "plans.medallion.silver", res.phases["silver"]):
                for feed, (to_silver, required) in feeds.items():
                    bronze, obs_in = with_quality_metrics(
                        spark.read.parquet(os.path.join(paths.bronze, feed)), [],
                        name=f"{feed}_in")
                    silver, rejected = to_silver(bronze)
                    silver, obs_out = with_quality_metrics(silver, required,
                                                           name=f"{feed}_out")
                    IO.write_parquet(silver, os.path.join(paths.silver, feed))
                    counters[f"{feed}.parsed"] = rejected.first()["total_rows"]
                    counters[f"{feed}.rows_in"] = obs_in.get["n_rows"]
                    counters[f"{feed}.rows_out"] = obs_out.get["n_rows"]
            with _timed(prof, tracer, "plans.medallion.gold_build", res.phases["gold_build"]):
                silver = {f: spark.read.parquet(os.path.join(paths.silver, f)) for f in feeds}
                outputs = M.silver_to_gold(silver["berkeley"], silver["stations"],
                                           station_limit=self.station_limit)
                observed = {k: with_quality_metrics(v, [], name=k) for k, v in outputs.items()}
            with _timed(prof, tracer, "plans.medallion.gold_write", res.phases["gold_write"]):
                M.write_gold({k: df for k, (df, _) in observed.items()}, paths, csv_export=True)
            counters["gold.rows_out"] = sum(o.get["n_rows"] for _, o in observed.values())
        except Exception as e:  # noqa: BLE001 - counted, not fatal
            res.failed.append(f"medallion: {type(e).__name__}: {e}")
        finally:
            spark.catalog.clearCache()
        res.wall_s = time.perf_counter() - t_run
        if not res.failed:
            res.ops.append(("pipeline", res.wall_s))
            self._layer_counters(res, raw_dir, out_root)
        return res

    @staticmethod
    def _layer_counters(res: RunResult, raw_dir: str, root: str) -> None:
        """Row counts, files and bytes per layer, from the observations
        and the written directories."""
        c = res.extra
        bronze_b = dir_bytes(os.path.join(root, "bronze"))
        silver_b = dir_bytes(os.path.join(root, "silver"))
        gold_b = dir_bytes(os.path.join(root, "gold"))
        bronze_rows = c["berkeley.rows_in"] + c["stations.rows_in"]
        silver_rows = c["berkeley.rows_out"] + c["stations.rows_out"]
        parsed = c["berkeley.parsed"] + c["stations.parsed"]
        rows = {
            "bronze": (bronze_rows, bronze_rows, 0),
            "silver": (bronze_rows, silver_rows, parsed - silver_rows),
            "gold_build": (silver_rows, c["gold.rows_out"], 0),
            "gold_write": (c["gold.rows_out"], c["gold.rows_out"], 0),
        }
        source_rows = {"bronze": bronze_rows, "silver": bronze_rows,
                       "gold_build": silver_rows, "gold_write": silver_rows}
        files = {"bronze": data_files(os.path.join(root, "bronze")),
                 "silver": data_files(os.path.join(root, "silver")),
                 "gold_build": 0,
                 "gold_write": data_files(os.path.join(root, "gold"))}
        for layer, (r_in, r_out, r_rej) in rows.items():
            ph = res.phases[layer]
            ph.update(rows_in=r_in, rows_out=r_out, rows_rejected=r_rej,
                      files_written=files[layer])
            if "input_records" in ph:
                # Source records read per row of the layer's input data:
                # 1.0 means the layer scanned its input exactly once.
                ph["input_scans"] = ph["input_records"] / max(source_rows[layer], 1)
        c["written_bytes_per_raw_byte"] = (
            (bronze_b + silver_b + gold_b) / dir_bytes(raw_dir)
        )


WORKLOADS = {
    "medallion_etl": lambda: MedallionWorkload(
        berkeley_files=2, station_files=2, stations_per_file=5000, station_limit=50),
    "registry_mix": lambda: QueryWorkload(REGISTRY_MIX),
    "olap_short": lambda: QueryWorkload(OLAP_SHORT),
    "driver_iterative": lambda: QueryWorkload(DRIVER_ITERATIVE),
    "executor_heavy": lambda: QueryWorkload(EXECUTOR_HEAVY),
}
