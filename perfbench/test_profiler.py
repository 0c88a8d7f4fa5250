"""The phase profiler's job counts agree with Spark's own job list.

Run from the repository root (starts one local Spark session)::

    python3 -m pytest perfbench/test_profiler.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
import workloads  # noqa: E402
from profiler import JobProfiler  # noqa: E402


@pytest.fixture(scope="module")
def session():
    settings = run.hermetic_settings("test", 0)
    os.environ.update(settings["env"])
    for d in ("artifacts", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(settings["tmp"], d), exist_ok=True)
    spark = run.start_spark(settings)
    try:
        yield spark, workloads.TABLES_DIR
    finally:
        run.stop_spark(spark)
        shutil.rmtree(settings["tmp"], ignore_errors=True)


def _all_job_ids(spark) -> set[int]:
    """Every job id Spark's status store knows, whatever its group."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # a Scala Seq
    return {int(jobs.apply(i).jobId()) for i in range(jobs.size())}


def _phase_jobs(spark, prof: JobProfiler, fn, data_dir: str) -> dict[str, int]:
    """Job count per phase from the profiler, asserted equal to the
    number of new job ids in the status store over the same interval."""
    steps = {
        "build": lambda _: fn(spark, data_dir),
        "plan": lambda df: df._jdf.queryExecution().executedPlan(),
        "exec": lambda df: df.write.format("noop").mode("overwrite").save(),
    }
    counts, df = {}, None
    for phase, step in steps.items():
        before = _all_job_ids(spark)
        out: dict = {}
        with prof.phase(phase, out):
            result = step(df)
        df = result if phase == "build" else df
        assert out["jobs"] == len(_all_job_ids(spark) - before), phase
        counts[phase] = out["jobs"]
    return counts


@pytest.mark.parametrize(
    "name", ["pagerank_purchase_graph", "kcore_copurchase", "q1_pricing_summary"]
)
def test_phase_job_counts_match_status_store_and_repeat(session, name):
    from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

    spark, data_dir = session
    prof = JobProfiler(spark)
    first = _phase_jobs(spark, prof, QUERIES[name], data_dir)
    second = _phase_jobs(spark, prof, QUERIES[name], data_dir)
    assert first == second
    assert first["exec"] >= 1
    if name != "q1_pricing_summary":
        assert first["build"] > 1  # iterative operators run eager jobs


def test_per_layer_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == list(run.per_layer_units())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
