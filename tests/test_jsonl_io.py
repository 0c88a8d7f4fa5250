"""JSONL source/sink roundtrip (sources/io.py)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.sources import io as IO

DOCS_META_SCHEMA = "doc_id bigint, lang string, source string, n_chars bigint"


def test_jsonl_roundtrip_preserves_rows_and_schema(spark, sf_dir, tmp_path):
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = str(tmp_path / "docs_jsonl")
    IO.write_jsonl(docs, path)
    back = IO.read_jsonl(spark, path, schema=DOCS_META_SCHEMA)
    assert back.schema.simpleString() == docs.schema.simpleString()
    assert back.count() == docs.count()
    # Value-exact roundtrip
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0


def _data_files_per_value(path: str, col: str) -> dict[str, int]:
    return {
        d.split("=", 1)[1]: len(glob.glob(os.path.join(path, d, "part-*")))
        for d in os.listdir(path)
        if d.startswith(f"{col}=")
    }


def test_jsonl_partitioned_write_prunes(spark, sf_dir, tmp_path):
    docs = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id", "lang", "n_chars")
        .repartition(8)
    )
    path = str(tmp_path / "docs_by_lang")
    IO.write_jsonl(docs, path, partition_by=["lang"])
    back = IO.read_jsonl(spark, path, schema="doc_id bigint, n_chars bigint")
    one_lang = docs.select("lang").distinct().first()["lang"]
    pruned = spark.read.schema("doc_id bigint, n_chars bigint").json(
        f"{path}/lang={one_lang}"
    )
    expected = docs.filter(F.col("lang") == one_lang).count()
    assert pruned.count() == expected
    assert back.count() == docs.count()
    # The sink rebalances on the partition column: one file per value
    # however many upstream tasks held rows of it.
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert _data_files_per_value(path, "lang") == {v: 1 for v in langs}
    full = spark.read.schema("doc_id bigint, n_chars bigint, lang string").json(path)
    full = full.select(*docs.columns)
    assert full.exceptAll(docs).count() == 0
    assert docs.exceptAll(full).count() == 0


def test_parquet_partitioned_write_one_file_per_value(spark, sf_oracle_dir, tmp_path):
    orders = (
        Catalog(spark, sf_oracle_dir)
        .orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .repartition(8)
    )
    path = str(tmp_path / "orders_by_priority")
    IO.write_parquet(orders, path, partition_by=["o_orderpriority"])
    priorities = {
        r["o_orderpriority"]
        for r in orders.select("o_orderpriority").distinct().collect()
    }
    assert len(priorities) > 1
    assert _data_files_per_value(path, "o_orderpriority") == {
        v: 1 for v in priorities
    }
    back = spark.read.parquet(path).select(*orders.columns)
    assert back.count() == orders.count()
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0


def test_jsonl_permissive_nulls_malformed_lines(spark, tmp_path):
    p = tmp_path / "mixed"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"doc_id": 1, "n_chars": 10}\n'
        "not json at all {\n"
        '{"doc_id": 2, "n_chars": 20}\n'
    )
    back = IO.read_jsonl(spark, str(p), schema="doc_id bigint, n_chars bigint")
    ok = back.where(F.col("doc_id").isNotNull())
    assert ok.count() == 2
    assert back.count() == 3  # malformed line -> all-null row, not a crash
