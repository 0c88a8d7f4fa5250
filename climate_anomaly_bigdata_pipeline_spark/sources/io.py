"""Dataset I/O: layer reads/writes and edge exports (SURVEY §2.1 S3-S7).

Mirrors the reference's storage contract — Parquet between layers,
single-file CSV at the BI edge — with the scale fixes SURVEY §4 calls
for: partitioned gold writes (partition pruning at 100 TB) and lineage
stamping in one projection.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-text scan (S3): whole lines as ``value: string``."""
    return spark.read.text(path)


def with_lineage(df: DataFrame, source: str) -> DataFrame:
    """Stamp ingest lineage (S7): ``ingestion_date`` + ``source``
    (``jobs/01_ingest_to_bronze.py:19-20``)."""
    return df.withColumn("ingestion_date", F.current_timestamp()).withColumn(
        "source", F.lit(source)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    """Parquet sink (S5). Pass ``partition_by`` for gold-layer facts —
    the reference writes unpartitioned (SURVEY §4), which forfeits
    partition pruning; at 100 TB always partition on the prune key
    (e.g. year); the write is rebalanced first (:func:`_writer`)."""
    _writer(df, mode, partition_by).parquet(path)


def _writer(
    df: DataFrame, mode: str, partition_by: Sequence[str]
) -> DataFrameWriter:
    """The ``DataFrameWriter`` of a file sink. A partitioned write is
    shuffled on its partition columns first.

    Without that shuffle every upstream task writes its own file into
    every partition directory it holds rows for, so files = tasks ×
    values (4 tasks × 24 years = 96 files for a few thousand rows). The
    ``rebalance`` hint puts each value's rows in one task; with AQE on
    it coalesces the small shuffle partitions and splits a skewed one
    into ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` pieces, so
    a small table gets one file per value and a 100 TB one gets files
    of the advisory size."""
    if not partition_by:
        return df.write.mode(mode)
    return df.hint("rebalance", *partition_by).write.mode(mode).partitionBy(
        *partition_by
    )


def write_single_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Single-file CSV export (S6, ``jobs/03_silver_to_gold.py:5-17``).

    ``coalesce(1)`` is a deliberate anti-parallelism choice for BI
    hand-off — edge-only; never use upstream of further computation.
    """
    (
        df.coalesce(1)
        .write.mode(mode)
        .option("header", "true")
        .option("delimiter", ",")
        .option("encoding", "UTF-8")
        .csv(path)
    )


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered Parquet sink: global range-partition on
    ``cluster_col`` then sort within each partition before writing.
    Every output file covers a disjoint, internally-sorted key range,
    so parquet row-group min/max statistics prune file scans for range
    predicates on the cluster key — the single-column analog of
    Z-ordering, and the layout that turns "scan 100 TB" into "scan the
    3 files whose [min,max] overlap the predicate".

    One range-exchange (sampled boundaries) + local sort; no global
    sort bottleneck — each writer task sorts only its own range.
    """
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Hive-bucketed (and optionally sorted) managed-table Parquet sink:
    pays the shuffle ONCE at write time so that every later equi-join or
    aggregation on ``bucket_col`` between same-bucketed tables is
    exchange-free — the amortize-the-shuffle layout for fact⋈fact joins
    that repeat every day at 100 TB (the write-side twin of
    :func:`write_range_clustered`'s read-side pruning). With ``sort``
    the per-bucket files are also sorted, so the downstream
    SortMergeJoin skips its sort as well.

    Bucket join elimination requires equal bucket counts on both sides
    and the join keys to be exactly the bucket columns —
    ``tests/test_scale_techniques.py::test_bucketed_join_eliminates_shuffle``
    plan-gates the contract."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.format("parquet").saveAsTable(table)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    """JSON-lines sink (one JSON object per line, the lingua franca of
    LLM training-data interchange). Splittable and append-friendly like
    the parquet sink; prefer parquet between layers (typed, columnar,
    ~5-10x smaller) and JSONL only at ingest/egress edges. Partitioned
    writes are rebalanced like :func:`write_parquet`'s."""
    _writer(df, mode, partition_by).json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Always pass ``schema`` at scale: schema
    inference is a full extra pass over the data (a 100 TB corpus read
    twice); with an explicit schema the scan is single-pass and
    malformed lines null out per PERMISSIVE mode instead of failing."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def zorder_value(
    c1: "F.Column", c2: "F.Column", bits: int = 8
) -> "F.Column":
    """Interleave the low ``bits`` of two bucket ids into a Z-value
    (Morton code): bit i of c1 lands at position 2i+1, bit i of c2 at
    2i. Pure codegen'd bitwise arithmetic — no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftleft(F.shiftright(c1, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        b2 = F.shiftleft(F.shiftright(c2, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z.bitwiseOR(b1.cast("long")).bitwiseOR(b2.cast("long"))
    return z


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    n_files: int,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered Parquet sink: two-dimensional generalization
    of :func:`write_range_clustered`. Each numeric key is bucketized
    into 2^bits uniform cells between its observed min/max, the two
    bucket ids are bit-interleaved into a Morton code, and the data is
    range-partitioned + locally sorted on that code. Nearby (c1, c2)
    points land in the same files, so parquet min/max statistics prune
    file scans for range predicates on EITHER column — the property
    single-column clustering only gives the sort key.

    The min/max pass is one tiny 2-row aggregate (driver-bounded);
    under heavy skew swap the uniform cells for approxQuantile
    boundaries — the Morton interleave is unchanged. One
    range-exchange + local sort, no global sort bottleneck; same
    recipe Delta/Iceberg OPTIMIZE ZORDER applies at 100 TB.
    """
    lo1, hi1, lo2, hi2 = df.select(
        F.min(col1), F.max(col1), F.min(col2), F.max(col2)
    ).first()
    n_cells = (1 << bits) - 1

    def _bucket(col: str, lo: float, hi: float) -> "F.Column":
        if hi == lo:
            return F.lit(0)
        frac = (F.col(col).cast("double") - F.lit(float(lo))) / F.lit(
            float(hi) - float(lo)
        )
        return F.least(
            F.lit(n_cells), F.floor(frac * (n_cells + 1)).cast("int")
        )

    z = zorder_value(_bucket(col1, lo1, hi1), _bucket(col2, lo2, hi2), bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the columnar alternative for Hive-ecosystem
    interop; same predicate-pushdown/column-pruning contract as the
    parquet sink (Spark's native vectorized ORC reader)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union parquet files written with
    different (compatible) schemas via ``mergeSchema`` — columns
    missing in older files surface as nulls, the union schema is the
    widened one. This is the append-only table-evolution posture
    (new columns land, old files stay valid) without a table format;
    at 100 TB prefer a manifest-tracked format, but the read-side
    semantics are exactly these."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_by: str | None = None,
) -> int:
    """Small-file compaction (the OPTIMIZE of table formats, for plain
    parquet): rewrite a directory into ~``target_file_mb`` files and
    atomically swap it in. Small files are the silent scale killer —
    a 100 TB table written by 10k streaming micro-batches ends up as
    millions of KB-sized files whose open/footer costs dwarf the scan.

    File count = ceil(input_bytes / target); the rewrite is one job
    (coalesce for fewer files — narrow, no shuffle). Swap protocol:
    write to ``<path>.__compact__``, then a two-step rename — the same
    crash-safe pointer idea as streaming/incremental.py; on a real
    lakehouse use the table format's OPTIMIZE. Returns the new file
    count."""
    import math
    import shutil

    in_bytes = sum(
        f.stat().st_size
        for f in __import__("pathlib").Path(path).rglob("*.parquet")
    )
    n_files = max(1, math.ceil(in_bytes / (target_file_mb * 1024 * 1024)))
    tmp = path.rstrip("/") + ".__compact__"
    df = spark.read.parquet(path)
    writer = df.coalesce(n_files).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    old = path.rstrip("/") + ".__old__"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files
