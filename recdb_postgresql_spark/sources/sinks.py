"""Sinks tuned for re-reading at scale.

Parquet append is the baseline sink (the reference's heap-table
INSERT). The two here encode layout decisions that only matter when
the SAME table is joined or scanned repeatedly at 100 TB:

- ``write_bucketed``: hash-bucket by the join key at write time so
  later equi-joins/aggregations on that key need no shuffle at all
  (Spark reads bucket files as pre-partitioned). This is what the
  events table should look like on disk for a recommender workload —
  bucketed by user for item-CF training and per-user serving.
- ``write_sorted``: partition-pruned + min/max-friendly layout:
  coarse partition dirs on a low-cardinality column plus in-file sort
  so parquet row-group statistics prune point/range scans (the
  B-tree-index analog; SURVEY §2.2 IndexScan row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 32,
                   sort: bool = True) -> None:
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.format("parquet").saveAsTable(table)


def write_sorted(df: DataFrame, path: str, partition_col: str,
                 sort_col: str) -> None:
    (df.repartition(partition_col)
       .sortWithinPartitions(sort_col)
       .write.mode("overwrite")
       .partitionBy(partition_col)
       .parquet(path))


def write_jsonl(df: DataFrame, path: str, compression: str | None = None,
                max_records_per_file: int = 0) -> None:
    """Line-delimited JSON sink — the lingua franca of training-data
    interchange (one document per line, tool-agnostic). Uncompressed
    JSONL is line-splittable, so a 100 TB export stays readable in
    parallel; with ``compression`` (gzip/zstd) each FILE becomes the
    split unit instead, so pair it with ``max_records_per_file`` to
    bound file size (and therefore downstream task granularity)."""
    w = df.write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSONL source with a REQUIRED schema: at 100 TB, schema
    inference is a full extra pass over the data before the real scan
    — never acceptable — and silently widens types on dirty rows.
    ``columnNameOfCorruptRecord`` rows surface as nulls under the
    default PERMISSIVE mode; pass a DDL string like
    ``"doc_id BIGINT, text STRING"``."""
    return spark.read.schema(schema).json(path)


def zorder_value(cols, mins, maxs, bits: int = 16):
    """Morton (Z-order) interleave of 2-3 columns as ONE codegen'd
    integer expression: each column min-max normalizes into ``bits``
    levels, then bit b of column i lands at position b*k + i. Rows
    close in z-value are close in EVERY interleaved dimension."""
    from pyspark.sql import functions as F

    k = len(cols)
    if not 2 <= k <= 3:
        raise ValueError("zorder interleaves 2 or 3 columns")
    if k * bits > 62:
        raise ValueError("k*bits must fit a signed int64")
    z = F.lit(0).cast("long")
    for i, (c, lo, hi) in enumerate(zip(cols, mins, maxs)):
        span = F.greatest(hi.cast("double") - lo.cast("double"),
                          F.lit(1e-12))
        lvl = F.least(
            F.greatest(
                F.floor((F.coalesce(F.col(c).cast("double"),
                                    lo.cast("double")) - lo)
                        / span * ((1 << bits) - 1)).cast("long"),
                F.lit(0)),
            F.lit((1 << bits) - 1))
        for b in range(bits):
            z = z + (F.shiftright(lvl, b).bitwiseAND(F.lit(1))
                     * F.lit(1 << (b * k + i)))
    return z


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   bits: int = 16, num_files: int = 32) -> None:
    """Z-order-clustered parquet: range-partition + sort rows by the
    Morton interleave of ``cols`` so every output file covers a
    COMPACT range in ALL the interleaved dimensions at once — parquet
    footer min/max statistics then skip files/row-groups for
    point/range predicates on ANY of the columns, not just the first
    sort key. ``write_sorted`` is the single-column analog (a sort by
    x leaves y spanning its full range in every file — a predicate on
    y reads everything); this is the multi-dimensional data-skipping
    layout (the Delta/Iceberg OPTIMIZE ZORDER analog, expressed as a
    plain repartitionByRange + sortWithinPartitions — no table format
    needed). One stats pass (min/max per column, a single broadcast
    row), one range shuffle, one write."""
    from pyspark.sql import functions as F

    stats = df.agg(*[f(F.col(c)).alias(f"{n}_{c}")
                     for c in cols
                     for n, f in (("min", F.min), ("max", F.max))]) \
        .collect()[0]
    mins = [F.lit(stats[f"min_{c}"]) for c in cols]
    maxs = [F.lit(stats[f"max_{c}"]) for c in cols]
    z = zorder_value(cols, mins, maxs, bits)
    (df.withColumn("_z", z)
       .repartitionByRange(num_files, "_z")
       .sortWithinPartitions("_z")
       .drop("_z")
       .write.mode("overwrite").parquet(path))
