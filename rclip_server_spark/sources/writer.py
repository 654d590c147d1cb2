"""Write path: upsert, soft-delete, incremental skip, DDL (reference
B5-B9; B18's reload is api.RclipServerApi.reload).

The reference upserts into SQLite under a filelock
(index_wikimedia.py:86-103, 47-48) and soft-deletes with a point UPDATE
(rclip_server.py:230-235). On a cluster the idiomatic equivalents are a
table format with ACID MERGE (Delta/Iceberg); plain parquet — all this
container has — gets read-merge-overwrite semantics with an atomic-rename
swap. The MERGE-shaped API is kept so a Delta backend can slot in without
touching callers.

Scale notes: the merge itself is one shuffle on the key (or a broadcast when
the update side is small — Spark/AQE picks); the anti-join incremental skip
(B8) is the load-bearing pipeline idiom "never reprocess what's done" and
replaces the reference's collect-a-python-set (IW:73-77), which cannot work
once the done-set outgrows the driver.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def anti_join_skip(
    new_df: DataFrame, done_df: DataFrame, key: str | list[str],
) -> DataFrame:
    """B8: keep only rows of ``new_df`` whose key is NOT already in ``done_df``
    (reference builds a driver-side set, IW:73-77/190-192 — the anti join is
    the distributed form; Spark broadcasts the smaller side automatically).
    When the done-set outgrows the broadcast threshold, the Bloom-pruned
    exact anti-join (operators/sketches.bloom_prune_anti_join) is the
    shape to call instead."""
    keys = [key] if isinstance(key, str) else list(key)
    return new_df.join(done_df.select(*keys).distinct(), keys, "left_anti")


def _overwrite_atomic(df: DataFrame, path: str) -> None:
    """Write to a sibling temp dir, then swap — readers never see a half
    write (the plain-parquet stand-in for table-format ACID commits)."""
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        old = f"{path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        os.rename(tmp, path)


def upsert_parquet(
    spark: SparkSession, path: str, updates: DataFrame, key: str = "filepath"
) -> None:
    """B6 upsert sink: MERGE-on-key semantics (INSERT ... ON CONFLICT DO
    UPDATE, index_wikimedia.py:86-103). Existing rows with a matching key are
    replaced by the update row; everything else is carried over.

    Plan: target LEFT ANTI updates (drop rows being replaced) UNION updates —
    one shuffle (or broadcast) on the key. Delta backend would be
    ``MERGE INTO target USING updates ON key WHEN MATCHED UPDATE SET * WHEN
    NOT MATCHED INSERT *`` with no rewrite of untouched files."""
    if os.path.exists(path):
        target = spark.read.parquet(path)
        merged = target.join(updates.select(key).distinct(), [key], "left_anti").unionByName(
            updates, allowMissingColumns=False
        )
    else:
        merged = updates
    _overwrite_atomic(merged, path)


def soft_delete(
    spark: SparkSession, path: str, ids: list, id_col: str = "id",
    flag_col: str = "deleted",
) -> None:
    """B5 soft delete: set ``deleted = true`` for the given ids (reference
    UPDATE images SET deleted, rclip_server.py:230-235; NULL ≡ live,
    rclip_server.py:210)."""
    df = spark.read.parquet(path)
    if flag_col not in df.columns:
        df = df.withColumn(flag_col, F.lit(None).cast("boolean"))
    out = df.withColumn(
        flag_col,
        F.when(F.col(id_col).isin(ids), F.lit(True)).otherwise(F.col(flag_col)),
    )
    _overwrite_atomic(out, path)


def live_rows(df: DataFrame, flag_col: str = "deleted") -> DataFrame:
    """B1's soft-delete filter: deleted IS NULL OR deleted = false
    (rclip_server.py:206-211)."""
    return df.where(F.col(flag_col).isNull() | (F.col(flag_col) == F.lit(False)))


IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("deleted", T.BooleanType(), True),
        T.StructField("filepath", T.StringType(), False),
        T.StructField("modified_at", T.TimestampType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("vector", T.ArrayType(T.FloatType()), False),
        T.StructField("wikimedia_descr_url", T.StringType(), True),
        T.StructField("wikimedia_thumb_url", T.StringType(), True),
    ]
)


def create_images_table(spark: SparkSession, path: str) -> None:
    """B7 DDL: CREATE TABLE IF NOT EXISTS (index_wikimedia.py:56-71) — for
    plain parquet, materialize an empty table with the declared schema."""
    if not os.path.exists(path):
        spark.createDataFrame([], IMAGES_SCHEMA).write.parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Layout-for-pruning writer: hive-partition the table by the given
    low-cardinality columns (e.g. event date) and optionally sort rows
    WITHIN each output file by the secondary predicate columns.

    Why both knobs matter at 100 TB:
      * partition columns become directories — a query filtering on them is
        a PartitionFilter, pruned at PLANNING time (tools/explain_audit.py
        asserts this): Spark never even lists the excluded directories;
      * sortWithinPartitions gives every parquet file tight min/max
        row-group statistics on the sort columns, so predicates on them
        skip row groups at READ time (PushedFilters against clustered
        stats), without any global sort or extra shuffle.

    The combination is the parquet-native equivalent of the reference's
    always-RAM-resident table (rclip_server.py:59-65) — instead of loading
    everything, queries touch only the partitions and row groups they name.
    """
    out = df
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def merge_agg_delta(
    agg: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: combine a
    stored aggregate table with the aggregate of a delta batch by summing
    per-key — never rescanning the base data. COUNT/SUM merge directly;
    AVG is maintained as (sum, count); MIN/MAX merge via the same shape
    with min/max in place of ``+``.

    The 100 TB point: a day's delta is a partial aggregate the size of its
    key space, so the daily refresh costs one agg over the delta plus one
    key-wise full-outer merge of two AGGREGATE-sized tables — the base
    fact table is read zero times. Keys present on only one side pass
    through (new keys appear; untouched keys persist).
    """
    a, d = agg.alias("a"), delta_agg.alias("d")
    joined = a.join(d, keys, "full_outer")
    out = [F.col(k) for k in keys]
    for c in sum_cols:
        out.append(
            (
                F.coalesce(F.col(f"a.{c}"), F.lit(0))
                + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            ).alias(c)
        )
    return joined.select(*out)


def zorder_value(x, y, bits: int = 16):
    """Morton (Z-order) key for two non-negative integer columns: bit i of
    ``x`` lands at position 2i, bit i of ``y`` at 2i+1. Pure JVM bit math
    — all shift amounts are Python literals, so the whole expression stays
    inside whole-stage codegen and is engine-portable (same `>> & << |`
    chain runs in the DuckDB oracle).

    Clustering data by this key gives multi-dimensional locality that a
    single-column sort cannot: a range predicate on EITHER column maps to
    O(few) contiguous z-ranges, so both access patterns skip row groups
    off the same layout (the Delta/Databricks OPTIMIZE ZORDER idea,
    expressed as one deterministic column)."""
    xs = x.cast("long")
    ys = y.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(xs, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(ys, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_spark_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Native Spark bucketed table (``bucketBy + sortBy + saveAsTable``):
    the catalog records the bucketing spec, so a join or aggregation on
    the bucket key consumes the layout as a pre-existing hash
    partitioning — Catalyst plans a SortMergeJoin with ZERO Exchange when
    both sides are bucketed on the join key with the same bucket count
    (asserted in tools/explain_audit.py). This is the at-rest co-location
    answer for the repeated-big-join workload: pay one write-time shuffle,
    then every subsequent join/groupBy on the key is shuffle-free.

    Differs from the manifest-log bucketed layout
    (``sources.versioned.create_bucketed``, which optimizes
    bounded-REWRITE and point lookups): this one optimizes repeated
    JOINs — a 100 TB pipeline typically buckets its fact tables by join
    key with this writer and uses the manifest-log layout for the
    mutable dimension/state tables. ``path`` makes it an external table
    (files survive a catalog drop)."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(int(n_buckets), key)
        .sortBy(key)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)
