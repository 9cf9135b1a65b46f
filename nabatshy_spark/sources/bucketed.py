"""Bucketed table layout: pay the join shuffle once, at write time.

At 100 TB the dominant cost of a fact-fact join (orders ⋈ lineitem on
orderkey) is shuffling BOTH sides onto the join key — every query, every
time. Spark's bucketed tables amortize that: each table is hash-bucketed
into the same number of buckets on the key at write time
(``df.write.bucketBy(n, key).sortBy(key)``), so any later equi-join or
aggregation on that key reads bucket-aligned files and the physical plan
has NO Exchange under the join — a SortMergeJoin straight over the scans
(asserted in tests/test_plans.py). The reference gets the same effect
from ClickHouse's co-located MergeTree parts ordered by key
(db/clickhouse.go:107-109); this is the Spark-native equivalent for the
normalized-table surface (SURVEY §2.1 S8, §2.3 J3).

Scale notes:
- Bucket count is a layout-time choice: pick ``total_size / target_file``
  (e.g. 100 TB / 1 GB ≈ 10⁵ buckets); both tables MUST use the same
  count for the shuffle-free join (Spark can coalesce mismatched counts
  when one divides the other, but same-count is the predictable path).
- ``sortBy`` inside buckets gives parquet row-group min/max on the key →
  point lookups and merge joins skip row groups.
- Layout tables are external (explicit ``path``) and keyed by a content
  fingerprint of the source parquet, so a changed source can never serve
  a stale layout (same lifecycle rule as operators/ivf.py).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from nabatshy_spark import artifacts
from nabatshy_spark.catalog import table_path

# Bump when write_bucketed's layout changes (see artifacts.ensure).
_BUCKETED_VERSION = 1


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    keys: list[str],
    num_buckets: int,
) -> None:
    """Write ``df`` as an external parquet table hash-bucketed on
    ``keys`` and sorted inside each bucket on them. This is the one-time
    shuffle that every later join on ``keys`` avoids."""
    (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, keys[0], *keys[1:])
        .sortBy(keys[0], *keys[1:])
        .option("path", path)
        .saveAsTable(table)
    )


def _schema_ddl(schema) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )


def _register_external_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    schema,
    keys: list[str],
    num_buckets: int,
) -> None:
    """Register an already-on-disk bucketed layout as a catalog table.
    Bucket ids live in the parquet file names, so a CREATE TABLE with
    the matching CLUSTERED BY spec over the same LOCATION reads them
    exactly as the writing session's saveAsTable table did."""
    bucket_cols = ", ".join(f"`{k}`" for k in keys)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS `{table}` ({_schema_ddl(schema)}) "
        f"USING parquet CLUSTERED BY ({bucket_cols}) "
        f"SORTED BY ({bucket_cols}) INTO {num_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    keys: list[str],
    num_buckets: int = 8,
) -> str:
    """Idempotently materialize the bucketed layout of ``sf_dir/source``
    and return its catalog table name.

    The name embeds the artifact key (source fingerprint + layout
    parameters), so a changed source yields a new layout rather than a
    stale read. The on-disk lifecycle — pid-unique staging, atomic
    rename publish, quarantine of crashed partial layouts, _SUCCESS
    gate — is owned by artifacts.ensure.
    """
    src = table_path(sf_dir, source)
    df = spark.read.parquet(src)

    def _build(staging_path: str) -> None:
        staging_table = f"nab_{source}_bkt_stg_{uuid.uuid4().hex}"
        write_bucketed(df, staging_table, staging_path, keys, num_buckets)
        # External table: dropping it leaves the staged files in place.
        spark.sql(f"DROP TABLE IF EXISTS `{staging_table}`")

    # ensure() runs even when the catalog table already exists: its
    # cache-hit utime is the artifact GC's time-since-last-READ marker,
    # and skipping it would let the 7-day sweep delete a layout still
    # actively served by a registered table.
    path = artifacts.ensure(
        "bucketed",
        src,
        _BUCKETED_VERSION,
        {"keys": keys, "num_buckets": num_buckets},
        _build,
    )
    table = f"nab_{source}_bkt{num_buckets}_{os.path.basename(path)}"
    if not spark.catalog.tableExists(table):
        _register_external_bucketed(
            spark, table, path, df.schema, keys, num_buckets
        )
    return table


def bucketed_join(
    spark: SparkSession,
    sf_dir: str,
    left: str,
    right: str,
    left_keys: list[str],
    right_keys: list[str],
) -> DataFrame:
    """Equi-join two sources through their 8-bucket layouts — no
    Exchange on either side of the join. Key NAMES may differ per side
    (o_orderkey vs l_orderkey); what matters is that each side is
    bucketed on its own join key, so both scans already satisfy the
    join's required hash distribution."""
    lt = ensure_bucketed(spark, sf_dir, left, left_keys)
    rt = ensure_bucketed(spark, sf_dir, right, right_keys)
    ldf, rdf = spark.table(lt), spark.table(rt)
    cond = None
    for lk, rk in zip(left_keys, right_keys):
        c = ldf[lk] == rdf[rk]
        cond = c if cond is None else (cond & c)
    return ldf.join(rdf, on=cond)
