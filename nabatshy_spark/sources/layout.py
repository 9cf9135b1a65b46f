"""Parquet storage-layout audit: per-column footer statistics
(row-group count, compressed/uncompressed bytes, compression ratio)
gathered WITHOUT reading any data pages.

Why this is a first-class operator at 100 TB: storage cost and scan
speed are set by per-column encoding efficiency, and the only way to
see it is the footers.  A 100 TB table is ~1M files; reading a million
footers is itself a distributed job — so the file listing is
parallelized and each task opens only the footer of its files (a few
KB each, one ranged read per file on object storage).  Nothing but the
per-(file, column) byte counts ever shuffles.

The driver-side part is just the file LISTING (same as Spark's own
InMemoryFileIndex); all footer I/O happens in executors via
mapInPandas + pyarrow.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_FOOTER_SCHEMA = (
    "file string, column string, n_row_groups long, "
    "n_values long, compressed_bytes long, uncompressed_bytes long"
)


def parquet_footer_stats(spark: SparkSession, table_path: str) -> DataFrame:
    """Distributed footer scan → one row per (file, column).

    The mapInPandas function is a CLOSURE, not a module-level def:
    cloudpickle ships closures by value, so executor Python workers
    need no ``nabatshy_spark`` on their path (the driver contract runs
    us from an arbitrary cwd)."""

    def _footer_rows(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import os as _os

        import pandas as _pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for path in pdf["path"]:
                meta = pq.ParquetFile(path).metadata
                per: dict[str, list[int]] = {}
                for rg in range(meta.num_row_groups):
                    g = meta.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        agg = per.setdefault(c.path_in_schema, [0, 0, 0, 0])
                        agg[0] += 1
                        agg[1] += c.num_values
                        agg[2] += c.total_compressed_size
                        agg[3] += c.total_uncompressed_size
                for col, (nrg, nv, cb, ub) in per.items():
                    out.append(
                        (_os.path.basename(path), col, nrg, nv, cb, ub)
                    )
            yield _pd.DataFrame(
                out,
                columns=[
                    "file", "column", "n_row_groups", "n_values",
                    "compressed_bytes", "uncompressed_bytes",
                ],
            )

    if os.path.isdir(table_path):
        paths = sorted(glob.glob(os.path.join(table_path, "*.parquet")))
    else:
        paths = [table_path]
    files = spark.createDataFrame([(p,) for p in paths], "path string")
    # One footer is KB-sized work: spread files round-robin so a
    # million-file table fans out instead of hot-spotting one task.
    files = files.repartition(min(len(paths), 256))
    return files.mapInPandas(_footer_rows, schema=_FOOTER_SCHEMA)


def column_layout_report(spark: SparkSession, table_path: str) -> DataFrame:
    """Per-column rollup of the footer scan: the table a storage-cost
    review reads (which columns pay for their bytes, which encodings
    collapsed)."""
    per_file = parquet_footer_stats(spark, table_path)
    return (
        per_file.groupBy("column")
        .agg(
            F.sum("n_row_groups").cast("long").alias("n_row_groups"),
            F.sum("n_values").cast("long").alias("n_values"),
            F.sum("compressed_bytes").cast("long").alias("compressed_bytes"),
            F.sum("uncompressed_bytes").cast("long").alias(
                "uncompressed_bytes"
            ),
        )
        .withColumn(
            "compression_ratio",
            F.round(
                F.col("uncompressed_bytes")
                / F.col("compressed_bytes").cast("double"),
                6,
            ),
        )
        .orderBy("column")
    )


def catalog_footer_summary(
    spark: SparkSession, tables: dict[str, str]
) -> DataFrame:
    """Footer scan over a whole CATALOG in one job: one row per
    (table, file).  A union of per-table footer-scan plans would run one
    mapInPandas branch + one aggregation exchange per table; tagging
    each file row with its table name up front keeps the advisor to a
    single scan and a single ``groupBy(tbl)`` however many tables the
    catalog holds."""

    def _file_rows(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for tbl, path in zip(pdf["tbl"], pdf["path"]):
                meta = pq.ParquetFile(path).metadata
                cb = ub = 0
                for rg in range(meta.num_row_groups):
                    g = meta.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        cb += c.total_compressed_size
                        ub += c.total_uncompressed_size
                out.append(
                    (tbl, meta.num_rows, meta.num_row_groups, cb, ub)
                )
            yield _pd.DataFrame(
                out,
                columns=[
                    "tbl", "n_rows", "n_row_groups",
                    "compressed_bytes", "uncompressed_bytes",
                ],
            )

    rows = []
    for tbl, table_path in tables.items():
        if os.path.isdir(table_path):
            for p in sorted(glob.glob(os.path.join(table_path, "*.parquet"))):
                rows.append((tbl, p))
        else:
            rows.append((tbl, table_path))
    files = spark.createDataFrame(rows, "tbl string, path string")
    files = files.repartition(min(len(rows), 256))
    return files.mapInPandas(
        _file_rows,
        schema=(
            "tbl string, n_rows long, n_row_groups long, "
            "compressed_bytes long, uncompressed_bytes long"
        ),
    )
