"""Line-oriented text sources (JSONL / CSV) with corrupt-record
quarantining — the ingest edge a pipeline needs for raw crawl/export
drops before anything reaches parquet.

Scale rules encoded here:
- **Schema is explicit, never inferred.** Inference is an extra full
  scan of the input (and nondeterministic under sampling); at 100 TB
  it doubles ingest cost. Callers pass the DDL string.
- **PERMISSIVE + corrupt-record column**, the OSS-Spark pattern: a
  malformed line lands with every declared field null and the raw line
  captured in ``_corrupt_record``, so one pass yields both the clean
  relation and the quarantine relation — no second "find the bad
  lines" scan, no dropped-on-the-floor records (FAILFAST aborts a
  multi-hour job on one bad line; DROPMALFORMED silently loses data).
- The split is two filters over ONE checkpointed read: Spark's JSON
  reader refuses a query that projects only the corrupt column, and
  without the checkpoint the two branches would re-parse the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def _split(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    raw = raw.localCheckpoint(eager=False)
    good = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return good, bad


def read_jsonl(
    spark: SparkSession, path: str, schema_ddl: str
) -> tuple[DataFrame, DataFrame]:
    """Read newline-delimited JSON with an explicit schema. Returns
    (clean rows, quarantine rows) from a single parse pass."""
    schema = f"{schema_ddl}, {CORRUPT_COL} STRING"
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return _split(raw)


def read_csv(
    spark: SparkSession, path: str, schema_ddl: str
) -> tuple[DataFrame, DataFrame]:
    """Read CSV with a header line and an explicit schema. Returns (clean rows,
    quarantine rows) from a single parse pass."""
    schema = f"{schema_ddl}, {CORRUPT_COL} STRING"
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", "true")
        .csv(path)
    )
    return _split(raw)


def quarantine_report(bad: DataFrame) -> DataFrame:
    """One-row ingest-gate summary over the quarantine relation: how
    many lines failed and a bounded sample for the incident ticket."""
    return bad.agg(
        F.count("*").alias("n_corrupt"),
        F.slice(F.collect_list(F.substring("raw_line", 1, 80)), 1, 5).alias(
            "sample_lines"
        ),
    )
