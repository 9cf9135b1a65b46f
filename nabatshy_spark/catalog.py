"""Testdata catalog: loaders for the driver's star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

At 100 TB these would be partitioned-directory datasets (e.g. events
partitioned by day of ``ts``); ``spark.read.parquet`` on a directory tree
picks up partition pruning automatically, so every loader here takes a
path and nothing else changes.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_PYFILES_SHIPPED: set[int] = set()
# ingest streams call this from their own threads; the zip's staging
# path is per process
_PYFILES_LOCK = threading.Lock()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship the ``nabatshy_spark`` package to executors via
    ``sc.addPyFile`` so cloudpickled pandas-UDF closures (which
    reference this package by module name) import on workers even when
    the driver's cwd isn't the repo root. Cluster-ready: the same call
    distributes the zip to every executor; in local mode it lands on
    the worker ``sys.path`` via SparkFiles. Idempotent per context."""
    sc = spark.sparkContext
    with _PYFILES_LOCK:
        if id(sc) in _PYFILES_SHIPPED:
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(tempfile.gettempdir(), "nabatshy_spark_pyfiles.zip")
        staging = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(staging, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in sorted(files):
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        os.replace(staging, zpath)  # atomic: no partially-written zip is ever added
        sc.addPyFile(zpath)
        _PYFILES_SHIPPED.add(id(sc))


def table_path(sf_dir: str, name: str) -> str:
    """The parquet source of table ``name`` under ``sf_dir`` — what
    :func:`load` reads and what artifacts fingerprint."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_worker_imports(spark)
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
        # parquet reader rejects; read the raw Int64 ns and floor to µs
        # (integer `div`, not `/` — the ns epoch exceeds 2^53 so a
        # double round-trip would corrupt low microseconds). This
        # matches DuckDB's ns→µs truncation on the same file.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, "events"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
