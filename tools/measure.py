"""The one per-query timing protocol shared by ``bench.py``,
``tools/solo_measure.py`` and ``tools/gen_scale_curve.py``.

Every timed run builds a fresh plan (Spark reuses shuffle files when
the same DataFrame is collected twice, so re-collecting one object
under-reports cold cost) after ``clearCache`` + a Python GC:

- ``clearCache`` stops operators that ``persist()`` internally from
  serving the timed run out of an earlier run's cache through the
  cache manager's plan matching;
- ``clearCache`` does NOT free ``localCheckpoint`` RDD blocks. Only the
  ContextCleaner releases them, once the Python-side DataFrame refs are
  collected, so ``gc.collect()`` runs before every timed run. Without
  it a long single-JVM sweep builds up storage-memory debt (identical
  queries measured 8x slower at slot ~65 than solo).
"""

from __future__ import annotations

import gc
import os
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _collect(df: DataFrame) -> None:
    df.collect()


def measure(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    runs: int = 1,
    warm: bool = False,
    jvm_gc: bool = False,
    action: Callable[[DataFrame], None] = _collect,
) -> float:
    """Min over ``runs`` of the wall seconds of ``action(build())``.

    ``warm`` adds one unmeasured run first (plan compilation, codegen,
    broadcast and artifact builds). ``jvm_gc`` also asks the JVM for a
    full GC before each timed run (a long sweep does this every few
    queries)."""
    if warm:
        action(build())
    best = float("inf")
    for _ in range(runs):
        spark.catalog.clearCache()
        gc.collect()
        if jvm_gc:
            spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        action(build())
        best = min(best, time.perf_counter() - t0)
    return best


def sf_number(sf_dir: str) -> float:
    """``.../sf0.1`` → 0.1; any other directory name counts as sf0.1."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    return float(sf) if sf.replace(".", "").isdigit() else 0.1


def use_scaled_spans(sf: float) -> None:
    """Point the span-native queries at a span table sized to the sf
    (~10 spans per sf0.001-trace-unit, ≈660k spans at sf0.1 — the same
    order as lineitem) so they exercise real parallelism; the committed
    1.1k-row fixture remains the correctness/oracle source."""
    from tools.gen_spans_fixture import write_scaled

    n_traces = max(250, int(1_500_000 * sf))
    path = os.path.join(tempfile.gettempdir(), f"nabatshy_spans_{n_traces}tr")
    os.environ["NABATSHY_SPANS_PATH"] = write_scaled(path, n_traces)


def warm_session(app_name: str, sf_dir: str) -> SparkSession:
    """A session with every catalog table's footer and schema read once,
    so scans measure data, not metadata."""
    from nabatshy_spark.catalog import TABLES, load
    from nabatshy_spark.session import get_spark

    spark = get_spark(app_name)
    for t in TABLES:
        load(spark, sf_dir, t).count()
    return spark
