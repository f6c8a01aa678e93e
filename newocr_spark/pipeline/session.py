"""SparkSession builder with the engine's scale-oriented defaults.

These settings are the §4 "explicit physical design" knobs from SURVEY.md:
AQE on (runtime re-plan + skew-join splitting), Arrow batches capped so a
batch of decoded page images fits Python worker memory, shuffle partitions
sized for the local harness (a real cluster submit overrides via
spark-submit --conf).

Per task, PySpark calls ``importlib.invalidate_caches()``; before Python 3.13,
each of a worker's ~16 zipimporters then re-reads its archive's directory (265
ms of CPU). The OCR UDF and warm-up install ``skip_unchanged_zip_rescans``.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # images are heavy rows: keep Arrow batches small (SURVEY §4 item 2)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # broadcast the small dims (media dim in tests, font model tables)
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
}


def skip_unchanged_zip_rescans() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only archives whose (inode, size,
    mtime_ns) changed since their last read, or since install for those cached then (a
    task's own rescan has just read them). Once per process; no-op on Python >= 3.13."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or original.__module__ == __name__:
        return

    def stat(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_ino, st.st_size, st.st_mtime_ns

    def invalidate_caches(self):
        seen = stat(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if seen is not None and files is not None and read_at.get(self.archive) == seen:
            self._files = files
            return
        original(self)
        read_at[self.archive] = seen

    read_at = {archive: stat(archive) for archive in zipimport._zip_directory_cache}
    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def warm_python_workers(spark: SparkSession, n_workers: int) -> None:
    """Spin up + warm the per-core Python workers (imports cached, per-task zip
    rescans skipped: skip_unchanged_zip_rescans). Executor Python workers are
    long-lived on a real cluster; benchmarks measure steady state, not container
    cold-start — worker fork + pandas import across 32 cores otherwise dominates
    short jobs (measured: 68s for a trivial UDF at local[32], cold)."""
    import pandas as pd

    def _touch(batches):
        skip_unchanged_zip_rescans()
        # pull in everything the OCR UDF needs so the import cost is paid here
        import numpy  # noqa: F401

        from ..kernel import scan  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    (
        spark.range(n_workers * 4)
        .repartition(n_workers * 2)
        .mapInPandas(_touch, "n long")
        .count()
    )


def build_session(
    app: str = "newocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    import os

    builder = SparkSession.builder.appName(app)
    if master:
        builder = builder.master(master)
    elif os.environ.get("SPARK_GRAFT_CPUS"):
        builder = builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    conf = dict(DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra:
        conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
