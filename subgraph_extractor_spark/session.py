"""SparkSession construction tuned for the engine.

Local testing runs ``local[N]`` in one JVM; the settings below are chosen so
the same plans scale to a multi-executor cluster at ~100 TB:

- AQE on (runtime re-plan: coalesce small shuffle partitions, skew-join
  splitting, dynamic broadcast conversion).
- Arrow-based pandas interchange on (vectorized pandas_udf for the uint256
  codec and embedding math).
- Modest default shuffle partitions for local runs; at cluster scale this is
  governed by AQE's advisory partition size rather than the static number.

Importing this module (the package ``__init__`` does) also makes
``importlib.invalidate_caches()`` cheap for zip archives that have not
changed; see ``_guard_zip_rereads``.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def _guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that have not
    changed since this process last read them.

    Every Spark Python worker call runs ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 each
    ``zipimporter`` then re-reads its archive's whole directory, even in a
    reused worker: for ``pyspark.zip``, the spark-core jar and py4j that is
    160-420 ms per call.  The guard keys each read by the archive's
    ``(st_ino, st_size, st_mtime_ns)``, taken before the read; a call whose
    stat matches and whose directory is still cached reuses it.  A changed
    archive, a failed stat or a dropped cache entry falls through to the
    original method.  From 3.13 upstream only drops the cache entry, so
    nothing is installed there.

    Python workers pick this up because unpickling the package's data
    source, reader or UDF imports the package.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_skips_unchanged", False):
        return
    read_stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        if self.archive in zipimport._zip_directory_cache:
            read_stamps[self.archive] = stamp

    invalidate_caches._skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_rereads()

# Session-level confs that must hold on ANY session that reads our fixtures,
# including sessions created by an external driver and handed to us.  All are
# runtime-settable (SQLConf), applied by `configure(spark)`.
RUNTIME_CONFS = {
    # /root/testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
    # vectorized reader rejects; read as long and normalize (sources.readers).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture timestamps are naive UTC micros; read them as TimestampType
    # (UTC-normalized) rather than TIMESTAMP_NTZ so event-time watermarks
    # work and collected values align with DuckDB's naive timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Adaptive execution: coalesce + skew handling at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas_udf / toPandas round-trips.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Timestamps in fixtures are naive UTC; keep the session in UTC so
    # Spark's TimestampType (UTC-normalized) collects identically to DuckDB.
    "spark.sql.session.timeZone": "UTC",
    # Write modern INT64 micros, not legacy INT96: pyarrow-written empty
    # partition placeholders and Spark-written files must share one
    # schema for the consolidated _metadata manifest.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-provided)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; readers degrade gracefully
    return spark


def get_spark(
    app_name: str = "subgraph-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` selects local parallelism (default all cores);
    on a real cluster ``master`` comes from spark-submit and is left alone.
    """
    # Reuse a pre-existing session UNTOUCHED.  getOrCreate() on an
    # existing session re-applies every runtime-settable builder conf
    # to it — an in-process CLI call would silently flip the host
    # application's shuffle.partitions (8 -> 32 bit a pytest
    # bucketed-join plan pin in r11) and its Arrow/ANSI settings.
    # The session's owner picked those confs; a library entry point
    # has no business mutating them.
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # no console progress bars: their \r-erase fragments land in
        # captured stdout and EAT the driver's ~2000-byte tail budget
        # that bench.py's one-line JSON contract must fit inside (the
        # r8 truncation class — BENCH_r08 parsed: null)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # files.maxPartitionBytes default 128m is right for the 100 TB
        # target (one task per rowgroup-sized split); leave it.
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return configure(spark)
