"""SparkSession factory with scale-oriented defaults.

The reference is a single-threaded client that pushes all computation to a
remote RDBMS (``Select de Importação de Dados.py:192``). Here the engine IS
Spark, so the session carries the tuning that matters on a real cluster:
AQE (runtime coalescing + skew-join splitting), sane shuffle parallelism,
and Arrow for any pandas-interop path.

On a 1000-executor cluster the same code runs unchanged: only
``master``/``shuffle_partitions`` come from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Shuffle parallelism: from SPARK_GRAFT_CPUS locally; on a real
    cluster you would size this ~2-3x total executor cores (or leave AQE
    coalescing to shrink an over-provisioned value)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(
    app_name: str = "ferramenta-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults chosen for 100 TB posture:
    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching (sort-merge -> broadcast when a
      shuffle side turns out small).
    - ``nanosAsLong``: the events table carries TIMESTAMP(NANOS) parquet,
      which vanilla Spark refuses; we read nanos as int64 and normalize in
      the events source (sources/tables.py).
    - Arrow enabled so mapInPandas/pandas_udf paths move columnar batches,
      not pickled rows.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # Spark's default 1g heap serves ALL local-mode task slots; 32
        # concurrent sort/join tasks OOM on it at ~10x the test scale
        # (measured: WindowGroupLimit spill-reader allocation failure).
        # Size the heap like a real executor. Only effective for the
        # process's first session — a JVM can't grow after launch.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism-first coalescing picks target size =
        # max(minPartitionSize, total/defaultParallelism); the default
        # 1MB floor collapses a small shuffle output (e.g. the deduped
        # corpus feeding the shingle explode) onto a handful of cores.
        # A 128k floor keeps post-shuffle map stages parallel on small
        # intermediates while changing NOTHING at scale, where
        # total/parallelism >> 1MB and the advisory 64MB target governs.
        # (Coalescing can only merge, never split, so the worst case is
        # simply the pre-coalesce shuffle.partitions.)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # un-filtered MIN/MAX/COUNT aggregates answered from parquet
        # footer statistics instead of data pages (off by default)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        # Generated-class cache sized to the working set of a long-lived
        # session that re-runs the same plans on a schedule. Measured at
        # sf0.01 on local[4]: the 5-job daily pipeline (load, incremental,
        # replay) generates ~170 distinct classes and the Python-UDF mix
        # 70. Spark's default of 100 entries made every pipeline phase
        # recompile 110-130 classes at ~10 ms each, cycle after cycle;
        # 1000 leaves ~5x headroom for plan variety.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
