"""SparkSession factory tuned for the engine.

Defaults target the sandbox (local[N], single JVM) but every knob is the one
you would set on a real 1000-executor cluster: AQE with skew-join splitting,
Arrow for every pandas-UDF exchange, sensible shuffle parallelism, broadcast
threshold large enough for the vocab/dictionary dims.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "shacl-dqa-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` may be an int (→ ``local[n]``) or a full master string. The
    shuffle partition count defaults to 2× cores locally; on a real cluster
    leave it to AQE coalescing (initial high, coalesced at runtime).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]" if str(cores).isdigit() or cores == "*" else str(cores)
    if shuffle_partitions is None:
        try:
            n = int(cores)  # type: ignore[arg-type]
        except (TypeError, ValueError):
            n = os.cpu_count() or 8
        # 4× cores: finer tasks smooth stragglers on wide stages (measured
        # ~15% faster at 8 cores on the 2M-doc construction); AQE coalesces
        # the small shuffles back down, so there is no small-data penalty.
        shuffle_partitions = max(8, 4 * n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Adaptive execution: runtime coalescing + skew-join splitting ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cached plans freeze their output partitioning by default, so a
        # cached N-branch union keeps every branch's full shuffle fan-out
        # (measured 1760 partitions for the violations cache at sf0.1 —
        # every downstream job paid ~1760 near-empty tasks). Letting AQE
        # re-partition cached plans coalesces them to data-sized partitions.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Default 64MB advisory size coalesces mid-size shuffles below the
        # core count, capping parallelism; 8MB keeps post-shuffle stages
        # wide enough while still merging truly tiny partitions.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(8 * 1024 * 1024))
        # --- Arrow for all pandas-UDF exchanges (vectorized, zero per-row py) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- Shuffle / join sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Narrow triple rows → pack more rows per input split at scale.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        # A read of a bucketed snapshot table (the merge-upsert tables and
        # the near-dup/novelty indexes) names one path per `_bucket=k` leaf
        # dir of every dir it serves (sources/snapshots.py); past 32 paths
        # Spark would list them in a Spark job per read instead of on the
        # driver. Unbucketed tables, DQA state included, name one path per
        # dir.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Quiet progress bars in test output
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
