"""SparkSession factory tuned for the KG-construction workload.

Local mode stands in for a multi-executor cluster; every knob below is the
one you would set on a 1000-executor job reading 100 TB:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting): the
  AS dimension is Zipf-hot (a few ASNs dominate ORIGINATE/PEERS_WITH edges),
  so skew handling is a correctness-of-scale requirement, not a nicety.
- Arrow enabled: all Python crossings are vectorized (pandas UDF /
  mapInPandas); per-row Python is banned (BASELINE.md "No per-row Python").
- shuffle partitions sized to cores locally; on a cluster this would be
  ~2-3x total cores and AQE coalesces the rest.
- dynamic partition overwrite: ``write_documents`` replaces only the
  crawler partitions it writes (the node and triple tables commit
  through ``GraphStore``'s staged partition swap instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "iyp_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)
    # local[N, 2]: ONE task retry. Local mode's default maxFailures=1
    # turns a transient worker death into a job failure — observed in the
    # wild as a pyspark Arrow worker dying with "Connection reset" and
    # sinking an entire 8-minute scaling run. On a real cluster
    # spark.task.maxFailures=4 is the default; one retry is the local
    # stand-in (deterministic ops make retries result-invisible — the
    # salted join's value-derived salt exists for exactly this reason).
    builder = (
        SparkSession.builder.master(f"local[{cores}, 2]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("IYP_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prime_arrow_iter_workers(spark)
    return spark


def _prime_arrow_iter_workers(spark: SparkSession) -> None:
    """One-time per-session warmup of the ITERATOR Arrow eval path
    (mapInPandas / mapInArrow). The Python worker pool is keyed by eval
    context, so a session warmed only through scalar pandas UDFs still
    pays a ~2s bootstrap (worker fork + pyarrow/pandas import + the
    MapInPandas codegen path) on its FIRST mapInPandas query — measured
    2.6s for a 1-row identity, charged to whatever query happens to run
    first (multimodal decode in the query suite, the first parsing
    crawler in the KG pipeline). Warm it at session creation, once,
    with a 1-row binary-payload identity so no real query eats the
    bootstrap. Guarded so a session without Arrow support (or a future
    conf change) degrades to a no-op."""
    if getattr(spark, "_iyp_arrow_iter_primed", False):
        return
    try:
        import pandas as pd  # noqa: F401

        def _ident(batches):
            yield from batches

        (
            spark.createDataFrame([(1, b"x")], "id long, payload binary")
            .mapInPandas(_ident, "id long, payload binary")
            .write.format("noop").mode("overwrite").save()
        )
    except Exception:
        pass
    spark._iyp_arrow_iter_primed = True  # noqa: SLF001
