"""SparkSession factory tuned for the engine.

``build_session`` sets scale-oriented defaults: AQE on (runtime coalesce
+ skew-join splitting), Arrow for every pandas-UDF exchange, shuffle
partitions sized for the local test harness, and no per-call Python
call-site capture, which would cost py4j round trips on every
DataFrame/Column call while a query is built.

Join policy: the 64 MB ``spark.sql.autoBroadcastJoinThreshold`` (which
AQE's run-time threshold inherits) chooses every join whose sides are
not bounded by construction. Operators add no ``F.broadcast`` hint and
run no size probe for such a join; a hint is kept only on a side whose
size the code bounds, such as a TPC-H dimension, a one-row aggregate or
a driver-built query table. ``cluster_conf`` is the
conf set that replaces the local defaults in a real spark-submit
deployment. The testdata tables are read by ``queries._t``, with the
declared schemas in ``queries.TABLE_SCHEMAS``, and a pipeline corpus by
``pipeline.runner.read_corpus``, with ``runner.CORPUS_SCHEMA``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "data_curator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    Parameters are overridable so the bench harness can pin ``local[8]``
    vs ``local[32]`` for the two-parallelism scaling measurement.

    Python call-site capture (``spark.python.sql.dataFrameDebugging
    .enabled``, on by default in PySpark 4.1) is off. With it on, every
    ``Column``/``DataFrame`` call makes about five extra py4j round trips
    to record the calling file and line, which is most of the time spent
    building a query (~5,000 round trips for ``minhash_lsh``). The only
    loss is that file:line in the query context of a DataFrame error;
    the error itself is still raised. For a debugging session, turn it
    back on with
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    (PySpark reads the setting once per process, at the first call that
    could capture a call site, so pass it to the first session built).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism locally; on a cluster this is set by conf
        n = cpus if cpus != "*" else str(os.cpu_count() or 8)
        shuffle_partitions = max(int(n), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: runtime partition coalescing + skew joins
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow everywhere Python touches data
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- the join policy (see docstring): broadcast below 64 MB
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- local-mode memory headroom
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # --- no per-call Python call-site capture (see docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """spark-submit conf set for a real N-executor run of this engine —
    the knobs (and the reasoning) that replace the local defaults above.

    Usage: ``spark-submit $(python -c "from data_curator_spark.session
    import cluster_conf; print(' '.join(f'--conf {k}={v}' for k,v in
    cluster_conf().items()))") --py-files dcs.zip tools/run_pipeline_job.py …``

    Sizing logic (100 TB corpus, 1000 × 4-core executors = 4000 slots):
    - shuffle.partitions = 3× total cores: enough granularity for AQE to
      coalesce DOWN (cheap) while never leaving cores idle; going
      finer-grained than AQE's advisory size is wasted scheduling.
    - files.maxPartitionBytes = 128 MB: scan tasks sized to fit decode +
      the vectorized UDF batch comfortably inside
      executor_mem/cores ≈ 4 GB per slot.
    - adaptive advisory size 64 MB: post-shuffle partitions land big
      enough to amortize task overhead, small enough to spill rarely.
    - skewJoin thresholds default (5× median, 256 MB): the salted
      bucketing already spreads mega-repos; AQE is the backstop.
    - maxRecordsPerBatch 10k: bounds Arrow batch memory in the model
      UDF (10k rows × ~8 KB content ≈ 80 MB peak per batch).
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.shuffle.partitions": str(3 * total_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.files.maxPartitionBytes": f"{target_partition_mb}m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.session.timeZone": "UTC",
    }
