"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the configuration is written so the
same code is correct on a multi-executor cluster: AQE on (runtime
re-planning, partition coalescing, skew-join splitting), UTC session
timezone (so results hash-match a UTC-naive oracle), Arrow enabled for
the few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local core count when $SPARK_GRAFT_CPUS is unset (bench.py names its
# non-default-core artifacts against it)
DEFAULT_CPUS = "32"
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS))


def get_spark(
    app_name: str = "cubicerp_client_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    # numpy/BLAS inside Python workers must be single-threaded: Spark
    # already runs one worker per core, so a default-threaded OpenBLAS
    # (32 threads × 32 workers) oversubscribes the box ~1000x and the
    # first heavy mapInPandas batch stalls in thread churn (r16
    # measured: q026's first-run screen 37.8 s vs 4 s steady-state).
    # Workers inherit the driver process env in local mode; setdefault
    # so an operator that truly wants threads can override.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime partition coalescing + skew-join handling — the
        # mechanism that keeps hand-chosen partition counts honest at
        # 100 TB where static planning is always wrong somewhere.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # UTC so timestamp results hash-match a UTC-naive DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the Pandas-UDF slow paths (multimodal, as-of join).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # no [Stage 0:>  ] bars in logs and test output
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Checkpoint posture knob (r16): with a reliable directory
    # configured, every engine pin (checkpointing.pin/pin_eager)
    # switches from localCheckpoint (fast, executor-local,
    # NOT fault-tolerant) to reliable checkpoint() into this directory
    # (survives executor loss — the 100 TB posture). Unset locally:
    # the single-box bench keeps the cheap local form.
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return spark


def cluster_conf(
    input_bytes: int,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    target_split_mb: int = 128,
    target_shuffle_partition_mb: int = 200,
    shuffle_fraction: float = 0.3,
) -> dict[str, str]:
    """Spark conf sizing for a real cluster run, from first principles.

    The local[32] test configs in ``get_spark`` are NOT what you ship
    to 1000 executors; this derives the scale-out knobs from the job's
    input size so the sizing math is executable, not tribal knowledge:

    - input splits: ceil(input / target_split_mb) ≈ 100 TB / 128 MB
      ≈ 820k map tasks — fine (task launch is ~ms; what matters is
      splits ≫ cores so stragglers amortize).
    - shuffle partitions: ceil(input × shuffle_fraction /
      target_shuffle_partition_mb), clamped to ≥ 2×total-cores. The
      0.3 default assumes pushdown+pruning shed ~70% before the first
      exchange (measured on this corpus's plans); AQE coalescing then
      fixes per-query overshoot at runtime, which is why we size for
      the LARGEST shuffle, not the average.
    - per-task shuffle memory: target_shuffle_partition_mb must fit
      several times into the per-core execution-memory share
      (executor_mem × 0.6 / cores); 200 MB against 16 GB / 4 cores
      = 2.4 GB/core leaves ~12× headroom before spill.
    - broadcast threshold: dims up to ~1/50 of per-executor memory
      broadcast for free; beyond that prefer shuffle joins + AQE.

    Returns a dict to feed ``SparkSession.builder.config`` or
    spark-submit ``--conf``.
    """
    total_cores = executors * cores_per_executor
    split_tasks = max(1, -(-input_bytes // (target_split_mb << 20)))
    shuffle_bytes = int(input_bytes * shuffle_fraction)
    shuffle_parts = max(
        2 * total_cores,
        -(-shuffle_bytes // (target_shuffle_partition_mb << 20)),
    )
    broadcast_mb = max(10, executor_mem_gb * 1024 // 50)
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.files.maxPartitionBytes": str(target_split_mb << 20),
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_shuffle_partition_mb << 20
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(broadcast_mb << 20),
        # planning hints, not confs — surfaced for operators to read:
        "x.derived.inputSplitTasks": str(split_tasks),
        "x.derived.totalCores": str(total_cores),
    }
