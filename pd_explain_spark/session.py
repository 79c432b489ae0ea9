"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores);
the same configs are the ones we would set on a 1000-executor cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow for any pandas interchange, UTC session timezone so timestamp
semantics are partition-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pd_explain_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession.

    ``shuffle_partitions`` defaults to the core count: on local mode the
    right number is #cores, not Spark's 200 default; on a real cluster
    AQE's ``coalescePartitions`` makes the initial number mostly a cap.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet TIMESTAMP(NANOS) (e.g. the events table) has no Spark type;
        # read as long and let the readers convert to micros (= DuckDB behavior)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # checkpoint_df switches iterative loops to RELIABLE checkpoint()
        # whenever a checkpoint dir is configured; without this cleaner,
        # every superseded round's checkpoint files would accumulate in
        # that dir for the life of the app (ADVICE r11)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        # WindowExec warns on every unpartitioned window, including the
        # engine's bounded top-k rank windows (input pre-cut by limit(),
        # O(k) rows — see plans/audit.py _BOUNDED_OPS). Spark constant-
        # folds any literal partition key back to SinglePartition, so the
        # only way to keep the log usable is to quiet this one logger;
        # scale_audit still flags genuinely unbounded single-partition
        # plans as fatal.
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
        # deliberate eager release of DEAD localCheckpoint blocks (the
        # duplicate_components round hygiene) warns once per unpersist
        # that the truncated lineage cannot recompute — that is the
        # point (the frames are superseded); keep the log usable
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.rdd.MapPartitionsRDD",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j2 internals unavailable (e.g. connect mode): warnings stay
    return spark


def checkpoint_df(df, eager: bool = True):
    """Truncate ``df``'s lineage — the iterative-algorithm hygiene every
    pointer-jumping / Lloyd / BPE round needs (persist keeps the DATA
    but re-ANALYZES the full upstream plan on every action).

    Fault-tolerance gate (ADVICE r10): ``localCheckpoint`` blocks live
    only on executors — lose one (spot kill, decommission) and the
    truncated lineage cannot recompute, failing the job mid-run. On a
    cluster where that matters, configure a checkpoint directory
    (``spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")``) and
    this helper switches every internal lineage truncation to RELIABLE
    ``checkpoint()`` (blocks in fault-tolerant storage). Without a
    checkpoint dir — the single-node / ephemeral-session shape, where
    an executor loss is process death anyway — it stays with the
    cheaper ``localCheckpoint``.
    """
    try:
        ckpt_dir = df.sparkSession.sparkContext.getCheckpointDir()
    except Exception:
        ckpt_dir = None
    if ckpt_dir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
