"""Partition-width guard shared by CPU-heavy single-pass kernels.

Scan parallelism is set by file layout, not by downstream compute: small
parquet inputs arrive as 1-3 partitions, and a compute-bound stage
(per-row hashing, a 16-column explode fan-out, a x50 replicate explode)
would then use 3 of 32 cores. ``fan_out`` repartitions ONLY when the
input is narrower than the cluster — on a real multi-executor scan of
large data it is a no-op, so the shuffle is paid exactly when it buys
parallelism ("derive partitioning from the input, not from a
constant", applied to the small-file edge). Call it on the narrowest
possible projection so the exchange carries few columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff it is narrower.

    ``keys``: optional hash-partition columns (deterministic under task
    retry without the round-robin path's local sort). Without keys the
    round-robin repartition is used (sortBeforeRepartition stays on, so
    retries are deterministic per SPARK-23207). Streaming frames (no
    ``.rdd``) and frames whose partition count cannot be read are
    returned unchanged. The width is read without running ``df``: see
    ``_planned_width``."""
    if getattr(df, "isStreaming", False):
        # micro-batch parallelism is the source's concern
        # (maxFilesPerTrigger etc.), not a repartition
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = _planned_width(df)
    except Exception:
        return df
    if cur >= target:
        return df
    if keys:
        from pyspark.sql import functions as F

        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def _planned_width(df: DataFrame) -> int:
    """Output partition count of ``df`` without running its plan; 0 when
    only running it settles the count. An adaptive plan with exchanges
    or subqueries coalesces partitions at run time, and building its
    ``df.rdd`` would run its query stages (a join's shuffles and
    broadcasts), which the caller's action re-plans and runs again: 0.
    Any other plan — scans and narrow operators, also over a cached
    relation whose blocks the action reuses — is asked through
    ``df.rdd`` (the file split or cached partition count)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan" and _has_stages(plan.executedPlan()):
        return 0
    return df.rdd.getNumPartitions()


def _has_stages(plan) -> bool:
    """Whether a physical plan holds an exchange or a subquery. Cached
    relations are leaves here: their own plan is not a child."""
    todo = [plan]
    while todo:
        node = todo.pop()
        if "Exchange" in node.nodeName() or node.subqueries().nonEmpty():
            return True
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return False


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join for when AQE's skew splitting cannot
    apply (both sides must shuffle and one LEFT key exceeds a partition):
    every left row gets a deterministic salt in [0, salt) — a hash of the
    whole row, so task retries re-derive the same value — and the right
    side is replicated ``salt`` times, so the physical join key
    (on..., salt) spreads one hot key over ``salt`` tasks.

    Cost model: right side × salt through the shuffle. Use it when
    |right| * salt << |left partition budget|; for a genuinely small
    right side prefer ``F.broadcast`` (no shuffle at all); for mild skew
    prefer AQE (free). ``how`` is limited to inner/left — the replicated
    right side makes right/outer semantics ambiguous.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    on = [on] if isinstance(on, str) else list(on)
    # salt = hash(partition, row-within-task counter, row content): purely
    # content-derived salt would send mass-duplicated rows of a hot key —
    # exactly the skew case this operator targets — to one task. The
    # counter makes identical rows land on different salts while staying
    # deterministic for a fixed input partitioning (retries re-run the
    # whole task, so per-task counters reproduce).
    sl = left.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(F.spark_partition_id(), F.monotonically_increasing_id(), *left.columns),
            F.lit(salt),
        ).cast("int"),
    )
    salt_arr = F.array(*[F.lit(i) for i in range(salt)])
    sr = right.withColumn("__salt", F.explode(salt_arr))
    return sl.join(sr, on + ["__salt"], how).drop("__salt")


def count_distinct_skew_safe(df: DataFrame, keys: str | list[str], col: str) -> DataFrame:
    """Exact per-key distinct count for a skewed key: two-phase rewrite
    ``distinct(keys, col) -> groupBy(keys).count()``. The first shuffle
    is keyed by (keys, col) — the hot key's rows spread across as many
    tasks as it has distinct values — and the second shuffle carries one
    row per (keys, col) survivor. A direct countDistinct funnels every
    row of the hot key through one task.

    NULL semantics match ``F.countDistinct`` / pandas ``nunique``: NULLs
    in ``col`` are not counted as a distinct value, and keys whose rows
    are all-NULL in ``col`` still appear with count 0."""
    from pyspark.sql import functions as F

    keys = [keys] if isinstance(keys, str) else list(keys)
    pairs = df.select(*keys, col).distinct()
    return pairs.groupBy(*keys).agg(F.count(col).alias(f"{col}_nunique"))
