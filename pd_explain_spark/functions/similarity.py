"""Similarity search over embedding columns (array<float>).

Two paths, per the project brief:
 * brute-force cosine top-k — the exactness baseline: broadcast the query
   set, one pass over the corpus, per-query top-k via window row_number.
   Dot products run JVM-side through F.zip_with/F.aggregate (codegen),
   not Python.
 * random-hyperplane LSH — the scale path: H signed projections bucket
   each vector; search compares only same-bucket (or near-bucket)
   candidates. Hyperplanes are derived deterministically from a seed so
   results are reproducible without shipping side data.

At cluster scale the corpus side stays partitioned; only the (small)
query set broadcasts. No collect of the corpus ever happens.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.partitioning import fan_out
from ..session import checkpoint_df

from .hashing import md5_int


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)



def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _empty_result(df: DataFrame, id_col: str, fields: list[tuple[str, str]]) -> DataFrame:
    """Empty result frame whose id-typed columns derive from the INPUT's
    ``id_col`` type. The empty-input early returns used to hardcode
    ``long`` ids (ADVICE r7 low): with int or string ids the empty
    path's schema differed from the non-empty path's, breaking a
    downstream unionByName that works on non-empty inputs. ``fields``
    maps output name -> "id" (inherit id_col's type) or a DDL type."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    idt = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField(n, idt if t == "id" else _parse_datatype_string(t))
            for n, t in fields
        ]
    )
    return df.sparkSession.createDataFrame([], schema)




def _apply_corpus_filter(
    corpus: DataFrame, id_col: str, where, allowed: DataFrame | None
) -> DataFrame:
    """Shared filtered-search gate (uniform across every top-k flavor):
    ``where`` (Column or SQL string) lands in the corpus scan stage —
    Catalyst pushes it into the parquet read; ``allowed`` (one-column
    DataFrame of permitted neighbor ids) applies as a semi join whose
    strategy is left to AQE (broadcast when small, shuffle when
    corpus-sized). Pre-filter semantics: ranking sees only qualifying
    neighbors, so every query still gets k results when k qualify."""
    if where is not None:
        corpus = corpus.filter(where)
    if allowed is not None:
        ids = allowed.select(F.col(allowed.columns[0]).alias(id_col)).distinct()
        corpus = corpus.join(ids, id_col, "semi")
    return corpus


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    where=None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rank, cosine_sim). Excludes self-match.
    The query side is broadcast — corpus scan is a single distributed pass.

    Filtered search (the "filtered ANN" shape production vector stores
    struggle with): ``where`` is a Column or SQL-string predicate over
    the CORPUS rows, applied before scoring — a scan-stage gate Catalyst
    pushes into the parquet read, so top-k ranks only qualifying
    neighbors (pre-filter semantics: every query still gets k results
    when k qualify, unlike post-filtering a top-k). ``allowed`` is a
    one-column DataFrame of permitted neighbor ids (derive it from any
    metadata table — ITS filter pushes into the metadata scan), applied
    as a semi join; both compose."""
    # norms are computed ONCE per row below the join (projections don't
    # collapse across the join boundary), so the per-pair work is a single
    # dot product + one divide — round 1 re-evaluated both norms for every
    # (corpus, query) pair
    # NULL vectors have no cosine: a NULL-embedding doc must never be
    # reported as someone's nearest neighbor (it used to surface with a
    # NULL sim once fewer than k valid neighbors existed), and a NULL
    # query has no ranking — both filtered, matching the Arrow flavor
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        .filter(F.col("qv").isNotNull())
        .withColumn("qn", _norm(F.col("qv")))
        .filter(F.col("qn") > 0)
    )
    corpus = _apply_corpus_filter(corpus, id_col, where, allowed)
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .filter(F.col("cv").isNotNull())
        .withColumn("cn", _norm(F.col("cv")))
        # zero-norm rows have no cosine — under ANSI the division would
        # throw, under non-ANSI they'd surface with NULL sims; excluded
        # on both sides (hashed_embeddings emits the zero vector for
        # zero-gram docs precisely expecting this contract)
        .filter(F.col("cn") > 0)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", round_to).alias("cosine_sim"))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG — no numpy on executors)."""
    state = seed or 1
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            u = (state >> 11) / float(1 << 53)  # [0,1)
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            u2 = (state >> 11) / float(1 << 53)
            # Box-Muller
            v.append(math.sqrt(-2.0 * math.log(max(u, 1e-12))) * math.cos(2 * math.pi * u2))
        planes.append(v)
    return planes


def lsh_bucket_expr(vec_col, planes: list[list[float]]):
    """Bucket id = bit pattern of sign(v . h) over the hyperplanes.

    Each plane's coefficients land as ONE parsed SQL array literal
    (``_sql_double_array``), not per-element ``F.lit`` columns: a
    32-table x 4-plane x 64-dim bucket expression otherwise costs 8192
    py4j round trips to BUILD and as many Literal children for the
    analyzer to WALK — measured as the dominant wall-clock of
    embedding_near_duplicates at sf0.1 (driver-side plan work; the
    executors finish in under a second). repr(float) round-trips
    exactly, so the parsed doubles are bit-identical to the r11
    per-element form and every oracle mirror is unaffected."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = F.expr(_sql_double_array(p))
        proj = _dot(vec_col.cast("array<double>"), arr)
        bucket = bucket.bitwiseOR(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def _pool_subsets(n_pool: int, r: int, n_tables: int, seed: int) -> list[list[int]]:
    """``n_tables`` deterministic DISTINCT r-subsets of ``range(n_pool)``
    (LCG partial Fisher-Yates draws, duplicates redrawn). Shared by the
    Spark bucket expression and the DuckDB oracle mirror so both engines
    combine the identical sign bits per table."""
    if n_tables > math.comb(n_pool, r):
        raise ValueError(
            f"n_tables={n_tables} exceeds the {math.comb(n_pool, r)} distinct "
            f"{r}-subsets of a {n_pool}-plane pool"
        )
    state = ((seed or 1) * 2 + 1) % (1 << 64)
    seen: set[tuple[int, ...]] = set()
    out: list[list[int]] = []
    while len(out) < n_tables:
        idx: list[int] = []
        pool = list(range(n_pool))
        for j in range(r):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            idx.append(pool.pop((state >> 33) % (n_pool - j)))
        key = tuple(sorted(idx))
        if key in seen:
            continue
        seen.add(key)
        out.append(idx)
    return out


def _pooled_table_bucket_frame(
    df: DataFrame, id_col: str, vec_col: str, dim: int, n_planes: int,
    n_tables: int, n_pool: int, seed: int,
) -> DataFrame:
    """(id, tb=struct<t,b>) rows from a SHARED plane pool: ``n_pool``
    sign bits are computed once per vector (32 hyperplane dots), and
    each of the ``n_tables`` hash tables combines ``n_planes`` of those
    bits (``_pool_subsets``) into its bucket id with integer arithmetic.

    The independent-planes design pays n_tables * n_planes hyperplane
    dots per row; at the embedding_near_duplicates operating point
    (threshold 0.45, 4-bit buckets) matching its ~2e-3 per-pair miss
    probability needs 128 independent planes but only a 32-plane pool
    with 96 tables (sum over A~Bin(32, p_plane) of
    (1 - C(A,4)/C(32,4))^96 = 0.0021 vs (1 - p^4)^32 = 0.0020): 4x
    fewer dots on the scan stage — which is the driver-side plan-build
    and codegen bottleneck locally, and the per-row scan cost at
    100 TB — for 3x more (trivially cheap) integer bucket rows. The
    table recombination is ONE parsed SQL expression, not py4j-built
    columns (the r10 lesson: per-element driver traffic dominates).
    """
    planes = _hyperplanes(dim, n_pool, seed + 1)
    subsets = _pool_subsets(n_pool, n_planes, n_tables, seed)
    v = F.col(vec_col).cast("array<double>")
    signs = F.array(
        *[
            F.when(_dot(v, F.expr(_sql_double_array(p))) >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            for p in planes
        ]
    )
    # The table recombination is data, not code: the n_tables x n_planes
    # index subsets fold into ONE nested-array literal (ConstantFolding
    # collapses the foldable CreateArray tree to a single Literal), and
    # one small transform lambda recombines the shared sign bits per
    # table. The previous explode(array(<n_tables inlined structs>))
    # spelling generated a > 64 KB janino method at n_tables=96 —
    # whole-stage codegen FAILED (compile attempt + interpreted
    # fallback on every execution of the stage); this shape keeps the
    # generated method tiny and the per-row work identical.
    subsets_sql = "array(" + ",".join(
        "array(" + ",".join(str(ci) for ci in sub) + ")" for sub in subsets
    ) + ")"
    comb = " + ".join(f"__sg[s[{i}]] * {1 << i}" for i in range(n_planes))
    buckets = F.expr(f"transform({subsets_sql}, s -> CAST({comb} AS BIGINT))")
    return (
        df.select(F.col(id_col).alias("id"), signs.alias("__sg"))
        .select("id", F.posexplode(buckets).alias("t", "b"))
        .select(
            "id",
            F.struct(F.col("t").alias("t"), F.col("b").alias("b")).alias("tb"),
        )
    )


def _table_bucket_struct(vec, dim: int, n_planes: int, n_tables: int, seed: int):
    """array<struct<t,b>> of per-table LSH buckets for one vector column.

    Each of the ``n_tables`` hash tables uses an independent set of
    ``n_planes`` hyperplanes (seeded deterministically), so a pair
    collides if it matches in ANY table — classic OR-amplification.
    For a pair at cosine s each plane agrees w.p. 1-acos(s)/pi, so
    per-table collision is that to the n_planes-th power and overall
    recall is 1-(1-p_table)^n_tables: at s=0.45, n_planes=4,
    n_tables=16 that is ~0.96 (the round-1 single-table design sat at
    ~0.18 — CORRECTNESS_r01 recovered 1 of 14 true pairs).
    """
    cols = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t + 1)
        cols.append(
            F.struct(
                F.lit(t).alias("t"), lsh_bucket_expr(vec, planes).alias("b")
            )
        )
    return F.array(*cols)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int | None = None,
    seed: int = 42,
    round_to: int = 6,
    where=None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH buckets.

    n_tables independent hash tables are OR'd (union of bucket joins,
    then distinct) before exact scoring — single-table recall decays
    exponentially in n_planes, amplification restores it while keeping
    the per-table candidate set at ~1/2^n_planes of the corpus. At
    100 TB the (table, bucket) pair is the shuffle key.

    ``where``/``allowed`` filter the corpus BEFORE bucketing (shared
    `_apply_corpus_filter` contract) — pre-filter semantics within the
    LSH candidate set; a highly selective filter thins buckets, so
    raise n_tables/lower n_planes or use brute_force_topk for
    exactness (the standard filtered-ANN trade-off).
    """
    # dim probe BEFORE any added exchange: first() on the raw input costs
    # no shuffle stage, while probing after the spread would materialize
    # the repartition as its own job (shuffle reuse does not span
    # separate actions — measured +1.3s on similarity_lsh_topk). A
    # filtered-to-empty corpus flows through the normal plan and yields
    # the same empty frame the probe shortcut returns.
    if dim is None:
        # isNotNull guard: the raw corpus may carry null-vector rows a
        # caller's `where` used to exclude before the probe moved here;
        # dim is per-table homogeneous, so any non-null row is correct
        first = corpus.where(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
        if first is None:  # empty corpus: empty result, not a crash —
            # an ingest loop's empty micro-batch must flow through
            return _empty_result(
                corpus, id_col,
                [("query_id", "id"), ("neighbor_id", "id"),
                 ("rank", "int"), ("cosine_sim", "double")],
            )
        dim = int(first[0])
    # spread BEFORE the corpus filter (r12 ADVICE): fan_out probes
    # df.rdd.getNumPartitions(), and under AQE that eagerly materializes
    # any upstream shuffle stage — an `allowed` semi join (or a computed
    # embedding pipeline) would run once for the probe and again in the
    # real query, since shuffle reuse does not span separate actions.
    # Probing the raw scan is free (partition count comes from file
    # listing), filters/semi-joins do not change partition count, and
    # Catalyst still pushes `where` through the RepartitionByExpression
    # into the parquet scan.
    corpus = fan_out(corpus, id_col)
    corpus = _apply_corpus_filter(corpus, id_col, where, allowed)
    # norms ride along from before the explode — one norm per VECTOR,
    # not per (vector, table) row or per candidate pair; same doubles,
    # so the inlined-plane DuckDB mirror is unaffected.
    corpus = corpus.select(id_col, vec_col)
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("cn"),
        F.explode(
            _table_bucket_struct(F.col(vec_col), dim, n_planes, n_tables, seed)
        ).alias("tb"),
    ).filter(F.col("cn") > 0)
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("qn"),
        F.explode(
            _table_bucket_struct(F.col(vec_col), dim, n_planes, n_tables, seed)
        ).alias("tb"),
    ).filter(F.col("qn") > 0)
    scored = (
        cb.join(F.broadcast(qb), "tb")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", round_to).alias("cosine_sim"))
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    round_to: int = 6,
    n_pool: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: multi-table LSH + exact verify.
    The threshold always applies to the 6-decimal similarity (stable
    contract); ``round_to`` controls the OUTPUT rounding — both are a
    single round from the raw cosine (double-rounding is rounding-mode-
    dependent across engines).

    Candidates = union over n_tables hash tables of same-bucket pairs
    (OR-amplification — see _table_bucket_struct), deduplicated, then
    exact-cosine verified against ``threshold``. Never materializes the
    all-pairs product: the self-join key is (table, bucket), so work per
    table is sum-of-squared-bucket-sizes, and the distinct() collapses
    multi-table duplicates before the (vector-carrying) verify join.

    ``n_pool``: share a pool of that many hyperplanes across tables
    (``_pooled_table_bucket_frame``) instead of n_tables * n_planes
    independent ones — the per-row scan work drops to n_pool dots while
    more (integer-cheap) tables restore the recall; the standard knob
    trade for scan-bound deployments. None keeps independent planes.
    """
    from pyspark.storagelevel import StorageLevel

    first = df.select(F.size(vec_col)).first()
    if first is None:  # empty input: no pairs, not a crash
        return _empty_result(
            df, id_col,
            [("id_a", "id"), ("id_b", "id"), ("cosine_sim", "double")],
        )
    dim = int(first[0])
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # spread before the bucket computation (guide §2.2/§2.5): the bucket
    # frame costs n_pool hyperplane dots per vector, the posexplode
    # multiplies rows n_tables-fold, and — decisive at sf0.1 — the
    # candidate self-join below BROADCASTS one side, so its streamed
    # side (and the map-side distinct over the sum-of-squared-bucket-
    # sizes pair stream, ~25M rows here) inherits THIS frame's
    # partitioning. On a single-split scan all of that ran in one task
    # (measured: the whole entry core-scaled at only 1.35x). No-op at
    # cluster parallelism; projected to the two needed columns already.
    spread = fan_out(base, "id")
    # persist: the self-join below references this frame on BOTH sides —
    # without it the (n_tables x n_planes)-literal bucket expression (a
    # ~100 KB plan subtree that alone costs seconds to analyze) is
    # inlined and evaluated twice (same reason minhash_lsh_candidates
    # persists its banded frame)
    if n_pool is not None:
        hashed = _pooled_table_bucket_frame(
            spread, "id", "v", dim, n_planes, n_tables, n_pool, seed
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        hashed = spread.select(
            "id",
            F.explode(
                _table_bucket_struct(F.col("v"), dim, n_planes, n_tables, seed)
            ).alias("tb"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    l, r = hashed.alias("l"), hashed.alias("r")
    cand = (
        l.join(r, (F.col("l.tb") == F.col("r.tb")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    # norms are computed ONCE per row before the verify join (identical
    # doubles to a per-pair cosine — sqrt(dot(v,v)) does not depend on
    # where it is evaluated — so the DuckDB oracle is unaffected); the
    # per-pair work drops from three interpreted-HOF dot products to one
    # (measured 3x on the all-pairs baseline)
    nb = base.withColumn("n", _norm(F.col("v"))).filter(F.col("n") > 0)
    va = nb.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = nb.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(sim, 6).alias("__c6"),
            F.round(sim, round_to).alias("cosine_sim"),
        )
        .filter(F.col("__c6") >= threshold)
        .drop("__c6")
    )
    from .dedup import _finalize_release

    return _finalize_release(out, [hashed])


def ivf_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
) -> "IvfIndex":
    """Build the IVF (inverted-file) index once: one distributed KMeans
    fit (pyspark.ml) + one corpus pass assigning bucket ids. Production
    ANN builds the index once and serves many query batches — the split
    from ivf_query makes the build cost amortizable, and IvfIndex.save
    lays the assignments out hive-partitioned by bucket so a probe scan
    prunes to n_probe/n_centroids of the files on disk."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    if train.isEmpty():
        # KMeans.fit on zero rows dies deep in the summarizer with an
        # opaque executor error; an index over nothing is a caller bug
        raise ValueError("ivf_build requires a non-empty corpus")
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__v", predictionCol="bucket"
    ).fit(train.select(array_to_vector(F.col("cv")).alias("__v")))
    assigned = model.transform(
        train.select("neighbor_id", "cv", array_to_vector(F.col("cv")).alias("__v"))
    ).select("neighbor_id", "cv", "bucket")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    # identity limit over the <= n_centroids driver-literal rows: a
    # createDataFrame leaf prints as an unbounded Scan ExistingRDD, so
    # without it every broadcast of this frame reads as a fatal
    # nested-loop join to plans.audit; the GlobalLimit states the O(k)
    # contract in the plan itself
    cent_df = corpus.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], ["bucket", "centroid"]
    ).limit(len(centroids))
    return IvfIndex(assigned=assigned, centroids=cent_df)


def _sq_dist(a, b):
    """Squared L2 via the dot-product identity ||a-b||^2 = a.a - 2a.b + b.b.

    Used (instead of a zip_with (a-b)^2 fold) so the quantity is built
    from the same left-fold dot product DuckDB's list_dot_product
    reproduces bitwise — which makes rankings on it hash-checkable
    cross-engine (see similarity_topk's oracle note). Only ever used for
    ORDER BY, where the identity's different rounding error is harmless.
    """
    return _dot(a, a) - 2 * _dot(a, b) + _dot(b, b)


def ivf_build_fixed(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> "IvfIndex":
    """Deterministic IVF build — the hash-checkable flavor of ivf_build.

    Centroids are the n_centroids corpus vectors with the smallest
    portable 60-bit hash of their id (('0x'||substr(md5(id),1,15)) in
    DuckDB terms) — i.e. a uniform deterministic sample, the classic
    "random seeds" KMeans init without the iterations. Bucket quality is
    that of seed-init IVF (fine for candidate pruning, weaker than a
    fitted KMeans); in exchange every step is closed-form, so the whole
    index and any query over it reproduce bit-for-bit in any engine.

    Scale shape matches ivf_build: the centroid pick is a
    TakeOrderedAndProject over (hash, id) — O(n_centroids) per
    partition, never a global sort — and assignment is one corpus pass
    against the broadcast centroid table with a per-vector argmin
    window (partitioned by vector id, so no skew).
    """
    c, cent_df, cent_rows = _ivf_fixed_centroids(
        corpus, id_col, vec_col, n_centroids
    )
    return IvfIndex(
        assigned=_assign_buckets(c, cent_df, _cent_rows=cent_rows),
        centroids=cent_df,
    )


def _ivf_fixed_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
):
    """The md5-seeded deterministic centroid pick of
    :func:`ivf_build_fixed`, without the corpus assignment: returns
    (projected corpus, driver-literal centroid frame, centroid rows).
    Split out so callers that only need the centroids (e.g.
    ``semantic_dedup_pairs_against``) skip building the discarded
    assignment expression."""
    # NO frame-level null filter here: a filter on the vector column
    # would force the id-only seed job below to COMPUTE the vectors
    # (defeating its pruning) when they come from a computed pipeline
    # like hashed_embeddings; null vectors are instead dropped on the
    # driver when the k seed rows materialize
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    h = md5_int(F.md5(F.col("neighbor_id").cast("string")))
    # Two bounded driver jobs instead of a lazy seed subtree: (1) the k
    # seed IDS from an id-only TakeOrdered — the vector-producing
    # subtree (e.g. a hashed_embeddings pipeline) prunes away entirely;
    # (2) the k seed VECTORS behind an IN filter that pushes below the
    # vector computation to the scan. A lazy cent_df re-executed the
    # full vector subtree once per broadcast (the double-evaluation
    # class semantic_dedup_pairs_against's materialize-once comment
    # documents) — measured 2x the corpus pass on hashed-embedding
    # corpora. Python-float roundtrip is IEEE exact, so oracles that
    # inline the seed pick still match bitwise.
    seed_ids = [
        r["neighbor_id"]
        for r in c.select("neighbor_id")
        .withColumn("__h", h)
        .orderBy("__h", "neighbor_id")
        .limit(n_centroids)
        .collect()
    ]
    vec_rows = (
        c.filter(F.col("neighbor_id").isin(seed_ids)).collect() if seed_ids else []
    )
    # a NULL-vector id can land in the seed pick (its hash is on the id
    # alone): it cannot be a centroid — drop it here and renumber
    # compactly in hash order, deterministic either way
    by_id = {r["neighbor_id"]: r["cv"] for r in vec_rows}
    seeds = [
        (v, [float(x) for x in by_id[v]])
        for v in seed_ids
        if by_id.get(v) is not None
    ]
    cent_rows = [(i, cv) for i, (_, cv) in enumerate(seeds)]
    # identity limit (see ivf_build): marks the driver-literal frame as
    # O(k) in the plan so its broadcasts audit as the bounded idiom
    cent_df = corpus.sparkSession.createDataFrame(
        cent_rows, "bucket int, centroid array<double>"
    ).limit(max(len(cent_rows), 1))
    return c, cent_df, cent_rows


def _sql_double_array(vals) -> str:
    """SQL literal for array<double> built as ONE expression string:
    repr(float) is the shortest round-trip form, so the parser recovers
    the exact same double — and one F.expr call replaces thousands of
    per-element F.lit py4j round trips (measured ~2.6 s of pure driver
    traffic for 64 x 64-dim centroids).

    Non-finite components (a NaN input embedding can carry NaN through a
    Lloyd mean into a centroid) render as string-literal casts —
    ``CAST('NaN' AS DOUBLE)`` — because a bare ``inf``/``nan`` token
    fails SQL parsing with an opaque AnalysisException."""

    def one(x) -> str:
        x = float(x)
        if x != x:
            return "CAST('NaN' AS DOUBLE)"
        if x == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if x == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return f"CAST({x!r} AS DOUBLE)"

    return "array(" + ",".join(one(x) for x in vals) + ")"


def _assign_buckets(
    c: DataFrame, cent_df: DataFrame, _cent_rows: list | None = None
) -> DataFrame:
    """Argmin centroid assignment: (neighbor_id, cv) -> (neighbor_id,
    cv, bucket), entirely SCAN-STAGE. ``cent_df`` is O(k)-bounded by
    contract at every call site (driver-literal seed/Lloyd tables, or a
    loaded O(k) centroid parquet), so it collects here and the argmin
    becomes one literal fold expression per row — no row blowup, no
    exchange.

    The previous shape (broadcast crossJoin to k x corpus rows + a
    per-vector row_number window) carried every vector k times through
    a hash-partition + sort: the dominant shuffle of the whole SemDeDup
    pipeline at sf0.1 and a k x corpus-bytes shuffle at 100 TB. The fold
    keeps bit-identical semantics: dist is the same _sq_dist dot-product
    identity (the centroid self-dot folds in Python — a strict left fold
    over the same doubles, IEEE-identical to F.aggregate), ties keep the
    LOWEST bucket (the fold's strict-less keeps the earlier element of
    the bucket-ordered array = the old orderBy(dist, bucket) row_number
    tie-break), and a NULL vector keeps bucket 0 (NULL dist comparisons
    are false, so the init element survives — the old nulls-first sort).
    """
    rows = sorted(
        ((int(r["bucket"]), [float(x) for x in r["centroid"]]) for r in cent_df.collect())
        if _cent_rows is None
        else _cent_rows
    )
    if not rows:
        return c.select(
            "neighbor_id", "cv", F.lit(0).cast("int").alias("bucket")
        ).limit(0)

    def py_dot(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return acc

    # ONE compact expression: the k centroids ride in as three literal
    # arrays (vectors / self-dots / bucket ids) and a single transform
    # lambda produces the per-centroid dist structs, so the Python-side
    # tree is O(1) regardless of k (per-centroid Column construction
    # cost ~5 s of py4j traffic at k=64 before this). array_min's struct
    # ordering — (dist, bucket) field-wise, NULL dist first, NaN last —
    # reproduces the old orderBy(dist, bucket) row_number pick including
    # the NULL-vector -> lowest-bucket convention. The centroid self-dot
    # folds in Python (py_dot): a strict left fold over the same
    # doubles, IEEE-identical to the _sq_dist _dot(b, b) term.
    cents_lit = F.expr(
        "array(" + ",".join(_sql_double_array(cent) for _, cent in rows) + ")"
    )
    selfdots_lit = F.expr(_sql_double_array(py_dot(cent) for _, cent in rows))
    buckets_lit = F.expr(
        "array(" + ",".join(str(int(b)) for b, _ in rows) + ")"
    )
    cc = _dot(F.col("cv"), F.col("cv"))
    cands = F.transform(
        cents_lit,
        lambda cent, i: F.struct(
            (
                cc
                - 2 * _dot(F.col("cv"), cent)
                + F.element_at(selfdots_lit, i.cast("int") + 1)
            ).alias("dist"),
            F.element_at(buckets_lit, i.cast("int") + 1).cast("int").alias("bucket"),
        ),
    )
    best = F.array_min(cands)
    return c.select("neighbor_id", "cv", best["bucket"].alias("bucket"))


def ivf_build_kmeans(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iter: int = 2,
    scale: int = 1_000_000,
) -> "IvfIndex":
    """Fitted deterministic IVF: ivf_build_fixed's md5 seed pick refined
    by ``n_iter`` exact-integer Lloyd iterations (functions/clustering.py
    kmeans_fit) — the bucket quality of a trained KMeans with the
    bit-reproducibility of the fixed flavor, so the index still
    hash-checks in any engine.

    Assignment reuses the fit's own argmin implementation
    (clustering._assign with the corpus vector carried through), so the
    bucket memberships are bit-identical to the fit by construction —
    one shared definition of the quantization, distance, and tie-break.
    The probe-side centroid table carries micro-units/scale doubles
    (exact-input IEEE division, reproducible everywhere). Scale shape:
    one corpus pass against the broadcast centroid table per Lloyd
    iteration plus one for the final assignment; driver state stays
    O(k*dim)."""
    from .clustering import _assign, kmeans_fit

    cents = kmeans_fit(
        corpus, k=n_centroids, n_iter=n_iter, id_col=id_col,
        vec_col=vec_col, scale=scale,
    )
    spark = corpus.sparkSession
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * scale).cast("bigint"),
        ).alias("q"),
    )
    assigned = _assign(c, cents, carry=("cv",)).select(
        F.col("id").alias("neighbor_id"), "cv", F.col("cid").alias("bucket")
    )
    cent_df = spark.createDataFrame(
        [(cid, [x / scale for x in cq]) for cid, cq in sorted(cents.items())],
        "bucket int, centroid array<double>",
    ).limit(len(cents))
    return IvfIndex(assigned=assigned, centroids=cent_df)


class IvfIndex:
    """(assigned: neighbor_id, cv, bucket) + (centroids: bucket, centroid)."""

    def __init__(self, assigned: DataFrame, centroids: DataFrame):
        self.assigned = assigned
        self.centroids = centroids

    def save(self, path: str, mode: str = "error") -> None:
        """Persist hive-partitioned by bucket: a loaded index's probe
        scan prunes to the probed buckets' directories (PartitionFilters
        at the parquet source — the property that makes a billion-vector
        index servable). ``mode`` follows the persisted dedup indexes'
        rules (``dedup._save_writes``): ``error`` raises when an index is
        at ``path``, ``ignore`` then writes nothing, ``overwrite``
        refuses an index whose rows are read from ``path``, and
        ``append`` is rejected (grow a saved index with
        :meth:`append_save`)."""
        from .dedup import _save_writes

        markers = ("assigned", "centroids")
        if _save_writes("IvfIndex", path, mode, markers, (self.assigned, self.centroids)):
            self.assigned.write.mode("overwrite").partitionBy("bucket").parquet(
                f"{path}/assigned"
            )
            self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        return cls(
            assigned=spark.read.parquet(f"{path}/assigned"),
            centroids=spark.read.parquet(f"{path}/centroids"),
        )

    def _assign_new(
        self, vectors: DataFrame, id_col: str, vec_col: str, dedup_ids: bool
    ) -> DataFrame:
        new_assigned = _assign_buckets(
            vectors.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("cv"),
            ),
            self.centroids,
        )
        if dedup_ids:
            # re-running the same batch (e.g. retry after a partial
            # failure) must not append duplicate rows that would inflate
            # ivf_query candidate sets with duplicate neighbors. The
            # anti-join's corpus side is column-pruned to neighbor_id —
            # one narrow scan of the assignments, no rewrite.
            new_assigned = new_assigned.join(
                self.assigned.select("neighbor_id"), "neighbor_id", "left_anti"
            )
        return new_assigned

    def add(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dedup_ids: bool = True,
    ) -> "IvfIndex":
        """Incremental ingestion: assign new vectors to the EXISTING
        centroids and return an index containing both — the standard IVF
        maintenance contract (centroids are fixed at build time; bucket
        quality degrades only if the data distribution drifts, at which
        point you rebuild). One pass over the new batch against the
        broadcast centroid table; the existing assignments are not
        touched or re-shuffled. ``dedup_ids`` (default) anti-joins the
        batch against already-indexed ids so ingestion is idempotent per
        vector id; pass False only when ids are known fresh and the
        narrow assignments scan should be skipped."""
        return IvfIndex(
            assigned=self.assigned.unionByName(
                self._assign_new(vectors, id_col, vec_col, dedup_ids)
            ),
            centroids=self.centroids,
        )

    def append_save(
        self,
        path: str,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dedup_ids: bool = True,
    ) -> "IvfIndex":
        """Ingest a batch INTO a persisted index: assign against the
        saved centroids and APPEND the new rows to the hive-partitioned
        ``assigned`` layout — each batch writes only its own files into
        the affected bucket directories, existing data is never
        rewritten, and probe-time partition pruning keeps working.
        With ``dedup_ids`` (default) already-indexed ids are anti-joined
        out first, so re-running a batch after a partial failure is
        idempotent instead of silently double-indexing those vectors.
        Returns the reloaded (table-backed) index."""
        new_assigned = self._assign_new(vectors, id_col, vec_col, dedup_ids)
        new_assigned.write.mode("append").partitionBy("bucket").parquet(
            f"{path}/assigned"
        )
        return IvfIndex.load(vectors.sparkSession, path)


def ivf_query(
    index: "IvfIndex",
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    round_to: int = 6,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k against a built index: each query probes only
    its n_probe nearest centroid buckets. Centroids (n_centroids x dim)
    and the probed query set are broadcast; the corpus side is filtered
    to the probed buckets BEFORE the join, so a partitioned on-disk index
    reads only those directories.

    ``allowed`` (one-column DataFrame of permitted neighbor ids) makes
    this a filtered-ANN probe: the semi join lands on the bucket-pruned
    assigned rows, before scoring. Pre-filter semantics WITHIN the
    probed buckets — under a selective filter raise ``n_probe`` (the
    standard IVF recall/filter trade-off), or fall back to
    :func:`brute_force_topk` with the same ``allowed`` for exactness."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("bucket"))
    q_probes = (
        q.crossJoin(F.broadcast(index.centroids))
        .withColumn("dist", _sq_dist(F.col("qv"), F.col("centroid")))
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "qv", "bucket")
    )
    probed_buckets = q_probes.select("bucket").distinct()
    assigned = index.assigned
    if allowed is not None:
        ids = allowed.select(F.col(allowed.columns[0]).alias("neighbor_id")).distinct()
        assigned = assigned.join(ids, "neighbor_id", "semi")
    corpus_side = (
        assigned.join(F.broadcast(probed_buckets), "bucket", "semi")
        .withColumn("cn", _norm(F.col("cv")))
        # zero-norm vectors (hashed_embeddings of zero-gram docs) have
        # no cosine: excluded on both sides, or the ANSI division throws
        .filter(F.col("cn") > 0)
    )
    scored = (
        corpus_side.join(
            F.broadcast(
                q_probes.withColumn("qn", _norm(F.col("qv"))).filter(F.col("qn") > 0)
            ),
            "bucket",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", round_to).alias("cosine_sim"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    allowed: DataFrame | None = None,
    n_iter: int = 0,
    round_to: int = 6,
) -> DataFrame:
    """One-shot convenience: build + query. ``n_iter > 0`` fits the
    bit-reproducible Lloyd k-means index (:func:`ivf_build_kmeans` —
    deterministic, hash-checkable cross-engine); ``n_iter = 0`` keeps
    the pyspark.ml KMeans builder (:func:`ivf_build`, seeded but not
    bit-reproducible across Spark versions)."""
    index = (
        ivf_build_kmeans(corpus, id_col, vec_col, n_centroids, n_iter=n_iter)
        if n_iter > 0
        else ivf_build(corpus, id_col, vec_col, n_centroids, seed)
    )
    return ivf_query(
        index, queries, k=k, id_col=id_col, vec_col=vec_col, n_probe=n_probe,
        allowed=allowed, round_to=round_to,
    )


# ---------------------------------------------------------------- centroids
def _settle_computed_input(df: DataFrame) -> DataFrame:
    """Checkpoint a COMPUTED embedding input once, pass a scan through.

    The SemDeDup pipeline consumes its input in several independent jobs
    (the md5 seed pick, the assignment materialization, the survivor
    anti-join) — for a computed input like ``hashed_embeddings`` (a
    tokenize + explode + aggregate subtree) each job re-runs the whole
    computation, which dominated ``text_semantic_dedup_docs`` at sf0.1.
    A plain scan input (parquet embeddings) passes through untouched:
    re-materializing wide array rows that parquet already serves was
    MEASURED SLOWER than recompute (r8 bench note). The plan sniff is
    structural (aggregate/generate/join/window in the optimized plan),
    not name-based."""
    if df.isStreaming:
        return df
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return df
    if any(k in plan for k in ("Aggregate", "Generate", "Join", "Window")):
        return checkpoint_df(fan_out(df))
    return df


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    round_to: int = 6,
    n_iter: int = 0,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540 — cluster embeddings, compare only within
    clusters): (id_a, id_b, cosine_sim) for same-bucket pairs at or
    above ``threshold``. The threshold applies to the 6-decimal cosine
    (single round from raw — the embedding_near_duplicates contract);
    ``round_to`` controls output rounding.

    Buckets come from :func:`ivf_build_fixed`'s md5-seeded deterministic
    centroids with argmin assignment, so the whole pipeline is
    hash-checkable in any engine. Scale shape: the candidate join keys
    on bucket and carries IDS ONLY (work = sum of squared bucket sizes,
    never corpus x corpus; vectors join in once for the verify); at
    100 TB ``n_centroids`` grows with the corpus so bucket sizes stay
    bounded — the same knob as every production SemDeDup. Semantic
    recall caveat (inherent to SemDeDup, not this implementation): a
    near-dup pair split across two buckets is missed; raising
    n_centroids trades recall for cost exactly as in the paper.
    """
    # n_iter > 0 swaps in Lloyd-fitted centroids (ivf_build_kmeans):
    # tighter buckets -> higher within-bucket recall at the same
    # sum-of-squared-bucket-sizes cost, still bit-reproducible
    df = _settle_computed_input(df)
    index = (
        ivf_build_kmeans(df, id_col, vec_col, n_centroids, n_iter=n_iter)
        if n_iter > 0
        else ivf_build_fixed(df, id_col, vec_col, n_centroids)
    )
    # localCheckpoint, not persist: a persist caches the DATA but keeps
    # the full lineage, so every downstream action (candidate join, the
    # verify joins, each pointer-jumping round in duplicate_components)
    # re-ANALYZES the whole upstream plan — for a computed-embedding
    # input like hashed_embeddings that analysis dominated the entry
    # (the r9 text_semantic_dedup_docs bench regression). Truncating to
    # a LogicalRDD leaf makes every downstream plan O(pairs)-sized.
    # Blocks are freed by the ContextCleaner when the frame drops (the
    # duplicate_components labels precedent).
    assigned = index.assigned.transform(checkpoint_df)
    ids = assigned.select("neighbor_id", "bucket")
    l = ids.select(F.col("neighbor_id").alias("id_a"), "bucket")
    r = ids.select(F.col("neighbor_id").alias("id_b"), "bucket")
    cand = l.join(r, "bucket").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    # zero-norm vectors (e.g. hashed_embeddings of zero-gram docs) have
    # no cosine: excluded from the verify sides so the ANSI division
    # can't throw and they can never pair with anything
    an = assigned.withColumn("n", _norm(F.col("cv"))).filter(F.col("n") > 0)
    va = an.select(F.col("neighbor_id").alias("id_a"), F.col("cv").alias("va"), F.col("n").alias("na"))
    vb = an.select(F.col("neighbor_id").alias("id_b"), F.col("cv").alias("vb"), F.col("n").alias("nb"))
    # one HOF dot per pair; norms precomputed per vector (same doubles)
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(sim, 6).alias("__c6"),
            F.round(sim, round_to).alias("cosine_sim"),
        )
        .filter(F.col("__c6") >= threshold)
        .drop("__c6")
    )
    # materialize through the persisted assignment, then release it —
    # same lifecycle pattern as dedup._finalize_release
    from .dedup import _finalize_release

    return _finalize_release(out, [assigned])


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    keep_by=None,
    n_iter: int = 0,
) -> DataFrame:
    """End-to-end SemDeDup: semantic pair discovery → connected
    components → keep one row per duplicate cluster (min id, or the
    ``keep_by``-maximal one — see dedup.keep_best). Returns the
    surviving rows of ``df`` via an anti-join on the non-kept ids,
    strategy left to Catalyst/AQE (the loser set can be arbitrarily
    large on a high-duplication corpus)."""
    from .dedup import _survivors

    # settle HERE too (idempotent — pairs sees a LogicalRDD scan and
    # passes it through): the final survivor join below re-reads df, and
    # for a computed input that was a third full recompute of the
    # embedding subtree
    df = _settle_computed_input(df)
    pairs = semantic_dedup_pairs(df, id_col, vec_col, threshold, n_centroids, n_iter=n_iter)
    return _survivors(df, pairs, id_col, keep_by)


def prototype_scores(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    round_to: int = 6,
    n_iter: int = 0,
) -> DataFrame:
    """Per-vector prototypicality: cosine similarity to the assigned
    cluster centroid — the ranking signal of SSL-prototype / D4-style
    data pruning (Sorscher et al. 2022, arXiv:2206.14486; Tirumala et
    al. 2023, arXiv:2308.12284): examples closest to their cluster
    center are the most redundant, examples far from it the most
    informative. Returns (id, bucket, proto_score).

    Clusters are :func:`ivf_build_fixed`'s md5-seeded deterministic
    centroids, so score and ranking reproduce bit-for-bit in any engine
    (the SemDeDup oracle recipe). Scale shape: one corpus pass against
    the broadcast centroid table (assignment) + one broadcast join back
    for the score — no shuffle wider than the corpus scan. Zero-norm
    vectors are excluded (no cosine — the hashed_embeddings contract),
    and they are ALSO excluded from index building: a zero vector that
    seeded a centroid would sit at distance 1 from every unit vector,
    attract every example whose best real-centroid cosine is below 0.5,
    and then the zn > 0 guard below would silently drop that whole
    bucket instead of the one degenerate vector.
    """
    nz = df.filter(_norm(F.col(vec_col).cast("array<double>")) > 0)
    idx = (
        ivf_build_kmeans(nz, id_col, vec_col, n_centroids, n_iter=n_iter)
        if n_iter > 0
        else ivf_build_fixed(nz, id_col, vec_col, n_centroids)
    )
    cents = idx.centroids.withColumn("zn", _norm(F.col("centroid"))).filter(
        F.col("zn") > 0
    )
    return (
        idx.assigned.withColumn("cn", _norm(F.col("cv")))
        .filter(F.col("cn") > 0)
        .join(F.broadcast(cents), "bucket")
        .select(
            F.col("neighbor_id").alias(id_col),
            "bucket",
            F.round(
                _dot(F.col("cv"), F.col("centroid")) / (F.col("cn") * F.col("zn")),
                round_to,
            ).alias("proto_score"),
        )
    )


def prototype_prune(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prune_fraction: float = 0.3,
    n_centroids: int = 16,
    n_iter: int = 0,
) -> DataFrame:
    """D4-style prototypicality pruning: drop the ``prune_fraction``
    most prototypical (closest-to-centroid) examples of EACH cluster,
    keeping the diverse tail that scaling-law pruning shows carries the
    learning signal. Returns the surviving rows of ``df`` with their
    bucket and 6-decimal proto_score attached. Composes with
    semantic_dedup as in D4 (dedup first, then prune prototypes).

    Per-cluster cut: rank by (6-decimal proto_score desc, id) and drop
    ranks <= floor(prune_fraction * cluster_size) — integer row counts
    and a single raw->6dp round before ranking, so the survivor set is
    exact and hash-checkable cross-engine. The rank window
    partitions by bucket: per-cluster work is (n/k) log(n/k) and
    ``n_centroids`` is the parallelism/skew knob exactly as in
    semantic_dedup (a 100 TB run uses 10^4-10^5 clusters, not 16).
    Vectors with no cosine (zero-norm) have no prototypicality and are
    dropped with the prototypes — filter them upstream to keep them.
    """
    s = prototype_scores(df, id_col, vec_col, n_centroids, round_to=6, n_iter=n_iter)
    w = Window.partitionBy("bucket").orderBy(F.desc("proto_score"), F.col(id_col))
    ranked = s.withColumn("__pr", F.row_number().over(w)).withColumn(
        "__bn", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
    )
    keep = ranked.filter(
        F.col("__pr") > F.floor(F.lit(float(prune_fraction)) * F.col("__bn"))
    ).select(id_col, "bucket", "proto_score")
    return df.join(keep, id_col, "inner")


def semantic_dedup_pairs_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    round_to: int = 6,
    n_iter: int = 0,
) -> DataFrame:
    """Cross-corpus SemDeDup: (new_id, corpus_id, cosine_sim) for every
    new-batch/corpus pair sharing a centroid bucket at or above
    ``threshold`` — the semantic member of the incremental-ingest family
    (exact: ``dedup.dedup_against``; n-gram: ``near_dup_pairs_against``;
    embeddings: this). Centroids come from the CORPUS side only
    (md5-seeded deterministic, :func:`ivf_build_fixed`), so bucket
    boundaries are stable as batches arrive and the whole pipeline
    hash-checks in DuckDB.

    Scale shape: the corpus is assigned once per call (persist the
    index via ``ivf_build_fixed(...).save`` for a real ingest loop);
    the candidate join keys on bucket — work is
    Σ(new_bucket × corpus_bucket), never new × corpus — and norms are
    precomputed per vector, so per-pair work is a single fold dot.
    Same recall caveat as in-corpus SemDeDup: a true pair split across
    buckets is missed; ``n_centroids`` is the recall/cost knob.
    """
    # materialize the <= n_centroids centroid rows ONCE: both sides'
    # _assign_buckets broadcast the centroid frame, and without this the
    # seed subtree (full corpus scan + per-row md5 + TakeOrdered) would
    # re-execute per broadcast — the double-evaluation class the LSH
    # near-dup persist fix addressed. Python-float roundtrip is IEEE
    # exact, so the oracle's inline seed pick still matches bitwise.
    # n_iter > 0 fits the centroids on the CORPUS with the exact-integer
    # Lloyd loop (ivf_build_kmeans) — still corpus-side-only, so bucket
    # boundaries stay stable across arriving batches
    if n_iter > 0:
        cent_rows = [
            (int(r["bucket"]), [float(x) for x in r["centroid"]])
            for r in ivf_build_kmeans(
                corpus_df, id_col, vec_col, n_centroids, n_iter=n_iter
            ).centroids.collect()
        ]
        # identity limit (see ivf_build): marks the driver-literal frame
        # as O(k) in the plan so its broadcasts audit as the bounded idiom
        cent_df = corpus_df.sparkSession.createDataFrame(
            cent_rows, "bucket int, centroid array<double>"
        ).limit(len(cent_rows))
    else:
        # the fixed flavor's centroid pick WITHOUT its corpus assignment
        # (discarded here) — and cent_rows ride to both _assign_buckets
        # calls below, so the driver-literal frame is never re-collected
        _, cent_df, cent_rows = _ivf_fixed_centroids(
            corpus_df, id_col, vec_col, n_centroids
        )
    corp = _assign_buckets(
        corpus_df.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        ),
        cent_df,
        _cent_rows=cent_rows,
    ).withColumn("n", _norm(F.col("cv"))).filter(F.col("n") > 0)
    new = _assign_buckets(
        new_df.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        ),
        cent_df,
        _cent_rows=cent_rows,
    ).withColumn("n", _norm(F.col("cv"))).filter(F.col("n") > 0)
    a = new.select(
        F.col("neighbor_id").alias("new_id"), "bucket",
        F.col("cv").alias("va"), F.col("n").alias("na"),
    )
    b = corp.select(
        F.col("neighbor_id").alias("corpus_id"), "bucket",
        F.col("cv").alias("vb"), F.col("n").alias("nb"),
    )
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "bucket")
        .select(
            "new_id",
            "corpus_id",
            F.round(sim, 6).alias("__c6"),
            F.round(sim, round_to).alias("cosine_sim"),
        )
        .filter(F.col("__c6") >= threshold)
        .drop("__c6")
    )


def semantic_dedup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_iter: int = 0,
) -> DataFrame:
    """New-batch rows with no semantic near-duplicate in the corpus:
    the flagged new-id set (tiny) becomes a broadcast anti-join over the
    batch — the ``dedup_near_against`` shape for embeddings."""
    from .dedup import _flagged_anti_join

    pairs = semantic_dedup_pairs_against(
        new_df, corpus_df, id_col, vec_col, threshold, n_centroids,
        n_iter=n_iter,
    )
    return _flagged_anti_join(new_df, pairs.select("new_id"), id_col)


def group_centroids(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label mean vector: (label, centroid: array<double>).

    Scale shape: posexplode → groupBy(label, pos) avg → re-assemble via
    array_sort(collect_list(struct(pos, m))). Both shuffles key on
    (label, pos) / label with map-side combine, so the exchange carries
    one row per (label, dimension) — never a vector column. The
    interpreted-HOF alternative (aggregate over zipped arrays in a single
    agg) has no partial aggregation and re-evaluates per element."""
    ex = df.select(label_col, F.posexplode(F.col(vec_col).cast("array<double>")))
    per = ex.groupBy(label_col, "pos").agg(F.avg("col").alias("m"))
    return (
        per.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
        .select(label_col, F.col("s.m").alias("centroid"))
    )


def centroid_distances(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Cosine similarity of every vector to its OWN label centroid —
    the embedding-space outlier / mislabel detector (a vector far from
    its cluster centroid is a labeling or embedding anomaly). Centroids
    are one tiny frame (n_labels rows), broadcast onto the corpus scan;
    the per-row cosine is O(dim) expression work."""
    cent = group_centroids(df, vec_col, label_col)
    j = df.select(
        id_col, label_col, F.col(vec_col).cast("array<double>").alias("__v")
    ).join(F.broadcast(cent), label_col)
    # a zero vector (or a label averaging to the zero centroid) has no
    # cosine: NULL, never an ANSI divide-by-zero — this is a per-row
    # scoring op, so the row is kept (unlike the topk/dedup consumers,
    # which drop zero-norm rows from candidate sets)
    denom = _norm(F.col("__v")) * _norm(F.col("centroid"))
    return j.select(
        id_col,
        label_col,
        F.round(
            F.when(denom > 0, _dot(F.col("__v"), F.col("centroid")) / denom),
            round_to,
        ).alias("centroid_cos"),
    )


# ---------------------------------------------------------------- int8 quantization
def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric scalar quantization: (id, codes array<int>,
    scale double) with code = round(qmax * v / max|v|), qmax = 2^(bits-1)-1.

    The 100 TB storage path: int8 codes cut an embedding corpus 4x vs
    float32 (8x vs float64) while cosine similarity is EXACTLY preserved
    up to quantization error — the per-vector scale cancels out of
    cosine, so downstream search can run on the codes alone
    (``quantized_topk``) and never rehydrate floats.

    Zero vectors quantize to all-zero codes with scale 0. All arithmetic
    is a fixed sequence of IEEE ops on the cast doubles, so an external
    SQL engine replaying the expression produces identical codes —
    integer outputs, no float comparisons needed in the oracle.
    """
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vec_col).cast("array<double>")
    # NOTE: maxabs is inlined into the per-element lambda by projection
    # collapse -> O(d^2) per vector. At d<=1024 this is cheap vectorized
    # arithmetic; for very wide vectors materialize maxabs behind a
    # repartition barrier first (operators/partitioning.fan_out).
    maxabs = F.array_max(F.transform(v, F.abs))
    codes = F.when(
        maxabs > 0,
        F.transform(v, lambda x: F.round(x * F.lit(qmax) / maxabs).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        codes.alias("codes"),
        (maxabs / F.lit(qmax)).alias("scale"),
    )


def dequantize_embeddings(
    df: DataFrame, codes_col: str = "codes", scale_col: str = "scale"
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: codes * scale -> array<double>."""
    s = F.col(scale_col)
    return df.withColumn(
        "embedding",
        F.transform(F.col(codes_col), lambda c: c.cast("double") * s),
    )


def quantized_topk(
    corpus_codes: DataFrame,
    query_codes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    round_to: int = 6,
    where=None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine over int8 codes: the per-vector scale cancels
    out of cosine, so the ranking needs ONLY the integer codes — dot
    products and squared norms are exact integer sums (order-independent
    in IEEE doubles below 2^53), making the scores bit-identical in any
    engine. Same broadcast + TakeOrdered shape as ``brute_force_topk``,
    including its ``where``/``allowed`` filtered-search contract.
    Returns (query_id, neighbor_id, rank, cosine_sim)."""
    corpus_codes = _apply_corpus_filter(corpus_codes, id_col, where, allowed)
    dv = lambda col: F.transform(F.col(col), lambda c: c.cast("double"))
    q = query_codes.select(
        F.col(id_col).alias("query_id"), dv(codes_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"), dv(codes_col).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter((F.col("qn") > 0) & (F.col("cn") > 0))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", round_to).alias("cosine_sim"))
    )


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    where=None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Arrow/numpy fast path of :func:`brute_force_topk` — identical
    contract ((query_id, neighbor_id, rank, cosine_sim), self excluded,
    ties by neighbor id), different physics: each Arrow batch of the
    corpus becomes ONE BLAS matmul against the broadcast query matrix
    instead of per-pair expression evaluation.

    This is the documented division of labor for dense math: the
    JVM-expression flavor stays the ORACLE twin (its fold arithmetic is
    reproducible in DuckDB, bit for bit), this flavor is the THROUGHPUT
    twin (BLAS sums in a different order, so its doubles can differ in
    the last bits — equality is asserted up to 1e-9 by the parity test,
    not hashed cross-engine).

    Scale shape: queries collected once (the query set is small by the
    same contract brute_force_topk broadcasts it under); corpus streamed
    through mapInPandas in Arrow batches; each PARTITION emits only its
    own top-k per query (k x n_queries rows), so the final global
    WindowGroupLimit merge sees partitions x queries x k rows — never
    the full similarity matrix."""
    import numpy as np
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    # integral-id contract: ids ride through numpy as int64 inside the
    # matmul kernel; the OUTPUT schema (and both empty early returns)
    # derives from the input id type so int-id corpora round-trip as int
    # (Arrow down-casts the int64 batch safely) and the empty path's
    # schema always equals the non-empty path's (ADVICE r7 low)
    idt = corpus.schema[id_col].dataType
    if not isinstance(idt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"brute_force_topk_arrow requires an integral {id_col!r} "
            f"(got {idt.simpleString()}); use brute_force_topk for other id types"
        )
    _id_ddl = idt.simpleString()
    _empty = [("query_id", "id"), ("neighbor_id", "id"),
              ("rank", "int"), ("cosine_sim", "double")]

    # same filtered-search contract as the JVM flavor: the gate lands
    # before the Arrow scan, so filtered batches stream through matmul
    corpus = _apply_corpus_filter(corpus, id_col, where, allowed)
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return _empty_result(corpus, id_col, _empty)
    # zero-norm / NULL queries have no ranking: dropped, matching the
    # JVM flavor's filters (a whole-job ValueError would abort sibling
    # queries over one blank doc in the batch)
    q_rows = [r for r in q_rows if r[1] is not None]
    qids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    Q = (
        np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
        if q_rows
        else np.zeros((0, 1))
    )
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    keep = qn[:, 0] > 0
    qids, Q, qn = qids[keep], Q[keep], qn[keep]
    if Q.shape[0] == 0:
        return _empty_result(corpus, id_col, _empty)
    Qn = Q / qn

    def part(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            X = np.asarray(pdf["cv"].tolist(), dtype=np.float64)
            xn = np.linalg.norm(X, axis=1)
            # zero-norm corpus rows have no defined cosine: EXCLUDE them
            # (the JVM twin's contract assumes none exist — under ANSI it
            # would raise on the division; silently ranking them anywhere
            # would diverge from it)
            valid = xn > 0
            if not valid.any():
                continue
            ids, X, xn = ids[valid], X[valid], xn[valid]
            S = (X / xn[:, None]) @ Qn.T  # (batch, n_queries)
            top = min(k + 1, S.shape[0])  # +1 absorbs a potential self-match
            out_q, out_n, out_s = [], [], []
            for j in range(S.shape[1]):
                # truncation must respect the FULL ordering contract
                # (-rounded_sim, neighbor_id): argpartition alone keeps
                # an arbitrary subset of rows tied at the cutoff sim,
                # which drops smaller-id neighbors the JVM flavor
                # returns on duplicate-embedding corpora (exactly the
                # data this library targets). Ranking on the ROUNDED sim
                # (not raw) makes the order independent of BLAS's
                # ~1e-9 summation-order noise — raw-sim ranks could swap
                # two near-tied neighbors across engines even though the
                # rounded VALUES match (the oracle ranks on the same
                # rounded quantity). lexsort: last key is primary.
                order = np.lexsort((ids, -np.round(S[:, j], round_to)))[:top]
                out_q.extend([qids[j]] * len(order))
                out_n.extend(ids[order])
                out_s.extend(S[order, j])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    partials = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        # NULL vectors have no cosine and would poison the batch matmul
        # (np.asarray over a list containing None yields an object
        # array); filtered JVM-side so no Python ever sees them — the
        # JVM twin's NULL sims sort last and never reach top-k either
        .filter(F.col("cv").isNotNull())
        .mapInPandas(
            part, schema=f"query_id {_id_ddl}, neighbor_id {_id_ddl}, sim double"
        )
    )
    # rank on the ROUNDED sim so the ordering is a function of values
    # that are bit-identical across engines/BLAS orders; ties break on
    # neighbor_id (total order)
    w = Window.partitionBy("query_id").orderBy(
        F.round("sim", round_to).desc(), F.col("neighbor_id")
    )
    return (
        partials.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("sim", round_to).alias("cosine_sim"),
        )
    )


# ---------------------------------------------------------------- product quantization
def pq_build_fixed(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
) -> DataFrame:
    """Deterministic product-quantization codebook (Jégou et al. 2011):
    split the embedding space into ``m`` equal sub-spaces and give each
    an ``n_codes``-entry codebook. Returns (sub, code, cent) with cent
    an ``dim/m``-long array<double>.

    Like ``ivf_build_fixed``, the "training" is a closed-form seed pick
    instead of per-subspace KMeans: the ``n_codes`` corpus vectors with
    the smallest portable md5 hash of their id donate their s-th
    sub-vector to sub-space s's codebook (codes numbered in hash order).
    Quantization quality is seed-init grade — fine for candidate
    scoring, weaker than fitted KMeans — and in exchange the codebook,
    every encoding, and every ADC ranking reproduce bit-for-bit in the
    DuckDB oracle. ``dim`` must be divisible by ``m``.

    Scale shape: one bounded id-only TakeOrdered for the seed ids, one
    pruned scan for the seed vectors (the ivf_build_fixed recipe —
    the lazy alternative re-runs any computed-vector subtree per use);
    the codebook itself is m*n_codes rows, always broadcastable.
    """
    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    h = md5_int(F.md5(F.col("id").cast("string")))
    seed_ids = [
        r["id"]
        for r in c.select("id").withColumn("__h", h).orderBy("__h", "id").limit(n_codes).collect()
    ]
    rows = c.filter(F.col("id").isin(seed_ids)).collect() if seed_ids else []
    by_id = {r["id"]: r["v"] for r in rows if r["v"] is not None}
    ordered = [by_id[i] for i in seed_ids if i in by_id]
    if not ordered:
        raise ValueError("pq_build_fixed: corpus has no non-null vectors")
    dim = len(ordered[0])
    if dim % m != 0:
        raise ValueError(f"pq_build_fixed: dim {dim} not divisible by m={m}")
    d_sub = dim // m
    spark = corpus.sparkSession
    data = [
        (s, code, list(vec[s * d_sub : (s + 1) * d_sub]))
        for s in range(m)
        for code, vec in enumerate(ordered)
    ]
    # identity limit = the repo's audit idiom for driver-literal frames:
    # it plants a GlobalLimit so scale_audit can PROVE the broadcast
    # build side is bounded (see the _BOUNDED_OPS note in plans/audit.py)
    return spark.createDataFrame(
        data, "sub int, code int, cent array<double>"
    ).limit(len(data))


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte-ish codes: per sub-space,
    the codebook entry with the smallest L2 distance to the vector's
    sub-vector (ties on the lower code). Returns the row-form code
    table (id, sub, code) — the shape ADC scoring joins on, and 4-16x
    smaller than the float corpus, which is the PQ storage win at
    100 TB.

    One corpus pass against the broadcast codebook (a bounded
    m*n_codes build side — the ivf assignment shape) with a per
    (vector, sub) argmin window; distances use the dot-product identity
    so both engines rank on bitwise-identical doubles."""
    cb = F.broadcast(codebook)
    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).filter(F.col("v").isNotNull())
    j = c.crossJoin(cb).withColumn(
        "sv", F.slice(F.col("v"), F.col("sub") * F.size("cent") + F.lit(1), F.size("cent"))
    )
    dist = _dot(F.col("sv"), F.col("sv")) - 2 * _dot(F.col("sv"), F.col("cent")) + _dot(
        F.col("cent"), F.col("cent")
    )
    w = Window.partitionBy("id", "sub").orderBy(F.col("__d").asc(), F.col("code").asc())
    return (
        j.withColumn("__d", dist)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("id", "sub", "code")
    )


def _pq_lut(q: DataFrame, codebook: DataFrame, scale: int) -> DataFrame:
    """ADC lookup table (query_id, sub, code, d_int): fixed-point L2^2
    from each query sub-vector to every codebook centroid — shared by
    pq_topk and ivf_pq_topk so the ADC arithmetic (and its oracles)
    cannot desynchronize. ``q`` must carry (query_id, qv)."""
    return (
        q.crossJoin(F.broadcast(codebook))
        .withColumn(
            "qs",
            F.slice(F.col("qv"), F.col("sub") * F.size("cent") + F.lit(1), F.size("cent")),
        )
        .select(
            "query_id",
            "sub",
            "code",
            F.round(
                (
                    _dot(F.col("qs"), F.col("qs"))
                    - 2 * _dot(F.col("qs"), F.col("cent"))
                    + _dot(F.col("cent"), F.col("cent"))
                )
                * F.lit(float(scale))
            )
            .cast("bigint")
            .alias("d_int"),
        )
    )


def _adc_rank(scored: DataFrame, k: int, scale: int) -> DataFrame:
    """Shared ADC ranking tail: per-query row_number over (adc_int,
    neighbor_id), top-k, adc_dist = adc_int/scale rounded to 6dp."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_int").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("adc_int") / F.lit(float(scale)), 6).alias("adc_dist"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: queries stay exact,
    corpus vectors are looked up through their codes — the scan touches
    the compressed code table, never the float corpus. Returns
    (query_id, neighbor_id, rank, adc_dist) with adc_dist the ADC L2^2
    estimate rounded to 6dp, self-matches excluded.

    Distance bookkeeping is fixed-point: each per-sub lookup-table cell
    is rounded to ``1/scale`` and summed as an INTEGER, so the
    per-neighbor total is independent of Spark's partial-aggregation
    order and reproduces exactly in SQL (the integer-cents recipe used
    by every revenue oracle). The quantization error this adds
    (<= m/scale) is far below PQ's own approximation error.

    Scale shape: the lookup table is n_queries * m * n_codes rows
    (broadcast — queries are a bounded probe batch), the ADC join is
    one pass over the code table with map-combining partial sums keyed
    (query, neighbor), and ranking is a bounded per-query window. At
    corpus scale PQ composes with IVF bucketing (probe a few buckets,
    ADC-score inside) — this function is the in-bucket scorer run
    corpus-wide, the honest baseline flavor.
    """
    if codebook is None:
        codebook = pq_build_fixed(corpus, id_col, vec_col, m, n_codes)
    if codes is None:
        codes = pq_encode(corpus, codebook, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).filter(F.col("qv").isNotNull())
    lut = _pq_lut(q, codebook, scale)
    scored = (
        codes.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_int").alias("adc_int"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _adc_rank(scored, k, scale)


# ---------------------------------------------------------------- random projection
def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
    out_col: str | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    vector onto ``out_dim`` seeded Gaussian directions, scaled by
    1/sqrt(out_dim) so expected pairwise squared distances are
    preserved. The front door to the whole similarity stack when the
    source embeddings are wide: a 4x dim cut is a 4x cut in ANN scan
    bandwidth, shuffle bytes, and index size, at a distance distortion
    the JL lemma bounds by the (out_dim, n) trade-off.

    The directions come from the same deterministic LCG+Box-Muller
    generator as the LSH hyperplanes (``_hyperplanes(dim, out_dim,
    seed)``), inlined as literal constants: the projection is a pure
    scan-stage codegen expression — no shuffle, no UDF, no model to
    ship — and every output value reproduces bit-for-bit in SQL
    (list_dot_product parity + one shared scale constant). NULL vectors
    stay NULL. ``out_col`` defaults to replacing ``vec_col``."""
    out_col = out_col or vec_col
    if dim is None:
        first = df.filter(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
        if first is None:
            return df.withColumn(out_col, F.col(vec_col).cast("array<double>"))
        dim = int(first[0])
    planes = _hyperplanes(dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    v = F.col(vec_col).cast("array<double>")
    # one parsed SQL literal per plane (not out_dim x dim F.lit calls) —
    # same doubles (repr round-trip), a fraction of the driver work
    proj = F.array(
        *[
            _dot(v, F.expr(_sql_double_array(p))) * F.lit(scale)
            for p in planes
        ]
    )
    return df.withColumn(
        out_col,
        F.when(v.isNotNull(), proj).otherwise(F.lit(None).cast("array<double>")),
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    scale: int = 1_000_000,
    index: "IvfIndex | None" = None,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the billion-scale ANN composition (Jégou et al. 2011) —
    IVF bucket pruning decides WHICH vectors to look at (n_probe/
    n_centroids of the corpus), PQ codes decide how CHEAPLY to look
    (m small codes per vector instead of the float array). Per query,
    work drops from O(corpus * dim) float math to
    O(corpus * n_probe / n_centroids * m) integer lookups, and the
    scanned bytes shrink by the same two factors — the only ANN shape
    that holds up when neither the vectors nor a full-corpus scan fit
    the latency budget.

    This flavor encodes raw vectors (classic IVFADC encodes residuals
    v - centroid for tighter cells — a quality refinement, same
    skeleton) with the deterministic seed codebooks, so the whole
    pipeline hash-checks in SQL. Returns (query_id, neighbor_id, rank,
    adc_dist), self-matches excluded, fixed-point ADC as in
    ``pq_topk``. Pass a prebuilt ``index``/``codebook``/``codes`` for
    the fit-once / serve-many path (both structures persist —
    IvfIndex.save and any parquet sink for the code table)."""
    if index is None:
        index = ivf_build_fixed(corpus, id_col, vec_col, n_centroids)
    if codebook is None:
        codebook = pq_build_fixed(corpus, id_col, vec_col, m, n_codes)
    if codes is None:
        codes = pq_encode(corpus, codebook, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).filter(F.col("qv").isNotNull())
    probe_w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("bucket"))
    q_probes = (
        q.crossJoin(F.broadcast(index.centroids))
        .withColumn("dist", _sq_dist(F.col("qv"), F.col("centroid")))
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "bucket")
    )
    # candidate pairs: only vectors in the query's probed buckets; the
    # assigned table is pruned to the probed buckets BEFORE the join
    # (partition pruning on a saved index)
    probed_buckets = q_probes.select("bucket").distinct()
    cand = (
        index.assigned.select("neighbor_id", "bucket")
        .join(F.broadcast(probed_buckets), "bucket", "semi")
        .join(F.broadcast(q_probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    lut = _pq_lut(q, codebook, scale)
    scored = (
        codes.withColumnRenamed("id", "neighbor_id")
        .join(cand, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_int").alias("adc_int"))
    )
    return _adc_rank(scored, k, scale)
