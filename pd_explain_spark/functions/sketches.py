"""Fixed-width frequency sketches: count-min over word n-grams, and the
heavy-hitter detector built on it.

The 100 TB problem these solve: "which n-grams are boilerplate?" backs
several curation steps (hot-shingle pruning in dedup, stop-boilerplate
line removal, template detection), but an exact gram count is a shuffle
whose key cardinality GROWS with the corpus — ~10^11 distinct grams at
web scale, most seen once. A count-min sketch (Cormode & Muthukrishnan
2005) replaces that with a fixed ``width x depth`` counter table:

 * build      — one map-combining aggregation whose key space is the
                sketch cell, so the shuffle moves at most
                ``width*depth`` rows PER PARTITION no matter how big
                the corpus is;
 * probe      — ``depth`` broadcast hash joins of the gram stream
                against the per-depth counter tables (each ``width``
                rows), so candidate generation never shuffles the
                corpus at all;
 * re-verify  — CMS never undercounts (every estimate >= the true
                count), so grams the probe rejects are truly below the
                threshold, and one EXACT count over only the surviving
                candidates (a broadcast semi-join, then a bounded
                groupBy) returns the true heavy-hitter set — the sketch
                bounds the work, not the answer.

Hashing is md5-derived (`hashing.md5_int`) so the whole pipeline —
sketch cells, estimates, survivors — reproduces bit-for-bit in the
DuckDB oracle. No reference counterpart (the reference is a tabular
explainer; this extends the training-data family in functions/dedup.py
/ functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.partitioning import fan_out
from .hashing import md5_int
from .text import ngrams_from_tokens, normalized_text


def _gram_occurrences(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """One row per gram OCCURRENCE (duplicates kept — counting
    semantics, unlike the distinct-set ``_shingle_index`` in dedup).

    Tokenization sits behind the ``fan_out`` repartition barrier (the
    _shingle_index recipe): without it, projection collapse inlines the
    split+filter into every n-gram slice — O(tokens^2) per doc,
    interpreted — and a small parquet arrives as ONE partition so the
    whole corpus tokenizes on a single thread (measured: the 3
    occurrence passes dominated cms_heavy_grams at 6.7 s each)."""
    toks_df = fan_out(
        df.select(
            F.col(id_col).alias("id"),
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda x: x != "",
            ).alias("toks"),
        )
    )
    return toks_df.select(
        "id", F.explode(ngrams_from_tokens(F.col("toks"), n)).alias("gram")
    )


def _cms_bucket(gram, depth_idx: int, width: int):
    """Counter column for hash row ``depth_idx``: md5("<gram>-<d>")
    truncated to 60 bits, mod width. DuckDB mirror:
    ``('0x' || substr(md5(gram || '-<d>'), 1, 15))::BIGINT % width``."""
    return md5_int(F.md5(F.concat_ws("-", gram, F.lit(str(depth_idx))))) % F.lit(
        width
    )


def cms_build(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    width: int = 4096,
    depth: int = 4,
) -> DataFrame:
    """Count-min sketch of the corpus's word ``n``-gram occurrence
    counts: (depth, bucket, count) with exactly the non-empty cells
    (absent cell = 0). The aggregation key is the CELL, so partial
    (map-side) aggregation collapses every partition to <= width*depth
    rows before the shuffle — the sketch cost is independent of corpus
    size, which is the entire point at 100 TB."""
    occ = _gram_occurrences(df, text_col, id_col, n)
    cells = occ.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _cms_bucket(F.col("gram"), d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("cell")
    ).select("cell.depth", "cell.bucket")
    return cells.groupBy("depth", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("count")
    ).select(
        "depth",
        # params ride as column metadata (survives parquet) so a
        # fit-once sketch probed with other (width, depth) fails loud in
        # cms_heavy_grams instead of silently zeroing estimates
        F.col("bucket").alias("bucket", metadata={"width": width, "depth": depth}),
        "count",
    )


def cms_heavy_grams(
    df: DataFrame,
    min_count: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    width: int = 4096,
    depth: int = 4,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Exact heavy hitters with sketch-bounded work: every word
    ``n``-gram whose true occurrence count >= ``min_count``, as
    (gram, est_count, exact_count).

    Three stages, none of which shuffles the gram stream on the gram:

      1. sketch (``cms_build`` or a caller-supplied one — fit-once /
         probe-many, e.g. a sketch maintained across ingest batches);
      2. probe: ``depth`` broadcast joins attach each occurrence's
         per-depth cell counts; est = least() of them; rows below
         ``min_count`` drop in the scan stage. Because CMS only ever
         OVERcounts, nothing below threshold survives to stage 3 and no
         true heavy hitter is lost;
      3. exact re-verify: distinct surviving grams (a tiny set — true
         heavy hitters plus hash-collision inflatees) are counted
         exactly via one bounded groupBy, and collision inflatees are
         dropped. Same prune-then-verify shape as the hot-shingle path
         in dedup.py.

    ``width`` trades sketch size against collision inflation (inflation
    only costs stage-3 work, never correctness); ``depth`` drives the
    over-estimate probability down exponentially."""
    if min_count < 1:
        raise ValueError("cms_heavy_grams: min_count must be >= 1")
    sk = sketch if sketch is not None else cms_build(
        df, text_col, id_col, n, width, depth
    )
    # the sketch is BOUNDED (<= width*depth rows) but its subtree is a
    # full corpus aggregation — left lazy, the depth broadcasts below
    # plus the two consumers of `cand` would re-run that corpus pass up
    # to 2*depth times (measured 14.7 s -> 4.9 s at sf0.1). Materialize
    # it once on the driver; the identity limit() keeps scale_audit able
    # to prove the broadcast build sides bounded (the ivf_build idiom).
    spark = df.sparkSession
    sk_rows = [(r["depth"], r["bucket"], r["count"]) for r in sk.collect()]
    # a sketch built with other (width, depth) makes the probe silently
    # WRONG (bucket arithmetic mismatches -> est collapses to 0 and true
    # heavy hitters vanish from the "exact" result) — fail loud instead.
    # The rows are already on the driver, so the check is free; every
    # cms_build sketch also carries its params as column metadata.
    meta = sk.schema["bucket"].metadata if "bucket" in sk.columns else {}
    if meta and (meta.get("width") != width or meta.get("depth") != depth):
        raise ValueError(
            f"cms_heavy_grams: sketch was built with width={meta.get('width')} "
            f"depth={meta.get('depth')}, probe asked width={width} depth={depth}"
        )
    if sk_rows:
        seen_depths = {r[0] for r in sk_rows}
        if max(seen_depths) >= depth or max(r[1] for r in sk_rows) >= width:
            raise ValueError(
                "cms_heavy_grams: sketch cells exceed the probe's "
                f"width={width}/depth={depth} — built with different params"
            )
        if seen_depths != set(range(depth)):
            raise ValueError(
                f"cms_heavy_grams: sketch covers depths {sorted(seen_depths)}, "
                f"probe expects all of 0..{depth - 1}"
            )
    # fold the collected sketch into DENSE per-depth array LITERALS and
    # probe with element_at instead of `depth` broadcast left-joins: the
    # sketch is <= width*depth cells already on the driver, so the whole
    # probe becomes ONE scan-stage expression — no createDataFrame job,
    # no BroadcastExchange per depth, no join at all (guide §2.4/§7.3;
    # the same fold-the-small-side-into-literals move as the LSH plane
    # arrays). Absent cells are true zeros in CMS, so the dense arrays
    # preserve the old left-join + coalesce(0) semantics exactly.
    dense = [[0] * width for _ in range(depth)]
    for d_, b_, c_ in sk_rows:
        dense[d_][b_] = c_
    occ = _gram_occurrences(df, text_col, id_col, n)
    est_cols = [
        F.element_at(
            F.lit(dense[d]).cast("array<bigint>"),
            _cms_bucket(F.col("gram"), d, width).cast("int") + 1,
        )
        for d in range(depth)
    ]
    cand = (
        occ.withColumn("est_count", F.least(*est_cols).cast("bigint"))
        .filter(F.col("est_count") >= F.lit(min_count))
        .select("gram", "est_count")
        .distinct()
        # consumed twice (exact's build side + the final join) — persist
        # so the probe pass over the corpus runs once, released after
        # the checkpointed result materializes
        .persist()
    )
    exact = (
        occ.join(F.broadcast(cand.select("gram")), "gram")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        .filter(F.col("exact_count") >= F.lit(min_count))
    )
    out = cand.join(exact, "gram").select("gram", "est_count", "exact_count")
    from .dedup import _finalize_release

    return _finalize_release(out, [cand])


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the SAME (n, width, depth,
    text normalization): cell-wise sum. CMS is a linear sketch, so the
    merged table equals the sketch of the concatenated corpora — the
    property that makes per-shard / per-day sketches combinable without
    ever re-scanning history. Cost: a union of bounded (width*depth)
    tables + one bounded groupBy."""
    if not sketches:
        raise ValueError("cms_merge: need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("depth", "bucket").agg(
        F.sum("count").cast("bigint").alias("count")
    )


# ---------------------------------------------------------------- bloom filter
def _bloom_positions(fp, k_hashes: int, m_bits: int):
    """array of the k bit positions for one fingerprint. DuckDB mirror:
    ``('0x' || substr(md5(fp || '-<i>'), 1, 15))::BIGINT % m_bits``."""
    return F.array(
        *[
            md5_int(F.md5(F.concat_ws("-", fp, F.lit(str(i))))) % F.lit(m_bits)
            for i in range(k_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 262144,
    k_hashes: int = 4,
) -> DataFrame:
    """Sparse Bloom filter of the corpus's normalized-text fingerprints:
    the DISTINCT set of bit positions, one row per set bit (pos
    bigint). At most ``m_bits`` rows no matter how big the corpus —
    the bounded membership state that lets a daily ingest batch ask
    "which of these documents is definitely new?" without touching the
    corpus at all. NULL-text rows set no bits (they are never corpus
    members). Persist it like any small table and OR new days in with
    ``bloom_merge``.

    The build is one corpus pass: fingerprint (scan-stage md5), k
    position expressions, explode, distinct — partial aggregation
    collapses each partition to <= m_bits rows before the shuffle,
    the same bounded-state shape as ``cms_build``."""
    fp = F.md5(normalized_text(F.col(text_col)))
    # the NULL guard matters: concat_ws SKIPS null args, so an unguarded
    # position expression would hash a NULL fingerprint as the literal
    # hash-index string and set real bits for contentless rows
    return (
        df.filter(fp.isNotNull())
        .select(F.explode(_bloom_positions(fp, k_hashes, m_bits)).alias("pos"))
        .distinct()
        # params ride as column metadata (survives parquet) so a
        # persisted filter probed with other (m_bits, k_hashes) fails
        # loud instead of silently leaking duplicates
        .select(
            F.col("pos").alias(
                "pos", metadata={"m_bits": m_bits, "k_hashes": k_hashes}
            )
        )
    )


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """OR together Bloom filters built with the same (m_bits, k_hashes):
    union + distinct of the set-bit rows. Like CMS, the Bloom filter is
    mergeable state — per-shard builds combine into the corpus filter
    without rescanning anything."""
    if not blooms:
        raise ValueError("bloom_merge: need at least one bloom")
    out = blooms[0]
    for b in blooms[1:]:
        out = out.unionByName(b)
    return out.distinct()


def bloom_dedup_against(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    bloom: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 262144,
    k_hashes: int = 4,
) -> DataFrame:
    """Incremental exact dedup through a Bloom filter: rows of
    ``new_df`` whose fingerprint misses ANY of its k bits are
    DEFINITELY novel and pass without touching the corpus; only the
    "maybe present" rows (true duplicates + false positives, FP rate
    ~= (1 - e^(-kn/m))^k) go through the exact fingerprint anti-join
    re-verify — the Bloom no-false-negative guarantee means the result
    EQUALS ``dedup_against(new_df, corpus_df)`` (including the internal
    min-id dedup of the batch), while the corpus-side work per batch
    shrinks from "anti-join every row" to "re-verify the maybes".

    Pass a prebuilt/persisted ``bloom`` (fit-once / probe-many across
    ingest days — grow it with ``bloom_merge``); otherwise one is built
    from ``corpus_df``. With ``corpus_df=None`` and a ``bloom``, runs in
    pure-filter mode: maybes are DROPPED unverified — zero corpus
    access, at the cost of losing ~FP-rate of genuinely novel docs
    (acceptable for best-effort crawl thinning, not for an exact
    contract)."""
    if bloom is None:
        if corpus_df is None:
            raise ValueError("bloom_dedup_against: pass corpus_df or bloom")
        bloom = bloom_build(corpus_df, text_col, id_col, m_bits, k_hashes)
    else:
        # a filter built with other (m_bits, k_hashes) breaks the
        # no-false-negative guarantee SILENTLY (true duplicates miss
        # their bits, classify definitely-novel, and skip the re-verify)
        # — fail loud. bloom_build stamps its params as column metadata
        # (parquet-persistent); a metadata-less hand-built filter gets
        # the one cheap structural check we can make (bits past m_bits
        # prove a mismatch; a LARGER-m_bits probe is undetectable — keep
        # the metadata if you persist filters).
        meta = bloom.schema["pos"].metadata if "pos" in bloom.columns else {}
        if meta:
            if meta.get("m_bits") != m_bits or meta.get("k_hashes") != k_hashes:
                raise ValueError(
                    "bloom_dedup_against: bloom was built with "
                    f"m_bits={meta.get('m_bits')} k_hashes={meta.get('k_hashes')}, "
                    f"probe asked m_bits={m_bits} k_hashes={k_hashes}"
                )
        else:
            mx = bloom.agg(F.max("pos").alias("m")).first()["m"]
            if mx is not None and mx >= m_bits:
                raise ValueError(
                    f"bloom_dedup_against: bloom has bit {mx} >= m_bits={m_bits} "
                    "— built with different parameters"
                )
    fp = F.md5(normalized_text(F.col(text_col)))
    probes = new_df.withColumn("__fp", fp)
    # NULL-fingerprint rows probe nothing (no positions, definitely
    # novel) — the left join + coalesce keeps them on the definite path
    hits = (
        probes.filter(F.col("__fp").isNotNull())
        .select(
            id_col,
            F.explode(_bloom_positions(F.col("__fp"), k_hashes, m_bits)).alias(
                "pos"
            ),
        )
        .join(bloom.withColumn("__hit", F.lit(1)), "pos", "left")
        .groupBy(id_col)
        .agg((F.count("__hit") == F.lit(k_hashes)).alias("__maybe"))
    )
    marked = probes.join(hits, id_col, "left").withColumn(
        "__maybe", F.coalesce(F.col("__maybe"), F.lit(False))
    )
    definite = marked.filter(~F.col("__maybe"))
    maybes = marked.filter(F.col("__maybe"))
    if corpus_df is None:
        fresh = definite
    else:
        # exact re-verify: only the maybes pay the corpus fingerprint
        # anti-join; the corpus side is distinct 1-column hashes and the
        # maybe fingerprints push a semi-join-sized shuffle, not the batch
        corpus_fp = corpus_df.select(
            F.md5(normalized_text(F.col(text_col))).alias("__fp")
        ).distinct()
        fresh = definite.unionByName(
            maybes.join(corpus_fp, "__fp", "left_anti")
        )
    # internal min-id dedup of the batch (dedup_against parity); NULL
    # fingerprints are never dropped — each is its own partition
    from pyspark.sql import Window

    from .dedup import _null_safe_key

    w = Window.partitionBy(
        F.col("__fp"), _null_safe_key(F.col("__fp"), id_col)
    ).orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*new_df.columns)
    )


# ------------------------------------------------------------- hyperloglog
def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007's bias-correction constant for m registers."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_rho(v, w_bits: int):
    """Position of the leftmost 1-bit of a ``w_bits``-wide value, with
    rho = w_bits + 1 when all bits are zero. Integer-exact on both
    engines: bit_length(v) = length(bin(v)) for v > 0 (Spark ``bin`` and
    DuckDB ``bin`` both render without leading zeros), so no float log
    ever enters the register math."""
    return F.when(v == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits) - F.length(F.bin(v)) + F.lit(1)
    )


def hll_sketch(
    df: DataFrame,
    value_col: str,
    p: int = 10,
    by: list[str] | None = None,
) -> DataFrame:
    """HyperLogLog registers (Flajolet et al. 2007) for the distinct
    count of ``value_col`` — optionally one sketch per ``by`` group:
    (``*by``, bucket, rho) with rho = max leading-zero rank seen in the
    bucket. At most ``2**p`` rows per group no matter how many values
    stream through — the bounded-state shape that answers "how many
    distinct tokens / fingerprints / urls does this corpus have?" at
    100 TB without a count(DISTINCT) shuffle whose key cardinality IS
    the answer.

    The aggregation key is (group, bucket), so partial aggregation
    collapses every partition to <= m rows per group before the
    shuffle — same bounded-shuffle argument as ``cms_build``. Duplicate
    values land in the same bucket with the same rho, so max() absorbs
    them: the sketch of a corpus equals the sketch of its distinct
    values by construction, no pre-distinct needed.

    Hashing is the engine-portable 60-bit md5 truncation
    (`hashing.md5_int`): bucket = h % m takes the LOW bits, the
    remaining ``60 - p`` HIGH bits (h >> p) feed the leading-zero rank,
    so the two are independent. NULL values hash to nothing (a NULL is
    not a distinct member). ``p`` rides as column metadata so a
    persisted sketch estimated or merged with other params fails loud.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"hll_sketch: p must be in [4, 16], got {p}")
    m = 1 << p
    w_bits = 60 - p
    by = list(by or [])
    h = md5_int(F.md5(F.col(value_col).cast("string")))
    reg = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *by,
            (h % F.lit(m)).alias("bucket"),
            # h >> p, never h / m: float division of a 60-bit value
            # rounds away the low bits the rank is computed from
            _hll_rho(F.shiftright(h, p), w_bits).alias("__rho"),
        )
        .groupBy(*by, "bucket")
        .agg(F.max("__rho").cast("int").alias("rho"))
    )
    return reg.select(
        *by,
        F.col("bucket").alias("bucket", metadata={"p": p}),
        "rho",
    )


def _hll_check_p(sketch: DataFrame, p: int | None) -> int:
    meta = sketch.schema["bucket"].metadata if "bucket" in sketch.columns else {}
    if p is None:
        if not meta or "p" not in meta:
            raise ValueError(
                "hll: sketch carries no precision metadata — pass p explicitly"
            )
        return int(meta["p"])
    if meta and meta.get("p") != p:
        raise ValueError(
            f"hll: sketch was built with p={meta.get('p')}, asked p={p} — "
            "register arithmetic would be silently wrong"
        )
    return p


def hll_merge(*sketches: DataFrame, p: int | None = None) -> DataFrame:
    """Merge HLL sketches built with the SAME p (and the same ``by``
    columns): bucket-wise max. Like CMS and Bloom, the register table is
    mergeable state — per-shard / per-day sketches combine into the
    corpus sketch without rescanning anything, and the merged table
    EQUALS the sketch of the concatenated corpora (max is associative,
    commutative, idempotent — re-merging a shard twice is a no-op)."""
    if not sketches:
        raise ValueError("hll_merge: need at least one sketch")
    ps = {_hll_check_p(s, p) for s in sketches}
    if len(ps) > 1:
        raise ValueError(f"hll_merge: mixed precisions {sorted(ps)}")
    pp = ps.pop()
    out = sketches[0]
    keys = [c for c in out.columns if c != "rho"]
    for s in sketches[1:]:
        if [c for c in s.columns if c != "rho"] != keys:
            raise ValueError("hll_merge: sketches have different group columns")
        out = out.unionByName(s)
    merged = out.groupBy(*keys).agg(F.max("rho").cast("int").alias("rho"))
    gb = [k for k in keys if k != "bucket"]
    return merged.select(
        *gb, F.col("bucket").alias("bucket", metadata={"p": pp}), "rho"
    )


def hll_estimate(
    sketch: DataFrame,
    p: int | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Distinct-count estimate from an HLL register table: one row per
    ``by`` group with (est_distinct DOUBLE 4dp, v_zero BIGINT, method).
    Standard error ~= 1.04/sqrt(2**p) (~3.2% at p=10).

    Engine-portable determinism is the design constraint here: the
    harmonic mean sum_j 2^-rho_j is a float sum whose accumulation order
    Spark does not fix, so instead each term is INTEGER-scaled to
    2^(rho_max - rho_j) and summed as a BIGINT — exact, order-free
    (max term 2^(61-p) x 2^p registers = 2^61 < 2^63, no overflow) —
    and the single rescale by 2^-rho_max happens once, after the sum.
    Empty registers never materialize as rows: each contributes a known
    2^rho_max term, folded in algebraically from the non-empty count.
    The small-range branch (E <= 2.5m with empty registers, per
    the paper) switches to linear counting m*ln(m/V), whose one ln sits
    inside a 4-decimal round; large-range correction is unnecessary at
    a 60-bit hash space.

    Cost: the register table is bounded (m rows per group), so every
    step after the sketch is O(groups x m) — the corpus is never
    touched."""
    pp = _hll_check_p(sketch, p)
    m = 1 << pp
    rho_max = (60 - pp) + 1
    by = list(by or [c for c in sketch.columns if c not in ("bucket", "rho")])
    alpha = _hll_alpha(m)
    # empty registers contribute algebraically — each adds 2^rho_max to
    # the scaled sum — so no [0, m) spine or cross join is ever built:
    # the estimate is ONE map-combining groupBy of the register table
    agg = sketch.groupBy(*by).agg(
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), F.lit(rho_max) - F.col("rho")).cast("long")),
            F.lit(0).cast("long"),
        ).alias("__sne"),
        F.count(F.lit(1)).cast("bigint").alias("__k"),
    ).select(
        *by,
        (
            F.col("__sne")
            + (F.lit(m) - F.col("__k")) * F.lit(1 << rho_max).cast("long")
        ).alias("__s"),
        (F.lit(m) - F.col("__k")).cast("bigint").alias("v_zero"),
    )
    raw = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(float(m))
        * F.pow(F.lit(2.0), F.lit(rho_max))
        / F.col("__s").cast("double")
    )
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero").cast("double"))
    use_linear = (raw <= F.lit(2.5 * m)) & (F.col("v_zero") > 0)
    return agg.select(
        *by,
        F.round(F.when(use_linear, linear).otherwise(raw), 4).alias("est_distinct"),
        "v_zero",
        F.when(use_linear, F.lit("linear")).otherwise(F.lit("hll")).alias("method"),
    )


def hll_distinct(
    df: DataFrame,
    value_col: str,
    p: int = 10,
    by: list[str] | None = None,
) -> DataFrame:
    """One-shot sketch + estimate: (``*by``, est_distinct, v_zero,
    method). The composition a monitoring dashboard runs per ingest
    batch; split the stages (``hll_sketch`` persisted + ``hll_merge`` +
    ``hll_estimate``) when the sketch should accumulate across days."""
    return hll_estimate(hll_sketch(df, value_col, p, by), p=p, by=by)


# ------------------------------------------------------- quantile histogram
def _hist_bin(x, lo: float, width: float, n_bins: int):
    """Clamped fixed-grid bin index — the ONE definition shared by the
    histogram build and the refinement filters, so narrowing filters on
    `bin_expr == b` instead of re-deriving float range boundaries (which
    could disagree with the build at the edges)."""
    return F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((x - F.lit(lo)) / F.lit(width)).cast("int")
        ),
    ).cast("int")


def value_histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 4096,
) -> DataFrame:
    """Fixed-grid histogram of ``col`` over [lo, hi]: (bin, cnt) with
    only non-empty bins, values outside the range clamped into the edge
    bins. Like the other sketches in this module the aggregation key is
    the BIN, so every partition collapses to <= n_bins rows before the
    shuffle, and histograms over the same grid are mergeable
    (:func:`histogram_merge`) — per-shard / per-day distribution state
    that never rescans history. Grid params ride as column metadata so
    mismatched merges fail loud."""
    if not (hi >= lo) or n_bins < 1:
        raise ValueError("value_histogram: need hi >= lo and n_bins >= 1")
    width = (hi - lo) / n_bins if hi > lo else 1.0
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(_hist_bin(F.col(col), lo, width, n_bins).alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            F.col("bin").alias(
                "bin", metadata={"lo": lo, "hi": hi, "n_bins": n_bins}
            ),
            "cnt",
        )
    )


def histogram_merge(*hists: DataFrame) -> DataFrame:
    """Merge fixed-grid histograms built with the SAME (lo, hi, n_bins):
    bin-wise sum. A linear sketch like CMS — the merged table equals the
    histogram of the concatenated inputs."""
    if not hists:
        raise ValueError("histogram_merge: need at least one histogram")
    metas = []
    for h in hists:
        m = h.schema["bin"].metadata if "bin" in h.columns else {}
        metas.append((m.get("lo"), m.get("hi"), m.get("n_bins")))
    if len(set(metas)) > 1:
        raise ValueError(
            "histogram_merge: mixed grids "
            f"{sorted(set(metas), key=str)}"  # key=str: metadata-less
            # histograms yield None entries, unorderable against floats
        )
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    lo, hi, n_bins = metas[0]
    merged = out.groupBy("bin").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    if lo is None:
        return merged
    return merged.select(
        F.col("bin").alias("bin", metadata={"lo": lo, "hi": hi, "n_bins": n_bins}),
        "cnt",
    )


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    n_bins: int = 4096,
    max_collect: int = 65536,
    max_rounds: int = 6,
) -> DataFrame:
    """EXACT order statistics without a global sort: for each q in
    ``qs``, the value at rank ceil(q * N) (1-indexed, NULLs excluded)
    of the sorted column — what ``orderBy(col).limit(rank)`` would
    find, computed with histogram pruning instead.

    Why not sort: a global sort range-shuffles the ENTIRE table (at
    100 TB that is the whole corpus through one exchange); an
    approxQuantile answers fast but is not an answer you can hash. This
    is the prune-then-verify shape the sketch family uses everywhere:

      1. one agg for (min, max, count);
      2. one fixed-grid histogram pass (shuffle bounded by n_bins) —
         the driver cumsum locates each rank's bin;
      3. per target bin, narrow by re-histogramming INSIDE the bin
         (filter on the shared bin expression — a cheap scan-stage
         predicate, shuffle again bounded by n_bins) until the bin
         holds <= ``max_collect`` rows or ``max_rounds`` is hit (each
         round divides the width by n_bins, so real data terminates in
         1-2 rounds); when pending ranks diverge into DIFFERENT
         sub-bins, each sub-bin narrows independently (a worklist, not
         a shared cursor), so one wide parent bin never forces an
         oversized collect;
      4. collect ONLY that bin's distinct (value, count) rows —
         bounded — and read the exact rank off the driver-side walk.

    Every scan is a full pass (the bin predicate cannot push down as a
    parquet range), so cost is O(rounds) scans + O(n_bins) shuffles —
    but nothing ever globally sorts, and no partition ever holds more
    than its share of one histogram. Returns (q DOUBLE, value <col
    type>), one row per q, in the input order of ``qs``."""
    import math

    if not qs:
        raise ValueError("exact_quantiles: qs must be non-empty")
    if any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"exact_quantiles: qs must be in [0, 1], got {qs}")
    spark = df.sparkSession
    vtype = df.schema[col].dataType.simpleString()
    out_schema = f"q double, value {vtype}"
    from pyspark.storagelevel import StorageLevel

    # stats, the top-level histogram, each refinement round and the
    # final distinct-value collect all consume `vals` — unpersisted,
    # every one re-executes whatever upstream pipeline produced df
    # (the ngram_jaccard_pairs persist rationale)
    vals = (
        # spread before persisting: the histogram passes below re-scan
        # this cache once per refinement round, and a single-split input
        # (one-row-group file) would pin every pass to one task — no-op
        # when the upstream is already parallel (guide §2.2)
        fan_out(df.filter(F.col(col).isNotNull()).select(F.col(col).alias("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = vals.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("v").alias("n")
    ).first()
    n = int(stats["n"])
    if n == 0:
        vals.unpersist()
        return spark.createDataFrame([], out_schema)
    if stats["lo"] == stats["hi"]:  # single distinct value: every
        # quantile is it (compare RAW values — float() collapses 64-bit
        # integers beyond 2^53 and would misreport distinct ids as one)
        one = stats["lo"]
        vals.unpersist()
        return spark.createDataFrame([(float(q), one) for q in qs], out_schema)
    lo, hi = float(stats["lo"]), float(stats["hi"])
    if hi == lo:
        # raw values DIFFER (checked above) but collapse to one double
        # (64-bit integers beyond 2^53): binning cannot separate them,
        # so force a positive width — everything lands in few bins and
        # the exact distinct-value walk (which compares RAW values)
        # resolves the ranks. max(1.0, ulp): at that magnitude lo + 1.0
        # can still equal lo
        hi = lo + max(1.0, math.ulp(lo))

    def _ranks():
        return {q: max(1, math.ceil(float(q) * n)) for q in qs}

    # stage 2: top-level histogram, cumsum on the driver (n_bins rows)
    width = (hi - lo) / n_bins
    top = {
        r["bin"]: r["cnt"]
        for r in vals.groupBy(
            _hist_bin(F.col("v"), lo, width, n_bins).alias("bin")
        ).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    answers: dict[float, object] = {}
    # group the still-unanswered qs by the bin their rank lands in
    def _locate(hist: dict, rank: int):
        cum = 0
        for b in sorted(hist):
            cum += hist[b]
            if cum >= rank:
                return b, cum - hist[b]  # bin, rows before it
        raise AssertionError("rank beyond histogram mass")

    targets: dict[int, list[tuple[float, int]]] = {}
    for q, r in _ranks().items():
        b, before = _locate(top, r)
        targets.setdefault(b, []).append((q, r - before))
    # worklist item: an UNfiltered parent frame + its grid (lo, width)
    # and the pending target bins inside it {bin: (rows_in, wants)}.
    # Keeping a frame's bins together lets each driver round run ONE
    # isin-filtered aggregate over the shared frame instead of one job
    # per bin — with k quantile targets the per-bin loop paid k fixed
    # job costs per depth for tiny disjoint aggregates (guide §1.2).
    # Divergent ranks still narrow independently (per-bin child items,
    # the r8 ADVICE fix), and every driver collect keeps its bound:
    # leaf packs total <= max_collect rows, sub-histogram chunks
    # <= max(max_collect, n_bins) rows.
    work: list[tuple] = [
        (vals, lo, width, {b: (top[b], w) for b, w in targets.items()}, 0)
    ]
    while work:
        frame, flo, fwidth, bin_targets, rounds = work.pop()
        leaf_bins: dict[int, tuple[int, list]] = {}
        ref_bins: dict[int, list] = {}
        for b, (rows_in, wants) in sorted(bin_targets.items()):
            if rows_in > max_collect and fwidth > 0 and rounds < max_rounds:
                ref_bins[b] = wants
            else:
                leaf_bins[b] = (rows_in, wants)
        binexpr = _hist_bin(F.col("v"), flo, fwidth, n_bins)
        # stage 4: exact distinct-value walk — leaf bins pack so each
        # collect stays <= max_collect rows (an oversized forced leaf
        # still collects alone, exactly as the per-bin loop did)
        packs: list[list[int]] = []
        pack_rows = 0
        for b, (rows_in, _w) in sorted(
            leaf_bins.items(), key=lambda kv: kv[1][0]
        ):
            if packs and pack_rows + rows_in <= max_collect:
                packs[-1].append(b)
                pack_rows += rows_in
            else:
                packs.append([b])
                pack_rows = rows_in
        for pack in packs:
            got = (
                frame.select(binexpr.alias("__b"), "v")
                .filter(F.col("__b").isin([int(b) for b in pack]))
                .groupBy("__b", "v")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
            per: dict[int, list] = {}
            for r in got:
                per.setdefault(r["__b"], []).append((r["v"], r["c"]))
            for b in pack:
                vc = sorted(per.get(b, []))
                for q, local_rank in leaf_bins[b][1]:
                    cum = 0
                    for v, c in vc:
                        cum += c
                        if cum >= local_rank:
                            answers[q] = v
                            break
        if not ref_bins:
            continue
        # stage 3: re-histogram every oversized bin of this frame in one
        # pass. The sub-grid origin flo + b*fwidth is evaluated with the
        # same two IEEE binary64 ops in SQL (per row, b as a column) and
        # in Python (for the child's scalar origin below), so a boundary
        # value lands in the same sub-bin in the count and in the
        # child's narrowing filter — the float-identity caveat the
        # per-bin loop documented still holds.
        sub_width = fwidth / n_bins
        chunk = max(1, max(max_collect, n_bins) // n_bins)
        refs = sorted(ref_bins)
        for ci in range(0, len(refs), chunk):
            bs = refs[ci : ci + chunk]
            sub_origin = (
                F.lit(flo) + F.col("__b").cast("double") * F.lit(fwidth)
            )
            subexpr = F.least(
                F.lit(n_bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("v") - sub_origin) / F.lit(sub_width)
                    ).cast("int"),
                ),
            ).cast("int")
            got = (
                frame.select(binexpr.alias("__b"), "v")
                .filter(F.col("__b").isin([int(b) for b in bs]))
                .select("__b", subexpr.alias("__sb"), "v")
                .groupBy("__b", "__sb")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
            hists: dict[int, dict[int, int]] = {}
            for r in got:
                hists.setdefault(r["__b"], {})[r["__sb"]] = r["cnt"]
            for b in bs:
                sub = hists.get(b, {})
                by_sb: dict[int, list] = {}
                for q, lr in ref_bins[b]:
                    sb, before = _locate(sub, lr)
                    by_sb.setdefault(sb, []).append((q, lr - before))
                work.append((
                    frame.filter(binexpr == F.lit(int(b))),
                    flo + b * fwidth,
                    sub_width,
                    {sb: (sub[sb], sw) for sb, sw in by_sb.items()},
                    rounds + 1,
                ))
    vals.unpersist()  # answers are driver-side literals by now
    return spark.createDataFrame(
        [(float(q), answers[q]) for q in qs], out_schema
    )


def grouped_exact_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    by: list[str],
) -> DataFrame:
    """Per-group EXACT order statistics, entirely in one Spark plan (no
    driver loop): for every group and every q, the value at rank
    ceil(q * N_group) of the group's sorted column (NULLs excluded).
    Returns (``*by``, q DOUBLE, value) — the per-language median /
    p90-length dashboard shape.

    Plan shape: the column compresses to a per-(group, value) count
    table first (one map-combining shuffle keyed on (group, value)), a
    window cumsum runs over the COMPRESSED table per group (a per-group
    sort of distinct values — never a global sort), and each q picks the
    minimum value whose cumulative count reaches its rank. Per-group
    state is the group's distinct-value histogram: ideal for measure
    columns (lengths, scores, counts) where values repeat heavily. For a
    high-cardinality double column the compressed table approaches the
    group size — quantize first, or fall back to
    :func:`exact_quantiles` per group."""
    from pyspark.sql import Window

    if not qs:
        raise ValueError("grouped_exact_quantiles: qs must be non-empty")
    if any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"grouped_exact_quantiles: qs must be in [0, 1], got {qs}")
    if not by:
        raise ValueError("grouped_exact_quantiles: by must be non-empty "
                         "(use exact_quantiles for the global case)")
    vc = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*by, F.col(col).alias("__v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    w = Window.partitionBy(*by).orderBy("__v")
    cum = vc.withColumn("__cum", F.sum("__c").over(w))
    n = vc.groupBy(*by).agg(F.sum("__c").cast("bigint").alias("__n"))
    return (
        cum.join(n, by)
        .select(
            *by, "__v", "__cum", "__n",
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        )
        .filter(
            F.col("__cum")
            >= F.greatest(
                F.lit(1).cast("bigint"),
                F.ceil(F.col("q") * F.col("__n").cast("double")).cast("bigint"),
            )
        )
        .groupBy(*by, "q")
        .agg(F.min("__v").alias("value"))
    )


def histogram_psi(
    a: DataFrame,
    b: DataFrame,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index between two fixed-grid histograms
    built on the SAME (lo, hi, n_bins) grid (:func:`value_histogram`):
    PSI = sum over bins of (p_a - p_b) * ln(p_a / p_b), with Laplace
    smoothing so empty bins are well-defined. One row: (psi 6dp, n_a,
    n_b). The classic distribution-drift monitor (rule of thumb:
    < 0.1 stable, > 0.25 shifted) — the scorecard complement to the
    total-variation drift in functions/drift.py.

    Because the histograms are the bounded mergeable sketches, a daily
    PSI costs two tiny table reads — the corpus is never rescanned.
    Bins absent from BOTH histograms contribute a closed-form constant
    (their smoothed shares depend only on the totals), folded in
    algebraically from the present-bin count — the same no-spine trick
    as hll_estimate, so the whole computation is one full-outer join of
    two <= n_bins tables plus one aggregate."""
    ga = a.schema["bin"].metadata if "bin" in a.columns else {}
    gb = b.schema["bin"].metadata if "bin" in b.columns else {}
    if not ga or not gb:
        raise ValueError("histogram_psi: histograms carry no grid metadata")
    if (ga.get("lo"), ga.get("hi"), ga.get("n_bins")) != (
        gb.get("lo"), gb.get("hi"), gb.get("n_bins")
    ):
        raise ValueError(
            f"histogram_psi: grids differ ({ga} vs {gb}) — PSI over "
            "different grids is meaningless"
        )
    n_bins = int(ga["n_bins"])
    s = float(smoothing)
    if s <= 0:
        raise ValueError("histogram_psi: smoothing must be > 0")
    joined = (
        a.select(F.col("bin"), F.col("cnt").alias("__ca"))
        .join(b.select(F.col("bin"), F.col("cnt").alias("__cb")), "bin", "full")
        .select(
            F.coalesce("__ca", F.lit(0)).alias("__ca"),
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
        )
    )
    agg = joined.agg(
        F.coalesce(F.sum("__ca"), F.lit(0)).cast("double").alias("__na"),
        F.coalesce(F.sum("__cb"), F.lit(0)).cast("double").alias("__nb"),
        F.count(F.lit(1)).cast("int").alias("__present"),
    )
    sm = s * n_bins
    pa = lambda c: (c + F.lit(s)) / (F.col("__na") + F.lit(sm))  # noqa: E731
    pb = lambda c: (c + F.lit(s)) / (F.col("__nb") + F.lit(sm))  # noqa: E731
    per_bin = joined.crossJoin(F.broadcast(agg)).select(
        (
            (pa(F.col("__ca")) - pb(F.col("__cb")))
            * F.log(pa(F.col("__ca")) / pb(F.col("__cb")))
        ).alias("__t")
    )
    # closed-form contribution of the (n_bins - present) bins empty on
    # BOTH sides: their smoothed shares depend only on the totals
    zero_term = (pa(F.lit(0.0)) - pb(F.lit(0.0))) * F.log(
        pa(F.lit(0.0)) / pb(F.lit(0.0))
    )
    present_sum = per_bin.agg(
        F.coalesce(F.sum("__t"), F.lit(0.0)).alias("__s")
    )
    return (
        present_sum.crossJoin(F.broadcast(agg))
        .select(
            F.round(
                F.col("__s")
                + (F.lit(n_bins) - F.col("__present")) * zero_term,
                6,
            ).alias("psi"),
            F.col("__na").cast("bigint").alias("n_a"),
            F.col("__nb").cast("bigint").alias("n_b"),
        )
    )


def trimmed_stats(
    df: DataFrame,
    col: str,
    alpha: float = 0.05,
    scale: int = 1_000_000,
) -> DataFrame:
    """Alpha-trimmed and winsorized location/spread — the robust
    summary between mean (alpha=0) and median (alpha→0.5): drop the
    k = floor(alpha·N) smallest and largest observations for the
    trimmed mean; CLAMP them to the surviving extremes v_(k+1) /
    v_(N-k) for the winsorized mean and standard deviation. COUNT-based
    trimming (exact positions in the sorted order, ties split across
    the boundary), not value-based — the textbook estimator. One row:
    (n, k, trimmed_mean_micro, winsorized_mean_micro,
    winsorized_std_micro).

    Fit-style eager operator (the ab_test / ks_reference precedent):
    the two boundary order statistics materialize at call time through
    exact_quantiles' histogram-pruned rank search — NO global sort —
    then ONE conditional-sum pass computes every moment. Determinism:
    values quantize per row to MILLI integers once; boundary tie
    arithmetic is pure integer position algebra; moments accumulate as
    DECIMAL(38,0) and each output derives in one identical-rule
    rounding site."""
    import math

    if not 0.0 <= alpha < 0.5:
        raise ValueError(f"trimmed_stats: alpha must be in [0, 0.5), got {alpha}")
    v = df.filter(F.col(col).isNotNull()).select(F.col(col).cast("double").alias("__v"))
    n = v.count()
    if n == 0:
        raise ValueError("trimmed_stats: no non-NULL values")
    k = int(math.floor(alpha * n))
    if n - 2 * k < 1:
        raise ValueError(
            f"trimmed_stats: alpha={alpha} trims everything (n={n}, k={k})"
        )
    if k == 0:
        lo_q, hi_q = 0.5 / n, (n - 0.5) / n
    else:
        lo_q, hi_q = (k + 0.5) / n, (n - k - 0.5) / n  # ceil -> ranks k+1, n-k
    qs = exact_quantiles(v, "__v", [lo_q, hi_q]).collect()
    lo, hi = float(qs[0]["value"]), float(qs[1]["value"])
    lo_m, hi_m = math.floor(lo * 1000 + 0.5), math.floor(hi * 1000 + 0.5)
    dec = "decimal(38,0)"
    vm = F.floor(F.col("__v") * F.lit(1000.0) + F.lit(0.5)).cast("bigint")
    mid = (F.col("__v") > F.lit(lo)) & (F.col("__v") < F.lit(hi))
    agg = v.agg(
        F.sum(F.when(F.col("__v") < F.lit(lo), 1).otherwise(0)).cast("bigint").alias("__clt_lo"),
        F.sum(F.when(F.col("__v") <= F.lit(lo), 1).otherwise(0)).cast("bigint").alias("__cle_lo"),
        F.sum(F.when(F.col("__v") < F.lit(hi), 1).otherwise(0)).cast("bigint").alias("__clt_hi"),
        F.sum(F.when(mid, vm.cast(dec)).otherwise(F.lit(0).cast(dec))).alias("__mid_s"),
        # cast-THEN-multiply: milli-squares overflow int64 at ~3e6-unit values
        F.sum(F.when(mid, vm.cast(dec) * vm.cast(dec)).otherwise(F.lit(0).cast(dec))).alias("__mid_ss"),
    ).collect()[0]
    n_keep = n - 2 * k
    if hi > lo:
        n_lo = min(int(agg["__cle_lo"]), n - k) - k
        n_hi = (n - k) - max(int(agg["__clt_hi"]), k)
        t_sum = int(agg["__mid_s"]) + n_lo * lo_m + n_hi * hi_m
        t_ss = int(agg["__mid_ss"]) + n_lo * lo_m * lo_m + n_hi * hi_m * hi_m
    else:  # boundary order statistics coincide: every kept value is lo
        n_lo, n_hi = n_keep, 0
        t_sum, t_ss = n_keep * lo_m, n_keep * lo_m * lo_m
    w_sum = t_sum + k * lo_m + k * hi_m
    w_ss = t_ss + k * lo_m * lo_m + k * hi_m * hi_m
    mu = float(scale)
    t_mean = t_sum / n_keep / 1000.0
    w_mean = w_sum / n / 1000.0
    w_var = ((w_ss - w_sum * w_sum / n) / (n - 1) / 1e6) if n > 1 else 0.0
    spark = df.sparkSession
    row = [(
        n,
        k,
        int(math.floor(t_mean * mu + 0.5)),
        int(math.floor(w_mean * mu + 0.5)),
        int(math.floor(math.sqrt(max(w_var, 0.0)) * mu + 0.5)),
    )]
    return spark.createDataFrame(
        row,
        "n bigint, k bigint, trimmed_mean_micro bigint, "
        "winsorized_mean_micro bigint, winsorized_std_micro bigint",
    ).limit(1)
