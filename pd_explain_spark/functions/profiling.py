"""Data-distribution profiling: the observability twin of the plan-level
scale auditor (plans/audit.py). The auditor reads PLANS for anti-patterns;
these read the DATA for the numbers that decide whether a key is safe to
shuffle or join on — the question every 100 TB groupBy/join starts with.

No reference counterpart (the reference is a tabular explainer); this
extends the training-data pipeline's monitoring family (corpus_stats,
corpus_diff, hll_distinct).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.partitioning import fan_out


def key_skew_report(
    df: DataFrame,
    key: str,
    top_k: int = 10,
) -> DataFrame:
    """Top-``top_k`` hottest values of ``key`` with their row shares:
    (rank, key value, cnt, share 6dp, n_rows, n_keys) — the number that
    predicts shuffle skew BEFORE the job runs. A key whose top share is
    10% puts 10% of the table in one reduce task at any cluster size;
    that is when the salting / AQE-skew guards (SCALE.md round-7 smoke)
    earn their keep, and this report is how a pipeline decides to turn
    them on.

    Cost: one map-combining groupBy on the key, one keys=[] roll-up of
    the (bounded-by-cardinality) count table for the totals, and a
    top-k heap merge (TakeOrderedAndProject) — never a global sort,
    never a second scan of the corpus. NULL keys count as a real group
    (NULL is often the hottest key in the wild). Ties rank
    deterministically by (cnt desc, key asc)."""
    from pyspark.sql import Window

    if top_k < 1:
        raise ValueError("key_skew_report: top_k must be >= 1")
    counts = df.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    top = counts.orderBy(F.desc("cnt"), F.asc_nulls_last("k")).limit(top_k)
    # rank window runs over the already-limited top-k rows only
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("cnt"), F.asc_nulls_last("k"))
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "rank",
            F.col("k").alias(key),
            "cnt",
            F.round(F.col("cnt") / F.col("n_rows").cast("double"), 6).alias("share"),
            "n_rows",
            "n_keys",
        )
    )


def table_profile(
    df: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """One-pass per-column profile — the landing-zone health check a
    pipeline runs on every new corpus drop before anything expensive
    touches it: (column, n_rows, n_null, null_rate 6dp, n_distinct,
    min_value, max_value — both rendered as strings so one schema fits
    every column type).

    Everything is exact. The whole profile is ONE aggregate: Catalyst
    plans the multiple count(DISTINCT) columns via a single Expand +
    two-stage aggregation, so the corpus is scanned once no matter how
    many columns are profiled (distinct-heavy columns cost shuffle
    volume, not extra scans — for a cheaper cardinality on ultra-wide
    string columns, use :func:`~pd_explain_spark.functions.sketches.
    hll_distinct` per column instead)."""
    cols = list(columns or df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"table_profile: unknown columns {missing}")
    if not cols:
        raise ValueError("table_profile: no columns to profile")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    # positional internal aliases: a profiled column named "a.b" (or any
    # name with column-syntax characters) must never round-trip through
    # F.col string parsing
    def _qcol(c):  # exact-name reference: "a.b" must not parse as a
        # struct-field access (standard backtick escaping, doubled
        # backticks inside the name)
        return F.col("`" + c.replace("`", "``") + "`")

    for i, c in enumerate(cols):
        aggs += [
            # coalesce: sum() over ZERO rows is NULL, and an empty drop
            # must profile as zeros, not NULLs
            F.coalesce(F.sum(F.when(_qcol(c).isNull(), 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"__null_{i}"),
            F.countDistinct(_qcol(c)).cast("bigint").alias(f"__nd_{i}"),
            F.min(_qcol(c)).cast("string").alias(f"__min_{i}"),
            F.max(_qcol(c)).cast("string").alias(f"__max_{i}"),
        ]
    # the multi-countDistinct aggregate Expands every row n_cols-fold in
    # the scan stage; spread a low-parallelism input first so the
    # expansion runs session-wide instead of inside one file split
    # (no-op at cluster scan parallelism — guide §2.2)
    row = fan_out(df.select(*[_qcol(c) for c in cols])).agg(*aggs)
    per_col = row.select(
        F.col("__n"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"__null_{i}").alias("n_null"),
                        F.col(f"__nd_{i}").alias("n_distinct"),
                        F.col(f"__min_{i}").alias("min_value"),
                        F.col(f"__max_{i}").alias("max_value"),
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("p"),
    )
    return per_col.select(
        F.col("p.column").alias("column"),
        F.col("__n").alias("n_rows"),
        F.col("p.n_null").alias("n_null"),
        F.when(
            F.col("__n") > 0,
            F.round(F.col("p.n_null") / F.col("__n").cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("null_rate"),
        F.col("p.n_distinct").alias("n_distinct"),
        F.col("p.min_value").alias("min_value"),
        F.col("p.max_value").alias("max_value"),
    )


def check_constraints(
    df: DataFrame,
    rules: dict[str, str],
) -> DataFrame:
    """Declarative data-quality gate: each rule is (name -> boolean SQL
    predicate over the table's columns); returns one row per rule with
    (rule, violations, n_rows, violation_rate 6dp, passed). A NULL
    predicate result counts as a violation — an unevaluatable rule must
    fail loud, not pass silently.

    All rules evaluate in ONE scan-stage aggregate (a conditional count
    per rule — no joins, no second pass), so gating a 100 TB drop on
    twenty invariants costs one corpus scan. The shape a pipeline wires
    between ingest and curation: ship the violating rules to the DLQ
    dashboard, block the batch on `passed = false` for the invariants
    that matter."""
    if not rules:
        raise ValueError("check_constraints: rules must be non-empty")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    # positional internal aliases: rule names are arbitrary user labels
    # ("price.positive" would otherwise parse as a struct-field access)
    for i, pred in enumerate(rules.values()):
        aggs.append(
            # outer coalesce: sum() over ZERO rows is NULL, and an empty
            # batch must PASS every rule (zero violations), not NULL out
            F.coalesce(
                F.sum(
                    F.when(F.coalesce(F.expr(pred), F.lit(False)), 0).otherwise(1)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"__v_{i}")
        )
    row = df.agg(*aggs)
    per_rule = row.select(
        F.col("__n"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.col(f"__v_{i}").alias("violations"),
                    )
                    for i, name in enumerate(rules)
                ]
            )
        ).alias("r"),
    )
    return per_rule.select(
        F.col("r.rule").alias("rule"),
        F.col("r.violations").alias("violations"),
        F.col("__n").alias("n_rows"),
        F.when(
            F.col("__n") > 0,
            F.round(F.col("r.violations") / F.col("__n").cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("violation_rate"),
        (F.col("r.violations") == 0).alias("passed"),
    )


def join_profile(
    left: DataFrame,
    right: DataFrame,
    on: str,
) -> DataFrame:
    """Pre-join diagnostics — the numbers that decide whether a join is
    safe to run at 100 TB, computed WITHOUT running the join: one row
    (n_left, n_right, null_left, null_right, distinct_left,
    distinct_right, max_fanout_left, max_fanout_right, matched_keys,
    est_join_rows). ``est_join_rows`` is EXACT for an equi-join on
    ``on`` — sum over matched keys of fanout_left x fanout_right — so a
    pair explosion (many-to-many hot key) or a silently empty join
    (matched_keys = 0, wrong key) is visible before the shuffle is
    paid for. NULL keys never match (counted separately per side).

    Cost: one map-combining groupBy per side — each collapses to its
    key-cardinality count table — one keys=[] roll-up each, and one
    join OF THE COUNT TABLES (key-cardinality sized, not row sized).
    The inputs are scanned once each and only the key column is read
    (column pruning reaches the scan)."""
    def side(df: DataFrame):
        keyed = df.select(F.col(on).alias("k"))
        counts = keyed.filter(F.col("k").isNotNull()).groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        stats = keyed.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("bigint").alias("nulls"),
        )
        return counts, stats

    lc, ls = side(left)
    rc, rs = side(right)
    lstats = ls.crossJoin(
        F.broadcast(lc.agg(
            F.count(F.lit(1)).cast("bigint").alias("d"),
            F.coalesce(F.max("c"), F.lit(0)).cast("bigint").alias("mf"),
        ))
    ).select(
        F.col("n").alias("n_left"), F.col("nulls").alias("null_left"),
        F.col("d").alias("distinct_left"), F.col("mf").alias("max_fanout_left"),
    )
    rstats = rs.crossJoin(
        F.broadcast(rc.agg(
            F.count(F.lit(1)).cast("bigint").alias("d"),
            F.coalesce(F.max("c"), F.lit(0)).cast("bigint").alias("mf"),
        ))
    ).select(
        F.col("n").alias("n_right"), F.col("nulls").alias("null_right"),
        F.col("d").alias("distinct_right"), F.col("mf").alias("max_fanout_right"),
    )
    matched = (
        lc.withColumnRenamed("c", "cl")
        .join(rc.withColumnRenamed("c", "cr"), "k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("matched_keys"),
            F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0))
            .cast("bigint").alias("est_join_rows"),
        )
    )
    return lstats.crossJoin(F.broadcast(rstats)).crossJoin(F.broadcast(matched))


def dataset_checksum(
    df: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """ORDER-FREE content checksum of a dataset: one row (n_rows,
    checksum) where checksum = sum over rows of the 60-bit md5 of the
    canonical column string, mod 2^61-1. Row order, partitioning, and
    file layout never change it, so it verifies a copy / migration /
    compaction / engine port without sorting anything — the delivery
    receipt a 100 TB corpus hand-off ships with (compare two one-row
    reads instead of diffing petabytes). Commutative + associative, so
    it partial-aggregates map-side and per-shard checksums roll up.

    Canonical row string: selected columns joined by the 0x1f unit
    separator with NULL as the literal ``\\N`` — engine-portable for
    string/integer columns (cast floats to fixed decimals FIRST; float
    formatting differs across engines). Collisions: adversarial inputs
    can collide any 61-bit sum; this is a transport-integrity check,
    not a cryptographic commitment."""
    from .hashing import md5_int

    cols = list(df.columns) if cols is None else list(cols)
    if not cols:
        raise ValueError("dataset_checksum: no columns selected")
    rowstr = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols]
    )
    h = md5_int(F.md5(rowstr))
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(
            F.sum(h.cast("decimal(38,0)")) % F.lit(2305843009213693951),
            F.lit(0),
        ).cast("bigint").alias("checksum"),
    )

def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier column set (Sweeney
    2002, "k-anonymity: a model for protecting privacy"): one row per
    equivalence class — the quasi values, ``class_size``, and
    ``at_risk`` (class_size < k, i.e. the combination re-identifies
    fewer than ``k`` individuals). The governance twin of
    ``redact_pii``: redaction scrubs direct identifiers inside text,
    this measures whether the STRUCTURED columns still single people
    out before a corpus is shared or used for training.

    NULL quasi values form a real class (an absent value is itself
    identifying). Cost: one map-combining groupBy on the quasi set —
    the output is bounded by class cardinality, never corpus size."""
    if not quasi_cols:
        raise ValueError("k_anonymity_report: quasi_cols must be non-empty")
    if k < 1:
        raise ValueError(f"k_anonymity_report: k must be >= 1, got {k}")
    return df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    ).withColumn("at_risk", F.col("class_size") < F.lit(k))


def k_anonymize(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """Suppression-mode k-anonymization: keep only rows whose
    quasi-identifier equivalence class has at least ``k`` members, so
    every surviving row is hidden among >= k-1 others (the standard
    baseline before generalization hierarchies are introduced).

    Scale shape: the class-size table from one map-combining groupBy
    (bounded by class cardinality) joins back on the quasi set with
    null-safe equality; no broadcast is forced — AQE picks the
    strategy, since class tables are corpus-dependent (the
    soft_dedup_weights / leakage_safe_splits precedent). The corpus
    itself is scanned once and only shuffles if AQE declines to
    broadcast the class table."""
    keep = (
        k_anonymity_report(df, quasi_cols, k=k)
        .filter(~F.col("at_risk"))
        .select(*[F.col(c).alias(f"__ka_{c}") for c in quasi_cols])
    )
    cond = None
    for c in quasi_cols:
        piece = F.col(c).eqNullSafe(F.col(f"__ka_{c}"))
        cond = piece if cond is None else cond & piece
    return df.join(keep, cond, "inner").drop(*[f"__ka_{c}" for c in quasi_cols])

def k_anonymize_generalize(
    df: DataFrame,
    levels: list[dict],
    k: int = 5,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """k-anonymization by generalization ladder: ``levels`` is a list of
    quasi-identifier encodings, coarsest last — each a dict mapping the
    OUTPUT quasi name to a Column expression for that level (omit a name
    to generalize it away entirely; it emits ``*``). Every row keeps the
    FIRST level whose equivalence class reaches ``k`` members — counted
    ONLY among rows not already released at a finer level (iterative
    local recoding); rows failing every level are suppressed. Counting
    over the whole corpus instead would let a class "borrow" members
    that publish at a finer level: with ages [21,21,21,25] and k=3 the
    25 row would pass the decade level (full-domain class size 4) while
    being the ONLY row actually published there — uniquely
    re-identifiable despite the k-anonymity claim. With iterative
    counts, every released (level, quasi-values) class provably
    contains >= k published rows, so the output passes its own
    :func:`k_anonymity_report` per level. Returns ``keep_cols``
    (default: all original columns) + ``level`` + one string column per
    quasi name holding the row's generalized value.

    Scale shape: ONE derived-column corpus frame; per level one
    map-combining groupBy (bounded by class cardinality) joined back
    null-safely with AQE picking broadcast. Level li's count input is
    the rows failing levels < li, so its plan nests the earlier
    (bounded, broadcast) class joins — L levels cost O(L^2) bounded
    joins in the plan, fine for the 2-5 levels a real ladder has; the
    corpus never shuffles when the class tables broadcast."""
    if not levels:
        raise ValueError("k_anonymize_generalize: levels must be non-empty")
    if k < 1:
        raise ValueError(f"k_anonymize_generalize: k must be >= 1, got {k}")
    names = list(levels[0].keys())
    for lv in levels:
        if not set(lv.keys()) <= set(names):
            raise ValueError(
                "k_anonymize_generalize: every level's quasi names must be "
                f"a subset of level 0's {names}, got {sorted(lv.keys())}"
            )
    keep_cols = list(df.columns) if keep_cols is None else list(keep_cols)
    base = df
    qcols: list[list[str]] = []
    for li, lv in enumerate(levels):
        cols = []
        for name in names:
            c = f"__q{li}_{name}"
            expr = lv[name].cast("string") if name in lv else F.lit("*")
            base = base.withColumn(c, expr)
            cols.append(c)
        qcols.append(cols)
    out = base
    remaining = F.lit(True)  # rows not yet released at a finer level
    for li, cols in enumerate(qcols):
        cnt = (
            out.filter(remaining)
            .groupBy(*[F.col(c) for c in cols])
            .agg(F.count(F.lit(1)).cast("bigint").alias(f"__k{li}"))
            .select(*[F.col(c).alias(f"__r{c}") for c in cols], f"__k{li}")
        )
        cond = None
        for c in cols:
            piece = F.col(c).eqNullSafe(F.col(f"__r{c}"))
            cond = piece if cond is None else cond & piece
        out = out.join(cnt, cond, "left").drop(*[f"__r{c}" for c in cols])
        # released rows fall out of cnt's input above, so their later
        # __k columns come back NULL from the left join — coalesce keeps
        # the predicate three-valued-logic safe
        remaining = remaining & ~F.coalesce(
            F.col(f"__k{li}") >= F.lit(k), F.lit(False)
        )
    passes = [F.col(f"__k{li}") >= F.lit(k) for li in range(len(levels))]
    level = F.lit(None).cast("int")
    for li in range(len(levels) - 1, -1, -1):
        level = F.when(passes[li], F.lit(li)).otherwise(level)
    out = out.withColumn("level", level).filter(F.col("level").isNotNull())
    picked = []
    for name in names:
        v = F.lit(None).cast("string")
        for li in range(len(levels) - 1, -1, -1):
            v = F.when(F.col("level") == li, F.col(f"__q{li}_{name}")).otherwise(v)
        picked.append(v.alias(name))
    return out.select(*keep_cols, "level", *picked)

def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive: str,
    l: int = 2,
) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007): k-anonymity's blind
    spot is a large class whose SENSITIVE value is constant — size
    hides nobody when everyone in the class shares the secret. One row
    per quasi equivalence class: class_size, n_sensitive (distinct
    non-NULL sensitive values), at_risk = n_sensitive < l. Run it next
    to k_anonymity_report before releasing structured columns alongside
    a sensitive attribute. One map-combining groupBy with a
    count_distinct; output bounded by class cardinality."""
    if not quasi_cols:
        raise ValueError("l_diversity_report: quasi_cols must be non-empty")
    if l < 1:
        raise ValueError(f"l_diversity_report: l must be >= 1, got {l}")
    return df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size"),
        F.count_distinct(F.col(sensitive)).cast("bigint").alias("n_sensitive"),
    ).withColumn("at_risk", F.col("n_sensitive") < F.lit(l))

def categorical_dependence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Dependence report between two categorical columns: one row with
    n, level counts, degrees of freedom, mutual information, the chi-
    squared statistic, and Cramér's V — the screen for label LEAKAGE
    and spurious correlation between metadata columns before a table
    ships as training data (a metadata column that predicts the label
    is a leak, not a feature). NULLs in either column are excluded.

    Determinism: every per-cell term is computed from exact integer
    counts through identical-order IEEE ops and rounded to an INTEGER
    nano-unit BEFORE summing, so the aggregate is an order-free
    integer sum — no float-summation-order sensitivity (the lm_score
    family rounds after the float sum; this is the stricter contract).
    Chi² uses the identity Σ(o-e)²/e = Σ o²·n/(c_a·c_b) - n, so
    observed-zero cells (which contribute only to the subtracted n)
    never need materializing — no level-pair spine, no cross join.
    MI's zero cells contribute 0 by convention.

    Scale shape: one (a, b) map-combining count; marginals and the
    nano-term sums all run over that bounded table — everything after
    the first aggregate is bounded by observed-cell cardinality, never
    data volume."""
    pairs = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
    cxy = pairs.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast("bigint").alias("__o")
    )
    ca = cxy.groupBy("__a").agg(F.sum("__o").cast("bigint").alias("__ca"))
    cb = cxy.groupBy("__b").agg(F.sum("__o").cast("bigint").alias("__cb"))
    n_row = cxy.agg(
        F.sum("__o").cast("bigint").alias("__n"),
        F.count_distinct("__a").cast("bigint").alias("__ra"),
        F.count_distinct("__b").cast("bigint").alias("__rb"),
    )
    s = cxy.join(ca, "__a").join(cb, "__b").crossJoin(n_row)
    nd = F.col("__n").cast("double")
    o, cad, cbd = (F.col(c).cast("double") for c in ("__o", "__ca", "__cb"))
    mi_term = (o / nd) * F.log((o * nd) / (cad * cbd))
    chi_term = o * o * nd / (cad * cbd)
    nano = F.lit(1_000_000_000.0)
    zero = F.lit(0).cast("bigint")
    agg = s.agg(  # empty input -> all-zero report row, not NULLs
        F.coalesce(F.first("__n"), zero).alias("n"),
        F.coalesce(F.first("__ra"), zero).alias("n_levels_a"),
        F.coalesce(F.first("__rb"), zero).alias("n_levels_b"),
        F.coalesce(
            ((F.first("__ra") - 1) * (F.first("__rb") - 1)).cast("bigint"), zero
        ).alias("dof"),
        F.coalesce(
            F.sum(F.floor(mi_term * nano + F.lit(0.5)).cast("bigint")), zero
        ).alias("mi_nano"),
        F.greatest(  # per-term rounding can land a true 0 at -1/-2 nano
            F.coalesce(
                F.sum(F.floor(chi_term * nano + F.lit(0.5)).cast("bigint"))
                - F.first("__n") * F.lit(1_000_000_000).cast("bigint"),
                zero,
            ),
            zero,
        ).alias("chi2_nano"),
    )
    mindof = F.least(F.col("n_levels_a") - 1, F.col("n_levels_b") - 1)
    v = F.sqrt(
        (F.col("chi2_nano").cast("double") / F.lit(1_000_000_000.0))
        / (F.col("n").cast("double") * mindof.cast("double"))
    )
    return agg.withColumn(
        "cramers_v_micro",
        F.when(
            mindof > 0,
            F.floor(v * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )


def rater_agreement(
    df: DataFrame,
    col_a: str,
    col_b: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Cohen's kappa between two label columns — the label-QA gate for
    training data annotated twice (two human raters, two model
    annotators, or model-vs-gold): chance-corrected agreement
    kappa = (p_o - p_e) / (1 - p_e), where p_o is the observed agreement
    rate and p_e the agreement expected from the raters' marginal label
    distributions. Raw agreement flatters skewed label sets (two raters
    stamping 95% "ok" agree 90%+ by luck); kappa is the number a
    curation run should alert on. Returns ONE row: n (rows where both
    labels are non-NULL), n_agree, agree_micro (p_o), expected_micro
    (p_e), kappa_micro (NULL when p_e = 1 — a constant shared label has
    no chance-corrected signal).

    Determinism: every rate is one identical-order IEEE expression over
    exact integer counts, micro-rounded once; the expected-agreement sum
    nano-rounds per label BEFORE the order-free integer sum (the
    categorical_dependence contract). Scale shape: one (a, b) pair
    count (map-combining), marginals re-aggregate the bounded pair
    table — nothing after the first shuffle exceeds label cardinality."""
    pairs = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
    cab = pairs.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    n = cab.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias("__n")
    )
    agree = cab.filter(F.col("__a").eqNullSafe(F.col("__b"))).agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias("__agree")
    )
    ca = cab.groupBy("__a").agg(F.sum("__c").cast("bigint").alias("__ca"))
    cb = cab.groupBy("__b").agg(F.sum("__c").cast("bigint").alias("__cb"))
    nano = F.lit(1_000_000_000.0)
    # per-label expected-agreement term: marginal_a * marginal_b / n^2,
    # nano-rounded to an integer before the order-free sum
    pe_terms = (
        ca.join(cb, F.col("__a") == F.col("__b"))
        .crossJoin(F.broadcast(n))
        .select(
            F.floor(
                F.col("__ca").cast("double")
                * F.col("__cb").cast("double")
                / (F.col("__n").cast("double") * F.col("__n").cast("double"))
                * nano
                + F.lit(0.5)
            ).cast("bigint").alias("__t")
        )
    )
    pe = pe_terms.agg(
        F.coalesce(F.sum("__t"), F.lit(0)).cast("bigint").alias("__pe_nano")
    )
    j = n.crossJoin(F.broadcast(agree)).crossJoin(F.broadcast(pe))
    po = F.col("__agree").cast("double") / F.col("__n").cast("double")
    ped = F.col("__pe_nano").cast("double") / 1e9
    micro = F.lit(float(scale))
    nonempty = F.col("__n") > 0  # empty input: NULL rates, never a NaN cast
    return j.select(
        F.col("__n").alias("n"),
        F.col("__agree").alias("n_agree"),
        F.when(nonempty, F.floor(po * micro + F.lit(0.5)).cast("bigint")).alias(
            "agree_micro"
        ),
        F.when(
            nonempty, F.floor(ped * micro + F.lit(0.5)).cast("bigint")
        ).alias("expected_micro"),
        F.when(
            nonempty & (ped < 1.0),
            F.floor((po - ped) / (F.lit(1.0) - ped) * micro + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("kappa_micro"),
    )


def benford_report(
    df: DataFrame,
    col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Benford's-law first-digit screen over a numeric column — the
    classic entered-vs-generated data forensic (naturally occurring
    multiplicative amounts follow P(d) = log10(1 + 1/d); fabricated,
    truncated, or unit-capped values don't): one row per leading digit
    1-9 with the observed count, observed share, the Benford
    expectation, and the absolute deviation, all in integer micro-units.
    Zero/NULL values are excluded; the magnitude is ``floor(abs(v))``
    (domain: |v| < 2^63 — rescale astronomically-ranged columns first),
    so the digit comes from exact integer string arithmetic (identical
    in any engine) rather than float log10 edge cases. Digits with no
    observations still report (zero count) from a literal 9-row spine.

    Scale shape: ONE map-combining digit count; everything after runs
    on <= 9 rows. Deviations are per-digit single-expression IEEE over
    exact integers — order-free."""
    import math

    vals = df.filter(F.col(col).isNotNull()).select(
        F.floor(F.abs(F.col(col))).cast("bigint").alias("__m")
    ).filter(F.col("__m") > 0)
    digits = vals.select(
        F.substring(F.col("__m").cast("string"), 1, 1).cast("int").alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(d, math.floor(math.log10(1 + 1 / d) * scale + 0.5)) for d in range(1, 10)],
        "digit int, benford_micro bigint",
    ).limit(9)  # identity limit: literal 9-row spine
    tot = digits.agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_total"))
    share = F.when(
        F.col("n_total") > 0,
        F.floor(
            F.col("n").cast("double") / F.col("n_total").cast("double")
            * F.lit(float(scale))
            + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    out = (
        spine.join(digits, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            "n_total",
            share.alias("share_micro"),
            "benford_micro",
        )
    )
    return out.withColumn(
        "dev_micro", F.abs(F.col("share_micro") - F.col("benford_micro"))
    )


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-class precision/recall/F1 over a (gold label, prediction)
    pair — the model-eval twin of :func:`rater_agreement` (kappa asks
    "do two annotators agree"; this asks "where exactly does a model
    fail"): one row per class observed in EITHER column with tp/fp/fn
    counts and precision/recall/F1 in integer micro-units (NULL where
    undefined: precision with no predictions, recall with no gold rows,
    F1 when either is NULL/zero), plus the class's gold support. Rows
    where either column is NULL are excluded (unlabeled/unscored).

    Determinism: all counts are exact integers from ONE (label, pred)
    pair count; each rate is a single identical-order IEEE expression,
    micro-rounded once (F1 computes from the two micro-ints — fully
    portable). Scale shape: one map-combining pair count; per-class
    marginals re-aggregate the bounded pair table."""
    pairs = df.filter(
        F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(F.col(label_col).alias("__g"), F.col(pred_col).alias("__p"))
    cgp = pairs.groupBy("__g", "__p").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    tp = cgp.filter(F.col("__g") == F.col("__p")).select(
        F.col("__g").alias("class"), F.col("__c").alias("tp")
    )
    gold = cgp.groupBy(F.col("__g").alias("class")).agg(
        F.sum("__c").cast("bigint").alias("support")
    )
    pred = cgp.groupBy(F.col("__p").alias("class")).agg(
        F.sum("__c").cast("bigint").alias("n_pred")
    )
    base = (
        gold.join(pred, "class", "full")
        .join(tp, "class", "left")
        .select(
            "class",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce("support", F.lit(0)).cast("bigint").alias("support"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
        )
    )
    micro = F.lit(float(scale))
    prec = F.when(
        F.col("n_pred") > 0,
        F.floor(
            F.col("tp").cast("double") / F.col("n_pred").cast("double") * micro
            + F.lit(0.5)
        ).cast("bigint"),
    )
    rec = F.when(
        F.col("support") > 0,
        F.floor(
            F.col("tp").cast("double") / F.col("support").cast("double") * micro
            + F.lit(0.5)
        ).cast("bigint"),
    )
    out = base.select(
        "class",
        "tp",
        (F.col("n_pred") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("support") - F.col("tp")).cast("bigint").alias("fn"),
        "support",
        prec.alias("precision_micro"),
        rec.alias("recall_micro"),
    )
    p, r = F.col("precision_micro"), F.col("recall_micro")
    f1 = F.when(
        p.isNotNull() & r.isNotNull() & ((p + r) > 0),
        F.floor(F.lit(2.0) * p * r / (p + r) + F.lit(0.5)).cast("bigint"),
    )
    return out.withColumn("f1_micro", f1)


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Reliability table for a probabilistic score against a binary
    outcome — the calibration check behind every quality-classifier
    threshold choice: scores in [0, 1] bucket into ``n_bins`` equal
    bins; per non-empty bin the count, the mean predicted score, and the
    observed positive fraction (integer micro-units). A calibrated
    model's mean_score ≈ frac_pos per bin; systematic gaps say the
    scores can't be read as probabilities (threshold on quantiles
    instead). Scores exactly 1.0 clamp into the last bin. NULL scores/
    labels are excluded; out-of-range scores raise at execution (a
    "probability" outside [0, 1] is a caller bug worth failing on).

    Determinism: bin ids and counts are exact; the mean score micro-
    rounds per bin from a nano-rounded per-row score sum (order-free
    integer sums — the categorical_dependence contract). One
    map-combining groupBy on the bin id; output bounded by n_bins."""
    if n_bins < 1:
        raise ValueError(f"calibration_bins: n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col).cast("double")
    rows = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.when(
            (s < 0) | (s > 1),
            F.raise_error(
                F.concat(
                    F.lit(f"calibration_bins: {score_col} outside [0, 1]: "),
                    s.cast("string"),
                )
            ).cast("double"),
        ).otherwise(s).alias("__s"),
        F.col(label_col).cast("int").alias("__y"),
    )
    bin_ = F.least(
        F.floor(F.col("__s") * F.lit(int(n_bins))).cast("int"),
        F.lit(int(n_bins) - 1),
    )
    nano = F.lit(1_000_000_000.0)
    per = (
        rows.select(
            bin_.alias("bin"),
            F.floor(F.col("__s") * nano + F.lit(0.5)).cast("bigint").alias("__sn"),
            "__y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__sn").cast("bigint").alias("__ssum"),
            F.sum("__y").cast("bigint").alias("__pos"),
        )
        .limit(int(n_bins))  # identity bound: bin in [0, n_bins)
    )
    micro = F.lit(float(scale))
    return per.select(
        "bin",
        "n",
        F.floor(
            F.col("__ssum").cast("double") / 1e9 / F.col("n").cast("double") * micro
            + F.lit(0.5)
        ).cast("bigint").alias("mean_score_micro"),
        F.floor(
            F.col("__pos").cast("double") / F.col("n").cast("double") * micro
            + F.lit(0.5)
        ).cast("bigint").alias("frac_pos_micro"),
    )


def spearman_corr(
    df: DataFrame,
    col_a: str,
    col_b: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact Spearman rank correlation between two numeric columns —
    the monotone-dependence twin of Pearson (which ``corr_matrix``
    already covers): rho = Pearson over AVERAGE ranks, robust to
    outliers and any monotone transform. Ties get average ranks (the
    textbook convention). One row: (n, rho_micro), rho_micro NULL when
    either column is constant (zero rank variance).

    Determinism: global average ranks come from the bucketed
    ``rank_col`` construction (value-range buckets + within-bucket rank
    + driver carry — NO single-partition window at any size); DOUBLED
    ranks are exact integers even at ties, so every moment accumulates
    as DECIMAL(38,0) (order-free), and rho derives in one
    identical-rule rounding site. Scale shape: two bucketed rank passes
    (one shuffle each) + one map-combining moment aggregate."""
    from ..operators.rolling import rank_col

    base = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
    ranked = rank_col(
        rank_col(base, "__a", method="average", out_name="__ra"),
        "__b",
        method="average",
        out_name="__rb",
    ).select(
        # average ranks are exact half-integers: double them back to
        # exact bigints so the moment sums are order-free integers
        F.floor(F.col("__ra") * F.lit(2.0) + F.lit(0.5)).cast("bigint").alias("__x"),
        F.floor(F.col("__rb") * F.lit(2.0) + F.lit(0.5)).cast("bigint").alias("__y"),
    )
    dec = "decimal(38,0)"
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__x").cast(dec)).alias("__sx"),
        F.sum(F.col("__y").cast(dec)).alias("__sy"),
        # cast-THEN-multiply: doubled ranks reach 2N, so a bigint
        # square overflows int64 near 2e9 rows; decimal carries 38 digits
        F.sum(F.col("__x").cast(dec) * F.col("__x").cast(dec)).alias("__sxx"),
        F.sum(F.col("__y").cast(dec) * F.col("__y").cast(dec)).alias("__syy"),
        F.sum(F.col("__x").cast(dec) * F.col("__y").cast(dec)).alias("__sxy"),
    )
    nn = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    vx = nn * sxx - sx * sx
    vy = nn * syy - sy * sy
    rho = (nn * sxy - sx * sy) / F.sqrt(vx * vy)
    return agg.select(
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            F.floor(rho * F.lit(float(scale)) + F.lit(0.5)).cast("bigint"),
        ).alias("rho_micro"),
    )


# Poisson(1) inverse-CDF thresholds for the deterministic bootstrap:
# cdf[k] = e^-1 * sum_{i<=k} 1/i!, k = 0..7; the residual mass beyond 8
# (~1.1e-7) clamps to 8 — documented bias far below bootstrap noise.
_POISSON1_CDF = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253,
]
# the same thresholds as 15-hex-char string literals (floor(cdf * 16^15)):
# the weight CASE compares the md5 substring DIRECTLY against these —
# fixed-width lowercase hex orders lexicographically == numerically, so
# no base-16 conversion and no division ever runs per row, and any
# engine replays the comparison as a plain string compare.
_POISSON1_HEX = [
    format(math.floor(c * 16**15), "015x") for c in _POISSON1_CDF
]


def bootstrap_mean_ci(
    df: DataFrame,
    col: str,
    id_col: str,
    n_boot: int = 200,
    alpha: float = 0.05,
    seed: int = 42,
    scale: int = 1_000_000,
) -> DataFrame:
    """Percentile bootstrap confidence interval for the mean — the
    assumption-free uncertainty band every experiment readout and data-
    quality dashboard wants next to the point estimate. The Poisson
    bootstrap (Chamandy et al. 2012, "Estimating Uncertainty for
    Massive Data Streams"): each row enters replicate b with a
    Poisson(1) weight derived DETERMINISTICALLY from one md5 digest per
    (row, replicate pair) — each digest feeds TWO replicates through
    its two 15-hex lanes, and the inverse-CDF lookup compares the raw
    hex substring against precomputed hex thresholds (fixed-width
    lowercase hex orders lexicographically == numerically), so no
    base conversion or division runs per row. One scan-stage explode +
    a map-combining per-replicate aggregate — no resampling shuffle,
    and any engine replays it bit-for-bit as plain string compares.
    One row: (n, mean_micro, lo_micro, hi_micro) — lo/hi are rank-ceil
    percentiles of the n_boot replicate means.

    Determinism: values milli-quantize per row once; weighted sums
    accumulate as DECIMAL(38,0); each replicate mean micro-rounds
    BEFORE the bounded rank pick (ties break on the replicate index).
    Scale shape: work is rows x n_boot inside one codegen'd explode
    (weights never shuffle — only n_boot (sum, count) partials do);
    the rank window runs over the n_boot-bounded, identity-limited
    replicate table."""
    if n_boot < 2:
        raise ValueError(f"bootstrap_mean_ci: n_boot must be >= 2, got {n_boot}")
    if n_boot % 2:
        raise ValueError(
            f"bootstrap_mean_ci: n_boot must be even (two replicate lanes "
            f"per md5 digest), got {n_boot}"
        )
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"bootstrap_mean_ci: alpha must be in (0, 1), got {alpha}")
    import math

    from pyspark.sql import Window

    # the explode below multiplies per-row work n_boot/2-fold (one md5
    # per (row, digest) pair is the dominant cost); spread a
    # low-parallelism input across the session's cores first — no-op
    # when the scan is already parallel (guide §2: partition by the
    # work, not the file layout)
    base = fan_out(
        df.filter(F.col(col).isNotNull()).select(
            F.col(id_col).cast("string").alias("__id"),
            F.floor(F.col(col).cast("double") * F.lit(1000.0) + F.lit(0.5))
            .cast("bigint").alias("__vm"),
        ),
        "__id",
    )
    dec = "decimal(38,0)"

    # one digest feeds TWO replicates (md5_int / md5_int_hi lanes — the
    # corpus_minhash halving): md5 is the dominant cost at rows x n_boot
    def w_of(hex15):
        w = F.lit(8)
        for k in range(len(_POISSON1_HEX) - 1, -1, -1):
            w = F.when(hex15 < F.lit(_POISSON1_HEX[k]), F.lit(k)).otherwise(w)
        return w

    digest = F.md5(
        F.concat_ws(
            ":", F.col("__id"), F.lit(str(int(seed))), F.col("__g").cast("string")
        )
    )
    w0 = w_of(F.substring(digest, 1, 15)).cast("bigint")
    w1 = w_of(F.substring(digest, 17, 15)).cast("bigint")
    # per-row products stay BIGINT (w <= 8, so the product is tiny); the
    # overflow-safe decimal conversion happens once per AGGREGATE input,
    # not per multiplication — and both lanes aggregate in ONE groupBy
    # over the g-exploded rows, so no second explode doubles the stream
    per_g = (
        base.select(
            "__id", "__vm",
            F.explode(
                F.sequence(F.lit(0), F.lit(int(n_boot) // 2 - 1))
            ).alias("__g"),
        )
        .select("__g", "__vm", w0.alias("__w0"), w1.alias("__w1"))
        .groupBy("__g")
        .agg(
            F.sum((F.col("__w0") * F.col("__vm")).cast(dec)).alias("__s0"),
            F.sum("__w0").cast("bigint").alias("__c0"),
            F.sum((F.col("__w1") * F.col("__vm")).cast(dec)).alias("__s1"),
            F.sum("__w1").cast("bigint").alias("__c1"),
        )
    )
    lanes = F.array(
        F.struct(
            (F.col("__g") * 2).alias("b"),
            F.col("__s0").alias("ws"),
            F.col("__c0").alias("wc"),
        ),
        F.struct(
            (F.col("__g") * 2 + 1).alias("b"),
            F.col("__s1").alias("ws"),
            F.col("__c1").alias("wc"),
        ),
    )
    rep = (
        per_g.select(F.explode(lanes).alias("__p"))
        .select(
            F.col("__p.b").alias("__b"),
            F.col("__p.ws").alias("__ws"),
            F.col("__p.wc").alias("__wc"),
        )

        .select(
            "__b",
            F.when(
                F.col("__wc") > 0,
                F.floor(
                    F.col("__ws").cast("double") / F.col("__wc").cast("double")
                    / F.lit(1000.0) * F.lit(float(scale)) + F.lit(0.5)
                ).cast("bigint"),
            ).alias("__mean"),
        )
        .filter(F.col("__mean").isNotNull())
        .limit(int(n_boot))
    )
    wn = Window.orderBy("__mean", "__b")
    lo_rank = max(1, math.ceil(alpha / 2.0 * n_boot))
    hi_rank = max(1, math.ceil((1.0 - alpha / 2.0) * n_boot))
    # fail-loud replicate census (ADVICE r11): zero-total-weight lanes
    # are filtered out above, so on tiny inputs hi_rank could exceed the
    # surviving count and the rank lookup would silently return NULL —
    # instead rank lookups only fire when ALL n_boot replicates
    # survived, and otherwise every output column raises
    def _guarded(col):
        return F.when(F.col("__nrep") == F.lit(int(n_boot)), col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("bootstrap_mean_ci: only "),
                    F.col("__nrep").cast("string"),
                    F.lit(
                        f" of {int(n_boot)} replicates have non-zero "
                        "weight — the input is too small to bootstrap"
                    ),
                )
            ).cast("bigint")
        )

    picked = (
        rep.select("__mean", F.row_number().over(wn).alias("__rn"))
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("__nrep"),
            F.min(F.when(F.col("__rn") == lo_rank, F.col("__mean"))).alias("__lo"),
            F.min(F.when(F.col("__rn") == hi_rank, F.col("__mean"))).alias("__hi"),
        )
        .select(
            _guarded(F.col("__lo")).alias("lo_micro"),
            _guarded(F.col("__hi")).alias("hi_micro"),
        )
    )
    overall = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.floor(
            F.sum(F.col("__vm").cast(dec)).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1000.0) * F.lit(float(scale)) + F.lit(0.5)
        ).cast("bigint").alias("mean_micro"),
    )
    return overall.crossJoin(F.broadcast(picked)).select(
        "n", "mean_micro", "lo_micro", "hi_micro"
    )
