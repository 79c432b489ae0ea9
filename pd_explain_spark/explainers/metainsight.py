"""MetaInsight explainer — SURVEY.md §2.4 E6 (Ma et al., SIGMOD'21).

Mines *common patterns with exceptions* across sibling data scopes.
A data scope is (filter-dim = value, breakdown-dim, measure); sibling
scopes share (breakdown, measure) and range over the filter values.
For each (filter_dim, breakdown, measure) triple we detect the basic
pattern of every sibling scope's series, and report pattern types that
hold for >= min_commonness of the scopes, with the deviating scopes as
exceptions (highlight-change / type-change / no-pattern — reference
llm_integrations/explanation_reasoning.py:119-127).

Search-space derivation mirrors the reference
(explainers/beta_explainers/metainsight_explainer.py:158-375):
 * FilterOp/JoinOp lineage -> the filtered/joined attribute becomes a
   filter dimension; breakdowns/measures auto-selected by correlation.
 * GroupByOp lineage -> breakdown = group keys, measures = agg_dict;
   filter dimensions auto-selected.
Auto-selection scores candidate columns against the seed columns with
Pearson (num-num), correlation ratio (num-cat) and Cramér's V (cat-cat)
(ibid:504-598), each computed with grouped aggregations, then takes the
top max_filter_dims/max_breakdowns/max_measures (caps: <=3 filter cols,
<=3 measures, k=4, 10 bins — ibid:45-53,110-111).

Spark shape (SURVEY §4 custom-physical #4): ALL sibling scopes of a
triple come from ONE ``groupBy(filter_dim, breakdown)`` aggregation —
never one job per scope. The grouped result is at most
|filter values| x |breakdown bins| rows (both capped), so pattern
detection runs driver-side on a tiny frame. At 100 TB each triple is
one shuffle whose map side collapses to cap^2 rows per task.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.operations import FilterOp, GroupByOp, JoinOp
from ..operators.aggregates import agg_column
from ..operators.sampling import maybe_sample
from .base import Explanation, ExplanationItem, ExplainerBase
from .histograms import NULL_TOKEN, _bin_expr_col, bin_label, profile_columns

RANDOM_SEED = 42  # reference metainsight_explainer.py:31
MIN_COMMONNESS = 0.5  # ibid:45-53
DEFAULT_K = 4
N_BINS = 10
CAT_CAP = 12  # max categories per dimension fed to the grouped pass


# ---------------------------------------------------------------------------
# pattern detection (driver-side, per scope series)
# ---------------------------------------------------------------------------


@dataclass
class ScopePattern:
    kind: str  # 'outstanding-top' | 'dominance' | 'trend-inc' | 'trend-dec' | 'unimodal' | 'none'
    highlight: str | None = None  # location: top category / peak


def detect_pattern(keys: list, values: list[float]) -> ScopePattern:
    """Basic data pattern of one scope series (MetaInsight paper §3.1,
    re-derived: outstanding-#1, dominance, trend, unimodality)."""
    pairs = [(k, v) for k, v in zip(keys, values) if v is not None and not math.isnan(v)]
    if len(pairs) < 3:
        return ScopePattern("none")
    ks = [k for k, _ in pairs]
    vs = [v for _, v in pairs]
    n = len(vs)
    svals = sorted(vs, reverse=True)
    top, second = svals[0], svals[1]
    top_idx = vs.index(top)
    total = sum(vs)
    # dominance: top holds the majority of a non-negative measure
    if total > 0 and all(v >= 0 for v in vs) and top / total > 0.5:
        return ScopePattern("dominance", str(ks[top_idx]))
    # unimodality first — a sharp interior peak is also "outstanding", but
    # the monotone rise-and-fall shape is the more specific claim. Needs
    # n >= 5: for n <= 4 any interior max is vacuously unimodal.
    if n >= 5 and 0 < top_idx < n - 1:
        inc = all(vs[i] <= vs[i + 1] for i in range(top_idx))
        dec = all(vs[i] >= vs[i + 1] for i in range(top_idx, n - 1))
        if inc and dec:
            return ScopePattern("unimodal", str(ks[top_idx]))
    # outstanding top: top is far above the rest
    rest = svals[1:]
    mu = sum(rest) / len(rest)
    sd = (sum((v - mu) ** 2 for v in rest) / max(len(rest) - 1, 1)) ** 0.5
    if sd > 0 and (top - mu) / sd > 2.5:
        return ScopePattern("outstanding-top", str(ks[top_idx]))
    if sd == 0 and top > mu:
        return ScopePattern("outstanding-top", str(ks[top_idx]))
    # trend: rank correlation against the (sorted) breakdown order
    def ranks(xs: list[float]) -> list[float]:
        order = sorted(range(len(xs)), key=lambda i: xs[i])
        r = [0.0] * len(xs)
        for rank, i in enumerate(order):
            r[i] = float(rank)
        return r

    rv = ranks(vs)
    ri = list(range(n))
    mean_rv = sum(rv) / n
    mean_ri = (n - 1) / 2
    cov = sum((a - mean_ri) * (b - mean_rv) for a, b in zip(ri, rv))
    var_i = sum((a - mean_ri) ** 2 for a in ri)
    var_v = sum((b - mean_rv) ** 2 for b in rv)
    if n >= 4 and var_i > 0 and var_v > 0:
        rho = cov / (var_i * var_v) ** 0.5
        if rho > 0.8:
            return ScopePattern("trend-inc")
        if rho < -0.8:
            return ScopePattern("trend-dec")
    return ScopePattern("none")


# ---------------------------------------------------------------------------
# correlation-based auto-selection
# ---------------------------------------------------------------------------


def _correlations(
    df: DataFrame, seeds: list[str], candidates: list[str], profiles
) -> dict[str, float]:
    """Max |association| of each candidate with any seed column:
    Pearson (num-num), correlation ratio (num-cat), Cramér's V (cat-cat).
    Grouped-aggregation implementations; sampled upstream by caller."""
    scores: dict[str, float] = {c: 0.0 for c in candidates}
    # all num-num Pearson pairs in ONE aggregation pass
    num_pairs = [
        (s, c)
        for s in seeds
        if s in profiles and profiles[s].is_numeric
        for c in candidates
        if c != s and c in profiles and profiles[c].is_numeric
    ]
    if num_pairs:
        row = df.agg(
            *[
                F.corr(F.col(s).cast("double"), F.col(c).cast("double")).alias(f"_c{i}")
                for i, (s, c) in enumerate(num_pairs)
            ]
        ).first()
        for i, (_s, c) in enumerate(num_pairs):
            v = row[f"_c{i}"]
            if v is not None:
                scores[c] = max(scores[c], abs(v))
    # Every categorical-involving association — correlation ratio (num-cat)
    # AND Cramér's V contingency tables (cat-cat) — comes from ONE
    # grouping-sets scan: the empty set supplies global numeric stats,
    # singleton sets {cat} supply per-group numeric means, and doubleton
    # sets {catA, catB} supply contingency counts. Job count is therefore
    # constant in schema width (the round-1 design ran one groupBy per
    # categorical plus one per cat-cat pair).
    nums = sorted(
        {x for x in seeds + candidates if x in profiles and profiles[x].is_numeric}
    )
    cats = sorted(
        {x for x in seeds + candidates if x in profiles and not profiles[x].is_numeric}
    )
    mixed = [
        (n, c)
        for n in nums
        for c in cats
        if (n in seeds and c in candidates) or (c in seeds and n in candidates)
    ]
    cat_pairs = sorted(
        {
            frozenset((s, c))
            for s in seeds
            if s in profiles and not profiles[s].is_numeric
            for c in candidates
            if c != s and c in profiles and not profiles[c].is_numeric
        },
        key=sorted,
    )
    if mixed or cat_pairs:
        used_nums = sorted({n for n, _ in mixed})
        ratio_cats = sorted({c for _, c in mixed})
        all_cats = sorted(set(ratio_cats) | {x for p in cat_pairs for x in p})
        proj = df.select(
            *[
                F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN)).alias(f"__g_{c}")
                for c in all_cats
            ],
            *[F.col(n).cast("double").alias(f"__n_{n}") for n in used_nums],
        )
        gcols = [F.col(f"__g_{c}") for c in all_cats]
        uniq_sets: list[frozenset] = [frozenset()]
        uniq_sets += [frozenset((c,)) for c in ratio_cats]
        uniq_sets += [p for p in cat_pairs if p not in uniq_sets]
        gsets = [[F.col(f"__g_{c}") for c in all_cats if c in s] for s in uniq_sets]
        rows = (
            proj.groupingSets(gsets, *gcols)
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                *[F.avg(f"__n_{n}").alias(f"__m_{n}") for n in used_nums],
                *[F.var_pop(f"__n_{n}").alias(f"__v_{n}") for n in used_nums],
                *[F.count(f"__n_{n}").alias(f"__c_{n}") for n in used_nums],
                F.grouping_id().alias("__gid"),
            )
            .collect()
        )
        nc = len(all_cats)

        def gid_of(s: frozenset) -> int:
            return sum(1 << (nc - 1 - i) for i, c in enumerate(all_cats) if c not in s)

        by_gid: dict[int, list] = {}
        for r in rows:
            by_gid.setdefault(r["__gid"], []).append(r)
        gstats = by_gid.get(gid_of(frozenset()), [None])[0]
        if gstats is not None:
            for cat in ratio_cats:
                grows = by_gid.get(gid_of(frozenset((cat,))), [])
                for n in (n for n, c in mixed if c == cat):
                    var, cnt = gstats[f"__v_{n}"], gstats[f"__c_{n}"]
                    if not var or not cnt:
                        continue
                    mu = gstats[f"__m_{n}"]
                    ssb = sum(
                        r[f"__c_{n}"] * (r[f"__m_{n}"] - mu) ** 2
                        for r in grows
                        if r[f"__m_{n}"] is not None
                    )
                    score = (ssb / (var * cnt)) ** 0.5 if var * cnt > 0 else 0.0
                    target = n if n in candidates else cat
                    scores[target] = max(scores.get(target, 0.0), score)
        for pair in cat_pairs:
            a, b = sorted(pair)
            ct = [
                {"a": r[f"__g_{a}"], "b": r[f"__g_{b}"], "count": r["__cnt"]}
                for r in by_gid.get(gid_of(pair), [])
            ]
            v = _cramers_v(ct)
            for c in pair:
                if c in candidates:
                    scores[c] = max(scores[c], v)
    return scores


def _cramers_v(rows) -> float:
    n = sum(r["count"] for r in rows)
    if n == 0:
        return 0.0
    ra: dict[str, int] = {}
    rb: dict[str, int] = {}
    for r in rows:
        ra[r["a"]] = ra.get(r["a"], 0) + r["count"]
        rb[r["b"]] = rb.get(r["b"], 0) + r["count"]
    chi2 = 0.0
    for r in rows:
        exp = ra[r["a"]] * rb[r["b"]] / n
        if exp > 0:
            chi2 += (r["count"] - exp) ** 2 / exp
    k = min(len(ra), len(rb))
    if k <= 1:
        return 0.0
    return (chi2 / (n * (k - 1))) ** 0.5


# ---------------------------------------------------------------------------
# the explainer
# ---------------------------------------------------------------------------


@dataclass
class MetaInsightResult:
    filter_dim: str
    breakdown: str
    measure: str
    agg: str
    pattern_kind: str
    commonness: float
    highlight: str | None
    exceptions: list[tuple[str, str, str | None]]  # (scope value, kind, highlight)
    score: float

    def text(self) -> str:
        # template contract (llm_integrations/explanation_reasoning.py:119-127)
        base = (
            f"Common pattern {self.pattern_kind!r} detected for over "
            f"{self.commonness:.0%} of values of {self.filter_dim}, when grouping by "
            f"{self.breakdown} and aggregating {self.measure} by {self.agg}."
        )
        if self.highlight:
            base += f" Highlight: {self.breakdown} = {self.highlight}."
        if self.exceptions:
            exc = "; ".join(
                f"{self.filter_dim} = {v}: {kind}" + (f" at {h}" if h else "")
                for v, kind, h in self.exceptions[:3]
            )
            base += f" Exceptions: {exc}."
        return base


class MetaInsightExplainer(ExplainerBase):
    def __init__(
        self,
        frame,
        top_k: int = DEFAULT_K,
        min_commonness: float = MIN_COMMONNESS,
        actionability_regularizer: float = 0.1,
        balance_factor: float = 1.0,
        n_bins: int = N_BINS,
        filter_dimensions: list[str] | None = None,
        breakdown_dimensions: list[str] | None = None,
        measures: list[tuple[str, str]] | None = None,
        max_filter_dims: int = 3,
        max_breakdowns: int = 2,
        max_measures: int = 3,
        use_sampling: bool = True,
        sample_size: int = 5000,
        **_ignored,
    ):
        self.frame = frame
        self.top_k = top_k
        self.min_commonness = min_commonness
        self.reg = actionability_regularizer
        self.balance = balance_factor
        self.n_bins = n_bins
        self.filter_dimensions = filter_dimensions
        self.breakdown_dimensions = breakdown_dimensions
        self.measures = measures  # list of (column, agg)
        self.max_filter_dims = max_filter_dims
        self.max_breakdowns = max_breakdowns
        self.max_measures = max_measures
        self.use_sampling = use_sampling
        self.sample_size = sample_size

    # -- search space from lineage (metainsight_explainer.py:158-375) --------
    def _derive_space(self, df: DataFrame):
        profiles = profile_columns(df, df.columns, cat_cap=200)
        numeric = [c for c, p in profiles.items() if p.is_numeric]
        # dimensions: low-cardinality categoricals as-is, numerics via
        # n_bins equi-width binning (reference bins dimensions too,
        # metainsight_explainer.py:91,110-111)
        categorical = [
            c for c, p in profiles.items() if not p.is_numeric and 1 < p.distinct <= CAT_CAP
        ]
        dims = categorical + [c for c in numeric if profiles[c].bin_edges(self.n_bins)]
        op = getattr(self.frame, "operation", None)

        seeds: list[str] = []
        filter_dims = list(self.filter_dimensions or [])
        breakdowns = list(self.breakdown_dimensions or [])
        measures = list(self.measures or [])

        if isinstance(op, GroupByOp):
            seeds = [k for k in op.keys if k in df.columns]
            if not breakdowns:
                breakdowns = [k for k in op.keys if k in categorical or k in numeric]
            if not measures:
                measures = [
                    (c, aggs[0]) for c, aggs in op.agg_dict.items() if c in df.columns
                ]
        elif isinstance(op, (FilterOp, JoinOp)):
            attr = getattr(op, "attribute", None)
            if attr is None and isinstance(op, JoinOp):
                attr = (op.on or [None])[0]
            if attr and attr in df.columns:
                seeds = [attr]
                if not filter_dims and attr in categorical:
                    filter_dims = [attr]

        # cache the sample across the correlation jobs: it is the input to
        # several aggregations, and uncached each one would re-execute the
        # TakeOrdered full-table scan it derives from
        sample = maybe_sample(df, self.use_sampling, self.sample_size, RANDOM_SEED)
        sampled = sample is not df
        if sampled:
            sample = sample.cache()
        try:
            cands = [c for c in df.columns if c not in seeds]
            corr = _correlations(sample, seeds or df.columns[:1], cands, profiles)
        finally:
            if sampled:
                sample.unpersist()

        if not filter_dims:
            filter_dims = sorted(
                [c for c in dims if c not in breakdowns],
                key=lambda c: (-corr.get(c, 0.0), c),
            )[: self.max_filter_dims]
        else:
            filter_dims = filter_dims[: self.max_filter_dims]
        if not breakdowns:
            breakdowns = sorted(
                [c for c in dims if c not in filter_dims],
                key=lambda c: (-corr.get(c, 0.0), c),
            )[: self.max_breakdowns]
        else:
            breakdowns = breakdowns[: self.max_breakdowns]
        if not measures:
            ranked_num = sorted(numeric, key=lambda c: (-corr.get(c, 0.0), c))
            measures = [(c, "mean") for c in ranked_num[: self.max_measures]]
        else:
            measures = measures[: self.max_measures]
        return filter_dims, breakdowns, measures, profiles

    # -- mining ---------------------------------------------------------------
    def generate_explanation(self) -> Explanation:
        op = getattr(self.frame, "operation", None)
        # group-by lineage: mine the pre-aggregation source (the result has
        # one row per group); filter/join lineage: mine the visible result
        df = op.source if isinstance(op, GroupByOp) and op.source is not None else self.frame.df
        filter_dims, breakdowns, measures, profiles = self._derive_space(df)
        insights: list[MetaInsightResult] = []

        pairs = [
            (fdim, bdim)
            for fdim in filter_dims
            for bdim in breakdowns
            if fdim != bdim
        ]
        if not measures:
            pairs = []

        grouped_by_set: dict[frozenset, "object"] = {}
        if pairs:
            def dim_expr(col: str):
                p = profiles.get(col)
                if p is not None and p.is_numeric:
                    return _bin_expr_col(F.col(col), p, self.n_bins)
                return F.coalesce(F.col(col).cast("string"), F.lit(NULL_TOKEN))

            cube, gids = _scope_cube(df, pairs, measures, dim_expr)
            all_grouped = cube.toPandas()
            for s, gid in gids.items():
                grouped_by_set[s] = all_grouped[all_grouped["__gid"] == gid]

        for fdim, bdim in pairs:
                grouped = grouped_by_set[frozenset((fdim, bdim))].rename(
                    columns={f"__d_{fdim}": "__f", f"__d_{bdim}": "__b"}
                )

                def dim_label(col: str, key):
                    p = profiles.get(col)
                    if p is not None and p.is_numeric and key is not None:
                        return bin_label(p, key, self.n_bins)
                    return key
                # cap scope count: keep the most frequent filter values;
                # ties broken by value so the scope order (and therefore the
                # exception list) is independent of toPandas() row order
                counts = grouped["__f"].value_counts()
                fvals = sorted(counts.index.tolist(), key=lambda v: (-counts[v], str(v)))[:CAT_CAP]
                for i, (col, agg) in enumerate(measures):
                    if col == fdim or col == bdim:
                        continue
                    patterns: dict[str, ScopePattern] = {}
                    for fv in fvals:
                        sub = grouped[grouped["__f"] == fv].sort_values("__b")
                        patterns[fv] = detect_pattern(
                            sub["__b"].tolist(), sub[f"__m{i}"].tolist()
                        )
                    non_none = [p for p in patterns.values() if p.kind != "none"]
                    if not non_none or len(patterns) < 2:
                        continue
                    # most common (kind, highlight) combination
                    freq: dict[str, int] = {}
                    for p in non_none:
                        freq[p.kind] = freq.get(p.kind, 0) + 1
                    best_kind = max(freq, key=lambda k: (freq[k], k))
                    holders = [
                        (fv, p) for fv, p in patterns.items() if p.kind == best_kind
                    ]
                    commonness = len(holders) / len(patterns)
                    if commonness < self.min_commonness:
                        continue
                    # dominant highlight among holders
                    hl_freq: dict[str | None, int] = {}
                    for _, p in holders:
                        hl_freq[p.highlight] = hl_freq.get(p.highlight, 0) + 1
                    best_hl = max(hl_freq, key=lambda h: (hl_freq[h], str(h)))
                    exceptions: list[tuple[str, str, str | None]] = []
                    for fv, p in patterns.items():
                        if p.kind == best_kind and p.highlight == best_hl:
                            continue
                        if p.kind == best_kind:
                            exceptions.append((fv, "highlight-change", p.highlight))
                        elif p.kind == "none":
                            exceptions.append((fv, "no-pattern", None))
                        else:
                            exceptions.append((fv, f"type-change:{p.kind}", p.highlight))
                    # score (paper-derived): commonness balanced against
                    # exception mass, regularized by scope-space size
                    exceptions.sort(key=lambda e: (e[1], str(e[0])))
                    exc_ratio = len(exceptions) / len(patterns)
                    score = commonness - self.balance * 0.5 * exc_ratio
                    score -= self.reg * (len(patterns) / (CAT_CAP * 2))
                    insights.append(
                        MetaInsightResult(
                            filter_dim=fdim,
                            breakdown=bdim,
                            measure=col,
                            agg=agg,
                            pattern_kind=best_kind,
                            commonness=round(commonness, 6),
                            highlight=dim_label(bdim, best_hl),
                            exceptions=[
                                (dim_label(fdim, v), kind, dim_label(bdim, h))
                                for v, kind, h in exceptions
                            ],
                            score=round(score, 6),
                        )
                    )

        insights.sort(key=lambda m: (-m.score, m.filter_dim, m.breakdown, m.measure))
        insights = insights[: self.top_k]
        items = [
            ExplanationItem(
                attribute=f"{m.breakdown}|{m.measure}_{m.agg}",
                bin=m.pattern_kind + (f"@{m.highlight}" if m.highlight else ""),
                influence=m.commonness,
                score=m.score,
                side=m.filter_dim,
                explanation=m.text(),
            )
            for m in insights
        ]
        return Explanation(
            kind="metainsight",
            query=f"{self.frame.name}.explain(metainsight)",
            items=items,
            extras={"insights": insights},
        )


def _scope_cube(df: DataFrame, pairs, measures, dim_expr):
    """ONE grouping-sets pass for ALL (filter_dim, breakdown) pairs (SURVEY
    §4 custom-physical #4, extended across pairs): a single scan +
    shuffle computes every sibling scope of every pair; at 100 TB this is
    the difference between 1 and |pairs| table scans. ``dim_expr(col)``
    is the never-NULL bin key of a dimension, so grouping_id
    unambiguously tags which unordered dim set a row aggregates over.
    Every measure (column, agg) is computed by ``agg_column`` over the
    column cast to double; an unknown agg raises. Returns (cube with
    ``__d_<dim>`` keys, ``__m<i>`` values and ``__gid``, {dim set: gid})."""
    dims_needed = sorted({d for p in pairs for d in p})
    proj = df.select(
        *[dim_expr(d).alias(f"__d_{d}") for d in dims_needed],
        *[F.col(c).cast("double").alias(c) for c in sorted({c for c, _ in measures})],
    )
    uniq_sets = sorted({frozenset(p) for p in pairs}, key=lambda s: sorted(s))
    gcols = [F.col(f"__d_{d}") for d in dims_needed]
    gsets = [[F.col(f"__d_{d}") for d in dims_needed if d in s] for s in uniq_sets]
    aggs = [agg_column(c, agg).alias(f"__m{i}") for i, (c, agg) in enumerate(measures)]
    n = len(dims_needed)
    gids = {
        s: sum(1 << (n - 1 - i) for i, d in enumerate(dims_needed) if d not in s)
        for s in uniq_sets
    }
    cube = proj.groupingSets(gsets, *gcols).agg(*aggs, F.grouping_id().alias("__gid"))
    return cube, gids


def metainsight_kernel_table(
    df: DataFrame,
    pairs: list[tuple[str, str]],
    measure_col: str,
    agg: str = "mean",
) -> DataFrame:
    """SQL-checkable core of the E6 kernel: the shared grouping-sets scope
    cube every (filter_dim, breakdown) pair's sibling scopes are read from
    — the explainer's own ``_scope_cube``. Categorical dims only (values
    are their own bins, coalesced to the NULL token), so the cube is
    reproducible in any engine as a union of plain GROUP BYs with the
    matching grouping_id. Returns (dim columns..., gid, value)."""
    def dim_expr(d: str):
        return F.coalesce(F.col(d).cast("string"), F.lit(NULL_TOKEN))

    cube, _ = _scope_cube(df, pairs, [(measure_col, agg)], dim_expr)
    dims_needed = sorted({d for p in pairs for d in p})
    return cube.select(
        *[F.col(f"__d_{d}").alias(d) for d in dims_needed],
        F.col("__gid").alias("gid"),
        F.round("__m0", 6).alias("value"),
    )
