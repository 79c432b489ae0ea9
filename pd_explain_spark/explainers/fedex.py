"""FEDEX explainer (E1/E2/E3) — deviation-based explanations.

Semantics recovered from the reference (SURVEY.md §2.4):
 * filter/join: per-column "exceptionality" — a KS-style statistic between
   the source and result distributions (documented at
   experimental/experimental_llm_integrations/query_refiner.py:45-46);
   columns correlated > corr_TH with the filter attribute are excluded
   (core/explainable_data_frame.py:1089; fedex_explainer.py:164-168);
   per top column, each bin's *influence* = its contribution to the
   deviation; phrasing "property x value y appears z times more/less than
   before" (llm_integrations/explanation_reasoning.py:94).
 * group-by: "diversity" — coefficient of variation of each aggregated
   column (query_refiner.py:46); phrasing "groups with property = x have
   property y z standard deviations from the mean"
   (explanation_reasoning.py:87-90).
 * shapley: attribution of the change to one side of a join/filter
   (explainer_factory.py:24-25) — for 2 players the Shapley value is the
   averaged marginal, i.e. each side's own deviation share.

Spark design: all heavy work is the single-pass dual histogram
(histograms.py); scoring runs driver-side on the tiny
(n_cols x n_bins) frame. Group-by diversity aggregates the (already
small) grouped result; top groups found with sort-limit, never a full
collect.
"""

from __future__ import annotations

import math
from dataclasses import replace

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import checkpoint_df

from ..core.operations import FilterOp, GroupByOp, JoinOp
from ..operators.aggregates import is_numeric_type
from ..operators.partitioning import fan_out
from ..operators.sampling import maybe_sample
from .base import Explanation, ExplanationItem, ExplainerBase
from .histograms import (
    NULL_TOKEN,
    ColumnProfile,
    bin_label,
    dual_histogram_predicate,
    dual_histogram_union,
    profile_columns,
    shapley_dual_histograms,
)

DEFAULT_TOP_K = 1
DEFAULT_CORR_TH = 0.7
DEFAULT_N_BINS = 20
SAMPLE_SIZE = 5000
RANDOM_SEED = 42


class FedexExplainer(ExplainerBase):
    def __init__(
        self,
        frame,
        top_k: int = DEFAULT_TOP_K,
        corr_TH: float = DEFAULT_CORR_TH,
        n_bins: int = DEFAULT_N_BINS,
        consider: str = "left",
        shapley: bool = False,
        value: str | None = None,
        attr: str | None = None,
        use_sampling: bool | None = None,
        sample_size: int = SAMPLE_SIZE,
        attributes: list[str] | None = None,
        ignore: list[str] | None = None,
        **_ignored,
    ):
        if frame.operation is None:
            raise ValueError(
                "no operation captured — run a tracked filter/groupby/join first"
            )
        self.frame = frame
        self.op = frame.operation
        self.top_k = top_k
        self.corr_TH = corr_TH
        self.n_bins = n_bins
        self.consider = consider
        self.shapley = shapley
        from ..config import resolve_sampling

        self.use_sampling = resolve_sampling(use_sampling)
        self.sample_size = sample_size
        self.attributes = attributes
        self.ignore = set(ignore or [])
        # shapley-on-filter kwargs (reference threads value/attr through
        # explain() for filters too — explainable_data_frame.py:1090,1242)
        self.value = value
        self.attr = attr

    # ------------------------------------------------------------------
    def generate_explanation(self) -> Explanation:
        if isinstance(self.op, GroupByOp):
            return self._explain_groupby()
        if isinstance(self.op, JoinOp):
            if self.shapley:
                return self._explain_shapley()
            return self._explain_join(self.consider)
        if isinstance(self.op, FilterOp):
            if self.shapley:
                return self._explain_shapley_filter()
            return self._explain_filter()
        raise ValueError(f"fedex cannot explain operation {self.op.kind}")

    # ------------------------------------------------------------------
    # E1 filter
    # ------------------------------------------------------------------
    def _candidate_columns(self, df: DataFrame, exclude: set[str]) -> list[str]:
        if self.attributes is not None:
            return [c for c in self.attributes if c in df.columns]
        return [c for c in df.columns if c not in exclude and c not in self.ignore]

    def _maybe_sample(self, df: DataFrame) -> DataFrame:
        out = maybe_sample(df, self.use_sampling, self.sample_size, RANDOM_SEED)
        if self.use_sampling:
            # the <= sample_size-row sample feeds several jobs (profile +
            # corr pruning, the dual histogram, scoring); localCheckpoint
            # materializes the TakeOrdered-over-the-source subtree ONCE
            # instead of rescanning the full table per consumer — measured
            # ~2x on the filter explainer at sf0.1. Bounded blocks, freed
            # by the ContextCleaner when the explanation is built.
            out = out.transform(checkpoint_df)
        return out

    def _explain_filter(self, source: DataFrame | None = None) -> Explanation:
        """``source``: the already-sampled source, when the caller holds it."""
        op: FilterOp = self.op
        source = self._maybe_sample(op.source) if source is None else source
        filter_cols = set(op.predicate.columns()) if op.predicate else {op.attribute}
        candidates = self._candidate_columns(source, exclude=filter_cols)
        projection = None
        if not self.use_sampling and candidates:
            # full-data mode consumes the source twice (profile+corr agg,
            # then the dual histogram) and both partial aggregates run
            # inside the SCAN stage — on a low-split input (single
            # row-group file) that is two serial single-task passes. The
            # fanned projection is persisted LAZILY: the profile agg fills
            # the cache in its own (now parallel) job and the histogram
            # reads cached blocks (guide §2.2/§5). Sampling mode already
            # checkpoints its <= 5k-row sample in _maybe_sample. A size
            # trade-off, measured with the projection against without on
            # 4 cores: ~10% faster on sf0.1 lineitem, one row group (0.94
            # vs 1.03-1.05 s), ~12% slower on a 60k-row table (0.40 vs
            # 0.35 s).
            keep = set(candidates) | filter_cols | {op.attribute}
            source = projection = fan_out(
                source.select(*[c for c in source.columns if c in keep])
            ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            profiles = profile_columns(source, candidates, corr_anchor=op.attribute)
            # columns correlated with the filter attribute are pruned
            corr = {
                c: p.corr for c, p in profiles.items()
                if p.corr is not None and abs(p.corr) >= self.corr_TH
            }
            profiles = {c: p for c, p in profiles.items() if c not in corr}
            if not profiles:
                return Explanation(kind="fedex-filter", query=op.query_string())
            # collected (pandas): the projection's last consumer
            hist = dual_histogram_predicate(
                source, op.predicate.to_spark(source), profiles, self.n_bins
            )
        finally:
            if projection is not None:
                projection.unpersist()
        items, scores = self._score_histogram(hist, profiles, side=None)
        exp = Explanation(
            kind="fedex-filter", query=op.query_string(), items=items[: self.top_k], scores=scores
        )
        exp.extras["cor_deleted_atts"] = corr
        return exp

    # ------------------------------------------------------------------
    # E1 join / E3 shapley
    # ------------------------------------------------------------------
    def _side(self, consider: str):
        """One join side ready for its dual histogram: the (sampled) side,
        the profiles of its candidate columns, and each candidate's name
        in the join result (the ``<side_name>_<col>`` prefix contract)."""
        op: JoinOp = self.op
        side_df, side_name = (
            (op.right, op.right_name) if consider == "right" else (op.left, op.left_name)
        )
        side_df = self._maybe_sample(side_df)
        candidates = self._candidate_columns(side_df, exclude=set(op.on))
        rename = {c: f"{side_name}_{c}" for c in candidates}
        return side_df, profile_columns(side_df, candidates), rename

    def _explain_join(self, consider: str) -> Explanation:
        op: JoinOp = self.op
        side_df, profiles, rename = self._side(consider)
        if not profiles:
            return Explanation(kind="fedex-join", query=op.query_string())
        hist = dual_histogram_union(side_df, op.result, profiles, self.n_bins, result_rename=rename)
        items, scores = self._score_histogram(hist, profiles, side=consider)
        return Explanation(
            kind="fedex-join", query=op.query_string(), items=items[: self.top_k], scores=scores
        )

    def _explain_shapley(self) -> Explanation:
        """2-player Shapley: each side's value is its own marginal
        deviation, the side against the recorded join result — the
        histogram ``_explain_join`` scores for that side. Both sides'
        histograms come from ONE query, ``shapley_dual_histograms``: the
        left and right branches plus one result branch binning both
        sides' columns, collected once, in full-data and sampling mode
        alike. A semi or anti result holds no right column, so the right
        side's result counts are all zero and it scores nothing."""
        op: JoinOp = self.op
        # the two sides' profile aggregates are independent single-job
        # pipelines — overlap them (guide §2.6): the second side's scan
        # back-fills executor slots freed by the first side's tail
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            (left_df, lp, lr), (right_df, rp, rr) = pool.map(self._side, ("left", "right"))
        per_side: dict[str, tuple[list, dict]] = {}
        if lp or rp:
            hist = shapley_dual_histograms(
                left_df, right_df, op.result, lp, rp, self.n_bins,
                left_rename=lr, right_rename=rr,
            )
            for consider, profiles in (("left", lp), ("right", rp)):
                prefix = f"{consider}:"
                sub = hist[hist["attribute"].str.startswith(prefix)].copy()
                sub["attribute"] = sub["attribute"].str[len(prefix):]
                per_side[consider] = self._score_histogram(sub, profiles, side=consider)
        l_items, l_scores = per_side.get("left", ([], {}))
        r_items, r_scores = per_side.get("right", ([], {}))
        left = Explanation(kind="fedex-join", query=op.query_string(),
                           items=l_items[: self.top_k], scores=l_scores)
        right = Explanation(kind="fedex-join", query=op.query_string(),
                            items=r_items[: self.top_k], scores=r_scores)
        total = sum(left.scores.values()) + sum(right.scores.values())
        items = sorted(left.items + right.items, key=lambda i: (-i.score, i.attribute))
        exp = Explanation(
            kind="fedex-shapley",
            query=self.op.query_string(),
            items=items[: max(self.top_k, 1)],
            scores={**{f"left.{k}": v for k, v in left.scores.items()},
                    **{f"right.{k}": v for k, v in right.scores.items()}},
        )
        exp.extras["side_share"] = {
            "left": (sum(left.scores.values()) / total) if total else 0.5,
            "right": (sum(right.scores.values()) / total) if total else 0.5,
        }
        return exp

    def _explain_shapley_filter(self) -> Explanation:
        """E3 on a filter: 2-player Shapley over the {kept, removed} row
        partitions for the measure ``value(attr)`` (defaults: mean of the
        filter attribute, else the first numeric candidate).

        With coalition value v(S) = agg over the rows of S (v(empty)=0),
        the exact 2-player Shapley value of 'kept' is
        0.5*(v({kept}) - v({})) + 0.5*(v(all) - v({removed})) and
        symmetrically for 'removed' — one conditional-aggregation pass
        over the source computes every term. Items reuse the filter
        deviation histograms so the per-column stories are consistent
        with plain fedex mode. Reference routes shapley through
        FedexExplainer with value/attr/consider kwargs
        (explainer_factory.py:24-25, explainable_data_frame.py:1090,1242).
        """
        op: FilterOp = self.op
        source = self._maybe_sample(op.source)
        schema = {f.name: f.dataType for f in source.schema.fields}
        attr = self.attr
        if attr is None:
            if op.attribute and is_numeric_type(schema.get(op.attribute, None)):
                attr = op.attribute
            else:
                numerics = [
                    c for c in source.columns
                    if is_numeric_type(schema[c]) and c not in self.ignore
                ]
                if not numerics:
                    raise ValueError("shapley filter mode needs a numeric `attr`")
                attr = numerics[0]
        agg = (self.value or "mean").lower()
        shapley = _shapley_filter(source, op.predicate.to_spark(source), attr, agg)
        base = self._explain_filter(source)
        exp = Explanation(
            kind="fedex-shapley-filter",
            query=op.query_string(),
            items=base.items,
            scores=base.scores,
        )
        exp.extras["cor_deleted_atts"] = base.extras.get("cor_deleted_atts", {})
        exp.extras["shapley"] = {"measure": f"{agg}({attr})", **shapley}
        return exp

    # ------------------------------------------------------------------
    # E2 group-by diversity
    # ------------------------------------------------------------------
    def _explain_groupby(self) -> Explanation:
        op: GroupByOp = self.op
        result = op.result
        schema = {f.name: f.dataType for f in result.schema.fields}
        value_cols = [
            c for c in result.columns
            if c not in op.keys and is_numeric_type(schema[c]) and c not in self.ignore
        ]
        if not value_cols:
            return Explanation(kind="fedex-groupby", query=op.query_string())
        # one agg over the (small) grouped result: mean/std per value column
        exprs = []
        for c in value_cols:
            exprs += [
                F.avg(F.col(c).cast("double")).alias(f"{c}__m"),
                F.stddev_samp(F.col(c).cast("double")).alias(f"{c}__s"),
            ]
        stats = result.agg(*exprs).first().asDict()
        scores: dict[str, float] = {}
        for c in value_cols:
            m, s = stats[f"{c}__m"], stats[f"{c}__s"]
            if m is None or s is None or m == 0:
                continue
            scores[c] = abs(s / m)  # coefficient of variation
        ranked = sorted(scores, key=lambda c: (-scores[c], c))
        items: list[ExplanationItem] = []
        key_expr = F.concat_ws(", ", *[F.col(k).cast("string") for k in op.keys])
        for c in ranked[: max(self.top_k, 1)]:
            m, s = stats[f"{c}__m"], stats[f"{c}__s"]
            if not s:
                continue
            # top-|z| groups, capped: enough for the bar chart, never the
            # whole grouped result through the driver
            top_rows = (
                result.select(
                    key_expr.alias("__group"),
                    F.col(c).cast("double").alias("__v"),
                    ((F.col(c).cast("double") - F.lit(m)) / F.lit(s)).alias("__z"),
                )
                .orderBy(F.abs(F.col("__z")).desc(), F.col("__group"))
                .limit(30)
                .collect()
            )
            if not top_rows:
                continue
            top = top_rows[0]
            z = float(top["__z"])
            chart = sorted(top_rows, key=lambda r: str(r["__group"]))
            items.append(
                ExplanationItem(
                    attribute=c,
                    bin=str(top["__group"]),
                    influence=z,
                    score=float(scores[c]),
                    side=None,
                    explanation=(
                        f"groups with {'/'.join(op.keys)} = {top['__group']} have {c} "
                        f"{z:+.2f} standard deviations from the mean"
                    ),
                    viz={
                        "kind": "group-bar",
                        "labels": [str(r["__group"]) for r in chart],
                        "values": [float(r["__v"]) for r in chart],
                        "highlight": [str(r["__group"]) for r in chart].index(
                            str(top["__group"])
                        ),
                    },
                )
            )
        return Explanation(
            kind="fedex-groupby", query=op.query_string(), items=items, scores=scores
        )

    # ------------------------------------------------------------------
    # driver-side scoring over the tiny histogram frame
    # ------------------------------------------------------------------
    def _score_histogram(
        self, hist: pd.DataFrame, profiles: dict[str, ColumnProfile], side: str | None
    ) -> tuple[list[ExplanationItem], dict[str, float]]:
        items: list[ExplanationItem] = []
        scores: dict[str, float] = {}
        for attr, grp in hist.groupby("attribute"):
            prof = profiles[attr]
            grp = grp.sort_values("bin")
            src = grp["src_cnt"].to_numpy(dtype=float)
            res = grp["res_cnt"].to_numpy(dtype=float)
            s_tot, r_tot = src.sum(), res.sum()
            if s_tot == 0 or r_tot == 0:
                continue
            p, q = src / s_tot, res / r_tot
            score = self._deviation(src, res, s_tot, r_tot, ordered=prof.is_numeric)
            if not math.isfinite(score):
                continue
            scores[attr] = score
            # influence of each bin = deviation drop when that bin is removed
            best_idx, best_infl = None, 0.0
            for b in range(len(p)):
                mask = [i for i in range(len(p)) if i != b]
                ps, qs = src[mask], res[mask]
                if ps.sum() == 0 or qs.sum() == 0:
                    continue
                d_wo = self._deviation(
                    ps, qs, ps.sum(), qs.sum(), ordered=prof.is_numeric
                )
                infl = score - d_wo
                if best_idx is None or abs(infl) > abs(best_infl):
                    best_idx, best_infl = b, infl
            if best_idx is None:
                continue
            key = grp.iloc[best_idx]["bin"]
            label = bin_label(prof, key, self.n_bins)
            ratio = (q[best_idx] / p[best_idx]) if p[best_idx] > 0 else float("inf")
            if ratio >= 1:
                phrase = f"appears {ratio:.2f} times more than before"
            else:
                phrase = f"appears {1 / ratio:.2f} times less than before" if ratio > 0 else "disappears"
            where = f" (considering the {side} side)" if side else ""
            items.append(
                ExplanationItem(
                    attribute=attr,
                    bin=label,
                    influence=float(best_infl),
                    score=float(score),
                    side=side,
                    explanation=f"property {attr} value {label} {phrase}{where}",
                    viz={
                        "kind": "dist-compare",
                        "labels": [bin_label(prof, k, self.n_bins) for k in grp["bin"]],
                        "src": [float(x) for x in p],
                        "res": [float(x) for x in q],
                        "highlight": int(best_idx),
                    },
                )
            )
        items.sort(key=lambda i: (-i.score, i.attribute))
        return items, scores

    @staticmethod
    def _deviation(src, res, s_tot, r_tot, ordered: bool) -> float:
        """KS statistic for ordered (numeric-binned) columns, total-variation
        distance for categoricals — both in [0, 1].

        Engine-portability contract (what makes the explain-surface text
        oracle-checkable end to end): the KS path accumulates exact INTEGER
        counts first and divides by the totals once per prefix, so every
        float is one IEEE division of exact values — a SQL engine running
        ``cum(src)/s_tot - cum(res)/r_tot`` reproduces it bitwise. A float
        running sum of per-bin ratios (the naive ``cumsum(p)``) is NOT
        reproducible: summation order/ulps differ across engines."""
        import numpy as np

        if ordered:
            # counts are integers < 2^53: cumsum in float64 is exact
            return float(
                np.max(np.abs(np.cumsum(src) / s_tot - np.cumsum(res) / r_tot))
            )
        return float(0.5 * np.sum(np.abs(src / s_tot - res / r_tot)))


def filter_kernel_table(
    frame, attributes: list[str], n_bins: int = DEFAULT_N_BINS
) -> DataFrame:
    """SQL-checkable core of the E1 filter kernel: the dual histogram a
    filter explanation is scored from, with the cumulative-delta column and
    the per-attribute KS statistic attached — entirely JVM-side.

    The reference computes the same statistic per column in pandas
    (documented at experimental/experimental_llm_integrations/
    query_refiner.py:45-46: exceptionality = deviation between source and
    result distributions); here it is ONE Spark job over the single-pass
    dual histogram plus two tiny window functions over the
    (n_attributes x n_bins)-row result.

    Determinism contract (this is what makes the output oracle-checkable
    against DuckDB running identical SQL):
      * ``attributes`` is explicit — no approx-distinct candidate rule, no
        correlation pruning, no sampling; every listed column is treated as
        numeric with exact min/max equi-width edges over the FULL source.
      * cumulative sums accumulate exact BIGINT counts in bin order and
        divide by the attribute totals once at the end, so the floating
        result is a single IEEE division per term in both engines —
        never a running float sum.

    Returns (attribute, bin, src_cnt, res_cnt, cum_delta, ks) where
    cum_delta = cum_src/s_tot - cum_res/r_tot and ks = max(|cum_delta|)
    over the attribute (the KS statistic `_score_histogram` derives for
    ordered columns).
    """
    from .histograms import dual_histogram_predicate_df

    op = frame.operation
    if not isinstance(op, FilterOp) or op.predicate is None:
        raise ValueError("filter_kernel_table needs a frame produced by a tracked filter")
    source = op.source
    profiles = _forced_numeric(profile_columns(source, attributes), attributes)
    hist = dual_histogram_predicate_df(source, op.predicate.to_spark(source), profiles, n_bins)
    return _cum_delta_table(hist)


def _forced_numeric(profiles: dict[str, ColumnProfile], attributes: list[str]):
    """The kernel tables' explicit attribute lists are binned numerically
    over their exact min/max — no distinct > 6 rule, so bin edges are
    reproducible in any engine from the same data."""
    return {c: replace(profiles[c], is_numeric=True) for c in attributes}


def _cum_delta_table(hist: DataFrame) -> DataFrame:
    """(attribute, bin, src_cnt, res_cnt) histogram -> the cum-delta/KS
    table: integer cumulative sums in bin order, divided by the attribute
    totals once at the end (a single IEEE division per term in any
    engine), then ks = max(|cum_delta|) per attribute."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("attribute")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_attr = Window.partitionBy("attribute")
    cum_delta = (
        F.sum("src_cnt").over(w_cum).cast("double") / F.sum("src_cnt").over(w_attr)
        - F.sum("res_cnt").over(w_cum).cast("double") / F.sum("res_cnt").over(w_attr)
    )
    return hist.select(
        "attribute",
        "bin",
        F.col("src_cnt").cast("long").alias("src_cnt"),
        F.col("res_cnt").cast("long").alias("res_cnt"),
        F.round(cum_delta, 6).alias("cum_delta"),
        F.round(F.max(F.abs(cum_delta)).over(w_attr), 6).alias("ks"),
    )


def join_kernel_table(
    frame, attributes: list[str], n_bins: int = DEFAULT_N_BINS, consider: str = "left"
) -> DataFrame:
    """SQL-checkable core of the E1 JOIN kernel: the union-path dual
    histogram (side rows tagged source, joined rows tagged result;
    histograms.py dual_histogram_union) with the same cum-delta/KS
    algebra as ``filter_kernel_table``. ``attributes`` are columns of the
    considered side; bins come from that side's exact min/max. The
    result reads the side's columns through the join prefix contract
    (<side_name>_<col>)."""
    from .histograms import dual_histogram_union_df

    op = frame.operation
    if not isinstance(op, JoinOp):
        raise ValueError("join_kernel_table needs a frame produced by a tracked join")
    side_df, side_name = (op.right, op.right_name) if consider == "right" else (op.left, op.left_name)
    profiles = _forced_numeric(profile_columns(side_df, attributes), attributes)
    rename = {c: f"{side_name}_{c}" for c in attributes}
    hist = dual_histogram_union_df(side_df, op.result, profiles, n_bins, result_rename=rename)
    return _cum_delta_table(hist)


def shapley_filter_kernel_table(frame, attr: str, value: str = "mean") -> DataFrame:
    """SQL-checkable core of the E3 filter kernel: the exact 2-player
    Shapley decomposition over the {kept, removed} row partitions for
    measure ``value(attr)`` — one conditional-aggregation pass, then
    phi(kept) = 0.5*v(kept) + 0.5*(v(all) - v(removed)) and symmetrically
    (the same closed form `_explain_shapley_filter` reports in
    extras['shapley']). Feed an integer-scaled attr (e.g. cents) so sums
    are exact and each output value is a single IEEE division/fma chain
    identical in any engine. Returns two rows (player, value, shapley)."""
    op = frame.operation
    if not isinstance(op, FilterOp) or op.predicate is None:
        raise ValueError("shapley_filter_kernel_table needs a tracked filter")
    source = op.source
    s = _shapley_filter(source, op.predicate.to_spark(source), attr, value.lower())
    return source.sparkSession.createDataFrame(
        [
            ("kept", round(s["v_kept"], 6), round(s["kept"], 6)),
            ("removed", round(s["v_removed"], 6), round(s["removed"], 6)),
        ],
        schema="player string, value double, shapley double",
    )


def _shapley_filter(source: DataFrame, pred, attr: str, agg: str) -> dict[str, float]:
    """Exact 2-player Shapley over the {kept, removed} row partitions of
    ``source`` under ``pred`` for the measure ``agg(attr)``, from ONE
    conditional-aggregation pass. With v(S) = agg over the rows of S and
    v(empty) = 0: phi(kept) = 0.5*v(kept) + 0.5*(v(all) - v(removed)),
    and symmetrically for removed."""
    if agg not in ("mean", "sum", "count"):
        raise ValueError(f"shapley filter value must be mean/sum/count, got {agg!r}")
    v = F.col(attr).cast("double")
    row = source.agg(
        F.sum(F.when(pred, v)).alias("sm_k"),
        F.count(F.when(pred, v)).alias("nn_k"),
        F.sum(F.when(~pred, v)).alias("sm_r"),
        F.count(F.when(~pred, v)).alias("nn_r"),
    ).first()
    sm_k, nn_k = float(row["sm_k"] or 0.0), float(row["nn_k"] or 0)
    sm_r, nn_r = float(row["sm_r"] or 0.0), float(row["nn_r"] or 0)

    def val(sm: float, nn: float) -> float:
        if agg == "sum":
            return sm
        if agg == "count":
            return nn
        return sm / nn if nn else 0.0

    v_kept, v_removed = val(sm_k, nn_k), val(sm_r, nn_r)
    v_all = val(sm_k + sm_r, nn_k + nn_r)
    return {
        "kept": 0.5 * v_kept + 0.5 * (v_all - v_removed),
        "removed": 0.5 * v_removed + 0.5 * (v_all - v_kept),
        "v_all": v_all,
        "v_kept": v_kept,
        "v_removed": v_removed,
    }
