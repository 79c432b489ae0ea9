"""Outlier explainer (E4) — Scorpion-style predicate search.

Semantics from the reference's in-repo kernel duplicate
(core/explainable_series.py:103-220) and the interface
(explainers/outlier_explainer.py:15-100):

  given a group-by+agg result, a target group and a direction, find the
  (attribute, bin) whose EXCLUSION most de-outliers the target:

    std_int(s, t)  = |s[t] - mean(s)| / std(s)          (s = group-agg series)
    influence(b)   = (std_int(s) - std_int(s without bin b rows))
                     * (n_kept / n_total)                (ref divides by total/kept)

  scanning 30 equi-width bins over the first 10 numeric attributes
  (core/explainable_series.py:166,174), direction-signed.

Spark design (SURVEY.md §4 custom-physical #2 — bin-removal algebra):
ONE job computes per (group, attribute, bin) partial aggregates; the
"exclude bin b" statistics are then O(1) driver-side combinations of
the partials, so the source is scanned exactly once regardless of
scale (the reference re-filters the frame 30 x attrs times).

Agg coverage (reference accepts whatever sits in agg_dict,
explainers/outlier_explainer.py:47-58):
 * mean / sum / count / size — from (count, non-null count, sum).
   Mean uses the NON-NULL count as denominator, matching
   pandas/Spark semantics on data with missing measures.
 * std / var — one sumsq partial more: var = (ssq - sm^2/nn)/(nn-1).
 * median — approximate: the partials carry an extra equi-width
   histogram dimension over the agg column (H bins), and the
   post-exclusion median is read off the merged cumulative histogram.
   Resolution = (max-min)/H of the agg column; deterministic.

Group keys may be composite (multi-key group-by): the group identity is
the tuple of key values; ``target`` may be a scalar or tuple/list.

Human phrasing (llm_integrations/explanation_reasoning.py:99-104):
"the outlier is not as significant when excluding rows with property
x = y".
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import functions as F

from ..core.operations import GroupByOp
from ..operators.aggregates import is_numeric_type
from .base import Explanation, ExplanationItem, ExplainerBase
from .histograms import bin_index, profile_columns

N_BINS = 30
MAX_ATTRS = 10
MEDIAN_HIST_BINS = 64
SUPPORTED_AGGS = {"mean", "sum", "count", "size", "std", "var", "median"}
_GRP_SEP = "\x1f"  # unit separator: composite group key join token


class OutlierExplainer(ExplainerBase):
    def __init__(
        self,
        frame,
        target=None,
        dir: str | int = "high",
        n_bins: int = N_BINS,
        max_attrs: int = MAX_ATTRS,
        **_ignored,
    ):
        op = frame.operation
        if not isinstance(op, GroupByOp):
            raise ValueError(
                "outlier explainer requires a group-by+aggregation result "
                "(reference explainers/outlier_explainer.py:33-34)"
            )
        if target is None:
            raise ValueError("outlier explainer requires `target` (a group key value)")
        # pick the aggregated column from column_mapping, like the reference
        # reads agg_dict (explainers/outlier_explainer.py:47-58)
        value_cols = [c for c in op.column_mapping if op.column_mapping[c][1] != "size"]
        agg_candidates = value_cols or list(op.column_mapping)
        if not agg_candidates:
            raise ValueError("no aggregated column found in the group-by result")
        self.result_col = agg_candidates[0]
        self.g_agg, self.agg_method = op.column_mapping[self.result_col]
        if self.agg_method not in SUPPORTED_AGGS:
            raise ValueError(
                f"outlier explainer supports aggs {sorted(SUPPORTED_AGGS)}, got {self.agg_method!r}"
            )
        self.frame = frame
        self.op = op
        self.g_keys = list(op.keys)
        self.g_att = self.g_keys[0]
        self.target = target
        self.dir = -1 if str(dir).lower() in ("low", "-1") else 1
        self.n_bins = n_bins
        self.max_attrs = max_attrs

    # ------------------------------------------------------------------
    def _target_key(self) -> str:
        if isinstance(self.target, (tuple, list)):
            return _GRP_SEP.join(str(t) for t in self.target)
        return str(self.target)

    def _group_label(self, key: str) -> str:
        return key.replace(_GRP_SEP, ", ")

    def _candidate_attrs(self, df) -> list[str]:
        schema = {f.name: f.dataType for f in df.schema.fields}
        attrs = [
            c for c in df.columns
            if is_numeric_type(schema[c]) and c not in self.g_keys and c != self.g_agg
        ]
        return attrs[: self.max_attrs]

    def _exploded_base(self, src, ranges):
        """Shared select list for the single partials pass: group key,
        exploded (attr, bin) structs, the measure. Bin index is the
        FEDEX histograms' ``bin_index``, so an external SQL engine
        evaluating the same expression assigns identical bins."""
        structs = []
        for a, (lo, hi) in ranges.items():
            idx = bin_index(F.col(a), lo, hi, self.n_bins)
            bin_key = F.when(F.col(a).isNull(), F.lit(-1)).otherwise(idx).cast("int")
            structs.append(F.struct(F.lit(a).alias("attr"), bin_key.alias("bin")))
        v = F.col(self.g_agg).cast("double")
        grp_expr = F.concat_ws(
            _GRP_SEP, *[F.col(k).cast("string") for k in self.g_keys]
        ).alias("__grp")
        base_cols = [grp_expr, F.explode(F.array(*structs)).alias("s"), v.alias("__v")]
        group_cols = ["__grp", F.col("s.attr").alias("attr"), F.col("s.bin").alias("bin")]
        return v, base_cols, group_cols

    def _attr_partials(self, src, ranges):
        """ONE job: (group, attr, bin) -> (cnt, nn, sm, ssq) partials as a
        small pandas frame (at most groups x attrs x (n_bins+1) rows)."""
        _, base_cols, group_cols = self._exploded_base(src, ranges)
        exploded = src.select(*base_cols)
        return (
            exploded.groupBy(*group_cols)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.count("__v").alias("nn"),
                F.sum("__v").alias("sm"),
                F.sum(F.col("__v") * F.col("__v")).alias("ssq"),
            )
            .toPandas()
        )

    def generate_explanation(self) -> Explanation:
        src = self.op.source
        attrs = self._candidate_attrs(src)
        if not attrs:
            return Explanation(kind="outlier", query=self.op.query_string())

        median = self.agg_method == "median"
        profiles = profile_columns(src, attrs + ([self.g_agg] if median else []))
        ranges = _bin_ranges(profiles, attrs)
        if not ranges:
            return Explanation(kind="outlier", query=self.op.query_string())

        v, base_cols, group_cols = self._exploded_base(src, ranges)
        if median:
            agg_prof = profiles.get(self.g_agg)
            if agg_prof is None or agg_prof.vmin is None or agg_prof.vmax is None:
                return Explanation(kind="outlier", query=self.op.query_string())
            alo, ahi = float(agg_prof.vmin), float(agg_prof.vmax)
            awidth = (ahi - alo) / MEDIAN_HIST_BINS or 1.0
            self._agg_hist = (alo, awidth)
            abin = F.when(
                v.isNull(), F.lit(-1)
            ).otherwise(
                F.least(
                    F.lit(MEDIAN_HIST_BINS - 1),
                    F.greatest(F.lit(0), F.floor((v - F.lit(alo)) / F.lit(awidth))),
                )
            ).cast("int")
            exploded = src.select(*base_cols, abin.alias("__abin"))
            partials = (
                exploded.groupBy(*group_cols, "__abin")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .toPandas()
            )
        else:
            partials = self._attr_partials(src, ranges)
        if partials.empty:
            return Explanation(kind="outlier", query=self.op.query_string())
        partials[["cnt"]] = partials[["cnt"]].astype(float)

        if self.agg_method == "median":
            return self._search_median(partials, ranges)
        return self._search(partials, ranges)

    # ------------------------------------------------------------------
    def _values_from_partials(self, cnt, nn, sm, ssq) -> np.ndarray:
        """Group agg values from partial-sum arrays (vectorized, NaN where
        undefined — pandas drops those groups from mean/std like we do)."""
        cnt = np.asarray(cnt, dtype=float)
        nn = np.asarray(nn, dtype=float)
        sm = np.asarray(sm, dtype=float)
        ssq = np.asarray(ssq, dtype=float)
        with np.errstate(divide="ignore", invalid="ignore"):
            if self.agg_method == "mean":
                return np.where(nn > 0, sm / nn, np.nan)
            if self.agg_method == "sum":
                return sm
            if self.agg_method == "count":
                return nn
            if self.agg_method == "size":
                return cnt
            var = np.where(nn > 1, (ssq - sm * sm / np.maximum(nn, 1)) / (nn - 1), np.nan)
            var = np.where(var < 0, 0.0, var)  # float cancellation guard
            if self.agg_method == "var":
                return var
            return np.sqrt(var)  # std

    def _std_int(self, values: np.ndarray, target_val: float) -> float:
        vals = values[np.isfinite(values)]
        if len(vals) < 2 or not math.isfinite(target_val):
            return 0.0
        std = vals.std(ddof=1)
        if not std or not math.isfinite(std):
            return 0.0
        return self.dir * (target_val - vals.mean()) / std

    def _finish(self, best, std_int_before, groups, base_vals, t_idx, ranges, after_vals):
        if best is None:
            return Explanation(kind="outlier", query=self.op.query_string())
        infl, attr, b = best
        lo, hi = ranges[attr]
        width = (hi - lo) / self.n_bins
        b_lo, b_hi = lo + b * width, lo + (b + 1) * width
        label = f"[{b_lo:.4g}, {b_hi:.4g}{']' if b == self.n_bins - 1 else ')'}"
        items = [
            ExplanationItem(
                attribute=attr,
                bin=label,
                influence=float(infl),
                score=float(abs(std_int_before)),
                side=None,
                explanation=(
                    f"the outlier {'/'.join(self.g_keys)} = "
                    f"{self._group_label(self._target_key())} is not as significant "
                    f"when excluding rows with {attr} in {label}"
                ),
                viz={
                    "kind": "dist-compare",
                    "labels": [self._group_label(g) for g in groups],
                    "src": [float(v) if math.isfinite(v) else 0.0 for v in base_vals],
                    "res": [float(after_vals.get(g, math.nan)) if math.isfinite(after_vals.get(g, math.nan)) else 0.0 for g in groups],
                    "highlight": int(t_idx),
                },
            )
        ]
        exp = Explanation(kind="outlier", query=self.op.query_string(), items=items,
                          scores={attr: float(infl)})
        exp.extras["std_int_before"] = float(std_int_before)
        return exp

    def _influence_rows(self, partials, ranges):
        """The bin-removal search itself: every candidate (attr, bin) with
        its exclusion influence. Returns (rows, ctx) where rows is a list of
        (attr, bin_idx, kept_cnt, influence) and ctx carries the base stats
        plus the best bin's after-exclusion group values (for the viz).

        This is the closed-form sum/count/sumsq algebra the oracle SQL for
        ``outlier_kernel_table`` replays verbatim — keep the two in sync."""
        target_key = self._target_key()
        any_attr = next(iter(ranges))
        base = (
            partials[partials["attr"] == any_attr]
            .groupby("__grp")[["cnt", "nn", "sm", "ssq"]]
            .sum()
        )
        if target_key not in base.index:
            raise ValueError(
                f"target group {self.target!r} not found in {self.g_keys!r} groups"
            )
        groups = list(base.index)
        base_vals = self._values_from_partials(base["cnt"], base["nn"], base["sm"], base["ssq"])
        t_idx = groups.index(target_key)
        std_int_before = self._std_int(base_vals, base_vals[t_idx])
        n_total = float(base["cnt"].sum())

        rows: list[tuple[str, int, float, float]] = []
        best = None  # (influence, attr, bin_idx)
        best_after: dict[str, float] = {}
        for attr, grp in partials.groupby("attr"):
            pivots = {
                m: grp.pivot_table(index="__grp", columns="bin", values=m, aggfunc="sum").fillna(0.0)
                for m in ("cnt", "nn", "sm", "ssq")
            }
            tots = {m: p.sum(axis=1) for m, p in pivots.items()}
            for b in pivots["cnt"].columns:
                if b < 0:  # null bin: reference's pd.cut drops nulls from bins
                    continue
                ex = {m: tots[m] - pivots[m][b] for m in pivots}
                kept = float(ex["cnt"].sum())
                if kept <= 0:
                    continue
                mask = ex["cnt"] > 0
                g_list = list(ex["cnt"][mask].index)
                if target_key not in g_list:
                    continue
                vals = self._values_from_partials(
                    ex["cnt"][mask], ex["nn"][mask], ex["sm"][mask], ex["ssq"][mask]
                )
                t_val = vals[g_list.index(target_key)]
                std_int_after = self._std_int(vals, t_val)
                # positive influence = exclusion reduces the outlierness,
                # scaled by kept/total (ref: inf / (n_total / n_kept))
                infl = (std_int_before - std_int_after) * (kept / n_total)
                rows.append((attr, int(b), kept, infl))
                if (
                    best is None
                    or infl > best[0]
                    or (infl == best[0] and (attr, int(b)) < (best[1], best[2]))
                ):
                    best = (infl, attr, int(b))
                    best_after = dict(zip(g_list, vals))

        ctx = {
            "std_int_before": std_int_before,
            "groups": groups,
            "base_vals": base_vals,
            "t_idx": t_idx,
            "n_total": n_total,
            "best": best,
            "best_after": best_after,
        }
        return rows, ctx

    def _search(self, partials, ranges) -> Explanation:
        _, ctx = self._influence_rows(partials, ranges)
        return self._finish(
            ctx["best"], ctx["std_int_before"], ctx["groups"], ctx["base_vals"],
            ctx["t_idx"], ranges, ctx["best_after"],
        )

    # ------------------------------------------------------------------
    def _median_from_hist(self, hist: np.ndarray) -> float:
        """Approximate median from an equi-width histogram (bin midpoints)."""
        n = hist.sum()
        if n <= 0:
            return math.nan
        alo, awidth = self._agg_hist
        cum = np.cumsum(hist)
        idx = int(np.searchsorted(cum, (n + 1) / 2.0))
        idx = min(idx, len(hist) - 1)
        return alo + (idx + 0.5) * awidth

    def _search_median(self, partials, ranges) -> Explanation:
        target_key = self._target_key()
        H = MEDIAN_HIST_BINS
        any_attr = next(iter(ranges))

        def hists_of(grp_frame):
            """{group: (total_cnt, hist[H])} from (grp, abin, cnt) rows
            (abin = -1 rows are null measures: counted, not histogrammed)."""
            out_h: dict[str, np.ndarray] = {}
            out_c: dict[str, float] = {}
            for g, sub in grp_frame.groupby("__grp"):
                h = np.zeros(H)
                for abin, c in zip(sub["__abin"], sub["cnt"]):
                    if abin >= 0:
                        h[int(abin)] += c
                out_h[g] = h
                out_c[g] = float(sub["cnt"].sum())
            return out_c, out_h

        base_rows = partials[partials["attr"] == any_attr]
        base_cnt, base_hist = hists_of(base_rows)
        if target_key not in base_cnt:
            raise ValueError(
                f"target group {self.target!r} not found in {self.g_keys!r} groups"
            )
        groups = sorted(base_cnt)
        base_vals = np.array([self._median_from_hist(base_hist[g]) for g in groups])
        t_idx = groups.index(target_key)
        std_int_before = self._std_int(base_vals, base_vals[t_idx])
        n_total = float(sum(base_cnt.values()))

        best = None
        best_after: dict[str, float] = {}
        for attr, grp in partials.groupby("attr"):
            for b in sorted(set(grp["bin"])):
                if b < 0:
                    continue
                sub = grp[grp["bin"] == b]
                b_cnt, b_hist = hists_of(sub)
                kept = n_total - float(sum(b_cnt.values()))
                if kept <= 0:
                    continue
                after_vals, g_list = [], []
                for g in groups:
                    c_after = base_cnt[g] - b_cnt.get(g, 0.0)
                    if c_after <= 0:
                        continue
                    h_after = base_hist[g] - b_hist.get(g, np.zeros(H))
                    g_list.append(g)
                    after_vals.append(self._median_from_hist(h_after))
                if target_key not in g_list:
                    continue
                vals = np.array(after_vals)
                t_val = vals[g_list.index(target_key)]
                std_int_after = self._std_int(vals, t_val)
                infl = (std_int_before - std_int_after) * (kept / n_total)
                if (
                    best is None
                    or infl > best[0]
                    or (infl == best[0] and (attr, int(b)) < (best[1], best[2]))
                ):
                    best = (infl, attr, int(b))
                    best_after = dict(zip(g_list, vals))

        return self._finish(best, std_int_before, groups, base_vals, t_idx, ranges, best_after)


def _bin_ranges(profiles, attrs) -> dict[str, tuple[float, float]]:
    """(lo, hi) per attribute with a non-empty profiled range. No
    distinct > 6 gate (unlike the FEDEX numeric rule): a numeric
    attribute with few values must still be binned."""
    ranges = {}
    for a in attrs:
        p = profiles.get(a)
        if p is None or p.vmin is None or p.vmax is None or p.vmax <= p.vmin:
            continue
        ranges[a] = (float(p.vmin), float(p.vmax))
    return ranges


def outlier_kernel_table(
    frame,
    target,
    dir: str | int = "high",
    attributes: list[str] | None = None,
    n_bins: int = N_BINS,
):
    """SQL-checkable core of the E4 kernel: the full (attribute, bin) ->
    influence table the bin-removal search ranks, as a Spark DataFrame
    (attribute, bin, kept_cnt, influence).

    The heavy work is the explainer's own single-pass partials job; the
    closed-form exclusion algebra then runs over the tiny
    (groups x attrs x bins) frame. Bins where the whole dataset or the
    target group would disappear are omitted, matching `_influence_rows`.

    Determinism contract for oracle checks (mirror in the SQL): pass an
    explicit `attributes` list, and feed a measure already scaled to exact
    integers (e.g. cents) so the sum partials carry no float-summation
    order noise — every influence is then a fixed sequence of IEEE ops on
    identical numbers in any engine, modulo the O(groups)-sized mean/std
    reductions that round(., 6) absorbs.
    """
    explainer = OutlierExplainer(frame, target=target, dir=dir, n_bins=n_bins)
    src = explainer.op.source
    attrs = attributes or explainer._candidate_attrs(src)
    ranges = _bin_ranges(profile_columns(src, attrs), attrs)
    if not ranges:
        raise ValueError(f"no binnable numeric attributes among {attrs!r}")
    partials = explainer._attr_partials(src, ranges)
    partials[["cnt"]] = partials[["cnt"]].astype(float)
    rows, _ = explainer._influence_rows(partials, ranges)
    spark = src.sparkSession
    out = spark.createDataFrame(
        [(a, b, int(kept), round(float(infl), 6)) for a, b, kept, infl in rows],
        schema="attribute string, bin int, kept_cnt bigint, influence double",
    )
    return out
