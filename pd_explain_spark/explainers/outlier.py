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
ONE job (``_partials``) computes per (group, attribute, bin) partial
aggregates (cnt, nn, sm, ssq) — the source is scanned exactly once
regardless of scale (the reference re-filters the frame 30 x attrs
times). ONE search (``_influence_rows``) then runs over per-group
sufficient statistics: excluding bin b subtracts that bin's statistics
from the attribute's per-group totals, and ``_values`` turns what is left
into group values. ``outlier_kernel_table`` runs the same job and search.

Agg coverage (reference accepts whatever sits in agg_dict,
explainers/outlier_explainer.py:47-58), by sufficient statistics:
 * mean / sum / count / size — (count, non-null count, sum). Mean uses
   the NON-NULL count as denominator, matching pandas/Spark semantics on
   data with missing measures; size reads no measure column.
 * std / var — plus the sumsq: var = (ssq - sm^2/nn)/(nn-1).
 * median — approximate: the job carries one more key, the measure's
   own equi-width bin (H bins, ``bin_index``), so the statistics are
   (count, measure histogram) and the post-exclusion median is the
   midpoint of the histogram bin holding the middle row. Resolution =
   (max-min)/H of the agg column; deterministic.

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

    def _partials(self, src, attrs):
        """The ONE partials job of the search: (group, attr, bin) ->
        (cnt, nn, sm, ssq), where the median adds one more key, the
        measure's own bin ``__abin``. Bins are the FEDEX histograms'
        ``bin_index``, so an external SQL engine evaluating the same
        expression assigns identical bins. Returns (ranges, partials
        DataFrame); the partials are None when no attribute can be binned
        or a median measure has no values. ``size`` reads no measure."""
        median = self.agg_method == "median"
        profiles = profile_columns(src, attrs + ([self.g_agg] if median else []))
        ranges = _bin_ranges(profiles, attrs)
        if median:
            p = profiles.get(self.g_agg)
            self._agg_range = None if p is None or p.vmin is None else (float(p.vmin), float(p.vmax))
        if not ranges or (median and self._agg_range is None):
            return ranges, None
        structs = []
        for a, (lo, hi) in ranges.items():
            idx = bin_index(F.col(a), lo, hi, self.n_bins)
            bin_key = F.when(F.col(a).isNull(), F.lit(-1)).otherwise(idx).cast("int")
            structs.append(F.struct(F.lit(a).alias("attr"), bin_key.alias("bin")))
        v = F.lit(None) if self.agg_method == "size" else F.col(self.g_agg)
        grp = F.concat_ws(_GRP_SEP, *[F.col(k).cast("string") for k in self.g_keys])
        cols = [grp.alias("__grp"), F.explode(F.array(*structs)).alias("s"), v.alias("__v")]
        keys = ["__grp", F.col("s.attr").alias("attr"), F.col("s.bin").alias("bin")]
        if median:
            alo, ahi = self._agg_range
            abin = bin_index(v, alo, ahi, MEDIAN_HIST_BINS) if ahi > alo else F.lit(0)
            cols.append(F.when(v.isNull(), F.lit(-1)).otherwise(abin).cast("int").alias("__abin"))
            keys.append("__abin")
        # count/size read no moments: a string measure must not be cast
        d = F.col("__v").cast("double") if self.agg_method not in ("count", "size") else F.lit(None)
        partials = src.select(*cols).groupBy(*keys).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("__v").alias("nn"),
            F.sum(d).alias("sm"),
            F.sum(d * d).alias("ssq"),
        )
        return ranges, partials

    def generate_explanation(self) -> Explanation:
        src = self.op.source
        ranges, partials = self._partials(src, self._candidate_attrs(src))
        partials = None if partials is None else partials.toPandas()
        if partials is None or partials.empty:
            return Explanation(kind="outlier", query=self.op.query_string())
        _, ctx = self._influence_rows(partials, ranges)
        return self._finish(ctx, ranges)

    # ------------------------------------------------------------------
    def _stats(self, partials) -> np.ndarray:
        """Per-row sufficient statistics, additive over rows: (cnt, nn,
        sm, ssq) for the moment aggs, (cnt, measure histogram) for the
        median (``__abin`` = -1 rows are null measures: counted, not
        histogrammed)."""
        cnt = partials["cnt"].to_numpy(float)
        if self.agg_method != "median":
            return np.column_stack(
                [cnt] + [partials[m].fillna(0.0).to_numpy(float) for m in ("nn", "sm", "ssq")]
            )
        st = np.zeros((len(partials), 1 + MEDIAN_HIST_BINS))
        st[:, 0] = cnt
        abin = partials["__abin"].to_numpy(int)
        has = abin >= 0
        st[np.flatnonzero(has), 1 + abin[has]] = cnt[has]
        return st

    def _values(self, st: np.ndarray) -> np.ndarray:
        """Group agg values from per-group sufficient statistics (one row
        per group; NaN where undefined — pandas drops those groups from
        mean/std like we do). The median is read off the measure
        histogram: the midpoint of the bin holding the middle row."""
        cnt = st[:, 0]
        with np.errstate(divide="ignore", invalid="ignore"):
            if self.agg_method == "median":
                hist = st[:, 1:]
                n = hist.sum(axis=1)
                below = np.cumsum(hist, axis=1) < ((n + 1) / 2.0)[:, None]
                idx = np.minimum(below.sum(axis=1), MEDIAN_HIST_BINS - 1)
                alo, ahi = self._agg_range
                awidth = (ahi - alo) / MEDIAN_HIST_BINS  # 0 when every value is alo
                return np.where(n > 0, alo + (idx + 0.5) * awidth, np.nan)
            nn, sm, ssq = st[:, 1], st[:, 2], st[:, 3]
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

    def _finish(self, ctx, ranges) -> Explanation:
        if ctx["best"] is None:
            return Explanation(kind="outlier", query=self.op.query_string())
        infl, attr, b = ctx["best"]
        lo, hi = ranges[attr]
        width = (hi - lo) / self.n_bins
        b_lo, b_hi = lo + b * width, lo + (b + 1) * width
        label = f"[{b_lo:.4g}, {b_hi:.4g}{']' if b == self.n_bins - 1 else ')'}"
        after = ctx["best_after"]

        def finite(v):
            return float(v) if math.isfinite(v) else 0.0

        items = [
            ExplanationItem(
                attribute=attr,
                bin=label,
                influence=float(infl),
                score=float(abs(ctx["std_int_before"])),
                side=None,
                explanation=(
                    f"the outlier {'/'.join(self.g_keys)} = "
                    f"{self._group_label(self._target_key())} is not as significant "
                    f"when excluding rows with {attr} in {label}"
                ),
                viz={
                    "kind": "dist-compare",
                    "labels": [self._group_label(g) for g in ctx["groups"]],
                    "src": [finite(v) for v in ctx["base_vals"]],
                    "res": [finite(after.get(g, math.nan)) for g in ctx["groups"]],
                    "highlight": int(ctx["t_idx"]),
                },
            )
        ]
        exp = Explanation(kind="outlier", query=self.op.query_string(), items=items,
                          scores={attr: float(infl)})
        exp.extras["std_int_before"] = float(ctx["std_int_before"])
        return exp

    def _influence_rows(self, partials, ranges):
        """The bin-removal search, one loop for every agg: excluding bin b
        of an attribute subtracts that bin's sufficient statistics from
        the attribute's per-group totals, and ``_values`` turns what is
        left into group values. Returns (rows, ctx) where rows is a list
        of (attr, bin_idx, kept_cnt, influence) for every candidate and
        ctx carries the base stats plus the best bin's after-exclusion
        group values (for the viz).

        For the moment aggs this is the closed-form sum/count/sumsq
        algebra the oracle SQL for ``outlier_kernel_table`` replays
        verbatim — keep the two in sync."""
        target_key = self._target_key()
        groups = sorted(set(partials["__grp"]))
        if target_key not in groups:
            raise ValueError(
                f"target group {self.target!r} not found in {self.g_keys!r} groups"
            )
        t_idx = groups.index(target_key)
        stats = self._stats(partials)
        g_idx = partials["__grp"].map({g: i for i, g in enumerate(groups)}).to_numpy()

        # per attribute: (groups x bins x stats) cube, bins ascending
        cubes = {}
        for attr, rows_idx in partials.groupby("attr").indices.items():
            bins = partials["bin"].to_numpy(int)[rows_idx]
            uniq = np.unique(bins)
            cube = np.zeros((len(groups), len(uniq), stats.shape[1]))
            np.add.at(cube, (g_idx[rows_idx], np.searchsorted(uniq, bins)), stats[rows_idx])
            cubes[attr] = (uniq, cube)

        base = cubes[next(iter(ranges))][1].sum(axis=1)
        base_vals = self._values(base)
        std_int_before = self._std_int(base_vals, base_vals[t_idx])
        n_total = float(base[:, 0].sum())

        rows: list[tuple[str, int, float, float]] = []
        best = None  # (influence, attr, bin_idx)
        best_after: dict[str, float] = {}
        for attr, (uniq, cube) in cubes.items():
            tots = cube.sum(axis=1)
            for j, b in enumerate(uniq):
                if b < 0:  # null bin: reference's pd.cut drops nulls from bins
                    continue
                ex = tots - cube[:, j]
                kept = float(ex[:, 0].sum())
                mask = ex[:, 0] > 0
                if kept <= 0 or not mask[t_idx]:
                    continue
                vals = self._values(ex[mask])
                std_int_after = self._std_int(vals, vals[int(mask[:t_idx].sum())])
                # positive influence = exclusion reduces the outlierness,
                # scaled by kept/total (ref: inf / (n_total / n_kept))
                infl = (std_int_before - std_int_after) * (kept / n_total)
                rows.append((attr, int(b), kept, infl))
                if best is None or infl > best[0] or (
                    infl == best[0] and (attr, int(b)) < (best[1], best[2])
                ):
                    best = (infl, attr, int(b))
                    best_after = dict(zip([g for g, m in zip(groups, mask) if m], vals))

        ctx = {
            "std_int_before": std_int_before,
            "groups": groups,
            "base_vals": base_vals,
            "t_idx": t_idx,
            "best": best,
            "best_after": best_after,
        }
        return rows, ctx


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

    It runs the explainer's own single-pass partials job and search, so
    it serves every agg the explainer serves; the exclusion algebra runs
    over the tiny (groups x attrs x bins) frame. Bins where the whole dataset or the
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
    ranges, partials = explainer._partials(src, attrs)
    if partials is None:
        raise ValueError(f"no binnable numeric attributes among {attrs!r} or no measure values")
    rows, _ = explainer._influence_rows(partials.toPandas(), ranges)
    return src.sparkSession.createDataFrame(
        [(a, b, int(kept), round(float(infl), 6)) for a, b, kept, infl in rows],
        schema="attribute string, bin int, kept_cnt bigint, influence double",
    )
