"""Column profiles and the single-pass dual-histogram service (SURVEY.md
§4 custom-physical #1).

``profile_columns`` is the ONE profile pass of every explainer: a single
aggregate computing approx distinct + min/max per column (and, with
``corr_anchor``, the correlation of every numeric column with the
anchor). Its callers read it two ways:
 * ``is_numeric`` (the reference's rule, numeric dtype AND nunique > 6,
   metainsight_explainer.py:509-510) picks numeric bins vs categories —
   the FEDEX filter/join/shapley explainers, many-to-one and
   MetaInsight;
 * raw ``vmin``/``vmax`` with no distinct gate — the outlier explainer
   (a few-valued numeric attribute must still be binned) and the
   oracle kernel tables ``filter_kernel_table``/``join_kernel_table``
   (which force ``is_numeric`` on their explicit attribute lists).

The reference's FEDEX kernel loops per column in pandas; here ONE Spark
job computes (column, bin) -> (source_count, result_count) for every
candidate column at once, through ONE kernel, ``_dual_histogram``:

  per branch: narrow select -> fan_out -> explode(array(struct(attr, bin)))
              next to per-row weights
  union of the branches -> groupBy(attr, bin) -> sum of each weight

The exploded stream collapses via map-side partial aggregation to at most
n_columns * n_bins rows per task, so the shuffle is tiny regardless of
input size — this is the plan that survives a 100x scale-up (no per-column
rescans of a 100 TB table). The three public flavors are compositions of
branches, with weights (src, res):
 * predicate (filters): one branch over the source weighted (1, keep) —
   a single scan, zero extra I/O;
 * union (joins / arbitrary result): the source branch (1, 0) plus the
   result branch (0, 1);
 * Shapley: the left and right branches (1, 0) plus one result branch
   (0, 1) binning both sides' columns off the recorded join.
Result branches bind bin expressions to the result's column names
(``_pairs``), never by a physical rename.

Binning: numeric columns get equi-width bins (``bin_index``, shared with
the outlier explainer) over the profiled range; everything else
low-cardinality is its own category; very high-cardinality strings are
skipped (reference caps categories too).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import is_numeric_type

NULL_TOKEN = "(null)"


@dataclass
class ColumnProfile:
    name: str
    is_numeric: bool  # numeric dtype AND nunique > 6
    distinct: int
    vmin: float | None = None
    vmax: float | None = None
    corr: float | None = None  # corr(corr_anchor, column); numeric columns only

    def bin_edges(self, n_bins: int) -> list[float] | None:
        if not self.is_numeric or self.vmin is None or self.vmax is None:
            return None
        lo, hi = float(self.vmin), float(self.vmax)
        if not math.isfinite(lo) or not math.isfinite(hi) or hi <= lo:
            return None
        return [lo + (hi - lo) * i / n_bins for i in range(n_bins + 1)]


def profile_columns(
    df: DataFrame,
    columns: list[str],
    cat_cap: int = 60,
    corr_anchor: str | None = None,
) -> dict[str, ColumnProfile]:
    """ONE aggregation computing approx distinct + min/max for all columns.

    With a numeric ``corr_anchor``, the same aggregate also computes
    ``corr(anchor, c)`` for every other numeric column into
    ``ColumnProfile.corr``. No columns -> ``{}`` without a Spark job."""
    if not columns:
        return {}
    schema = {f.name: f.dataType for f in df.schema.fields}
    numeric = {c for c in columns if is_numeric_type(schema[c])}

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    # each aggregate is ONE SQL expression string: building the same
    # Columns through the functions API costs ~8 driver->JVM round trips
    # per aggregate, which outweighs the job itself on a small input
    exprs: list[str] = []
    for c in columns:
        exprs.append(f"approx_count_distinct({q(c)}) AS {q(c + '__d')}")
        if c in numeric:
            exprs.append(f"CAST(min({q(c)}) AS DOUBLE) AS {q(c + '__lo')}")
            exprs.append(f"CAST(max({q(c)}) AS DOUBLE) AS {q(c + '__hi')}")
    corr_cols: list[str] = []
    if corr_anchor in schema and is_numeric_type(schema[corr_anchor]):
        corr_cols = [c for c in columns if c in numeric and c != corr_anchor]
        exprs += [
            f"corr(CAST({q(corr_anchor)} AS DOUBLE), CAST({q(c)} AS DOUBLE)) AS {q(c + '__corr')}"
            for c in corr_cols
        ]
    row = df.agg(*[F.expr(e) for e in exprs]).first().asDict()
    out: dict[str, ColumnProfile] = {}
    for c in columns:
        distinct = row[f"{c}__d"] or 0
        # the reference's rule: numeric treatment iff numeric dtype AND nunique > 6
        is_num = c in numeric and distinct > 6
        prof = ColumnProfile(name=c, is_numeric=is_num, distinct=distinct)
        if c in numeric:
            prof.vmin, prof.vmax = row[f"{c}__lo"], row[f"{c}__hi"]
        if c in corr_cols and row[f"{c}__corr"] is not None:
            prof.corr = float(row[f"{c}__corr"])
        if not is_num and distinct > cat_cap:
            continue  # high-cardinality categorical: skip (ref caps categories)
        out[c] = prof
    return out


def bin_index(v: Column, lo: float, hi: float, n_bins: int) -> Column:
    """Equi-width bin index of ``v`` over [lo, hi], clamped to
    [0, n_bins - 1]. Callers map a null ``v`` to their own null key.

    Single-expression form ((v - lo) * n) / (hi - lo): every term is one
    IEEE op on the exact min/max doubles, so an external SQL engine
    evaluating the same expression assigns identical bins — no
    pre-computed width constant that could differ by an ulp."""
    return F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((v.cast("double") - F.lit(lo)) * F.lit(n_bins) / F.lit(hi - lo)),
        ),
    )


def _bin_expr_col(c: Column, prof: ColumnProfile, n_bins: int) -> Column:
    """String bin key of column ``c``: numeric -> zero-padded bucket
    index, categorical -> the value itself (padded index keeps lexical ==
    numeric order)."""
    edges = prof.bin_edges(n_bins)
    if prof.is_numeric and edges is not None:
        idx = bin_index(c, float(prof.vmin), float(prof.vmax), n_bins)
        return F.when(c.isNull(), F.lit(NULL_TOKEN)).otherwise(F.lpad(idx.cast("string"), 4, "0"))
    return F.coalesce(c.cast("string"), F.lit(NULL_TOKEN))


def _bin_structs(pairs: list, n_bins: int) -> Column:
    """``array(struct(attribute, bin))`` over ``pairs`` of (attribute
    label, column name, profile) — exploded, one row per input row and
    attribute."""
    return F.array(*[
        F.struct(F.lit(a).alias("attribute"), _bin_expr_col(F.col(n), p, n_bins).alias("bin"))
        for a, n, p in pairs
    ])


def _pairs(
    df: DataFrame, profiles: dict[str, ColumnProfile], rename: dict[str, str] | None = None,
    prefix: str = "",
) -> list:
    """(``prefix`` + column, its name in ``df``, profile) per profile,
    bound BY NAME: ``rename`` maps a source name to its name in ``df``
    (the join prefix contract), falling back to the source name; a
    column ``df`` holds under neither name is skipped. Binding by name,
    never by a physical rename, keeps a result that holds both
    ``<side>_x`` and a bare ``x`` unambiguous."""
    rename, cols = rename or {}, set(df.columns)
    out = []
    for c, p in profiles.items():
        name = rename.get(c, c)
        name = name if name in cols else (c if c in cols else None)
        if name is not None:
            out.append((prefix + c, name, p))
    return out


def _dual_histogram(branches: list, n_bins: int) -> DataFrame:
    """The one dual-histogram kernel (module docstring). A branch is
    ``(frame, pairs, weights)``: ``frame`` is projected to the columns of
    ``pairs`` and the row's ``weights`` (Columns or int literals) and
    fanned out FIRST — the explode fans each row out once per attribute
    and is the CPU bottleneck on a narrow local read; the conditional
    exchange carries only the binned columns and is a no-op on an
    already-wide scan — then exploded to (attribute, bin) rows next to
    the weights. The histogram groups the union of the branches by
    (attribute, bin) and sums the weights as ``src_cnt`` and
    ``res_cnt``."""
    from ..operators.partitioning import fan_out

    streams = []
    for df, pairs, weights in branches:
        cols = list(dict.fromkeys(n for _, n, _ in pairs))
        ws = [(F.lit(w) if isinstance(w, int) else w).alias(f"__w{i}") for i, w in enumerate(weights)]
        rows = fan_out(df.select(*cols, *ws))
        streams.append(
            rows.select(F.explode(_bin_structs(pairs, n_bins)).alias("s"), "__w0", "__w1")
        )
    return (
        reduce(DataFrame.unionByName, streams)
        .groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
        .agg(F.sum("__w0").alias("src_cnt"), F.sum("__w1").alias("res_cnt"))
    )


def dual_histogram_predicate_df(
    source: DataFrame, predicate: Column, profiles: dict[str, ColumnProfile], n_bins: int = 20
) -> DataFrame:
    """Filter fast path as a (tiny) Spark DataFrame: ONE branch over
    ``source`` weighted (1, keep) — one scan, res_cnt counts the rows
    passing the recorded predicate. Schema: (attribute, bin, src_cnt,
    res_cnt)."""
    keep = F.when(predicate, F.lit(1)).otherwise(F.lit(0))
    return _dual_histogram([(source, _pairs(source, profiles), (1, keep))], n_bins)


def dual_histogram_predicate(
    source: DataFrame, predicate: Column, profiles: dict[str, ColumnProfile], n_bins: int = 20
):
    """`dual_histogram_predicate_df` collected to the driver as a small
    pandas frame (at most n_columns * n_bins rows)."""
    return dual_histogram_predicate_df(source, predicate, profiles, n_bins).toPandas()


def dual_histogram_union_df(
    source: DataFrame,
    result: DataFrame,
    profiles: dict[str, ColumnProfile],
    n_bins: int = 20,
    result_rename: dict[str, str] | None = None,
) -> DataFrame:
    """General path (joins) as a (tiny) Spark DataFrame: the source
    branch weighted (1, 0) plus the result branch weighted (0, 1).
    ``result_rename`` maps source column name -> its name in the result
    (the join prefix contract); the result branch binds by name
    (``_pairs``)."""
    return _dual_histogram(
        [
            (source, _pairs(source, profiles), (1, 0)),
            (result, _pairs(result, profiles, result_rename), (0, 1)),
        ],
        n_bins,
    )


def dual_histogram_union(
    source: DataFrame,
    result: DataFrame,
    profiles: dict[str, ColumnProfile],
    n_bins: int = 20,
    result_rename: dict[str, str] | None = None,
):
    """`dual_histogram_union_df` collected to the driver as a small pandas
    frame (at most n_columns * n_bins rows)."""
    return dual_histogram_union_df(
        source, result, profiles, n_bins, result_rename=result_rename
    ).toPandas()


def shapley_dual_histograms(
    left: DataFrame,
    right: DataFrame,
    result: DataFrame,
    left_profiles: dict[str, ColumnProfile],
    right_profiles: dict[str, ColumnProfile],
    n_bins: int = 20,
    left_rename: dict[str, str] | None = None,
    right_rename: dict[str, str] | None = None,
):
    """BOTH Shapley players' dual histograms in ONE Spark job: the
    2-player join Shapley needs (side vs result) histograms for the left
    AND right inputs, and running ``dual_histogram_union`` per side scans
    (and recomputes) the join RESULT twice — the dominant cost of the
    shapley explainer at scale. Here the left and right branches
    (weights (1, 0)) join ONE result branch (weights (0, 1)) that bins
    both profile sets off the same rows; attribute keys are prefixed
    ``left:<col>`` / ``right:<col>`` (the two sides may share a column
    name), and ``*_rename`` maps source name -> result name (bound by
    name, ``_pairs``). Returns the collected pandas frame (at most
    (n_left + n_right) * 2 * n_bins rows)."""
    return _dual_histogram(
        [
            (left, _pairs(left, left_profiles, prefix="left:"), (1, 0)),
            (right, _pairs(right, right_profiles, prefix="right:"), (1, 0)),
            (
                result,
                _pairs(result, left_profiles, left_rename, "left:")
                + _pairs(result, right_profiles, right_rename, "right:"),
                (0, 1),
            ),
        ],
        n_bins,
    ).toPandas()


def bin_label(prof: ColumnProfile, bin_key: str, n_bins: int) -> str:
    """Human-readable label for a bin key."""
    if bin_key == NULL_TOKEN:
        return NULL_TOKEN
    edges = prof.bin_edges(n_bins)
    if prof.is_numeric and edges is not None:
        try:
            idx = int(bin_key)
        except ValueError:
            return bin_key
        lo, hi = edges[idx], edges[idx + 1]
        return f"[{lo:.4g}, {hi:.4g})" if idx < n_bins - 1 else f"[{lo:.4g}, {hi:.4g}]"
    return bin_key
