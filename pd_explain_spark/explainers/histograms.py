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
candidate column at once:

  explode(array(struct(attr, bin) per column)) -> groupBy(attr, bin)

The exploded stream collapses via map-side partial aggregation to at most
n_columns * n_bins rows per task, so the shuffle is tiny regardless of
input size — this is the plan that survives a 100x scale-up (no per-column
rescans of a 100 TB table).

Two flavors:
 * predicate fast path (filters): a single scan of the source, counting
   each row once for src and conditionally for res — zero extra I/O.
 * union path (joins / arbitrary result): source tagged 0, result tagged 1.

Binning: numeric columns get equi-width bins (``bin_index``, shared with
the outlier explainer) over the profiled range; everything else
low-cardinality is its own category; very high-cardinality strings are
skipped (reference caps categories too).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

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
    exprs: list[Column] = []
    for c in columns:
        exprs.append(F.approx_count_distinct(c).alias(f"{c}__d"))
        if c in numeric:
            exprs.append(F.min(c).cast("double").alias(f"{c}__lo"))
            exprs.append(F.max(c).cast("double").alias(f"{c}__hi"))
    corr_cols: list[str] = []
    if corr_anchor in schema and is_numeric_type(schema[corr_anchor]):
        corr_cols = [c for c in columns if c in numeric and c != corr_anchor]
        anchor = F.col(corr_anchor).cast("double")
        exprs += [F.corr(anchor, F.col(c).cast("double")).alias(f"{c}__corr") for c in corr_cols]
    row = df.agg(*exprs).first().asDict()
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


def _bin_expr(df: DataFrame, prof: ColumnProfile, n_bins: int) -> Column:
    """String bin key for one column of ``df`` (see ``_bin_expr_col``)."""
    return _bin_expr_col(df[prof.name], prof, n_bins)


def _bin_expr_col(c: Column, prof: ColumnProfile, n_bins: int) -> Column:
    """String bin key for an arbitrary source column: numeric ->
    zero-padded bucket index, categorical -> the value itself (padded
    index keeps lexical == numeric order)."""
    edges = prof.bin_edges(n_bins)
    if prof.is_numeric and edges is not None:
        idx = bin_index(c, float(prof.vmin), float(prof.vmax), n_bins)
        return F.when(c.isNull(), F.lit(NULL_TOKEN)).otherwise(F.lpad(idx.cast("string"), 4, "0"))
    return F.coalesce(c.cast("string"), F.lit(NULL_TOKEN))


def dual_histogram_predicate_df(
    source: DataFrame, predicate: Column, profiles: dict[str, ColumnProfile], n_bins: int = 20
) -> DataFrame:
    """Filter fast path as a (tiny) Spark DataFrame: one scan of `source`;
    res_cnt counts rows passing the recorded predicate. Schema:
    (attribute, bin, src_cnt, res_cnt)."""
    from ..operators.partitioning import fan_out

    # project to the candidate columns + keep flag FIRST, then widen: the
    # explode below fans each row out 16x and is the CPU bottleneck on a
    # narrow local read — the conditional exchange carries only the
    # profiled columns and is a no-op on an already-wide cluster scan
    keep = F.when(predicate, F.lit(1)).otherwise(F.lit(0)).alias("__keep")
    narrow = fan_out(source.select(*[F.col(c) for c in profiles], keep))
    structs = [
        F.struct(F.lit(c).alias("attribute"), _bin_expr(narrow, p, n_bins).alias("bin"))
        for c, p in profiles.items()
    ]
    exploded = narrow.select(F.explode(F.array(*structs)).alias("s"), "__keep")
    return (
        exploded.groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
        .agg(F.count(F.lit(1)).alias("src_cnt"), F.sum("__keep").alias("res_cnt"))
    )


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
    """General path (joins) as a (tiny) Spark DataFrame: source tagged
    side=0, result side=1. ``result_rename`` maps source column name ->
    its name in the result (the join prefix contract)."""
    result_rename = result_rename or {}

    from ..operators.partitioning import fan_out

    def tagged(df: DataFrame, side: int, rename: dict[str, str]) -> DataFrame:
        sel = df
        for src_name, res_name in rename.items():
            if res_name != src_name and res_name in sel.columns:
                sel = sel.withColumnRenamed(res_name, src_name)
        # narrow projection before the conditional widen (see predicate path)
        sel = fan_out(sel.select(*[F.col(c) for c in profiles if c in sel.columns]))
        avail = [c for c in profiles if c in sel.columns]
        structs = [
            F.struct(F.lit(c).alias("attribute"), _bin_expr(sel, profiles[c], n_bins).alias("bin"))
            for c in avail
        ]
        return sel.select(F.explode(F.array(*structs)).alias("s"), F.lit(side).alias("__side"))

    both = tagged(source, 0, {}).unionByName(tagged(result, 1, result_rename))
    hist = (
        both.groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
        .agg(
            F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("src_cnt"),
            F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("res_cnt"),
        )
    )
    return hist


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


def shapley_dual_histograms_weighted(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str,
    left_profiles: dict[str, ColumnProfile],
    right_profiles: dict[str, ColumnProfile],
    n_bins: int = 20,
):
    """Both Shapley players' dual histograms WITHOUT materializing the
    join result. For an equi-join, a side attribute's value multiset in
    the result IS the side's own multiset weighted by each row's join
    multiplicity m(key) (rows of the other side sharing the key) —
    plus, for outer flavors, one null-extension count landing in the
    OPPOSITE side's NULL bin per unmatched retained row. So the result
    branch of ``shapley_dual_histograms_union`` (a rebuilt join scanned
    through a third explode) collapses into per-row weights on the two
    side scans: src_cnt = count(*), res_cnt = sum(weight), computed in
    the SAME exploded stream. Weight per side row:

      inner          -> m          (unmatched rows vanish)
      side retained  -> max(m, 1)  (unmatched rows survive once)
      side dropped   -> m          (left side of a right join, etc.)

    This halves the exploded row volume and removes the join shuffle
    entirely when AQE broadcasts the (key, m) count tables — the
    100 TB plan is two weighted scans plus two tiny key-count
    aggregates. Counts are bit-identical to the union flavor (same
    multiplicities, same null-extension, same ``_bin_expr`` keys).

    Returns the collected pandas frame (attribute prefixed
    ``left:``/``right:``), at most (n_left + n_right) * 2 * n_bins rows.
    """
    from ..operators.partitioning import fan_out

    on = list(on)
    h = (how or "inner").lower().replace("_", "")
    if h in ("outer", "full", "fullouter"):
        h = "full"
    elif h == "leftouter":
        h = "left"
    elif h == "rightouter":
        h = "right"
    l_retained = h in ("left", "full")
    r_retained = h in ("right", "full")

    lk = left.groupBy(*on).agg(F.count(F.lit(1)).cast("bigint").alias("__m"))
    rk = right.groupBy(*on).agg(F.count(F.lit(1)).cast("bigint").alias("__m"))

    def side_hist(df: DataFrame, other_keys: DataFrame, profiles, prefix, retained):
        avail = [c for c in profiles if c in df.columns]
        if not avail:
            return None
        keep = list(dict.fromkeys(avail + on))
        sel = fan_out(df.select(*[F.col(c) for c in keep]))
        j = sel.join(other_keys, on=on, how="left")
        m = F.coalesce(F.col("__m"), F.lit(0)).cast("bigint")
        w = F.greatest(m, F.lit(1)) if retained else m
        structs = [
            F.struct(
                F.lit(prefix + c).alias("attribute"),
                _bin_expr_col(F.col(c), profiles[c], n_bins).alias("bin"),
            )
            for c in avail
        ]
        return (
            j.select(
                F.explode(F.array(*structs)).alias("s"),
                w.alias("__w"),
                (m == 0).cast("bigint").alias("__um"),
            )
            .groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
            .agg(
                F.count(F.lit(1)).alias("src_cnt"),
                F.sum("__w").alias("res_cnt"),
                # unmatched-row census rides the same aggregate: summed
                # over one attribute's bins it is the side's unmatched
                # row count, which prices the null extension below with
                # ZERO extra jobs
                F.sum("__um").alias("__unmatched"),
            )
        )

    lh = side_hist(left, rk, left_profiles, "left:", l_retained)
    rh = side_hist(right, lk, right_profiles, "right:", r_retained)
    if lh is None and rh is None:
        import pandas as pd

        return pd.DataFrame(columns=["attribute", "bin", "src_cnt", "res_cnt"])
    both = lh.unionByName(rh) if lh is not None and rh is not None else (lh or rh)
    pdf = both.toPandas()

    def unmatched_of(prefix: str, own_keys: DataFrame, other_keys: DataFrame) -> int:
        sub = pdf[pdf["attribute"].str.startswith(prefix)]
        if len(sub):
            first = sub["attribute"].iloc[0]
            return int(sub[sub["attribute"] == first]["__unmatched"].sum())
        # side had no candidate attrs: one tiny aggregate over the two
        # key-count tables prices its unmatched rows
        row = (
            own_keys.join(other_keys.select(*on), on=on, how="left_anti")
            .agg(F.coalesce(F.sum("__m"), F.lit(0)).alias("n"))
            .first()
        )
        return int(row["n"])

    import pandas as pd

    ext_rows = []
    # retained-but-unmatched LEFT rows extend the result with NULLs on
    # the RIGHT side: every right attribute's NULL bin gains that count
    # (and symmetrically)
    for retained, prefix_src, own_k, other_k, target_profiles, target_prefix in (
        (l_retained, "left:", lk, rk, right_profiles, "right:"),
        (r_retained, "right:", rk, lk, left_profiles, "left:"),
    ):
        if not retained or not target_profiles:
            continue
        n_ext = unmatched_of(prefix_src, own_k, other_k)
        if n_ext == 0:
            continue
        for c in target_profiles:
            key = target_prefix + c
            mask = (pdf["attribute"] == key) & (pdf["bin"] == NULL_TOKEN)
            if mask.any():
                pdf.loc[mask, "res_cnt"] = pdf.loc[mask, "res_cnt"] + n_ext
            else:
                ext_rows.append(
                    {"attribute": key, "bin": NULL_TOKEN, "src_cnt": 0,
                     "res_cnt": n_ext, "__unmatched": 0}
                )
    if ext_rows:
        pdf = pd.concat([pdf, pd.DataFrame(ext_rows)], ignore_index=True)
    return pdf.drop(columns="__unmatched").reset_index(drop=True)


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
    shapley explainer at scale. Here the result is scanned once,
    exploding both profile sets off the same rows; attribute keys are
    prefixed ``left:<col>`` / ``right:<col>`` (the two sides may share a
    column name). Returns the collected pandas frame (at most
    (n_left + n_right) * 2 * n_bins rows).

    The result branch binds bin expressions directly to the result's
    column names (``*_rename`` maps source name -> result name, the join
    prefix contract) — a physical rename like ``dual_histogram_union``'s
    could collide when both sides contribute the same source name."""
    from ..operators.partitioning import fan_out

    left_rename = left_rename or {}
    right_rename = right_rename or {}

    def side_branch(df: DataFrame, profiles, prefix: str) -> DataFrame:
        avail = [c for c in profiles if c in df.columns]
        sel = fan_out(df.select(*[F.col(c) for c in avail]))
        structs = [
            F.struct(
                F.lit(prefix + c).alias("attribute"),
                _bin_expr(sel, profiles[c], n_bins).alias("bin"),
            )
            for c in avail
        ]
        return sel.select(F.explode(F.array(*structs)).alias("s"), F.lit(0).alias("__side"))

    pairs = []  # (prefixed attribute, result column name, profile)
    for profiles, rename, prefix in (
        (left_profiles, left_rename, "left:"),
        (right_profiles, right_rename, "right:"),
    ):
        for c, p in profiles.items():
            rn = rename.get(c, c)
            name = rn if rn in result.columns else (c if c in result.columns else None)
            if name is not None:
                pairs.append((prefix + c, name, p))
    res_sel = fan_out(result.select(*sorted({n for _, n, _ in pairs})))
    res_structs = [
        F.struct(
            F.lit(a).alias("attribute"),
            _bin_expr_col(res_sel[n], p, n_bins).alias("bin"),
        )
        for a, n, p in pairs
    ]
    res_branch = res_sel.select(
        F.explode(F.array(*res_structs)).alias("s"), F.lit(1).alias("__side")
    )
    both = (
        side_branch(left, left_profiles, "left:")
        .unionByName(side_branch(right, right_profiles, "right:"))
        .unionByName(res_branch)
    )
    return (
        both.groupBy(F.col("s.attribute").alias("attribute"), F.col("s.bin").alias("bin"))
        .agg(
            F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("src_cnt"),
            F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("res_cnt"),
        )
        .toPandas()
    )


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
