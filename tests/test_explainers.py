"""Explainer tests.

Stronger than the reference's smoke-only policy (tests/test_explainers.py:4-6
'do not check the actual explanations'): we pin deterministic outputs where
the kernel is exactly computable, and smoke-check structure elsewhere.
"""

import itertools

import numpy as np
import pytest

from pd_explain_spark import to_explainable


# ---------------------------------------------------------------- fedex
def test_fedex_filter_finds_planted_shift(spark):
    """Plant an obvious deviation: filtering x>0 wipes out category 'b'."""
    rows = [(float(i % 7 - 3), "a" if i % 7 > 2 else "b", float(i)) for i in range(980)]
    df = to_explainable(spark.createDataFrame(rows, ["x", "cat", "noise"]), name="planted")
    out = df[df["x"] > 0]
    exp = out.explain(top_k=2)
    assert exp.items, "expected at least one explanation"
    top = exp.items[0]
    assert top.attribute == "cat"
    assert top.bin == "b"
    assert "less than before" in top.explanation or "disappears" in top.explanation


def test_fedex_filter_correlation_pruning(spark):
    rows = [(float(i), float(i) * 2.0, float(i % 5)) for i in range(200)]
    df = to_explainable(spark.createDataFrame(rows, ["x", "x2", "z"]), name="corr")
    out = df[df["x"] > 100]
    exp = out.explain(top_k=3)
    # x2 is perfectly correlated with the filter column -> excluded
    assert "x2" in exp.extras["cor_deleted_atts"]
    assert all(i.attribute != "x2" for i in exp.items)


def test_fedex_groupby_flags_outlier_group(spark):
    rows = []
    for g, mu in [("a", 10.0), ("b", 11.0), ("c", 9.5), ("d", 50.0)]:
        rows += [(g, mu + (i % 3) * 0.1) for i in range(30)]
    df = to_explainable(spark.createDataFrame(rows, ["g", "v"]), name="gb")
    res = df.groupby("g")["v"].mean()
    exp = res.explain()
    assert exp.items
    assert exp.items[0].attribute == "v_mean"
    assert exp.items[0].bin == "d"
    assert "standard deviations from the mean" in exp.items[0].explanation


def test_fedex_join_and_shapley_run(lineitem, orders, spark):
    o = orders.rename({"o_orderkey": "l_orderkey"})
    j = lineitem.merge(o, on="l_orderkey")
    exp = j.explain(top_k=2, consider="left")
    assert exp.kind == "fedex-join"
    sh = j.explain(explainer="shapley", top_k=2)
    share = sh.extras["side_share"]
    assert abs(share["left"] + share["right"] - 1.0) < 1e-9


def test_join_side_without_candidates_explains_empty(spark):
    """A join whose right side holds only the key column has no right-side
    candidate attributes: both the right-side FEDEX explanation and the
    right player of the Shapley explanation come back empty instead of
    raising."""
    left = to_explainable(
        spark.createDataFrame([(i, float(i % 40)) for i in range(200)], ["k", "v"]),
        name="lhs",
    )
    right = to_explainable(
        spark.createDataFrame([(i,) for i in range(0, 200, 2)], "k bigint"), name="rhs"
    )
    j = left.merge(right, on="k")
    exp = j.explain(consider="right")
    assert exp.kind == "fedex-join"
    assert exp.items == []
    sh = j.explain(explainer="shapley")
    assert sh.kind == "fedex-shapley"
    assert [i for i in sh.items if i.side == "right"] == []
    assert not any(k.startswith("right.") for k in sh.scores)


def test_explanation_to_df_schema(spark, lineitem):
    out = lineitem[lineitem["l_quantity"] > 45]
    df = out.explain(top_k=2).to_df(spark)
    assert df.columns == ["attribute", "bin", "influence", "score", "side", "explanation"]


# ---------------------------------------------------------------- outlier
def test_outlier_finds_planted_predicate(spark):
    """Group 'z' is an outlier only because of rows with flag ~ 100."""
    rows = []
    rng = np.random.RandomState(42)
    for g in ["a", "b", "c", "d"]:
        rows += [(g, 10.0 + rng.rand(), float(rng.randint(0, 10))) for _ in range(200)]
    rows += [("z", 10.0 + rng.rand(), float(rng.randint(0, 10))) for _ in range(200)]
    # inflate z's mean via rows with flag around 100
    rows += [("z", 60.0, 100.0) for _ in range(50)]
    df = to_explainable(spark.createDataFrame(rows, ["g", "v", "flag"]), name="outl")
    res = df.groupby("g")["v"].mean()
    exp = res.explain(explainer="outlier", target="z", dir="high")
    assert exp.items
    top = exp.items[0]
    assert top.attribute == "flag"
    assert "100" in top.bin
    assert top.influence > 0
    assert "not as significant when excluding rows" in top.explanation


def test_outlier_requires_groupby(lineitem):
    out = lineitem[lineitem["l_quantity"] > 45]
    with pytest.raises(ValueError):
        out.explain(explainer="outlier", target="A")


def test_outlier_requires_target(lineitem):
    g = lineitem.groupby("l_returnflag")["l_quantity"].mean()
    with pytest.raises(ValueError):
        g.explain(explainer="outlier")


def test_outlier_bad_target_raises(lineitem):
    g = lineitem.groupby("l_returnflag")["l_quantity"].mean()
    with pytest.raises(ValueError):
        g.explain(explainer="outlier", target="NOPE")


def test_outlier_on_testdata_runs(orders):
    g = orders.groupby("o_orderpriority")["o_totalprice"].mean()
    exp = g.explain(explainer="outlier", target=g.df.first()[0], dir="high")
    assert exp.kind == "outlier"


def test_outlier_std_target_planted(spark):
    """Group 'z' has an inflated STD only because of rows with flag ~ 100."""
    rows = []
    rng = np.random.RandomState(7)
    for g in ["a", "b", "c", "d"]:
        rows += [(g, 10.0 + rng.rand(), float(rng.randint(0, 10))) for _ in range(200)]
    rows += [("z", 10.0 + rng.rand(), float(rng.randint(0, 10))) for _ in range(200)]
    # widen z's spread via extreme v at flag ~ 100
    rows += [("z", 300.0 * (1 if i % 2 else -1), 100.0) for i in range(50)]
    df = to_explainable(spark.createDataFrame(rows, ["g", "v", "flag"]), name="outl_std")
    res = df.groupby("g")["v"].std()
    exp = res.explain(explainer="outlier", target="z", dir="high")
    assert exp.items
    top = exp.items[0]
    assert top.attribute == "flag"
    assert "100" in top.bin
    assert top.influence > 0


def _planted_median_frame(spark):
    """Group 'z' has an inflated MEDIAN because >half its rows (flag ~
    100) sit at v ~ 60."""
    rows = []
    rng = np.random.RandomState(11)
    for g in ["a", "b", "c", "d"]:
        rows += [(g, 10.0 + rng.rand(), float(rng.randint(0, 10))) for _ in range(200)]
    rows += [("z", 10.0 + rng.rand(), float(rng.randint(0, 10))) for _ in range(100)]
    rows += [("z", 60.0 + rng.rand(), 100.0) for _ in range(150)]
    return to_explainable(spark.createDataFrame(rows, ["g", "v", "flag"]), name="outl_med")


def test_outlier_median_target_planted(spark):
    res = _planted_median_frame(spark).groupby("g")["v"].median()
    exp = res.explain(explainer="outlier", target="z", dir="high")
    assert exp.items
    top = exp.items[0]
    assert top.attribute == "flag"
    assert "100" in top.bin
    assert top.influence > 0


def test_outlier_mean_null_safe(spark):
    """NULL measures must not deflate the reconstructed group means: without
    the non-null denominator, group 'a' (half nulls) would read as an
    artificial low outlier."""
    rows = []
    rng = np.random.RandomState(3)
    for g in ["a", "b", "c"]:
        for _ in range(200):
            v = None if (g == "a" and rng.rand() < 0.5) else 10.0 + rng.rand()
            rows.append((g, v, float(rng.randint(0, 10))))
    df = spark.createDataFrame(rows, schema="g string, v double, flag double")
    edf = to_explainable(df, name="outl_null")
    res = edf.groupby("g")["v"].mean()
    exp = res.explain(explainer="outlier", target="a", dir="low")
    # all three true means are ~10.5 -> target is NOT a real outlier;
    # the before-score must be small (nulls excluded from the mean)
    assert exp.extras.get("std_int_before", 0.0) < 1.5


def test_outlier_multi_key_groups(spark):
    rows = []
    rng = np.random.RandomState(5)
    for g1 in ["x", "y"]:
        for g2 in ["p", "q"]:
            rows += [(g1, g2, 10.0 + rng.rand(), float(rng.randint(0, 10))) for _ in range(150)]
    rows += [("x", "q", 80.0, 100.0) for _ in range(40)]
    df = to_explainable(spark.createDataFrame(rows, ["g1", "g2", "v", "flag"]), name="outl_mk")
    res = df.groupby(["g1", "g2"])["v"].mean()
    exp = res.explain(explainer="outlier", target=("x", "q"), dir="high")
    assert exp.items
    top = exp.items[0]
    assert top.attribute == "flag"
    assert "100" in top.bin


# ---------------------------------------------------------------- shapley on filters
def test_shapley_filter_decomposition_exact(lineitem):
    """phi_kept + phi_removed must equal v(all) (efficiency axiom), and the
    kept-side value must equal the mean over the kept rows."""
    out = lineitem[lineitem["l_quantity"] > 45]
    exp = out.explain(explainer="shapley", value="mean", attr="l_extendedprice",
                      use_sampling=False)
    assert exp.kind == "fedex-shapley-filter"
    sh = exp.extras["shapley"]
    assert abs((sh["kept"] + sh["removed"]) - sh["v_all"]) < 1e-6
    truth = lineitem.df.selectExpr(
        "avg(case when l_quantity > 45 then l_extendedprice end) as m"
    ).first()["m"]
    assert abs(sh["v_kept"] - float(truth)) < 1e-6
    assert exp.items  # per-column stories still present


def test_shapley_filter_kwargs_attr_default(lineitem):
    out = lineitem[lineitem["l_quantity"] > 45]
    exp = out.explain(explainer="shapley")  # attr defaults to filter column
    assert "l_quantity" in exp.extras["shapley"]["measure"]


# ------------------------------------------------------- kernel tables (r5)
def test_filter_kernel_table_ks_matches_numpy(spark):
    """The oracle-izable KS table agrees with a direct numpy recomputation
    of cumulative histogram deltas on a planted filter."""
    rows = [(float(i % 100), float((i * 37) % 50), i % 100 < 20) for i in range(2000)]
    df = to_explainable(
        spark.createDataFrame([(a, b) for a, b, _ in rows], ["x", "y"]), name="kern"
    )
    out = df[df["x"] < 20]
    from pd_explain_spark.explainers.fedex import filter_kernel_table

    t = filter_kernel_table(out, ["y"], n_bins=10).toPandas().sort_values("bin")
    assert list(t.columns) == ["attribute", "bin", "src_cnt", "res_cnt", "cum_delta", "ks"]
    src = t["src_cnt"].to_numpy(float)
    res = t["res_cnt"].to_numpy(float)
    delta = np.cumsum(src) / src.sum() - np.cumsum(res) / res.sum()
    assert np.allclose(t["cum_delta"].to_numpy(), np.round(delta, 6), atol=1e-6)
    assert np.allclose(t["ks"].to_numpy(), round(float(np.max(np.abs(delta))), 6), atol=1e-6)
    # the filter keeps x<20 uniformly across y — KS should be small but the
    # histogram totals must reconcile exactly
    assert src.sum() == 2000 and res.sum() == 400


def test_outlier_kernel_table_matches_explain_choice(spark):
    """The full influence table's argmax row is the bin explain() reports."""
    rows = []
    for i in range(1200):
        g = "t" if i % 3 == 0 else ("a" if i % 3 == 1 else "b")
        v = 200.0 if (g == "t" and i % 30 == 0) else 10.0 + (i % 5)
        attr = float(i % 40)
        rows.append((g, v, attr))
    df = to_explainable(spark.createDataFrame(rows, ["g", "v", "a"]), name="okern")
    gb = df.groupby("g")["v"].mean()
    from pd_explain_spark.explainers.outlier import outlier_kernel_table

    table = outlier_kernel_table(gb, target="t", dir="high", attributes=["a"]).toPandas()
    assert list(table.columns) == ["attribute", "bin", "kept_cnt", "influence"]
    best = table.sort_values(["influence", "attribute", "bin"],
                             ascending=[False, True, True]).iloc[0]
    exp = gb.explain(explainer="outlier", target="t", dir="high")
    assert exp.items
    # explain()'s winning influence equals the table's max (same algebra)
    assert abs(float(best["influence"]) - exp.items[0].influence) < 1e-5


def test_outlier_kernel_table_median_differs_from_std(spark):
    """On a median group-by the kernel table runs the median search: it is
    not the std table, and its argmax is the bin explain() reports."""
    from pd_explain_spark.explainers.outlier import outlier_kernel_table

    df = _planted_median_frame(spark)
    key = ["attribute", "bin"]
    med_gb = df.groupby("g")["v"].median()
    med = outlier_kernel_table(med_gb, target="z", attributes=["flag"]).toPandas()
    std = outlier_kernel_table(
        df.groupby("g")["v"].std(), target="z", attributes=["flag"]
    ).toPandas()
    med, std = med.sort_values(key).reset_index(drop=True), std.sort_values(key).reset_index(drop=True)
    assert med[key].equals(std[key])
    assert not np.allclose(med["influence"], std["influence"])
    best = med.sort_values(["influence", "attribute", "bin"], ascending=[False, True, True]).iloc[0]
    exp = med_gb.explain(explainer="outlier", target="z", dir="high")
    assert exp.items and exp.items[0].attribute == best["attribute"]
    assert abs(float(best["influence"]) - exp.items[0].influence) < 1e-5
    assert "100" in exp.items[0].bin


def test_outlier_median_of_constant_measure(spark):
    """A measure with a single value has that value as every group's
    median (the histogram has zero width, not a unit-width bin)."""
    rows = [(g, 5.0, float(i % 10)) for g in "abz" for i in range(30)]
    df = to_explainable(spark.createDataFrame(rows, ["g", "v", "flag"]), name="outl_const")
    exp = df.groupby("g")["v"].median().explain(explainer="outlier", target="z")
    assert exp.items
    assert exp.items[0].viz["src"] == [5.0, 5.0, 5.0]


def test_outlier_on_size_groupby(spark):
    """A .size() group-by has no measure column: the partials count rows.
    Group 'z' is large only because of its flag == 100 rows."""
    from pyspark.sql import functions as F

    rows = [(g, float(i % 10)) for g in "abcd" for i in range(100)]
    rows += [("z", float(i % 10)) for i in range(100)] + [("z", 100.0)] * 80
    df = to_explainable(spark.createDataFrame(rows, ["g", "flag"]), name="outl_size")
    gb = df.groupby("g").size()
    exp = gb.explain(explainer="outlier", target="z", dir="high")
    assert exp.items
    top = exp.items[0]
    assert top.attribute == "flag"
    assert "100" in top.bin
    assert top.influence > 0
    # the viz carries the group sizes themselves
    assert exp.items[0].viz["src"] == [100.0, 100.0, 100.0, 100.0, 180.0]
    # count of a string measure counts its non-null values
    named = df.df.withColumn("name", F.when(F.col("flag") != 3.0, F.lit("n")))
    cnt = to_explainable(named, name="outl_cnt").groupby("g")["name"].count()
    exp = cnt.explain(explainer="outlier", target="z", dir="high")
    assert exp.items[0].viz["src"] == [90.0, 90.0, 90.0, 90.0, 170.0]


def test_profile_merge_keeps_few_valued_numeric_rules(spark):
    """One profile pass serves every explainer, and the rules it could
    break still hold: (1) the outlier explainer bins a numeric attribute
    with <= 6 distinct values and finds it as the planted cause;
    (2) filter_kernel_table bins such an attribute numerically; (3) the
    correlation anchor leaves min/max/distinct unchanged."""
    from pd_explain_spark.explainers.fedex import filter_kernel_table
    from pd_explain_spark.explainers.histograms import profile_columns

    rng = np.random.RandomState(5)
    rows = []
    for g in ["a", "b", "c", "d", "z"]:
        rows += [(g, 10.0 + rng.rand(), float(rng.randint(0, 3)), float(rng.randint(0, 500)))
                 for _ in range(200)]
    # z is an outlier only because of its flag == 3 rows
    rows += [("z", 60.0, 3.0, float(rng.randint(0, 500))) for _ in range(50)]
    sdf = spark.createDataFrame(rows, ["g", "v", "flag", "noise"])
    df = to_explainable(sdf, name="few_valued")

    exp = df.groupby("g")["v"].mean().explain(explainer="outlier", target="z", dir="high")
    assert exp.items
    top = exp.items[0]
    assert top.attribute == "flag"
    assert top.bin.endswith(", 3]")
    assert top.influence > 0

    out = df[df["v"] > 11.0]
    t = filter_kernel_table(out, ["flag"], n_bins=10).toPandas()
    # numeric bins are zero-padded indices over [0, 3], not the values
    assert sorted(t["bin"]) == ["0000", "0003", "0006", "0009"]
    assert t["src_cnt"].sum() == len(rows)

    cols = ["v", "flag", "noise", "g"]
    plain = profile_columns(sdf, cols)
    anchored = profile_columns(sdf, cols, corr_anchor="v")
    assert list(plain) == list(anchored) == cols
    for c in cols:
        p, a = plain[c], anchored[c]
        assert (p.is_numeric, p.distinct, p.vmin, p.vmax) == (a.is_numeric, a.distinct, a.vmin, a.vmax)
        assert p.corr is None
    assert not plain["flag"].is_numeric  # the FEDEX rule: nunique > 6
    assert anchored["v"].corr is None and anchored["g"].corr is None
    v = [r[1] for r in rows]
    for c, i in (("flag", 2), ("noise", 3)):
        want = np.corrcoef(v, [r[i] for r in rows])[0, 1]
        assert abs(anchored[c].corr - want) < 1e-9


# ------------------------------------------------------- series b_join (r5)
def test_series_b_join_prefix_contract_and_op(spark):
    """Reference R8 series flavor (core/explainable_series.py:112-163):
    series.b_join narrows to (keys, value), applies the <name>_<col>
    prefix contract, and records a BJoinOp that explain() accepts."""
    from pd_explain_spark.core.operations import BJoinOp

    left = to_explainable(
        spark.createDataFrame(
            [(1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "z")], ["k", "v", "junk"]
        ),
        name="lhs",
    )
    right = to_explainable(
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "tag"]), name="rhs"
    )
    out = left["v"].b_join(right, on="k", how="inner")
    assert isinstance(out.operation, BJoinOp)
    # series was narrowed: junk is gone; non-key columns carry the prefix
    assert sorted(out.df.columns) == ["k", "lhs_v", "rhs_tag"]
    assert out.df.count() == 2
    exp = out.explain(top_k=1)
    assert exp.kind in ("fedex-join", "fedex-shapley")


def test_series_b_join_with_series_rhs(spark):
    left = to_explainable(
        spark.createDataFrame([(1, 1.5), (2, 2.5)], ["k", "v"]), name="l"
    )
    right = to_explainable(
        spark.createDataFrame([(1, 9.0), (3, 8.0)], ["k", "w"]), name="r"
    )
    out = left["v"].b_join(right["w"], on="k", how="left")
    assert sorted(out.df.columns) == ["k", "l_v", "r_w"]
    assert out.df.count() == 2


def test_series_b_join_requires_on(spark):
    left = to_explainable(spark.createDataFrame([(1, 1.0)], ["k", "v"]), name="l")
    with pytest.raises(ValueError, match="requires `on`"):
        left["v"].b_join(left, on=None)


def test_shapley_filter_kernel_table_efficiency(spark):
    """The 2-row kernel table: shapley values sum to v(all) (efficiency
    axiom) and match the explainer's extras."""
    rows = [(float(i % 50), float((i % 10) * 100)) for i in range(1000)]
    df = to_explainable(spark.createDataFrame(rows, ["x", "m"]), name="shk")
    out = df[df["x"] > 25]
    from pd_explain_spark.explainers.fedex import shapley_filter_kernel_table

    t = {r["player"]: r for r in shapley_filter_kernel_table(out, attr="m").collect()}
    assert set(t) == {"kept", "removed"}
    exp = out.explain(explainer="shapley", value="mean", attr="m", top_k=1)
    sh = exp.extras["shapley"]
    assert abs(t["kept"]["shapley"] - sh["kept"]) < 1e-5
    assert abs(t["removed"]["shapley"] - sh["removed"]) < 1e-5
    # efficiency: phi_kept + phi_removed == v(all)
    assert abs((t["kept"]["shapley"] + t["removed"]["shapley"]) - sh["v_all"]) < 1e-5


def test_join_kernel_table_histogram_reconciles(spark):
    """Union-path kernel: src histogram totals = |left|, res totals =
    |join result|, and KS is the max |cum_delta| per attribute."""
    left = to_explainable(
        spark.createDataFrame(
            [(i, float(i % 97)) for i in range(500)], ["k", "v"]
        ),
        name="l",
    )
    right = to_explainable(
        spark.createDataFrame([(i,) for i in range(0, 500, 3)], ["k"]), name="r"
    )
    j = left.merge(right, on="k", how="inner")
    from pd_explain_spark.explainers.fedex import join_kernel_table

    t = join_kernel_table(j, ["v"], n_bins=10).toPandas().sort_values("bin")
    assert t["src_cnt"].sum() == 500
    assert t["res_cnt"].sum() == j.df.count()
    import numpy as np

    delta = (
        np.cumsum(t["src_cnt"].to_numpy(float)) / t["src_cnt"].sum()
        - np.cumsum(t["res_cnt"].to_numpy(float)) / t["res_cnt"].sum()
    )
    assert np.allclose(t["ks"].to_numpy(), round(float(np.max(np.abs(delta))), 6), atol=1e-6)



def test_join_explain_binds_result_columns_by_name(spark):
    """A left column ``orders_total`` lands in the join result as
    ``li_orders_total`` next to the right side's ``total`` ->
    ``orders_total``. The left-side histogram must bin the prefixed
    column (no rename into a duplicate name): explain works in both
    modes, and the histogram equals the one of the same join with the
    column renamed apart."""
    from pd_explain_spark.explainers.fedex import join_kernel_table

    rows = [(i % 50, float(i % 23), float((i * 7) % 31)) for i in range(300)]
    right = to_explainable(
        spark.createDataFrame([(k, float(k * 3 % 17)) for k in range(0, 50, 2)], "k bigint, total double"),
        name="orders",
    )

    def joined(col):
        left = spark.createDataFrame(rows, f"k bigint, v double, {col} double")
        return to_explainable(left, name="li").merge(right, on="k")

    j, j_apart = joined("orders_total"), joined("ot")
    assert {"li_orders_total", "orders_total"} <= set(j.df.columns)
    assert "orders_total" in j.explain(consider="left", use_sampling=True).scores
    exp = j.explain(consider="left")
    ref = j_apart.explain(consider="left")
    assert exp.scores["orders_total"] == ref.scores["ot"]
    assert exp.scores["v"] == ref.scores["v"]
    got = join_kernel_table(j, ["orders_total"]).toPandas()
    want = join_kernel_table(j_apart, ["ot"]).toPandas()
    key = ["bin", "src_cnt", "res_cnt", "cum_delta", "ks"]
    assert set(got["attribute"]) == {"orders_total"}
    assert got[key].sort_values("bin").reset_index(drop=True).equals(
        want[key].sort_values("bin").reset_index(drop=True)
    )
    assert got["res_cnt"].sum() == j.df.count()

def test_many_to_one_kernel_table_stats(spark):
    """Level-1 rule stats: coverage/separation reconcile with direct
    counting on a planted frame."""
    rows = [("a" if i % 2 == 0 else "b", "x" if i % 4 < 2 else "y") for i in range(100)]
    df = spark.createDataFrame(rows, ["attr1", "lab"])
    from pd_explain_spark.explainers.many_to_one import many_to_one_kernel_table

    t = {
        (r["bin"], r["label"]): r
        for r in many_to_one_kernel_table(df, "lab", ["attr1"]).collect()
    }
    # attr1='a' rows: i%2==0 (50 rows); of those, lab='x' iff i%4==0 (25)
    r = t[("a", "x")]
    assert r["cnt"] == 25
    assert abs(r["coverage"] - 25 / 50) < 1e-9       # |x| = 50
    assert abs(r["separation_err"] - 25 / 50) < 1e-9  # 'a' matches 50 total


def test_metainsight_kernel_table_cube(spark):
    """The grouping-sets cube equals the union of the two plain group-bys
    it shares one scan for."""
    rows = [("r%d" % (i % 2), "s%d" % (i % 3), "q%d" % ((i // 2) % 2), float(i)) for i in range(60)]
    df = spark.createDataFrame(rows, ["a", "b", "c", "m"])
    from pd_explain_spark.explainers.metainsight import metainsight_kernel_table

    out = metainsight_kernel_table(df, [("a", "b"), ("a", "c")], "m").toPandas()
    gids = set(out["gid"])
    assert len(gids) == 2
    # pair (a,b): 2x3 scopes; pair (a,c): 2x2 scopes
    sizes = out.groupby("gid").size().sort_values().tolist()
    assert sizes == [4, 6]
    # spot-check one scope mean
    ab = out[(out["a"] == "r0") & (out["b"] == "s0") & out["c"].isna()]
    import numpy as np

    expect = np.mean([float(i) for i in range(60) if i % 2 == 0 and i % 3 == 0])
    assert abs(float(ab["value"].iloc[0]) - round(expect, 6)) < 1e-6


def test_metainsight_measures_use_agg_column(spark):
    """Every MetaInsight measure is computed by agg_column: a nunique
    measure counts distinct values (not their mean), on the explainer's
    scope cube and on the kernel table, and an unknown agg raises."""
    from pd_explain_spark.explainers.metainsight import (
        MetaInsightExplainer,
        metainsight_kernel_table,
    )

    rows = [("r%d" % (i % 2), "s%d" % (i % 3), float(i % 5)) for i in range(60)]
    df = spark.createDataFrame(rows, ["a", "b", "v"])
    t = metainsight_kernel_table(df, [("a", "b")], "v", agg="nunique").toPandas()
    pdf = df.toPandas()
    want = pdf.groupby(["a", "b"])["v"].nunique()
    got = t.set_index(["a", "b"])["value"].sort_index()
    assert got.tolist() == want.sort_index().astype(float).tolist()

    edf = to_explainable(df, name="mi_agg")
    gb = edf.groupby(["a", "b"]).agg({"v": "nunique"})
    exp = gb.explain(explainer="metainsight", filter_dimensions=["a"],
                     breakdown_dimensions=["b"], use_sampling=False)
    for m in exp.extras["insights"]:
        assert m.agg == "nunique"
    bad = MetaInsightExplainer(edf, filter_dimensions=["a"], breakdown_dimensions=["b"],
                               measures=[("v", "bogus")], use_sampling=False)
    with pytest.raises(ValueError, match="unsupported aggregate"):
        bad.generate_explanation()


def test_series_explain_and_to_html_passthrough(spark):
    """Reference ExpSeries.explain/to_html delegate to the frame path
    (core/explainable_series.py:289-427)."""
    rows = [(float(i % 7 - 3), "a" if i % 7 > 2 else "b") for i in range(980)]
    df = to_explainable(spark.createDataFrame(rows, ["x", "cat"]), name="sx")
    out = df[df["x"] > 0]
    exp = out["cat"].explain(top_k=1)
    assert exp.kind == "fedex-filter"
    html = out["cat"].to_html(n=5)
    assert "<table" in html and "cat" in html


# ------------------------------------------- series-level outlier helpers (ref parity)
def test_std_int_hand_computed(spark):
    """Reference core/explainable_series.py:103-104 semantics on a
    (group, mean) result: |v_t - mean| / sample_std."""
    from pd_explain_spark import to_explainable

    df = to_explainable(
        spark.createDataFrame(
            [("a", 10.0), ("a", 10.0), ("b", 20.0), ("c", 30.0)], ["g", "v"]
        ),
        name="si",
    )
    grouped = df.groupby("g")["v"].mean()  # a:10, b:20, c:30
    s = df["v"]
    import statistics

    expected = abs(30 - 20) / statistics.stdev([10, 20, 30])
    assert s.std_int(grouped, "c") == pytest.approx(expected)
    # degenerate: all groups equal -> std 0 -> 0.0, not a crash
    flat = df.groupby("g")["v"].mean().df.selectExpr("g", "1.0 AS v")
    assert s.std_int(flat, "c") == 0.0


def test_calc_influence_std_drops_when_outlier_rows_excluded(spark):
    from pd_explain_spark import to_explainable

    rows = [("a", 10.0), ("a", 12.0), ("b", 11.0), ("b", 9.0), ("z", 10.0), ("z", 90.0)]
    df = to_explainable(spark.createDataFrame(rows, ["g", "v"]), name="ci")
    grouped = df.groupby("g")["v"].mean()
    s = df["v"]
    # excluding the inflated row collapses z's deviation -> influence > 0
    infl = s.calc_influence_std(grouped, df.df.filter("v < 80"), "g", "v", "z")
    assert infl > 0
    # excluding an irrelevant row barely moves it
    infl_noop = s.calc_influence_std(grouped, df.df, "g", "v", "z")
    assert infl_noop == pytest.approx(0.0, abs=1e-9)


def test_series_explain_outlier_routes_to_explainer(spark):
    from pd_explain_spark import to_explainable

    rows = []
    for g in ["a", "b", "c"]:
        rows += [(g, 10.0, 1.0) for _ in range(50)]
    rows += [("z", 10.0, 1.0) for _ in range(50)] + [("z", 80.0, 99.0) for _ in range(20)]
    df = to_explainable(spark.createDataFrame(rows, ["g", "v", "flag"]), name="seo")
    res = df.groupby("g")["v"].mean()
    series = res["v"] if "v" in res.df.columns else res[res.df.columns[-1]]
    exp = series.explain_outlier(target="z", dir="high")
    assert exp.items and exp.items[0].influence > 0


def test_reference_named_shims(lineitem):
    from pd_explain_spark.explainers.factory import ExplainerFactory, create_explainer
    from pd_explain_spark.functions.scoring import interestingness, score_queries

    assert score_queries({"a": 0.5, "b": 0.7}) == interestingness({"a": 0.5, "b": 0.7})
    out = lineitem[lineitem["l_quantity"] > 45]
    via_class = ExplainerFactory().create_explainer("fedex", out)
    via_fn = create_explainer("fedex", out)
    assert type(via_class) is type(via_fn)


# ------------------------------------------- shapley players vs per-side join explain
@pytest.mark.parametrize("how", ["inner", "left", "right", "full", "left_semi", "left_anti"])
def test_shapley_players_score_like_per_side_join_explain(spark, how):
    """Each Shapley player's value is its own side's deviation against the
    recorded join, on NULL keys, NULL values and multi-match keys:
    ``left.*`` scores equal the left-side FEDEX join explanation's and
    ``right.*`` the right side's. A semi or anti result holds no right
    column, so it has no ``right.*`` score. With a key-only left side,
    the left join's unmatched rows still land in the right player's NULL
    bin."""
    from pd_explain_spark.explainers.histograms import NULL_TOKEN

    left = to_explainable(spark.createDataFrame(
        [(1, 10.0, "a"), (1, 11.0, "b"), (2, None, "a"), (3, 30.0, None),
         (None, 40.0, "c")] + [(5 + i, float(i), "x") for i in range(20)],
        "k bigint, lv double, lc string",
    ), name="l")
    right = to_explainable(spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (2, 210.0), (4, 400.0), (None, 500.0)]
        + [(5 + i, float(i * 10)) for i in range(10)],
        "k bigint, rv double",
    ), name="r")
    j = left.merge(right, on="k", how=how)
    sh = j.explain(explainer="shapley", use_sampling=False)
    for side in ("left", "right"):
        player = {k.split(".", 1)[1]: v for k, v in sh.scores.items() if k.startswith(side + ".")}
        assert player == j.explain(consider=side, use_sampling=False).scores, side
    assert {"left.lv", "left.lc"} <= set(sh.scores)
    semi_or_anti = how in ("left_semi", "left_anti")
    assert any(k.startswith("right.") for k in sh.scores) != semi_or_anti

    keys_only = to_explainable(left.df.select("k"), name="l").merge(right, on="k", how=how)
    sh = keys_only.explain(explainer="shapley", top_k=5, use_sampling=False)
    assert not any(k.startswith("left.") for k in sh.scores)
    if semi_or_anti:
        assert sh.scores == {}
        return
    (rv,) = [i for i in sh.items if i.side == "right"]
    null_share = dict(zip(rv.viz["labels"], rv.viz["res"])).get(NULL_TOKEN, 0.0)
    res = keys_only.df
    assert null_share == res.filter(res["r_rv"].isNull()).count() / res.count()
    assert (null_share > 0) == (how in ("left", "full"))


_JOB_GROUPS = itertools.count()


def _job_count(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches. Each call gets a fresh job
    group: a name from ``id(fn)`` is reused once ``fn`` is freed, and the
    tracker would then count the earlier call's jobs too."""
    sc = spark.sparkContext
    group = f"jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fan_out_reads_join_width_without_jobs(spark):
    """fan_out decides from the physical plan: on a join result it runs
    no job before the caller's action, and still fans the adaptive join
    result out to the cluster width."""
    from pd_explain_spark.operators.partitioning import fan_out

    left = spark.createDataFrame([(i % 7, float(i)) for i in range(50)], "k bigint, lv double")
    right = spark.createDataFrame([(i, float(i)) for i in range(5)], "k bigint, rv double")
    res = left.join(right, "k", "left").select("lv")
    out = []
    assert _job_count(spark, lambda: out.append(fan_out(res))) == 0
    plan = out[0]._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    # a filled cache of full width is read as is: no job, no repartition
    wide = left.repartition(spark.sparkContext.defaultParallelism).cache()
    try:
        wide.count()
        sel = wide.select("lv")
        assert _job_count(spark, lambda: out.append(fan_out(sel))) == 0
        assert out[-1] is sel
    finally:
        wide.unpersist()


def test_dual_histogram_job_counts(spark):
    """Jobs each dual-histogram flavor launches on a small fixture."""
    from pyspark.sql import functions as F

    from pd_explain_spark.explainers.histograms import (
        dual_histogram_predicate,
        dual_histogram_union,
        profile_columns,
        shapley_dual_histograms,
    )

    left = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 11.0, "b"), (2, None, "a"), (3, 30.0, None),
         (None, 40.0, "c")] + [(5 + i, float(i), "x") for i in range(20)],
        "k bigint, lv double, lc string",
    )
    right = spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (2, 210.0), (4, 400.0), (None, 500.0)]
        + [(5 + i, float(i * 10)) for i in range(10)],
        "k bigint, rv double",
    )
    lp = profile_columns(left, ["lv", "lc"])
    rp = profile_columns(right, ["rv"])
    res = left.selectExpr("k", "lv AS l_lv", "lc AS l_lc").join(
        right.selectExpr("k", "rv AS r_rv"), on=["k"], how="left"
    )
    lr, rr = {"lv": "l_lv", "lc": "l_lc"}, {"rv": "r_rv"}
    cases = {
        "predicate": (lambda: dual_histogram_predicate(left, F.col("lv") > 5, lp), 2),
        # the result branch's fan_out reads the join's width from its plan,
        # so the join stages run once, in the histogram action
        "union": (lambda: dual_histogram_union(left, res, lp, result_rename=lr), 6),
        "shapley_union": (
            lambda: shapley_dual_histograms(
                left, right, res, lp, rp, left_rename=lr, right_rename=rr
            ),
            6,
        ),
    }
    got = {name: _job_count(spark, fn) for name, (fn, _) in cases.items()}
    assert got == {name: want for name, (_, want) in cases.items()}


def test_shapley_filter_samples_the_source_once(spark, lineitem):
    """With sampling on, the Shapley filter explainer hands its sample to
    the FEDEX filter body instead of sampling and checkpointing the
    source again: it takes the FEDEX filter's jobs plus one, the
    conditional aggregate of the Shapley values."""
    out = lineitem[lineitem["l_quantity"] > 45]
    fedex = _job_count(spark, lambda: out.explain(use_sampling=True))
    shapley = _job_count(
        spark, lambda: out.explain(explainer="shapley", use_sampling=True)
    )
    assert shapley == fedex + 1
