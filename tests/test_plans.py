"""Physical-plan audits for the 100 TB-critical properties.

Correctness tests prove the operators return the right rows; these prove
the PLANS are the ones that survive a 1000-executor cluster:

 * predicate pushdown + column pruning reach the parquet scan,
 * small dimension joins broadcast (no shuffle of the fact table),
 * aggregations are partial (map-side combine before the shuffle),
 * per-key windows cost exactly one Exchange,
 * top-k is TakeOrderedAndProject, never a global sort.

Every assertion reads the executed plan of the same entry the driver
benches, so a plan regression fails CI before it shows up in BENCH.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final(plan: str) -> str:
    # AQE prints "== Final Plan ==" before "== Initial Plan =="; without
    # AQE finalization there is only one section.
    return plan.split("== Initial Plan ==")[0]


def test_filter_pushdown_and_column_pruning(lineitem):
    out = lineitem[lineitem["l_quantity"] > 45]
    proj = out.df.select("l_orderkey", "l_quantity")
    plan = _plan(proj)
    # the predicate must reach the parquet reader, not run post-scan only
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity,45" in plan
    # the scan must read only the two projected columns (+ filter column)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_dim_join_broadcasts(spark, sf_dir, lineitem):
    from pd_explain_spark import load_table

    supplier = load_table(spark, sf_dir, "supplier")
    # fact ⋈ small dim must broadcast the dim side, not sort-merge
    out = lineitem.df.join(
        supplier.df, lineitem.df["l_suppkey"] == supplier.df["s_suppkey"]
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in _final(plan)


def test_groupby_agg_is_partial(lineitem):
    out = lineitem.groupby("l_returnflag")["l_quantity"].mean()
    plan = _plan(out.df)
    # two HashAggregates (partial + final) around one Exchange: map-side
    # combine means the shuffle carries one row per (partition, key)
    final = _final(plan)
    assert final.count("HashAggregate") >= 2
    assert final.count("Exchange") <= 1 or "AQEShuffleRead" in plan


def test_window_by_key_single_exchange(spark, sf_dir):
    from pd_explain_spark.operators.rolling import rolling_agg
    from pd_explain_spark import load_table

    ev = load_table(spark, sf_dir, "events").df.select(
        "event_id", "ts", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = rolling_agg(
        ev, on="ts", window="1 hour",
        aggs={"roll_sum": ("cents", "sum")}, by="event_type",
    )
    final = _final(_plan(out))
    # partitioned window = exactly one shuffle on the by-key
    assert final.count("Exchange") == 1, final


def test_topk_never_global_sort(lineitem):
    top = lineitem.sort_values("l_extendedprice", ascending=False).head(10)
    plan = _plan(top.df)
    assert "TakeOrderedAndProject" in plan
    # no global single-partition Sort feeding a Limit
    assert "GlobalLimit" not in plan or "TakeOrdered" in plan


def test_q3_plan_filters_below_join_and_broadcasts(spark, sf_dir):
    import __spark_entry__ as m

    df = m.queries()["q3_shipping_priority"](spark, sf_dir)
    plan = _plan(df)
    # customer (dim at this shape) broadcasts; order-date filters reach scans
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan
    assert "TakeOrderedAndProject" in plan or "Sort" in plan


def test_exact_dedup_window_single_exchange(spark, sf_dir):
    from pd_explain_spark.functions.dedup import dedup_exact
    from pd_explain_spark import load_table

    docs = load_table(spark, sf_dir, "documents").df
    final = _final(_plan(dedup_exact(docs)))
    assert final.count("Exchange") == 1, final


@pytest.mark.parametrize("entry", ["melt_lineitem", "groupby_transform_mean", "embedding_quantize"])
def test_entry_shuffle_budget(spark, sf_dir, entry):
    import __spark_entry__ as m

    df = m.queries()[entry](spark, sf_dir)
    final = _final(_plan(df))
    budget = {"melt_lineitem": 0, "groupby_transform_mean": 1, "embedding_quantize": 0}[entry]
    assert final.count("Exchange") <= budget, final


def test_salted_join_matches_plain_join(spark):
    from pd_explain_spark.operators.partitioning import salted_join

    left = spark.range(0, 10_000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )  # key 0/1/2 each ~3333 rows: deliberately few, hot keys
    right = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (7, "zz")], "k long, tag string"
    )
    got = salted_join(left, right, on="k", salt=8)
    want = left.join(right, "k")
    assert got.count() == want.count() == 10_000
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    lgot = salted_join(left, right, on="k", how="left", salt=8)
    assert lgot.count() == left.count()


def test_count_distinct_skew_safe_matches_direct(lineitem):
    from pd_explain_spark.operators.partitioning import count_distinct_skew_safe

    got = count_distinct_skew_safe(lineitem.df, "l_returnflag", "l_partkey")
    want = lineitem.df.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("l_partkey_nunique")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path, lineitem, orders):
    """Two tables bucketed on the join key by the same bucket count must
    join with ZERO Exchange — the co-located-join layout that removes
    both shuffles from a fact ⋈ fact join at 100 TB."""
    lineitem.to_bucketed_table(
        "li_b", bucket_by="l_orderkey", num_buckets=8,
        sort_by="l_orderkey", mode="overwrite", path=str(tmp_path / "li_b"),
    )
    orders.to_bucketed_table(
        "ord_b", bucket_by="o_orderkey", num_buckets=8,
        sort_by="o_orderkey", mode="overwrite", path=str(tmp_path / "ord_b"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.table("li_b")
        od = spark.table("ord_b")
        j = li.join(od, li["l_orderkey"] == od["o_orderkey"])
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it actually runs
        assert j.count() == lineitem.df.join(
            orders.df, lineitem.df["l_orderkey"] == orders.df["o_orderkey"]
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_filter_kernel_single_scan_partial_agg(spark, sf_dir, lineitem):
    """The KS kernel table must be ONE scan of the source (the predicate
    fast path counts src and res in the same pass) with a partial
    aggregation before its shuffle — no per-attribute rescans."""
    out = lineitem[lineitem["l_quantity"] > 45]
    from pd_explain_spark.explainers.fedex import filter_kernel_table

    t = filter_kernel_table(out, ["l_extendedprice", "l_discount", "l_tax"])
    plan = _plan(t)
    final = _final(plan)
    # one parquet scan of lineitem feeds the whole kernel
    assert final.count("Scan parquet") == 1
    assert "partial_count" in final or "HashAggregate" in final


def test_outlier_kernel_single_scan(spark, sf_dir, orders):
    """The bin-removal partials read the source exactly once: the plan the
    explainer's ``_partials`` runs is a single explode+groupBy job, for
    the moment flavor and for the median flavor (one more key, the
    measure's own bin)."""
    from pd_explain_spark import to_explainable
    from pd_explain_spark.explainers.outlier import OutlierExplainer

    o = orders.df.select(
        "o_orderpriority", "o_custkey", "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    e = to_explainable(o, name="orders_cents")
    for agg in ("mean", "median"):
        g = getattr(e.groupby("o_orderpriority")["cents"], agg)()
        _, partials = OutlierExplainer(g, target="1-URGENT")._partials(o, ["o_custkey", "o_orderkey"])
        final = _final(_plan(partials))
        assert final.count("Scan parquet") == 1, agg
        assert final.count("Exchange") <= 1, agg  # one shuffle for the tiny cube
        assert ("__abin" in final) == (agg == "median")


def test_metainsight_kernel_one_shuffle_for_all_pairs(spark, sf_dir, lineitem):
    """The grouping-sets cube: BOTH (filter_dim, breakdown) pairs' scopes
    from one Expand + one Exchange — not one scan per pair."""
    from pd_explain_spark.explainers.metainsight import metainsight_kernel_table

    li = lineitem.df.select(
        "l_returnflag", "l_linestatus",
        F.when(F.col("l_quantity") <= 20, "low").otherwise("high").alias("qty_class"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    t = metainsight_kernel_table(
        li, [("l_returnflag", "l_linestatus"), ("l_returnflag", "qty_class")], "cents"
    )
    final = _final(_plan(t))
    assert final.count("Scan parquet") == 1
    assert "Expand" in final  # grouping sets share the scan via Expand


def test_redact_pii_zero_shuffle_scan_stage(spark, sf_dir):
    """PII redaction must be pure scan-stage work: regexp_count/replace
    evaluate inside the file scan's projection — zero Exchange, and the
    scan reads only the referenced columns."""
    from pd_explain_spark import load_table
    from pd_explain_spark.functions.mixing import redact_pii

    docs = load_table(spark, sf_dir, "documents").df
    out = redact_pii(docs).select("doc_id", "text", "pii_email_count")
    final = _final(_plan(out))
    assert final.count("Exchange") == 0, final


def test_stratified_sample_two_phase_topn(spark, sf_dir):
    """The quota sampler is exactly two window passes: phase 1 partitions
    by (stratum, salt) — parallel even for a hot stratum — phase 2 ranks
    the <= quota*salts survivors per stratum. Two Exchanges, and the
    phase-2 window must consume phase-1's FILTERED output (never a
    stratum-wide row_number over the raw corpus)."""
    from pd_explain_spark import load_table
    from pd_explain_spark.functions.mixing import stratified_sample

    docs = load_table(spark, sf_dir, "documents").df
    out = stratified_sample(docs, by="lang", quota=10)
    final = _final(_plan(out))
    assert final.count("Exchange") == 2, final
    assert final.count("Window [row_number") == 2, final
    # Spark's WindowGroupLimit must kick in: per-partition top-k runs
    # BEFORE each Exchange, so the shuffles carry <= quota rows per
    # (stratum[, salt]) group, not the whole corpus
    assert final.count("WindowGroupLimit") >= 2, final


def test_pack_sequences_no_global_sort_partition(spark, sf_dir):
    """Sequence packing rides the bucketed prefix sum: every Exchange is
    hash/round-robin — a single-partition sort Exchange would mean the
    whole corpus funnels through one task."""
    from pd_explain_spark import load_table
    from pd_explain_spark.functions.mixing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").df
    final = _final(_plan(pack_sequences(docs, budget=512)))
    assert "SinglePartition" not in final, final


@pytest.mark.parametrize(
    "entry,needle",
    [
        ("q4_priority_count", "LeftSemi"),          # EXISTS -> semi join, orders never duplicate
        ("q10_returned_revenue", "TakeOrderedAndProject"),  # top-20 is a heap, not a sort
        ("q14_promo_revenue", "BroadcastHashJoin"),  # part dim broadcasts
        ("q13_customer_distribution", "LeftOuter"),  # customers kept, predicate below the join
        ("q18_large_orders", "BroadcastHashJoin"),   # aggregated key set drives broadcast joins
        ("q19_disjunctive_revenue", "BroadcastHashJoin"),  # OR residual inside the broadcast join
        ("q22_idle_balances", "LeftAnti"),           # NOT EXISTS -> anti join
        ("q8_market_share", "BroadcastHashJoin"),    # part/supplier dims broadcast
        ("q15_top_supplier", "BroadcastHashJoin"),   # scalar max + supplier dim broadcast
        ("q16_supplier_count", "LeftAnti"),          # NOT IN -> broadcast anti join
        ("q16_supplier_count", "TakeOrderedAndProject"),  # top-20 is a heap
        ("q17_small_quantity_revenue", "BroadcastHashJoin"),  # per-part stats broadcast back
        ("q21_late_blame", "TakeOrderedAndProject"),  # top-10 is a heap, not a sort
        ("q9_profit_rollup", "BroadcastHashJoin"),   # part/supplier/nation broadcast
        ("q11_important_stock", "BroadcastHashJoin"),  # dims broadcast; scalar total broadcast back
        ("q20_dominant_suppliers", "BroadcastHashJoin"),  # part-total + dominant-set broadcast
    ],
)
def test_tpch_shapes_plan_properties(spark, sf_dir, entry, needle):
    import __spark_entry__ as m

    df = m.queries()[entry](spark, sf_dir)
    final = _final(_plan(df))
    assert needle in final, final


def test_ewm_never_single_partition(spark, sf_dir):
    """ewm must plan as partitioned windows only: one Exchange for the
    by-key flavor (hash(part) already co-locates the (part, tile)
    windows), and the keyless flavor rides range buckets — a
    SinglePartition Exchange anywhere means the recursion leaked into a
    global sort."""
    from pd_explain_spark import load_table
    from pd_explain_spark.operators.ewm import ewm_mean

    ev = load_table(spark, sf_dir, "events").df
    by = _final(_plan(ewm_mean(ev, "value", on="ts", alpha=0.3, by="event_type")))
    assert by.count("Exchange") == 1 and "SinglePartition" not in by, by
    keyless = _final(
        _plan(ewm_mean(ev.select("event_id", "ts", "value"), "value", on="ts", alpha=0.3))
    )
    assert "SinglePartition" not in keyless, keyless


def test_scale_audit_flags_and_clears(spark, sf_dir, lineitem):
    """The library's own plan auditor must flag the anti-patterns the
    engine avoids (global sort, nested-loop join) and come back clean on
    the engine's bucketed plans."""
    from pyspark.sql import Window

    from pd_explain_spark.plans.audit import assert_scalable, scale_audit

    # a deliberately bad plan: unpartitioned window = SinglePartition sort
    bad = lineitem.df.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey"))
    )
    checks = {f.check for f in scale_audit(bad)}
    assert "single-partition-exchange" in checks
    import pytest as _pt

    with _pt.raises(RuntimeError, match="not cluster-scalable"):
        assert_scalable(bad)

    # a non-equi join = nested loop
    small = spark.createDataFrame([(1.0,), (2.0,)], "t double")
    nl = lineitem.df.join(small, lineitem.df["l_quantity"] > small["t"])
    assert "nested-loop-join" in {f.check for f in scale_audit(nl)}

    # the engine's own keyless cumsum plan must pass
    from pd_explain_spark.operators.rolling import cumsum_col

    good = cumsum_col(
        lineitem.df.select("l_orderkey", "l_quantity"), "l_quantity", on="l_orderkey"
    )
    assert assert_scalable(good) is not None  # no fatal findings


def test_scale_audit_stable_across_execution(spark):
    """Executed plans prefix codegen'd nodes with '*(n) '; the audit's
    child-indent matching must classify the scalar-reduction idiom the
    same before AND after the plan runs (the prefix once shifted the
    child's measured indent and flipped info to fatal)."""
    from pd_explain_spark.plans.audit import scale_audit

    df = spark.range(100_000).agg(F.sum("id"))
    pre = {(f.check, f.severity) for f in scale_audit(df)}
    df.collect()
    post = {(f.check, f.severity) for f in scale_audit(df)}
    assert pre == post == {("scalar-aggregate-exchange", "info")}


def test_scale_audit_rejects_reexpanded_bounded_limit(spark):
    """A limit somewhere below a single-partition exchange must NOT
    excuse it when a join re-expands the bounded rows back to O(data):
    only the exchange's direct input path being provably bounded counts."""
    from pyspark.sql import Window

    from pd_explain_spark.plans.audit import scale_audit

    huge = spark.range(100_000).select((F.col("id") % 10).alias("k"), "id")
    small = spark.range(100).select(F.col("id").alias("k2")).orderBy("k2").limit(10)
    joined = huge.join(F.broadcast(small), huge["k"] == small["k2"])
    bad = joined.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    checks = {f.check for f in scale_audit(bad)}
    assert "single-partition-exchange" in checks, checks


def test_dedup_against_never_shuffles_corpus_text(spark, sf_dir):
    """Incremental dedup reduces the corpus to distinct fingerprints
    before the anti-join: the exchanges must carry only the 32-char
    hash (+ batch rows), and the corpus text column must be pruned out
    of the corpus-side scan."""
    from pd_explain_spark import load_table
    from pd_explain_spark.functions.dedup import dedup_against

    docs = load_table(spark, sf_dir, "documents").df
    out = dedup_against(docs.filter("doc_id >= 250"), docs.filter("doc_id < 250"))
    plan = _final(_plan(out))
    assert "LeftAnti" in plan, plan
    # corpus side: pruned to (doc_id for the split filter, text for the
    # hash) — the corpus scan must NOT read lang/source/n_chars
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert len(schemas) >= 2
    assert any("lang" not in s and "source" not in s and "n_chars" not in s
               for s in schemas), plan


# Entries whose plan is ALLOWED to carry a fatal nested-loop-join
# finding: the brute-force exact-similarity family is O(corpus x
# queries) BY DESIGN — it is the documented verification baseline /
# oracle twin of the sub-quadratic production paths (LSH, IVF, Arrow
# partial top-k), never the path a 100 TB run would take. Every other
# entry (and every entry's other checks) must audit clean; the test
# below also asserts an allowlisted entry carries ONLY the
# nested-loop-join fatal so new anti-patterns cannot hide behind it.
AUDIT_NLJ_ALLOWED = {
    "similarity_topk": "brute-force exact cosine baseline (scale path: "
                       "similarity_lsh_topk / similarity_ivf_* / _arrow)",
    "similarity_topk_int8": "brute-force over int8-quantized vectors "
                            "(same deliberate baseline class)",
    "similarity_topk_filtered": "filtered search on the brute-force "
                                "baseline (scale path: ivf_query with "
                                "allowed=)",
    "embedding_near_dups_exact": "exact all-pairs verify twin of the "
                                 "LSH near-dup path (oracle, not "
                                 "production)",
    "projected_topk_emb": "exact cosine in the JL-reduced space — the "
                          "same deliberate brute-force baseline class, "
                          "demonstrating the projection composition "
                          "(scale path: project then LSH/IVF)",
}


def _all_entry_names():
    import __spark_entry__ as m

    return sorted(m.queries())


@pytest.mark.parametrize("entry", _all_entry_names())
def test_every_entry_passes_scale_audit(spark, sf_dir, entry):
    """VERDICT r7 task #8: EVERY driver entry's physical plan must be
    free of fatal cluster-scale anti-patterns (single-partition
    exchange over unbounded input, nested-loop join with an unbounded
    build side, CartesianProduct) — except the documented brute-force
    baselines in AUDIT_NLJ_ALLOWED, which may carry exactly the
    nested-loop-join finding and nothing else."""
    import __spark_entry__ as m
    from pd_explain_spark.plans.audit import scale_audit

    df = m.queries()[entry](spark, sf_dir)
    fatal = {f.check for f in scale_audit(df) if f.severity == "fatal"}
    if entry in AUDIT_NLJ_ALLOWED:
        assert fatal <= {"nested-loop-join"}, (
            f"{entry}: allowlisted for nested-loop-join only, got {fatal}"
        )
    else:
        assert not fatal, f"{entry}: fatal plan findings {fatal}"


@pytest.mark.parametrize(
    "entry,needle",
    [
        ("q7_nation_trade_flow", "BroadcastHashJoin"),  # dim chains broadcast
        ("q2_min_price_part", "BroadcastHashJoin"),     # argmin set broadcasts back
    ],
)
def test_tpch_round5_extra_shapes(spark, sf_dir, entry, needle):
    import __spark_entry__ as m

    final = _final(_plan(m.queries()[entry](spark, sf_dir)))
    assert needle in final, final
    # lineitem/part must not sort-merge against the small sides
    assert "SortMergeJoin" not in final or entry == "q7_nation_trade_flow", final


def test_shuffle_assign_single_hash_exchange_no_global_sort(spark, sf_dir):
    """The deterministic shuffle is ONE hash exchange keyed by shard plus
    a within-partition sort — no SinglePartition exchange, no
    repartitionByRange (sampled boundaries), no global sort."""
    from pd_explain_spark import load_table
    from pd_explain_spark.functions.mixing import shuffle_assign

    docs = load_table(spark, sf_dir, "documents").df
    for to_shards in (False, True):
        final = _final(
            _plan(shuffle_assign(docs, n_shards=8, seed=42, partition_to_shards=to_shards))
        )
        assert "Exchange SinglePartition" not in final, final
        assert "rangepartitioning" not in final, final
        # the write_shards flavor's explicit repartition must also satisfy
        # the rank window: still exactly ONE exchange, not two
        ex = [l for l in final.splitlines() if "Exchange hashpartitioning" in l]
        assert len(ex) == 1, final
        assert "shard" in ex[0], ex[0]


def test_novelty_corpus_text_never_shuffles(spark, sf_dir):
    """novelty_scores' corpus side must collapse to the distinct gram
    column before any join — the documents' text column may appear in
    scan/project stages but never in an Exchange above the corpus scan."""
    import __spark_entry__ as m

    df = m.queries()["novelty_scores_docs"](spark, sf_dir)
    plan = _final(_plan(df))
    # the semi join on shingle exists; no broadcast nested loop anywhere
    assert "NestedLoop" not in plan, plan


def test_dsir_threshold_topk_orders_only_the_tie_set(spark):
    """The large-k selection never plans a k-size TakeOrdered: the only
    ordered operator in the lazy threshold plan is the boundary fix-up,
    whose limit is k - count(above cutoff) — the tie set at one 4dp key
    value, orders of magnitude below k. No global sort, no
    single-partition exchange (VERDICT r7 task #5 plan pin)."""
    import re

    from pd_explain_spark.functions.mixing import _threshold_topk

    n, k = 2000, 1000
    keyed = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0.0).alias("log_weight"),
        F.round(F.rand(seed=7) * 10, 4).alias("gumbel_key"),
    )
    out = _threshold_topk(keyed, k, "doc_id", _materialize=False)
    plan = _final(_plan(out))
    assert "Exchange SinglePartition" not in plan, plan
    assert not re.search(r"\bSort\b(?!.*TakeOrdered)", plan.split("TakeOrdered")[0]), plan
    limits = [int(m) for m in re.findall(r"TakeOrderedAndProject\(limit=(\d+)", plan)]
    assert limits, plan  # the boundary fix-up is present...
    assert all(l < k // 10 for l in limits), (limits, plan)  # ...and tiny
    assert out.count() == k  # and still exactly k rows
    spark.catalog.clearCache()


def test_tree_lines_glues_wrapped_expression_newlines():
    """A chr(10) literal inside an expression wraps the plan text; the
    continuation fragment must be glued back or the indent parser loses
    the node's later siblings (the web_curation_docs NLJ false-fatal)."""
    from pd_explain_spark.plans.audit import _tree_lines

    text = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- BroadcastNestedLoopJoin BuildRight, Cross\n"
        "   :- Project [regexp_replace(text#1, (x), $1.\n"
        ", 1) AS text#2]\n"
        "   :  +- Scan parquet [text#1]\n"
        "   +- BroadcastExchange IdentityBroadcastMode\n"
        "      +- HashAggregate(keys=[], functions=[count(1)])\n"
    )
    lines = _tree_lines(text)
    assert sum(", 1) AS text#2]" in ln for ln in lines) == 1
    assert any(ln.lstrip(" :+-").startswith("Project") and ", 1) AS" in ln for ln in lines)
    # the build side is still discoverable as a direct child
    from pd_explain_spark.plans.audit import _build_child, _bounded_node

    i = next(j for j, ln in enumerate(lines) if "NestedLoopJoin" in ln)
    bi = _build_child(lines, i)
    assert bi is not None and "BroadcastExchange" in lines[bi]
    assert _bounded_node(lines, bi)


def test_ivf_assignment_is_scan_stage(spark, sf_dir):
    """r10 plan pin: argmin centroid assignment must add ZERO exchanges
    over its input — the old broadcast-crossJoin + per-vector window
    shuffled k x corpus bytes (at 10^4-10^5 centroids on 100 TB that was
    the SemDeDup pipeline's largest exchange). On a parquet source the
    whole assigned plan is therefore exchange-free."""
    import os

    from pd_explain_spark.functions.similarity import ivf_build_fixed

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    plan = ivf_build_fixed(emb, "vec_id", "embedding", 8).assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Window" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_scale_audit_generate_on_raw_scan_info(spark, sf_dir):
    """The r12 'explode-under-one-split' detector: a work-multiplying
    Generate fed directly by a file scan (no repartitioning exchange
    below it) reports the info finding; the same explode behind a
    fan_out barrier does not. Would have caught the r12
    bootstrap/table_profile/exact-pairs single-task findings
    mechanically."""
    import os

    from pd_explain_spark.plans.audit import scale_audit
    from pd_explain_spark.operators.partitioning import fan_out

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    exploded = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    assert "generate-on-raw-scan" in {f.check for f in scale_audit(exploded)}
    # info severity only — never fails assert_scalable
    assert all(
        f.severity != "fatal"
        for f in scale_audit(exploded)
        if f.check == "generate-on-raw-scan"
    )
    spread = fan_out(docs, "doc_id").select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    assert "generate-on-raw-scan" not in {f.check for f in scale_audit(spread)}
