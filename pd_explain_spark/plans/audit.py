"""Programmatic physical-plan audit — the 100 TB red-flag checks from
``tests/test_plans.py``, exposed as a library API so a pipeline can
verify its own plans before launching a cluster-scale run.

``scale_audit(df)`` inspects the executed plan and returns findings;
``assert_scalable(df)`` raises on anything severity='fatal'. The checks
are string-level over Spark's plan rendering — the same signals a human
reads in ``df.explain('formatted')``:

 * single-partition Exchange    -> the whole dataset funnels through one
                                   task (global sort / unpartitioned
                                   window): fatal.
 * CartesianProduct /
   BroadcastNestedLoopJoin      -> O(|L| x |R|) compares from a non-equi
                                   or keyless join: fatal.
 * BatchEvalPython              -> row-at-a-time Python UDF in the plan
                                   (Arrow/pandas UDFs show as
                                   ArrowEvalPython instead): warning —
                                   10-100x slower than codegen.
 * parquet scan with no pushed
   filters under a Filter node  -> predicate did not reach the reader;
                                   whole files are read to be dropped:
                                   warning (some predicates are not
                                   pushable by design).
 * scan reads every column      -> missing column pruning (ReadSchema as
                                   wide as the file): info.
 * Generate at raw scan
   parallelism                  -> a work-multiplying explode inherits
                                   the file layout's task count; spread
                                   the input first when the multiplier
                                   is large (partitioning.fan_out):
                                   info.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class Finding:
    check: str
    severity: str  # 'fatal' | 'warning' | 'info'
    message: str


def _plan_strings(df: DataFrame) -> tuple[str, str]:
    qe = df._jdf.queryExecution()
    executed = qe.executedPlan().toString()
    # AQE prints "== Final Plan ==" then "== Initial Plan =="; audit the
    # final section only
    return executed.split("== Initial Plan ==")[0], qe.analyzed().toString()


# Executed plans prefix codegen'd nodes with "*(n) " — strip it before
# measuring indent, or a codegen'd child sits 2+digits deeper than its
# non-codegen siblings and the exact d+3 child matching misses it.
_CODEGEN_RE = re.compile(r"\*\(\d+\)\s*")


def _indent(line: str) -> int:
    line = _CODEGEN_RE.sub("", line)
    return len(line) - len(line.lstrip(" :+-"))


# keys=[] scalar aggregates: each partition emits at most one row before
# the exchange, so a SinglePartition funnel above one is the bounded
# scalar-augmentation idiom, not a data funnel. Spark spells it
# HashAggregate(keys=[]) normally and SortAggregate(key=[]) when the
# aggregate list forces sort-based agg (e.g. first() wrappers around a
# multi-count(DISTINCT) Expand plan — table_profile's shape).
_GLOBAL_AGGS = ("HashAggregate(keys=[]", "SortAggregate(key=[]",
                "ObjectHashAggregate(keys=[]")


def _is_global_agg(line: str) -> bool:
    return any(g in line for g in _GLOBAL_AGGS)

# Operators that bound their output to a constant row count: a
# single-partition exchange or broadcast build side fed by one of these
# moves O(k) rows, not O(data) — the bounded-augmentation idiom (top-k
# rank windows, seed/centroid tables), fine at any scale. LocalLimit
# qualifies too: it emits <= k rows PER PARTITION, so the funnel above
# it moves O(k x partitions) rows — the exact shape limit(k) plans to
# (LocalLimit -> SinglePartition exchange -> GlobalLimit).
# NOTE deliberately absent: "Scan ExistingRDD" / "LocalTableScan".
# PySpark renders BOTH driver-literal createDataFrame frames AND
# corpus-sized localCheckpoint()/rdd-derived frames as Scan ExistingRDD,
# so treating the leaf as bounded would classify an O(data) checkpointed
# funnel as O(k) — the non-conservative direction. Driver-literal frames
# state their bound explicitly with the identity .limit(len(rows)) idiom
# (see ivf_build / semantic_dedup_pairs_against), which puts a
# GlobalLimit in the plan and keeps the audit honest.
_BOUNDED_OPS = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit", "LocalLimit")


def _is_bounded(line: str) -> bool:
    return any(op in line for op in _BOUNDED_OPS)


# A non-root physical line STARTS a tree node iff it carries a branch
# marker, or (the AQE stage / codegen rendering: "   ResultQueryStage",
# "   *(3) Project") a PURE-SPACE indent of a multiple of 3 followed by
# a capitalized node name. Measured against real executedPlan text:
# the root is the only node at column 0, and every indented marker-less
# node matches the second alternative.
_BRANCH_RE = re.compile(r"^[ :]*(\+-|:-)")
_STAGE_RE = re.compile(r"^( {3})+[A-Z*!]")


def _tree_lines(text: str) -> list[str]:
    """splitlines() that survives literal newlines INSIDE expression
    arguments. A plan that embeds chr(10) in an expression (e.g. a
    regexp_replace replacement text, or split-on-newline) renders that
    newline verbatim, so the node's text wraps and naive line splitting
    yields continuation fragments with garbage indent — observed to hide
    the build side of a BroadcastNestedLoopJoin behind a wrapped ccnet
    expression, flipping a bounded-build join to a fatal finding. Glue
    every non-node-looking line back onto its predecessor; the node test
    is structural (branch marker / exact AQE-stage indent shape), not a
    first-character class, so wrapped literal text that happens to start
    with a word ("...\\nSee more") still glues instead of surviving as a
    phantom zero-indent node that truncates _direct_children scans."""
    out: list[str] = []
    for ln in text.splitlines():
        is_node = (
            not out
            or _BRANCH_RE.match(ln) is not None
            or _STAGE_RE.match(ln) is not None
        )
        if is_node:
            out.append(ln)
        else:
            out[-1] += " " + ln
    return out


def _direct_children(lines: list[str], i: int) -> list[int]:
    """Absolute indices of the direct children of the node at lines[i]
    (Spark's tree renderer indents direct children exactly 3 columns
    deeper than their parent)."""
    d = _indent(lines[i])
    out = []
    for j in range(i + 1, len(lines)):
        l = lines[j]
        if not l.strip():
            continue
        dj = _indent(l)
        if dj <= d:
            break
        if dj == d + 3:
            out.append(j)
    return out


# Operators that can re-expand a bounded input back to O(data) rows.
_EXPANDING_OPS = ("Generate", "Expand", "Union", "CartesianProduct")

# AQE renders the 2nd+ consumer of a materialized exchange as a LEAF
# "ReusedExchange [...], BroadcastExchange ..., [plan_id=N]" — the
# subtree that proves boundedness (e.g. the GlobalLimit under a
# broadcast centroid table) only prints under the FIRST consumer. The
# reference must be chased or an executed plan flips a clean audit to
# fatal (observed on ivf_query's reused centroid broadcast).
_REUSED_RE = re.compile(r"ReusedExchange\b.*\[plan_id=(\d+)\]")

# a Generate node line (explode/posexplode/inline...); the codegen
# prefix "*(n) " may precede it
_GENERATE_RE = re.compile(r"(^|\s|\))Generate\b")
# shuffle exchanges that decouple downstream parallelism from the scan's
# file layout — hash/range/round-robin/single-partition, plus AQE's
# coalesced read. BroadcastExchange deliberately absent.
_REPART_RE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|"
    r"SinglePartition)|AQEShuffleRead|ShuffleQueryStage"
)


def _bounded_node(lines: list[str], i: int, depth: int = 0) -> bool:
    """True iff the subtree rooted at lines[i] provably produces a
    bounded (O(k)) number of rows: a limit operator, a keys=[] global
    aggregate, a join of all-bounded inputs, or a unary/row-reducing
    chain over one of those. Leaf scans, expansion operators, and
    anything unrecognized classify as unbounded — the conservative
    direction (a bounded plan misread as unbounded fails loud in
    assert_scalable; the reverse would hide an O(data) funnel)."""
    if depth > 50:
        return False
    line = lines[i]
    if _is_bounded(line) or _is_global_agg(line):
        return True
    m = _REUSED_RE.search(line)
    if m:
        target = f"[plan_id={m.group(1)}]"
        for j, other in enumerate(lines):
            if j != i and target in other and "ReusedExchange" not in other:
                return _bounded_node(lines, j, depth + 1)
        return False
    if any(x in line for x in _EXPANDING_OPS):
        return False
    kids = _direct_children(lines, i)
    if not kids:
        return False  # leaf (scan / reused exchange reference)
    if "Join" in line or len(kids) > 1:
        # bounded x bounded stays bounded; any unbounded side taints it
        return all(_bounded_node(lines, k, depth + 1) for k in kids)
    return _bounded_node(lines, kids[0], depth + 1)


def _build_child(lines: list[str], i: int) -> int | None:
    """Index of a join's build child: first direct child for BuildLeft,
    last for BuildRight. None if the children can't be identified."""
    kids = _direct_children(lines, i)
    if not kids:
        return None
    return kids[0] if "BuildLeft" in lines[i] else kids[-1]


def scale_audit(df: DataFrame) -> list[Finding]:
    """Audit ``df``'s physical plan for patterns that break at cluster
    scale. Returns findings ordered fatal -> warning -> info (empty list
    = clean).

    The scalar-augmentation idiom — a global (keyless) aggregate reduced
    to ONE row and broadcast back via a cross join, e.g. N/avgdl in
    BM25 or the rate table total in temperature sampling — prints as a
    SinglePartition exchange plus a BroadcastNestedLoopJoin, but both
    touch one row per upstream partition, not the dataset. The audit
    recognizes it structurally (the exchange/build subtree is a
    ``keys=[]`` aggregate) and reports it as info, keeping the fatal
    severity for genuine global sorts and keyless joins."""
    final, _ = _plan_strings(df)
    findings: list[Finding] = []
    lines = _tree_lines(final)

    sp_fatal = sp_scalar = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        # bounded/scalar iff the exchange's INPUT subtree provably
        # produces O(k) rows — a limit/global-agg anywhere below is not
        # enough (a join could re-expand it back to O(data))
        kids = _direct_children(lines, i)
        if _is_global_agg(line) or (kids and _bounded_node(lines, kids[0])):
            sp_scalar += 1
        else:
            sp_fatal += 1
    if sp_fatal:
        findings.append(
            Finding(
                "single-partition-exchange",
                "fatal",
                "plan funnels all rows through ONE task (global sort / "
                "unpartitioned window); use range buckets or by-keys "
                "(operators/rolling.py, operators/bucketing.py)",
            )
        )
    elif sp_scalar:
        findings.append(
            Finding(
                "scalar-aggregate-exchange",
                "info",
                "SinglePartition exchange feeds a keys=[] aggregate "
                "(one row per upstream partition) — the scalar-reduction "
                "idiom, fine at any scale",
            )
        )

    nlj_fatal = nlj_scalar = 0
    for i, line in enumerate(lines):
        if "CartesianProduct" in line:
            nlj_fatal += 1
        elif "BroadcastNestedLoopJoin" in line:
            # judge the BUILD side only — a limit or global aggregate on
            # the streamed side must not excuse an unbounded build side
            bi = _build_child(lines, i)
            if bi is not None and _bounded_node(lines, bi):
                nlj_scalar += 1
            else:
                nlj_fatal += 1
    if nlj_fatal:
        findings.append(
            Finding(
                "nested-loop-join",
                "fatal",
                "CartesianProduct/BroadcastNestedLoopJoin: O(left x right) "
                "compares — give the join an equi key, broadcast a genuinely "
                "small side, or use range_join for interval predicates",
            )
        )
    elif nlj_scalar:
        findings.append(
            Finding(
                "scalar-broadcast-join",
                "info",
                "nested-loop join whose broadcast build side is a one-row "
                "global aggregate or limit()-bounded — the scalar/bounded "
                "cross-join idiom, O(rows x k)",
            )
        )
    # Work-multiplying Generate (explode/posexplode) whose input chain
    # reaches a file scan with NO repartitioning exchange in between:
    # the multiplied per-row work inherits the SCAN's parallelism, which
    # is set by file layout, not by compute need. On small/single-row-
    # group files the whole multiplier runs in one task (the r12
    # bootstrap/table_profile/exact-pairs finding — fixed by
    # operators.partitioning.fan_out); at cluster scale the scan is
    # already wide, so this is informational. BroadcastExchange does NOT count as a
    # barrier (it repartitions the build side, not the streamed chain);
    # cached/checkpointed inputs (InMemoryTableScan / Scan ExistingRDD)
    # carry their own layout and are treated as decoupled.
    gen_on_scan = 0
    for i, line in enumerate(lines):
        if not _GENERATE_RE.search(line):
            continue
        d = _indent(line)
        flagged = False
        for j in range(i + 1, len(lines)):
            lj = lines[j]
            if lj.strip() and _indent(lj) <= d:
                break
            if _REPART_RE.search(lj) or "InMemoryTableScan" in lj or "Scan ExistingRDD" in lj:
                break
            if "Scan parquet" in lj or "FileScan" in lj:
                flagged = True
                break
        if flagged:
            gen_on_scan += 1
    if gen_on_scan:
        findings.append(
            Finding(
                "generate-on-raw-scan",
                "info",
                "a Generate (explode) runs at raw scan parallelism (no "
                "exchange below it); if the per-row multiplier is large "
                "and input files are small, spread the input first "
                "(operators.partitioning.fan_out)",
            )
        )
    if "BatchEvalPython" in final:
        findings.append(
            Finding(
                "row-python-udf",
                "warning",
                "row-at-a-time Python UDF in the plan; rewrite with "
                "pyspark.sql.functions or an Arrow pandas UDF",
            )
        )
    if "PushedFilters: []" in final and "Filter (" in final:
        findings.append(
            Finding(
                "filter-not-pushed",
                "warning",
                "a Filter sits above a parquet scan with no pushed "
                "predicates; check the predicate is a plain column "
                "comparison (casts/UDFs block pushdown)",
            )
        )
    severity_order = {"fatal": 0, "warning": 1, "info": 2}
    findings.sort(key=lambda f: severity_order[f.severity])
    return findings


def assert_scalable(df: DataFrame) -> list[Finding]:
    """Raise ``RuntimeError`` if the plan contains any fatal finding;
    returns the (non-fatal) findings otherwise."""
    findings = scale_audit(df)
    fatal = [f for f in findings if f.severity == "fatal"]
    if fatal:
        raise RuntimeError(
            "plan is not cluster-scalable: "
            + "; ".join(f"[{f.check}] {f.message}" for f in fatal)
        )
    return findings
