"""The benchmark workloads, each a closed loop with one client.

Every workload is a list of op *kinds* run in a fixed order; one pass over
the kinds is a cycle. The seed only picks each op's parameters from a
finite per-kind pool, so every op a seed can draw has a golden digest in
``goldens.json`` and every seed runs the same mix of kinds.

All library calls go through the public package surface, each wrapped in a
tracer span named after the layer it enters.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from dataclasses import dataclass, field

from data import PRIORITIES
FILTER_ATTRS = ["l_extendedprice", "l_discount", "l_tax"]
JOIN_ATTRS = ["l_extendedprice", "l_discount"]
SHAPLEY_ATTRS = ["l_extendedprice", "l_discount", "o_totalprice"]


@dataclass(frozen=True)
class Op:
    kind: str
    params: tuple  # ((name, value), ...) — hashable, printable

    @property
    def key(self) -> str:
        return self.kind + "|" + ",".join(f"{k}={v}" for k, v in self.params)

    @property
    def p(self) -> dict:
        return dict(self.params)


def op(kind: str, **params) -> Op:
    return Op(kind, tuple(sorted(params.items())))


@dataclass
class Ctx:
    """What an op needs: the live session, the loaded tables and a tracer."""
    spark: object
    tracer: object
    paths: dict
    workdir: str
    tables: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)


@dataclass
class Done:
    """One executed op: latency of the timed part and its output digest."""
    op: Op
    latency: float
    digest: object
    explain_s: float | None = None
    docs: int = 0


def _digest_items(exp) -> list:
    return [[i + 1, it.attribute, it.bin, float(it.influence), float(it.score)]
            for i, it in enumerate(exp.items)]


def _ids_digest(ids) -> dict:
    ids = sorted(int(i) for i in ids)
    return {"n": len(ids), "sha1": hashlib.sha1(",".join(map(str, ids)).encode()).hexdigest()}


def _index_digest(index) -> dict:
    """The sorted per-document shingle counts (id, n_sh) of an index, and
    the row count of its inverted (shingle, id) table."""
    rows = sorted((int(i), int(n)) for i, n in index.sizes.select("id", "n_sh").collect())
    text = ";".join(f"{i}:{n}" for i, n in rows)
    return {"n": len(rows), "sha1": hashlib.sha1(text.encode()).hexdigest(),
            "inv_rows": index.inv.count()}


class Workload:
    name = ""
    tables: tuple = ()
    kinds: tuple = ()

    def pool(self, kind: str) -> list[Op]:
        raise NotImplementedError

    def all_ops(self) -> list[Op]:
        return [o for k in self.kinds for o in self.pool(k)]

    def cycles(self, rng: random.Random):
        """Endless seeded cycles. Each kind walks its own shuffled pool, so
        no op repeats until the kind's whole pool has run."""
        decks = {k: [] for k in self.kinds}
        while True:
            cycle = []
            for k in self.kinds:
                if not decks[k]:
                    decks[k] = self.pool(k)
                    rng.shuffle(decks[k])
                cycle.append(decks[k].pop())
            yield cycle

    def warmup(self, ctx: Ctx, cycles) -> tuple[Ctx, list[Op]]:
        """The untimed pass run before measuring, and the context it runs
        in: one cycle."""
        return ctx, next(cycles)

    def load(self, ctx: Ctx) -> None:
        from pd_explain_spark import read_parquet

        for t in self.tables:
            ctx.tables[t] = read_parquet(ctx.spark, ctx.paths[t], name=t)

    def execute(self, ctx: Ctx, o: Op) -> Done:
        raise NotImplementedError


# ---------------------------------------------------------------- explain
class ExplainSession(Workload):
    name = "explain_session"
    tables = ("lineitem", "orders")
    kinds = ("fedex_filter", "fedex_groupby", "fedex_join", "shapley", "outlier",
             "many_to_one", "metainsight")
    # the kinds whose call reads lineitem, orders or both (for scan_ratio)
    sources = {"fedex_filter": ("lineitem",), "fedex_groupby": ("lineitem",),
               "fedex_join": ("lineitem", "orders"), "shapley": ("lineitem", "orders"),
               "outlier": ("orders",), "many_to_one": ("lineitem",),
               "metainsight": ("lineitem",)}

    def pool(self, kind: str) -> list[Op]:
        if kind == "fedex_filter":
            return [op(kind, thr=t) for t in range(30, 49)]
        if kind == "fedex_groupby":
            return [op(kind, by="l_returnflag", col=c, agg=a)
                    for c in ("l_extendedprice", "l_quantity", "l_discount", "l_tax")
                    for a in ("mean", "sum", "max")]
        if kind in ("fedex_join", "shapley"):
            return [op(kind, priority=p) for p in PRIORITIES]
        if kind == "outlier":
            return [op(kind, target=p, agg="mean") for p in PRIORITIES]
        if kind == "many_to_one":
            return [op(kind, returned=r, accepted=a)
                    for r in "ANR" for a in "ANR" if r != a]
        if kind == "metainsight":
            return [op(kind, col=c) for c in
                    ("l_extendedprice", "l_quantity", "l_discount", "l_tax")]
        raise KeyError(kind)

    # kinds whose tracked op arrives as a query-language string
    queries = {
        "fedex_filter": "[df['l_quantity'] > {thr}]",
        "fedex_groupby": ".groupby('{by}')['{col}'].{agg}()",
        "metainsight": ".groupby(['l_returnflag', 'l_linestatus'])['{col}'].mean()",
    }

    def capture(self, ctx: Ctx, o: Op):
        """The tracked op the explain call runs over (lazy: no Spark job)."""
        from pyspark.sql import functions as F

        from pd_explain_spark import to_explainable

        li, orders, p = ctx.tables.get("lineitem"), ctx.tables.get("orders"), o.p
        if o.kind in ("fedex_join", "shapley"):
            right = orders.rename({"o_orderkey": "l_orderkey"})
            right = right[right["o_orderpriority"] == p["priority"]]
            right.name = "orders"
            return li.merge(right, on="l_orderkey", how="inner")
        if o.kind == "outlier":
            return getattr(orders.groupby("o_orderpriority")["o_totalprice"], p["agg"])()
        if o.kind == "many_to_one":
            label = (F.when(F.col("l_returnflag") == p["returned"], "returned")
                     .when(F.col("l_returnflag") == p["accepted"], "accepted")
                     .otherwise("none"))
            return to_explainable(li.df.withColumn("planted_label", label),
                                  name="lineitem_planted")
        raise KeyError(o.kind)

    @staticmethod
    def explain_kwargs(o: Op) -> dict:
        p = o.p
        if o.kind == "fedex_filter":
            return dict(top_k=3, attributes=FILTER_ATTRS, corr_TH=1.1)
        if o.kind == "fedex_groupby":
            return dict(top_k=1)
        if o.kind == "fedex_join":
            return dict(top_k=2, consider="left", attributes=JOIN_ATTRS)
        if o.kind == "shapley":
            return dict(explainer="shapley", top_k=3, attributes=SHAPLEY_ATTRS)
        if o.kind == "outlier":
            return dict(explainer="outlier", target=p["target"], dir="high")
        if o.kind == "many_to_one":
            return dict(explainer="many_to_one", labels="planted_label",
                        max_explanation_length=1,
                        attributes=["l_returnflag", "l_linestatus"])
        if o.kind == "metainsight":
            return dict(explainer="metainsight")
        raise KeyError(o.kind)

    def execute(self, ctx: Ctx, o: Op) -> Done:
        from pd_explain_spark.llm.query_language import execute_query

        tr = ctx.tracer
        t0 = time.perf_counter()
        if o.kind in self.queries:
            with tr.span("llm.query_language.execute", spark=True):
                frame = execute_query(ctx.tables["lineitem"],
                                      self.queries[o.kind].format(**o.p))
        else:
            with tr.span("core.capture", spark=True):
                frame = self.capture(ctx, o)
        t1 = time.perf_counter()
        with tr.span(f"explainers.{o.kind}", spark=True):
            exp = frame.explain(**self.explain_kwargs(o))
        t2 = time.perf_counter()
        if tr.enabled and tr.phase == "timed" and o.kind in ("fedex_filter", "fedex_join"):
            self._histogram_layer(ctx, o, frame)
        return Done(o, t2 - t0, _digest_items(exp), explain_s=t2 - t1)

    @staticmethod
    def _histogram_layer(ctx: Ctx, o: Op, frame) -> None:
        """Traced timed ops only: repeat the histogram-service calls the
        FEDEX call just made, on the inputs it builds, outside the op's
        latency (spans stamped ``probe``). The filter explainer profiles
        with its own one-pass profile + corr aggregate, not with
        ``profile_columns``, so on fedex_filter only the histogram is
        timed, over the same fanned-out, persisted projection;
        ``profile_s`` comes from fedex_join calls only."""
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        from pd_explain_spark.explainers.histograms import (
            dual_histogram_predicate, dual_histogram_union, profile_columns)
        from pd_explain_spark.operators.partitioning import fan_out

        tr, li = ctx.tracer, ctx.tables["lineitem"].df
        tr.phase = "probe"
        try:
            if o.kind == "fedex_filter":
                keep = [c for c in li.columns if c in {*FILTER_ATTRS, "l_quantity"}]
                src = fan_out(li.select(*keep)).persist(StorageLevel.MEMORY_AND_DISK)
                try:
                    # untimed: fills the cache, as the explainer's profile pass does
                    profiles = profile_columns(src, FILTER_ATTRS)
                    with tr.span("explainers.histograms.dual_hist", spark=True):
                        hist = dual_histogram_predicate(
                            src, F.col("l_quantity") > o.p["thr"], profiles)
                finally:
                    src.unpersist()
            else:
                with tr.span("explainers.histograms.profile", spark=True):
                    profiles = profile_columns(li, JOIN_ATTRS)
                with tr.span("explainers.histograms.dual_hist", spark=True):
                    hist = dual_histogram_union(
                        li, frame.df, profiles,
                        result_rename={c: f"lineitem_{c}" for c in JOIN_ATTRS})
        finally:
            tr.phase = "timed"
        sides = hist.groupby("attribute")[["src_cnt", "res_cnt"]].sum()
        if sorted(sides.index) != sorted(profiles) or not (sides > 0).all().all():
            raise AssertionError(f"histogram probe left a side without bins:\n{sides}")


# ---------------------------------------------------------------- ingest
class CorpusIngest(Workload):
    name = "corpus_ingest"
    tables = ("documents",)
    kinds = ("round",)
    SPLITS = 16   # seeded split variants with goldens
    BATCHES = 1   # batches appended per round (a second one costs ~6 s a run)
    PARTS = 8     # split granularity: base = 4/8 of the corpus, batch = 1/8

    def pool(self, kind: str) -> list[Op]:
        return [op("round", split=v) for v in range(self.SPLITS)]

    def warmup(self, ctx: Ctx, cycles) -> tuple[Ctx, list[Op]]:
        """dedup_near over the first 300 documents. A full warm-up round
        would cost as much as the timed round, which the run budget cannot
        carry; dedup_near shares the shingling, pair and component code of
        the other ops and is the one that pays most for a cold start (about
        2x its warm latency)."""
        from pd_explain_spark import to_explainable

        docs = ctx.tables["documents"].df.filter("doc_id < 300")
        small = Ctx(ctx.spark, ctx.tracer, ctx.paths, ctx.workdir,
                    tables={"documents": to_explainable(docs, name="documents")},
                    state={"n_docs": 300})
        return small, [op("dedup_near", corpus="full")]

    def round_ops(self, o: Op) -> list[Op]:
        v = o.p["split"]
        ops = [op("curation_pipeline", split=v), op("index_build", split=v)]
        for b in range(self.BATCHES):
            ops += [op("index_dedup", split=v, batch=b), op("index_append", split=v, batch=b)]
        return ops + [op("dedup_near", corpus="full")]

    def all_ops(self) -> list[Op]:
        return [x for o in self.pool("round") for x in self.round_ops(o)]

    def cycles(self, rng: random.Random):
        for o in super().cycles(rng):
            yield self.round_ops(o[0])

    def _part(self, ctx: Ctx, split: int):
        from pyspark.sql import functions as F

        docs = ctx.tables["documents"].df
        return docs, F.pmod(F.xxhash64(F.col("doc_id"), F.lit(split)), F.lit(self.PARTS))

    def execute(self, ctx: Ctx, o: Op) -> Done:
        from pd_explain_spark import NearDupIndex, curation_pipeline, dedup_near

        tr, p, st = ctx.tracer, o.p, ctx.state
        if o.kind == "dedup_near":
            docs = ctx.tables["documents"].df
            t0 = time.perf_counter()
            with tr.span("functions.dedup_near", spark=True):
                ids = [r[0] for r in dedup_near(docs).select("doc_id").collect()]
            return Done(o, time.perf_counter() - t0, _ids_digest(ids), docs=st["n_docs"])
        docs, part = self._part(ctx, p["split"])
        base = docs.filter(part < self.PARTS // 2)
        if o.kind == "curation_pipeline":
            t0 = time.perf_counter()
            with tr.span("functions.curation_pipeline", spark=True):
                ids = [r[0] for r in curation_pipeline(base).select("doc_id").collect()]
            latency = time.perf_counter() - t0
            st["n_base"] = base.count()
            return Done(o, latency, _ids_digest(ids), docs=st["n_base"])
        if o.kind == "index_build":
            path = os.path.join(ctx.workdir, f"index-{st.setdefault('n_index', 0)}")
            st["n_index"] += 1
            t0 = time.perf_counter()
            with tr.span("functions.index_build", spark=True):
                st["index"] = NearDupIndex.build(base).save(path)
            latency = time.perf_counter() - t0
            st["index_path"] = path
            return Done(o, latency, _index_digest(st["index"]), docs=st["n_base"])
        batch = docs.filter(part == self.PARTS // 2 + p["batch"])
        n = batch.count()
        if o.kind == "index_dedup":
            t0 = time.perf_counter()
            with tr.span("functions.index_dedup", spark=True):
                ids = [r[0] for r in st["index"].dedup(batch).select("doc_id").collect()]
            return Done(o, time.perf_counter() - t0, _ids_digest(ids), docs=n)
        if o.kind == "index_append":
            t0 = time.perf_counter()
            with tr.span("functions.index_append", spark=True):
                st["index"] = st["index"].append_save(st["index_path"], batch)
            latency = time.perf_counter() - t0
            return Done(o, latency, _index_digest(st["index"]), docs=n)
        raise KeyError(o.kind)


WORKLOADS = {w.name: w for w in (ExplainSession(), CorpusIngest())}
