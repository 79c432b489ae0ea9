"""Segment-level corpus operators: boilerplate removal and chunking.

Whole-document dedup (dedup.py) misses the dominant duplication mode in
web-scale training corpora: the SAME navigation bar / footer / license
paragraph repeated inside millions of otherwise-distinct documents.
CCNet/RefinedWeb-style pipelines therefore dedup at *segment* level —
split every document into segments (lines, paragraphs, or fixed token
chunks), drop the segments whose corpus-wide document frequency exceeds
a threshold, and reassemble the survivors in order.

No reference counterpart (the reference is a tabular explainer); this is
part of the training-data-pipeline extension surface alongside
text.curate_documents and dedup.dedup_near.

Scale shape (the 100 TB plan):
  * segmentation is a scan-stage expression (split / slice / transform —
    JVM codegen, no Python);
  * document frequency is ONE map-side-combining shuffle keyed by
    segment hash; `exact=False` switches the distinct-doc count to
    HLL++ so hot segments (empty line, "All rights reserved") never
    materialize their full id list;
  * the frequent-segment set is tiny by construction (its size is
    bounded by total_segments / min_docs), so the removal join
    broadcasts it — the reassembly groupBy(doc_id) is the only other
    exchange, and it carries just (id, pos, segment) survivor rows.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.partitioning import fan_out
from .text import normalized_text

__all__ = [
    "line_segments",
    "token_chunk_segments",
    "segment_frequencies",
    "segment_dedup",
    "span_dedup",
    "chunk_documents",
]


def line_segments(c: Column) -> Column:
    """Non-blank lines of the raw text (the CCNet segmentation unit)."""
    return F.filter(F.split(c, r"\n"), lambda x: F.trim(x) != F.lit(""))


def token_chunk_segments(c: Column, k: int) -> Column:
    """Non-overlapping ``k``-token chunks of the normalized text.

    The segmentation unit for corpora without line structure; the last
    chunk keeps its natural (shorter) length. Pure slice/transform over
    one tokenization — O(tokens) per row, JVM-side.
    """
    toks = F.split(normalized_text(c), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(k))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - F.lit(1), F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
    )


def _segment_table(
    df: DataFrame, text_col: str, id_col: str, segmenter: Callable[[Column], Column]
) -> DataFrame:
    """(id, seg_pos, segment) — one row per segment occurrence.

    The segmentation expression + posexplode multiply per-row work by
    the segment count, so the input is spread to session parallelism
    first (projected to the two columns the explode needs — guide §2.3
    — and a no-op whenever the scan is already wide, e.g. at cluster
    scale); without it the whole segment pipeline inherits a small
    file's single-task layout (the scale_audit ``generate-on-raw-scan``
    finding)."""
    return fan_out(df.select(id_col, text_col), id_col).select(
        F.col(id_col), F.posexplode(segmenter(F.col(text_col))).alias("seg_pos", "segment")
    )


def segment_frequencies(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmenter: Optional[Callable[[Column], Column]] = None,
    exact: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """Corpus-wide document frequency per distinct segment.

    One shuffle keyed by segment; the distinct-document count combines
    map-side. ``exact=False`` uses HLL++ (relative error ``rsd``) so the
    per-segment state is a constant-size sketch regardless of how many
    documents share the segment — the right setting at 100 TB where a
    boilerplate line can appear in 10^8 documents.
    """
    segmenter = segmenter or line_segments
    segs = _segment_table(df, text_col, id_col, segmenter)
    cnt = (
        F.count_distinct(F.col(id_col))
        if exact
        else F.approx_count_distinct(F.col(id_col), rsd)
    )
    return segs.groupBy("segment").agg(cnt.alias("doc_freq"))


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segmenter: Optional[Callable[[Column], Column]] = None,
    min_docs: int = 10,
    sep: str = "\n",
    exact: bool = True,
    broadcast_frequent: bool = True,
) -> DataFrame:
    """Remove segments shared by >= ``min_docs`` documents; reassemble.

    Returns one row per input document:
      (id_col, text          -- surviving segments joined by ``sep``
               , n_segments  -- segments before removal
               , n_removed)  -- boilerplate segments dropped

    A document whose every segment is boilerplate survives with
    ``text = ''`` — dropping rows is the caller's policy decision.
    Row conservation holds even for documents whose segmenter yields
    ZERO segments (e.g. whitespace-only text under the default
    line_segments): they come back with ``text=''``, ``n_segments=0``,
    ``n_removed=0`` via a left join on the id spine rather than being
    silently absent from the posexplode output.

    The frequent-segment set is broadcast (size <= total_segments /
    min_docs by pigeonhole); pass ``broadcast_frequent=False`` to let
    AQE pick the join strategy when min_docs is small enough that the
    set could outgrow the driver.
    """
    segmenter = segmenter or line_segments
    segs = _segment_table(df, text_col, id_col, segmenter)
    freq = segment_frequencies(
        df, text_col, id_col, segmenter, exact=exact
    )
    # scale-audit note: doc_freq is an aggregate output, so this filter
    # is structurally above the groupBy, never the parquet scan — an
    # "unpushed filter" finding on this plan is a false positive.
    boiler = freq.filter(F.col("doc_freq") >= min_docs).select(
        "segment", F.lit(True).alias("__boiler")
    )
    if broadcast_frequent:
        boiler = F.broadcast(boiler)
    marked = segs.join(boiler, "segment", "left")
    kept_struct = F.when(
        F.col("__boiler").isNull(), F.struct(F.col("seg_pos"), F.col("segment"))
    )
    agged = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                # collect_list drops the NULLs the when() produces for
                # boilerplate occurrences; array_sort orders by the
                # struct's first field (seg_pos) = original order.
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s.segment,
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("__boiler").isNotNull(), 1).otherwise(0)).alias("n_removed"),
    )
    # id spine left-join: a zero-segment document never reaches the
    # posexplode, so without this it would vanish from the output and
    # break the one-row-per-input-document contract
    spine = df.select(F.col(id_col))
    return spine.join(agged, id_col, "left").select(
        id_col,
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_segments"), F.lit(0).cast("long")).alias("n_segments"),
        F.coalesce(F.col("n_removed"), F.lit(0).cast("long")).alias("n_removed"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 512,
    overlap: int = 0,
    min_tokens: int = 1,
) -> DataFrame:
    """Split documents into fixed-size token windows for training.

    Emits (id_col, chunk_id, chunk_text, n_tokens) with chunks of
    ``chunk_tokens`` whitespace tokens starting every
    ``chunk_tokens - overlap`` tokens (overlap keeps context across
    boundaries, the standard pre-training window trick). Trailing
    chunks shorter than ``min_tokens`` are dropped.

    Scale shape: tokenize once, build all windows with slice/transform
    inside the scan stage, posexplode — zero shuffles; output
    partitioning follows the input, so a downstream repartition (or the
    clustered sink) controls file sizes.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(normalized_text(F.col(text_col)), " ")
    n = F.size(toks)
    # windows start at 0, stride, 2*stride, ... while start < n
    n_windows = F.ceil(n / F.lit(float(stride))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_windows - F.lit(1), F.lit(0))),
        lambda i: F.slice(toks, i * stride + 1, chunk_tokens),
    )
    out = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__toks")
    ).select(
        id_col,
        "chunk_id",
        F.concat_ws(" ", F.col("__toks")).alias("chunk_text"),
        F.size("__toks").alias("n_tokens"),
    )
    return out.filter(F.col("n_tokens") >= min_tokens)


# ---------------------------------------------------------------- span dedup
def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Span-level EXACT-substring dedup (Lee et al. 2022,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    Better" — ExactSubstr): remove every token covered by an ``n``-token
    span that occurs at least ``min_count`` times across the corpus
    (counting ALL occurrences, including repeats within one document —
    the paper's semantics, which also kills within-doc chorus/loop
    repetition). Sits between whole-document dedup (``dedup.py``) and
    segment dedup (boilerplate lines): it catches the long quoted
    passage pasted into otherwise-distinct pages, which neither of the
    other two granularities removes.

    Returns one row per input document: (id, text — surviving tokens
    rejoined with single spaces over the NORMALIZED text (lowercased,
    whitespace-collapsed — same canonical form as the dedup family),
    n_tokens — before removal, n_removed). Zero-token documents and
    fully-covered documents keep their row (``text=''``) via the id
    spine, as in :func:`segment_dedup`.

    Scale shape: span hashes are a scan-stage expression (slice + md5
    over the token array — no Python); duplicate discovery is ONE
    map-side-combining count keyed on the 32-char span hash; only the
    occurrences of DUPLICATED spans explode into covered positions
    (x n each), so the coverage table is proportional to actual
    duplication, not corpus size; reassembly is one (id)-keyed
    aggregate. The suffix-array machinery of the reference
    implementation is a single-machine design — the hash-count
    formulation is the distributed equivalent for fixed ``n``.
    """
    from pyspark.storagelevel import StorageLevel

    from .dedup import _finalize_release

    toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda x: x != F.lit("")
    )
    tarr = df.select(F.col(id_col).alias("id"), toks.alias("t"))
    k = F.size("t") - F.lit(n - 1)
    gram_structs = F.transform(
        F.sequence(F.lit(0), F.greatest(k - F.lit(1), F.lit(-1))),
        lambda i: F.struct(
            i.cast("int").alias("start"),
            F.md5(F.concat_ws(" ", F.slice(F.col("t"), i + 1, n))).alias("g"),
        ),
    )
    # occurrence table feeds BOTH the duplicate count and the coverage
    # join — persist so tokenization+hashing runs once
    occ = (
        tarr.select(
            "id", F.explode(F.when(k > 0, gram_structs).otherwise(F.array())).alias("s")
        )
        .select("id", F.col("s.start").alias("start"), F.col("s.g").alias("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # scale-audit note: the count filter is structurally above the
    # groupBy, never the parquet scan — an "unpushed filter" finding
    # here is a false positive
    dup = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("g")
    )
    covered = (
        occ.join(dup, "g")
        .select(
            "id",
            F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))).alias(
                "pos"
            ),
        )
        .distinct()
        .withColumn("__cov", F.lit(True))
    )
    tokpos = tarr.select("id", F.posexplode("t").alias("pos", "tok"))
    marked = tokpos.join(covered, ["id", "pos"], "left")
    kept_struct = F.when(
        F.col("__cov").isNull(), F.struct(F.col("pos"), F.col("tok"))
    )
    agged = marked.groupBy("id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept_struct)), lambda s: s.tok),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__cov").isNotNull(), 1).otherwise(0)).alias("n_removed"),
    )
    spine = df.select(F.col(id_col).alias("id"))
    out = spine.join(agged, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
    )
    return _finalize_release(out, [occ])
