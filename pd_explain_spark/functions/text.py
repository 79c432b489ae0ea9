"""Text-analysis operators for large-scale training-data pipelines.

No reference counterpart (the reference is a tabular explainer); these are
the extension operators BASELINE.json's north star asks for. Everything is
built from JVM-side pyspark.sql.functions (regexp_count / split /
transform) — no Python UDFs in the hot path — so the plans whole-stage
codegen and scale linearly with input.

Each operator has an exact ANSI-SQL mirror (see __spark_entry__.oracle_sql)
— the regexes are chosen to behave identically under Java regex (Spark)
and RE2-ish (DuckDB) semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.partitioning import fan_out

# deliberately small + regex-safe; shared with the SQL oracle
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
STOPWORD_RE = r"\b(" + "|".join(STOPWORDS) + r")\b"
PUNCT_RE = r"[.,!?;:]"

# marker-word table for the n-gram language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "et", "est"],
    "es": ["el", "la", "y", "es"],
    "zh": ["de", "shi", "le", "bu"],
}


def tokens(c: Column) -> Column:
    """Whitespace tokens, empties removed (stable across engines)."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != F.lit(""))


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


# GPT-2-style pre-tokenizer shape: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs. ASCII classes (not \p{L}) so
# Java regex (Spark) and RE2 (DuckDB oracle) count identically; real BPE
# then splits these pieces further, so this is the standard cheap
# upper-bound proxy for "how many tokens will the tokenizer emit".
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(c: Column) -> Column:
    """Approximate LLM-token count via the GPT-2 pre-tokenizer regex —
    pure JVM `regexp_count`, no tokenizer library, scales as a scan."""
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def char_count(c: Column) -> Column:
    return F.length(c)


def stopword_count(c: Column) -> Column:
    return F.regexp_count(F.lower(c), F.lit(STOPWORD_RE))


def punct_count(c: Column) -> Column:
    return F.regexp_count(c, F.lit(PUNCT_RE))


def quality_score(c: Column) -> Column:
    """Deterministic [0,1] quality heuristic:
    0.5 * min(1, tokens/50) + 0.3 * (1 - min(1, punct/tokens))
    + 0.2 * min(1, 4 * stopwords/tokens). Mirrors the SQL oracle exactly."""
    n = token_count(c).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))
    length_part = F.least(F.lit(1.0), n / F.lit(50.0)) * F.lit(0.5)
    punct_part = (F.lit(1.0) - F.least(F.lit(1.0), punct_count(c).cast("double") / safe_n)) * F.lit(0.3)
    stop_part = F.least(F.lit(1.0), F.lit(4.0) * stopword_count(c).cast("double") / safe_n) * F.lit(0.2)
    return F.round(length_part + punct_part + stop_part, 6)


def normalized_text(c: Column) -> Column:
    """Canonical form used for fingerprinting: lowercase, collapsed whitespace."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def fingerprint(c: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (engine-portable)."""
    return F.md5(normalized_text(c))


def lang_scores(c: Column) -> dict[str, Column]:
    low = F.lower(c)
    return {
        lang: F.regexp_count(low, F.lit(r"\b(" + "|".join(words) + r")\b"))
        for lang, words in LANG_MARKERS.items()
    }


def detect_language(c: Column) -> Column:
    """Marker-word language ID; ties broken by language code order.
    Returns 'und' when no marker matches."""
    scores = lang_scores(c)
    langs = sorted(scores)  # deterministic tie-break: first language code wins
    max_score = scores[langs[0]]
    for lang in langs[1:]:
        max_score = F.greatest(max_score, scores[lang])
    out = F.lit("und")
    for lang in reversed(langs):
        out = F.when((max_score > 0) & (scores[lang] == max_score), F.lit(lang)).otherwise(out)
    return out


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document text profile (the headline text operator)."""
    c = F.col(text_col)
    return df.select(
        *[x for x in df.columns if x != text_col],
        token_count(c).alias("n_tokens"),
        char_count(c).alias("n_chars_calc"),
        stopword_count(c).alias("n_stopwords"),
        punct_count(c).alias("n_punct"),
        quality_score(c).alias("quality"),
        detect_language(c).alias("lang_detected"),
        fingerprint(c).alias("fingerprint"),
    )


def ngrams(c: Column, n: int) -> Column:
    """Word n-grams of the normalized text, duplicates KEPT (counting
    semantics — ``shingles()`` in dedup.py is the distinct-set flavor).

    Expression-level helper for ad-hoc use: projection collapse inlines
    the tokenization into every transform element (O(tokens^2),
    interpreted). Pipelines must tokenize once behind a materialization
    barrier and use ``ngrams_from_tokens`` — see ``repetition_signals``.
    """
    return ngrams_from_tokens(F.split(normalized_text(c), " "), n)


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """n-grams from an already-materialized token-array column."""
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - F.lit(1), F.lit(-1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(k > 0, grams).otherwise(F.array().cast("array<string>"))


def repetition_signals(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition metrics per document — the standard
    training-data quality gates that length/punctuation ratios miss
    (boilerplate and keyword-stuffed pages look "normal" to those):

      * dup_token_frac    1 - distinct_tokens/tokens       (row-local)
      * dup_line_frac     1 - distinct_lines/lines         (row-local)
      * mean_word_len     chars-in-tokens / tokens         (row-local)
      * top_bigram_frac   occurrences of the most frequent word bigram
                          / total bigrams
      * top_trigram_frac  same for trigrams

    Scale shape: the row-local signals are scan-stage expressions. The
    top-n-gram fractions need a per-(doc, gram) count — explode →
    groupBy(doc, gram) → groupBy(doc), i.e. two map-side-combining
    shuffles keyed by doc id, which is the 100 TB-correct plan (an
    in-array mode via higher-order functions is interpreted and O(n^2)
    per document). Both n-gram sizes share one explode pass.
    """
    c = F.col(text_col)
    toks = tokens(normalized_text(c))
    lines = F.filter(F.split(c, r"\n"), lambda x: F.trim(x) != F.lit(""))
    nt = F.size(toks).cast("double")
    nl = F.size(lines).cast("double")
    base = df.select(
        F.col(id_col),
        F.round(
            F.when(nt > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / nt).otherwise(0.0), 6
        ).alias("dup_token_frac"),
        F.round(
            F.when(nl > 0, F.lit(1.0) - F.size(F.array_distinct(lines)) / nl).otherwise(0.0), 6
        ).alias("dup_line_frac"),
        F.round(
            F.when(nt > 0, F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)) / nt)
            .otherwise(0.0),
            6,
        ).alias("mean_word_len"),
    )

    gram_cols = [(2, "top_bigram_frac"), (3, "top_trigram_frac")]

    # Tokenize ONCE behind a repartition barrier: without it, projection
    # collapse inlines the split into every transform element and the
    # n-gram pass goes O(tokens^2) interpreted per document (measured
    # 31 s -> ~3 s at sf0.1). Same pattern as dedup._shingle_index.
    toks_df = fan_out(
        df.select(F.col(id_col), F.split(normalized_text(c), " ").alias("__t"))
    )

    # NOTE: the transform lambda must be single-argument — any second
    # parameter (even a defaulted one) makes pyspark use the
    # (element, index) HOF form and bind it to the array index.
    def _tagged(n: int):
        lit_n = F.lit(n)
        return F.transform(
            ngrams_from_tokens(F.col("__t"), n),
            lambda g: F.struct(lit_n.alias("n"), g.alias("gram")),
        )

    gram_arrays = [_tagged(n) for n, _ in gram_cols]
    exploded = toks_df.select(
        F.col(id_col),
        F.explode(F.flatten(F.array(*gram_arrays))).alias("g"),
    ).select(id_col, F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    per_gram = exploded.groupBy(id_col, "n", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = per_gram.groupBy(id_col, "n").agg(
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("frac")
    )
    out = base
    for n, name in gram_cols:
        side = per_doc.filter(F.col("n") == n).select(id_col, F.col("frac").alias(name))
        out = out.join(side, id_col, "left").fillna({name: 0.0})
    return out


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.55,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
) -> DataFrame:
    """End-to-end training-data curation in one plan: per-row quality and
    token gates, then exact dedup (first id wins per fingerprint).

    Order matters at 100 TB: the gates are stateless row predicates, so
    they run inside the scan stage and rows failing them never reach the
    dedup shuffle — the only exchange is hash(fingerprint) over the
    survivors, carrying 4 small columns. Output: one row per surviving
    document (doc_id, fingerprint, n_tokens, quality).
    """
    from pyspark.sql import Window

    c = F.col(text_col)
    prof = df.select(
        F.col(id_col),
        fingerprint(c).alias("fingerprint"),
        token_count(c).alias("n_tokens"),
        quality_score(c).alias("quality"),
    ).filter(
        (F.col("quality") >= min_quality)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        prof.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_lines: int = 3,
    line_blocklist: tuple[str, ...] = ("javascript",),
    doc_blocklist: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """C4-style line/document cleaning (Raffel et al. 2020, JMLR —
    the published rules behind the C4 corpus, §2.2): keep only lines
    that end in a terminal punctuation mark (. ! ? \") AND carry at
    least ``min_words_per_line`` words AND contain none of
    ``line_blocklist`` (case-insensitive); then drop the whole document
    when fewer than ``min_lines`` lines survive or the RAW text
    contains any of ``doc_blocklist`` (case-insensitive — C4 dropped
    pages with "lorem ipsum" or a curly brace).

    Scale shape: every rule is a stateless row expression — the line
    split/filter/rejoin runs as array higher-order functions INSIDE the
    scan stage, zero shuffles and no explode (exploding to one row per
    line would shuffle every line of a 100 TB corpus just to reassemble
    it). Returns (id_col, text_col cleaned, n_lines_kept,
    n_lines_removed).
    """
    raw = F.col(text_col)
    lines = F.split(raw, "\n")

    def _n_words(l):
        return F.size(F.filter(F.split(F.trim(l), r"\s+"), lambda w: w != ""))

    def _good(l):
        cond = l.rlike('[.!?"]\\s*$') & (_n_words(l) >= min_words_per_line)
        for term in line_blocklist:
            cond = cond & ~F.lower(l).contains(term.lower())
        return cond

    kept = F.filter(lines, _good)
    doc_ok = F.size(kept) >= min_lines
    for term in doc_blocklist:
        doc_ok = doc_ok & ~F.lower(raw).contains(term.lower())
    return (
        df.select(
            F.col(id_col),
            kept.alias("__kept"),
            F.size(lines).alias("__n_lines"),
            doc_ok.alias("__ok"),
        )
        .filter(F.col("__ok"))
        .select(
            id_col,
            F.array_join("__kept", "\n").alias(text_col),
            F.size("__kept").cast("int").alias("n_lines_kept"),
            (F.col("__n_lines") - F.size("__kept")).cast("int").alias("n_lines_removed"),
        )
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_gates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 Table A1
    — the MassiveWeb repetition-free filter set, the standard companion
    to :func:`c4_clean`'s line rules): per-document signals plus a
    ``keep`` verdict. Defaults are the paper's published thresholds —
    50..100k words, mean word length 3..10, symbol(#/ellipsis)-to-word
    ratio <= 0.1, <= 90% of lines bullet-led, <= 30% ellipsis-ended,
    >= 80% of words containing an alphabetic character, and at least
    two distinct common-English stopwords present.

    Scale shape: every signal is a stateless expression over the text
    column — one scan, zero shuffles (the repetition half of Gopher's
    filters lives in :func:`repetition_signals`). Ratios round ONCE to
    4 decimals from exact integer counts, so the whole report is
    hash-portable. Returns (id_col, n_words, mean_word_len,
    symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac, n_stopwords,
    keep)."""
    raw = F.col(text_col)
    words = F.filter(F.split(F.trim(raw), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    nw = F.greatest(n_words, F.lit(1))
    total_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_symbols = (
        F.length(raw) - F.length(F.regexp_replace(raw, "#", ""))
        + F.regexp_count(raw, F.lit(r"(\.\.\.|…)"))
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    lines = F.split(raw, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    n_bullet = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^([-*•])"))
    )
    n_ellipsis = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    lowered = F.concat(F.lit(" "), F.lower(raw), F.lit(" "))
    n_stop = sum(
        F.when(lowered.rlike(rf"\s{w}\s"), 1).otherwise(0)
        for w in _GOPHER_STOPWORDS
    )
    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(total_chars / nw, 4).alias("mean_word_len"),
        F.round(n_symbols / nw, 4).alias("symbol_ratio"),
        F.round(n_bullet / n_lines, 4).alias("bullet_frac"),
        F.round(n_ellipsis / n_lines, 4).alias("ellipsis_frac"),
        F.round(n_alpha / nw, 4).alias("alpha_frac"),
        n_stop.cast("int").alias("n_stopwords"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_frac") <= max_bullet_frac)
        & (F.col("ellipsis_frac") <= max_ellipsis_frac)
        & (F.col("alpha_frac") >= min_alpha_frac)
        & (F.col("n_stopwords") >= min_stopwords)
    )
    return out.withColumn("keep", keep)


def curation_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.55,
    min_tokens: int = 5,
    max_dup_token_frac: float = 0.9,
    jaccard_threshold: float = 0.5,
    ngram_n: int = 3,
) -> DataFrame:
    """The full training-data curation flow in one composed plan:

      1. row-local gates (quality score, token floor, repetition cap) —
         stateless predicates, run in the scan stage;
      2. exact dedup — first id wins per normalized-text fingerprint
         (one hash shuffle over gate survivors);
      3. near-dup removal — exact n-gram Jaccard pairs over the
         survivors, connected components, keep the min-id doc per
         duplicate group.

    Returns (doc_id, n_tokens, quality) for every surviving document.
    Deliberately uses the EXACT pair path (not MinHash) so the whole
    pipeline is DuckDB-oracle-checkable end to end; swap in
    dedup.minhash_near_duplicates for the 100 TB candidate path — the
    composition is identical from step 3 on.
    """
    from pyspark.sql import Window

    from .dedup import _survivors, ngram_jaccard_pairs

    c = F.col(text_col)
    toks = tokens(normalized_text(c))
    nt = F.size(toks).cast("double")
    gated = df.select(
        F.col(id_col),
        F.col(text_col),
        token_count(c).alias("n_tokens"),
        quality_score(c).alias("quality"),
        fingerprint(c).alias("__fp"),
        F.when(nt > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / nt)
        .otherwise(0.0)
        .alias("__dup_frac"),
    ).filter(
        (F.col("quality") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("__dup_frac") <= max_dup_token_frac)
    )
    w = Window.partitionBy("__fp").orderBy(id_col)
    from pyspark.storagelevel import StorageLevel

    # survivors feed BOTH the pair-generation subtree and the final
    # anti-join — persist so the gate predicates + fingerprint window
    # run once, not once per consumer
    exact_kept = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp", "__dup_frac")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = ngram_jaccard_pairs(
        exact_kept, text_col=text_col, id_col=id_col,
        n=ngram_n, threshold=jaccard_threshold,
    )
    out = _survivors(exact_kept, pairs, id_col).select(id_col, "n_tokens", "quality")
    from .dedup import _finalize_release

    return _finalize_release(out, [exact_kept])


def ingest_pipeline(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.55,
    min_tokens: int = 5,
    jaccard_threshold: float = 0.5,
    ngram_n: int = 3,
) -> DataFrame:
    """Incremental ingest of a new batch against a historical corpus —
    the streaming-era sibling of :func:`curation_pipeline`:

      1. row-local gates on the NEW batch (quality score, token floor)
         — stateless predicates in the batch's scan stage;
      2. exact dedup against the corpus AND within the batch
         (``dedup.dedup_against``: corpus contributes only its distinct
         fingerprint set);
      3. near-dup removal against the corpus
         (``dedup.dedup_near_against``: cross-corpus inverted-index
         Jaccard, broadcast anti-join removal).

    Within-batch NEAR-dups are deliberately left to the next full
    :func:`curation_pipeline` run — a daily batch is small relative to
    the corpus, and running the pairwise step batch-internally every
    ingest would redo work the periodic full pass already owns.

    Returns (id_col, n_tokens, quality) for surviving new documents.
    """
    from .dedup import dedup_against, dedup_near_against

    c = F.col(text_col)
    gated = new_df.select(
        F.col(id_col),
        F.col(text_col),
        token_count(c).alias("n_tokens"),
        quality_score(c).alias("quality"),
    ).filter(
        (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    )
    fresh = dedup_against(gated, corpus_df, text_col=text_col, id_col=id_col)
    kept = dedup_near_against(
        fresh, corpus_df, text_col=text_col, id_col=id_col,
        n=ngram_n, threshold=jaccard_threshold,
    )
    return kept.select(id_col, "n_tokens", "quality")


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    by: str | list[str] | None = None,
    round_to: int = 4,
) -> DataFrame:
    """One-pass corpus monitoring summary — the table a pipeline run
    logs after every stage (per language / source when ``by`` is given):
    document count, token and character volume, mean document length.
    A stage that silently drops a language or doubles mean length shows
    up here before it poisons a training mix.

    Scale shape: a single map-side-combining aggregate (groupBy ``by``,
    or keys=[] for the global row); token counts are the JVM-side
    whitespace expression — no Python, no second pass over text."""
    keys = [by] if isinstance(by, str) else list(by or [])
    return df.groupBy(*keys).agg(*_corpus_aggs(text_col, round_to))


def _corpus_aggs(text_col: str, round_to: int):
    c = F.col(text_col)
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(c).cast("long")).alias("total_tokens"),
        F.sum(F.length(c).cast("long")).alias("total_chars"),
        F.round(
            F.sum(token_count(c).cast("long")) / F.count(F.lit(1)).cast("double"),
            round_to,
        ).alias("avg_tokens"),
    ]


def stream_corpus_stats(
    stream_df: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    by: str | list[str] | None = None,
    window: str = "1 hour",
    watermark: str = "2 hours",
    round_to: int = 4,
) -> DataFrame:
    """Streaming twin of :func:`corpus_stats`: the same volume/length
    aggregates per watermarked event-time window (plus ``by`` groups) —
    live stage-boundary telemetry for an ingest stream. ONE stateful
    aggregation; state is open windows x groups counter rows, bounded
    by the watermark. The aggregate expressions are shared with the
    batch flavor, so batch and stream report identical numbers over the
    same rows (pinned by test_streaming)."""
    from ..streaming.windows import _with_event_time

    keys = [by] if isinstance(by, str) else list(by or [])
    src = _with_event_time(stream_df, ts_col).withWatermark(ts_col, watermark)
    return src.groupBy(F.window(F.col(ts_col), window), *keys).agg(
        *_corpus_aggs(text_col, round_to)
    )


# ---------------------------------------------------------------- unigram LM scoring
def unigram_lm_scores(
    df: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    round_to: int = 4,
) -> DataFrame:
    """CCNet-style language-model quality proxy from a unigram model.

    Trains token frequencies on ``reference`` (default: ``df`` itself —
    in-corpus scoring) over the normalized text, then scores every
    document by its mean token surprisal  ``mean(-ln p(t))``  with
    ``p(t) = c(t) / N``  (``N`` = total reference tokens, counted BEFORE
    vocabulary pruning — pruned tokens are "unknown to the model", they
    don't change the model's denominator). Tokens with reference count
    below ``min_count`` are out-of-vocabulary: counted in ``n_oov`` and
    excluded from the mean. High score = improbable text (gibberish,
    boilerplate soup, wrong language); low = fluent under the reference
    distribution — the perplexity-filter stage of a curation pipeline
    (CCNet filters on a 5-gram KenLM trained on Wikipedia; the unigram
    flavor keeps the math closed-form and engine-portable).

    Returns one row per input document — ``(id, n_tokens, n_oov,
    lm_score)``; a document with zero tokens (or zero in-vocab tokens)
    keeps its row with ``lm_score`` NULL, so row-conservation checks
    over the stage hold.

    Scale shape: reference token counts are one map-combining aggregate;
    the per-(doc, token) table joins the vocabulary keyed on token (1:1
    per distinct doc-token, so hot tokens like "the" fan no rows out),
    then one doc-keyed aggregate folds the mean. The scalar ``N`` enters
    as a broadcast single-row frame. Numerics: the only floats are
    ``ln`` of exact integer counts combined per document (hundreds of
    terms), so the round-``round_to`` value is stable across engines —
    the large-float-sum hazard of revenue-style aggregates does not
    arise at document length.
    """
    ref = reference if reference is not None else df
    rtoks = ref.select(
        F.explode(tokens(normalized_text(F.col(text_col)))).alias("tok")
    )
    vocab_all = rtoks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab_all.agg(F.sum("c").cast("bigint").alias("n_total"))
    # scale-audit note: this filter sits above the count aggregate, not
    # above the parquet scan — the predicate is on a computed count, so
    # it cannot be pushed down by design. A plan audit flagging an
    # "unpushed filter" here is a false positive.
    vocab = vocab_all.filter(F.col("c") >= min_count)
    dt = (
        df.select(
            F.col(id_col),
            F.explode(tokens(normalized_text(F.col(text_col)))).alias("tok"),
        )
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    in_vocab = F.col("c").isNotNull()
    scored = (
        dt.join(vocab, "tok", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.sum("m").cast("bigint").alias("n_tokens"),
            F.coalesce(F.sum(F.when(~in_vocab, F.col("m"))), F.lit(0))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.log(F.max("n_total"))
                - F.sum(F.when(in_vocab, F.col("m") * F.log("c")))
                / F.sum(F.when(in_vocab, F.col("m"))),
                round_to,
            ).alias("lm_score"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
            "lm_score",
        )
    )


def _cuts_from_scored(scored: DataFrame, lang_col: str) -> DataFrame:
    """(lang, __t1, __t2) exact tercile cuts from a scored frame — the
    per-(lang, quantized score) histogram cumsum with integer-DIV
    ranks; shared by the in-corpus and fit-once flavors so thresholds
    cannot drift between them."""
    from pyspark.sql import Window

    hist = (
        scored.filter(F.col("lm_score").isNotNull())
        .groupBy(lang_col, "lm_score")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = (
        Window.partitionBy(lang_col)
        .orderBy("lm_score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(Window.partitionBy(lang_col))
    )
    return cum.groupBy(lang_col).agg(
        F.min(
            F.when(F.col("__cum") >= F.expr("(__n + 2) DIV 3"), F.col("lm_score"))
        ).alias("__t1"),
        F.min(
            F.when(F.col("__cum") >= F.expr("(2 * __n + 2) DIV 3"), F.col("lm_score"))
        ).alias("__t2"),
    )


def ccnet_cuts(
    df: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_count: int = 1,
    round_to: int = 4,
) -> DataFrame:
    """Fit the per-language tercile threshold table (lang, __t1, __t2)
    once on a corpus snapshot; pass it to ``ccnet_buckets(cuts=...)``
    to label later batches with FIXED thresholds (stable bucket
    membership across an ingest loop). O(#langs) rows — collect or
    persist it like any model table."""
    scored = unigram_lm_scores(
        df, reference, text_col, id_col, min_count, round_to
    ).join(df.select(id_col, lang_col), id_col)
    return _cuts_from_scored(scored, lang_col)


def ccnet_buckets(
    df: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_count: int = 1,
    round_to: int = 4,
    cuts: DataFrame | None = None,
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): score every document's mean token surprisal
    under a reference unigram LM (:func:`unigram_lm_scores`), then
    split each LANGUAGE into exact terciles — head = the most fluent
    third (lowest surprisal), tail = the least. CCNet trains per-lang
    KenLM models on Wikipedia and keeps head/middle for pretraining;
    this is that mixing stage with the closed-form unigram proxy.

    Exact deterministic thresholds at scale: the corpus is NEVER
    sorted. Scores are already quantized (``round_to`` decimals), so a
    per-(lang, score) histogram is bounded; the cumulative count runs
    over the HISTOGRAM per language, and the tercile cut t_k is the
    smallest score whose cumulative count reaches ceil(k*n/3) (integer
    DIV arithmetic — engine-portable). Ties at a cut share its bucket,
    so the split is exact, reproducible, and mirrorable. The O(#langs)
    threshold table broadcasts back; the labeling pass is scan-stage.

    Returns one row per input doc: (id_col, lang_col, n_tokens, n_oov,
    lm_score, bucket) with bucket in head/middle/tail, NULL for docs
    with no in-vocabulary tokens (no score — CCNet drops these).

    ``cuts=`` accepts a precomputed (lang, __t1, __t2) threshold table
    from :func:`ccnet_cuts` — the fit-once/score-many shape (fit the
    cuts on a corpus snapshot, label every subsequent batch with FIXED
    thresholds so bucket membership is stable across batches, exactly
    as CCNet labels shards against the Wikipedia-fitted model).
    """
    scored = unigram_lm_scores(
        df, reference, text_col, id_col, min_count, round_to
    ).join(df.select(id_col, lang_col), id_col)
    if cuts is None:
        # settle the scored frame before fitting the in-corpus cuts
        # (guide §5/§7.2 duplicated subtrees): `scored` is consumed
        # TWICE (tercile cuts + the labeling join) and its own subtree
        # references the input four times (LM vocab fit, doc-token
        # scoring, id spine, lang join) — left lazy, a COMPUTED input
        # pipeline (c4 -> gopher -> dedup in web_curation) re-ran ~8x
        # in one action. O(docs) narrow rows, cheap to materialize.
        # The cuts= fit-once path stays fully lazy: scored is consumed
        # once there, and that is the streaming-compatible shape.
        if not scored.isStreaming:
            from ..session import checkpoint_df

            scored = checkpoint_df(scored)
        cuts = _cuts_from_scored(scored, lang_col)
    bucket = (
        F.when(F.col("lm_score").isNull(), F.lit(None).cast("string"))
        .when(F.col("lm_score") <= F.col("__t1"), F.lit("head"))
        .when(F.col("lm_score") <= F.col("__t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cuts), lang_col, "left")
        .withColumn("bucket", bucket)
        .select(id_col, lang_col, "n_tokens", "n_oov", "lm_score", "bucket")
    )


def bigram_lm_scores(
    df: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    round_to: int = 4,
) -> DataFrame:
    """Interpolated BIGRAM language-model scores — the n-gram step up
    from :func:`unigram_lm_scores` toward CCNet's 5-gram KenLM filter.

    Model (Jelinek-Mercer smoothing):
        p(w | prev) = alpha * c(prev, w)/c(prev)  +  (1-alpha) * c(w)/N
    with a ``<s>`` sentinel as ``prev`` for each document's first token
    (so position 1 is conditioned on "document start", the standard
    n-gram convention; c(<s>) = number of non-empty reference docs).
    Score = mean over token positions of -ln p — low for text whose
    local transitions match the reference corpus, high for shuffled or
    alien word order that unigram statistics cannot see.

    Tokens unseen in the reference are counted in ``n_oov`` and excluded
    from the mean; an unseen ``prev`` degrades gracefully to the pure
    unigram backoff term. One row per input document (NULL score for
    zero-token docs). Portability: every probability is one IEEE
    expression over exact integer counts, summed per document — the
    same determinism envelope as the unigram flavor.

    Scale shape: pair extraction is a scan-stage expression; bigram /
    unigram / context counts are three map-side-combining aggregates;
    the per-doc pair table joins them keyed on (prev, w) / prev / w —
    1:1 per distinct doc-pair, no fan-out — then one doc-keyed
    aggregate folds the mean.
    """
    ref = reference if reference is not None else df

    def _pairs(frame, keep_id: bool):
        # materialize the token array behind a repartition barrier BEFORE
        # the pair lambda runs: the lambda references the array twice
        # (element + its predecessor), and without the barrier projection
        # collapse inlines the tokenization into every element —
        # O(tokens^2) per doc, interpreted (same trap _shingle_index
        # documents)
        cols = [F.col(id_col)] if keep_id else []
        base = fan_out(
            frame.select(
                *cols, tokens(normalized_text(F.col(text_col))).alias("__t")
            )
        )
        t = F.col("__t")
        pair_structs = F.transform(
            t,
            lambda w, i: F.struct(
                F.when(i == F.lit(0), F.lit("<s>"))
                .otherwise(F.element_at(t, i))  # 1-based: index i = previous token
                .alias("prev"),
                w.alias("w"),
            ),
        )
        return base.select(
            *([id_col] if keep_id else []), F.explode(pair_structs).alias("s")
        ).select(
            *([id_col] if keep_id else []),
            F.col("s.prev").alias("prev"),
            F.col("s.w").alias("w"),
        )

    base_pairs = _pairs(df, keep_id=True)
    ref_pairs = (
        base_pairs.select("prev", "w") if ref is df else _pairs(ref, keep_id=False)
    )
    c2 = ref_pairs.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("c2"))
    c1w = ref_pairs.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    c1p = ref_pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("cp"))
    tot = ref_pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))

    dpw = base_pairs.groupBy(id_col, "prev", "w").agg(F.count(F.lit(1)).alias("m"))
    j = (
        dpw.join(c2, ["prev", "w"], "left")
        .join(c1p, "prev", "left")
        .join(c1w, "w", "left")
        .crossJoin(F.broadcast(tot))
    )
    in_vocab = F.col("c").isNotNull()
    p = F.lit(float(alpha)) * F.coalesce(
        F.col("c2") / F.col("cp"), F.lit(0.0)
    ) + F.lit(1.0 - float(alpha)) * (F.col("c") / F.col("n_total"))
    scored = j.groupBy(id_col).agg(
        F.sum("m").cast("bigint").alias("n_tokens"),
        F.coalesce(F.sum(F.when(~in_vocab, F.col("m"))), F.lit(0))
        .cast("bigint")
        .alias("n_oov"),
        F.round(
            -F.sum(F.when(in_vocab, F.col("m") * F.log(p)))
            / F.sum(F.when(in_vocab, F.col("m"))),
            round_to,
        ).alias("lm2_score"),
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
            "lm2_score",
        )
    )


def unigram_bigram_grams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, gram) — one row per word unigram AND bigram OCCURRENCE of
    the normalized text. The ONE definition of the hashed-feature gram
    space shared by DSIR (mixing._hashed_gram_buckets), the quality
    classifier, and hashed_embeddings: their feature spaces must never
    drift apart.

    The token array materializes behind the ``fan_out`` repartition
    barrier BEFORE the bigram lambda runs: the lambda reads ``toks``
    twice per position and the gram concat reads it again, so without
    the barrier projection collapse inlines the regex tokenization into
    every interpreted element_at — O(tokens^2) per doc (the _shingle_
    index / lm2 trap; losing this barrier in the r9 refactor was the
    text_semantic_dedup_docs 1.7x bench regression)."""
    toks_df = fan_out(
        df.select(
            F.col(id_col).alias("id"),
            tokens(normalized_text(F.col(text_col))).alias("toks"),
        )
    )
    k = F.size("toks") - F.lit(1)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at("toks", i), F.element_at("toks", i + 1)),
    )
    grams = F.concat(
        F.col("toks"), F.when(k > 0, bigrams).otherwise(F.array().cast("array<string>"))
    )
    return toks_df.select("id", F.explode(grams).alias("gram"))


def hashed_embeddings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    out_col: str = "embedding",
) -> DataFrame:
    """Deterministic feature-hashed text embeddings (Weinberger et al.
    2009 hashing trick): v[j] = sum over the doc's unigram+bigram
    occurrences that hash to coordinate j of a +/-1 sign, L2-normalized.
    Bridges RAW TEXT into the dense-similarity stack — semantic_dedup /
    brute_force_topk / IvfIndex run unchanged on the output — when no
    model embeddings exist (or as the cheap first-pass filter before
    paying for model inference at 100 TB).

    Both the coordinate and the sign come from the same md5 the rest of
    the engine uses (coordinate = h % dim, sign = +1 iff bit below), so
    the vectors are bit-reproducible in SQL. One explode + a
    map-combining (doc, coord) signed-count aggregate + an id-keyed
    assembly; zero-gram docs get the zero vector (callers treat
    zero-norm as 'no cosine', per the r7 contract)."""
    from .hashing import md5_int

    if dim <= 0 or dim & (dim - 1):
        raise ValueError("dim must be a power of two (sign bit = h >> log2(dim))")
    _dim_bits = dim.bit_length() - 1
    h = md5_int(F.md5(F.col("gram")))
    signed = (
        # the gram explode multiplies per-row work ~|tokens|-fold and
        # every gram is md5-hashed; spread a low-parallelism input
        # (single-row-group file) across the session first — no-op when
        # the scan is already parallel (guide §2)
        unigram_bigram_grams(fan_out(df, id_col), text_col, id_col)
        .select(
            "id",
            F.pmod(h, F.lit(dim)).cast("int").alias("coord"),
            # bit just above the coordinate: independent of coord for
            # dim a power of two, portable ((h // dim) % 2 in SQL).
            # INTEGER arithmetic only — h is 60 bits, double division
            # (floor(h/dim)) loses the low bits past 2^53 and flips
            # signs vs the exact SQL integer division
            F.when(
                F.pmod(F.shiftright(h, _dim_bits), F.lit(2)) == 0, F.lit(1.0)
            )
            .otherwise(F.lit(-1.0))
            .alias("sign"),
        )
        .groupBy("id", "coord")
        .agg(F.sum("sign").alias("val"))
    )
    assembled = (
        signed.groupBy("id")
        .agg(
            F.map_from_arrays(
                F.collect_list("coord"), F.collect_list("val")
            ).alias("__m")
        )
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.coalesce(
                    F.element_at(F.col("__m"), j.cast("int")), F.lit(0.0)
                ),
            ).alias("__raw"),
        )
    )
    nrm = F.sqrt(
        F.aggregate(F.col("__raw"), F.lit(0.0), lambda a, x: a + x * x)
    )
    vec = F.when(
        nrm > 0, F.transform(F.col("__raw"), lambda x: F.round(x / nrm, 6))
    ).otherwise(F.transform(F.col("__raw"), lambda x: x * F.lit(0.0)))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(assembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(
                vec,
                F.transform(F.sequence(F.lit(1), F.lit(dim)), lambda _: F.lit(0.0)),
            ).alias(out_col),
        )
    )


def source_gate_table(
    df: DataFrame,
    min_docs: int = 5,
    min_mean_quality: float = 0.5,
    blocklist=None,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Fit the per-source gate (source, source_docs,
    source_mean_quality) from a reference corpus — the fit-once half of
    ``source_gates`` (the ``ccnet_cuts`` pattern): persist it, or score
    a STREAM against it (the gate join is stateless, so it composes
    with readStream unchanged)."""
    qi = F.round(quality_score(F.col(text_col)) * F.lit(1_000_000.0)).cast("bigint")
    per_src = (
        df.filter(F.col(source_col).isNotNull())
        .select(F.col(source_col), qi.alias("__qi"))
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("source_docs"),
            F.sum("__qi").alias("__sqi"),
        )
    )
    gate = per_src.filter(
        (F.col("source_docs") >= F.lit(min_docs))
        & (
            F.col("__sqi")
            / (F.col("source_docs") * F.lit(1_000_000.0))
            >= F.lit(min_mean_quality)
        )
    )
    if blocklist:
        gate = gate.filter(~F.col(source_col).isin(list(blocklist)))
    return gate.select(
        source_col,
        "source_docs",
        F.round(
            F.col("__sqi") / F.col("source_docs") / F.lit(1_000_000.0), 4
        ).alias("source_mean_quality"),
    )


def source_gates(
    df: DataFrame,
    min_docs: int = 5,
    min_mean_quality: float = 0.5,
    blocklist=None,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    gate: DataFrame | None = None,
) -> DataFrame:
    """Domain-level curation gate (the RefinedWeb/FineWeb "bad domain"
    cut): drop every document whose SOURCE is blocklisted, has fewer
    than ``min_docs`` documents, or whose mean per-doc quality is below
    ``min_mean_quality``. Per-document gates miss coordinated garbage —
    a spam farm's individual pages can each look plausible while the
    domain's aggregate quality is clearly depressed; this is the
    aggregate complement to ``gopher_gates``/``curation_pipeline``.

    Survivors carry ``source_docs`` and ``source_mean_quality``
    (4-decimal) for downstream mixing decisions. Documents with a NULL
    source have no domain evidence and are dropped (route them through
    the per-doc gates instead).

    Scale shape: the fit is one corpus pass collapsing to O(#sources)
    rows (quality is a scan-stage expression, the aggregate is
    map-combining, and per-doc qualities sum as exact 1e-6 integers so
    the mean is independent of partial-aggregation order — the
    integer-cents recipe); the gate table broadcasts back onto the
    corpus, which is never shuffled. Pass a precomputed ``gate``
    (``source_gate_table``) to score a new batch or a STREAM against a
    reference fit — the join is stateless, so it runs on readStream
    unchanged."""
    if gate is None:
        gate = source_gate_table(
            df, min_docs, min_mean_quality, blocklist, source_col, text_col
        )
    return df.join(F.broadcast(gate), source_col)


def char_entropy_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy (bits/char) of the normalized-text
    character distribution — the quality signal the token-ratio gates
    miss at both ends: near-zero entropy is repetition padding
    ("aaaa..."), abnormally high entropy is gibberish/binary spill.
    Standard companion cut to the Gopher gates in web curation.

    Returns (id_col, n_chars_norm, char_entropy[4dp]); NULL/empty text
    carries NULL entropy with zero chars.

    Scale shape: computed as ONE scan-stage fold — characters are
    sorted per document (array_sort, O(len log len) in the JVM) and a
    single aggregate() walks the runs accumulating sum(cnt*ln(cnt)),
    so H = (ln n - sum/n)/ln 2 without exploding the corpus into a
    per-character shuffle (which would move 100 TB of 1-char rows).
    The oracle mirrors the VALUE via the group-by formulation; the
    4-decimal round absorbs the summation-order difference."""
    c = F.col(text_col)
    chars = F.array_sort(
        F.filter(F.split(normalized_text(c), ""), lambda x: x != "")
    )
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("s"),
    )

    def _merge(acc, ch):
        same = acc["prev"] == ch
        closed = F.when(
            (acc["run"] > 0) & ~same,
            acc["run"].cast("double") * F.log(acc["run"].cast("double")),
        ).otherwise(F.lit(0.0))
        return F.struct(
            ch.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            (acc["s"] + closed).alias("s"),
        )

    def _finish(acc):
        return acc["s"] + F.when(
            acc["run"] > 0,
            acc["run"].cast("double") * F.log(acc["run"].cast("double")),
        ).otherwise(F.lit(0.0))

    s = F.aggregate(chars, init, _merge, _finish)
    n = F.when(chars.isNotNull(), F.size(chars)).otherwise(F.lit(0))
    ent = F.when(
        n > 0, (F.log(n.cast("double")) - s / n.cast("double")) / F.log(F.lit(2.0))
    )
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_chars_norm"),
        F.round(ent, 4).alias("char_entropy"),
    )


def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot diff between two corpus versions, by document id:
    (id_col, status, old_fp, new_fp) with status in
    {'added', 'removed', 'changed', 'unchanged'} — the audit step
    between ingest runs ("what did yesterday's pipeline actually do?"),
    and the input to incremental downstream refreshes (only
    added/changed rows need re-embedding, re-indexing, re-scoring).

    Content comparison is by normalized-text fingerprint, so
    whitespace/case-only edits count as unchanged (same canonicalization
    every dedup operator keys on). Two NULL-text versions compare
    unchanged (no content on either side).

    Scale shape: each side collapses to (id, 32-char fingerprint) in
    the scan stage — the texts never shuffle — and the diff is ONE full
    outer hash join on the id plus a scan-stage CASE; output is one row
    per distinct id across both snapshots."""
    oldf = old_df.select(
        F.col(id_col).alias("__id"), fingerprint(F.col(text_col)).alias("old_fp")
    ).withColumn("__in_old", F.lit(True))
    newf = new_df.select(
        F.col(id_col).alias("__id"), fingerprint(F.col(text_col)).alias("new_fp")
    ).withColumn("__in_new", F.lit(True))
    joined = oldf.join(newf, "__id", "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("__id").alias(id_col), status.alias("status"), "old_fp", "new_fp"
    )


def corpus_overlap(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """One-row overlap report between two corpora — the
    are-these-crawls-the-same-data check run before paying for a full
    cross-corpus dedup: exact-duplicate document counts (by normalized
    fingerprint) and distinct word-``n``-gram set overlap (Jaccard).

    Returns (distinct_docs_a, distinct_docs_b, shared_fingerprints,
    grams_a, grams_b, shared_grams, gram_jaccard 6dp) — document counts
    are DISTINCT-fingerprint counts (exact-dup copies within one side
    collapse). Each side collapses to its
    DISTINCT fingerprint / gram columns in the scan stage, the overlap
    is two keyed semi-join-sized aggregations, and the output is one
    row — no document text ever joins. NULL-text docs carry no
    fingerprint and no grams (consistent with the dedup family's
    null-safe contract)."""
    from .dedup import _shingle_index

    def _fps(df):
        return (
            df.select(fingerprint(F.col(text_col)).alias("fp"))
            .filter(F.col("fp").isNotNull())
            .distinct()
        )

    def _grams(df):
        return _shingle_index(df, text_col, id_col, n).select("shingle").distinct()

    fa, fb = _fps(a), _fps(b)
    ga, gb = _grams(a), _grams(b)
    fp_stats = (
        fa.withColumn("__ina", F.lit(1))
        .join(fb.withColumn("__inb", F.lit(1)), "fp", "full")
        .agg(
            F.sum("__ina").cast("bigint").alias("distinct_docs_a"),
            F.sum("__inb").cast("bigint").alias("distinct_docs_b"),
            F.sum(
                F.when(F.col("__ina").isNotNull() & F.col("__inb").isNotNull(), 1)
            ).cast("bigint").alias("shared_fingerprints"),
        )
    )
    gram_stats = (
        ga.withColumn("__ina", F.lit(1))
        .join(gb.withColumn("__inb", F.lit(1)), "shingle", "full")
        .agg(
            F.sum("__ina").cast("bigint").alias("grams_a"),
            F.sum("__inb").cast("bigint").alias("grams_b"),
            F.sum(
                F.when(F.col("__ina").isNotNull() & F.col("__inb").isNotNull(), 1)
            ).cast("bigint").alias("shared_grams"),
        )
    )
    z = F.lit(0).cast("bigint")
    return fp_stats.crossJoin(gram_stats).select(
        F.coalesce("distinct_docs_a", z).alias("distinct_docs_a"),
        F.coalesce("distinct_docs_b", z).alias("distinct_docs_b"),
        F.coalesce("shared_fingerprints", z).alias("shared_fingerprints"),
        F.coalesce("grams_a", z).alias("grams_a"),
        F.coalesce("grams_b", z).alias("grams_b"),
        F.coalesce("shared_grams", z).alias("shared_grams"),
        F.when(
            F.coalesce("grams_a", z) + F.coalesce("grams_b", z)
            - F.coalesce("shared_grams", z) > 0,
            F.round(
                F.coalesce("shared_grams", z)
                / (
                    F.coalesce("grams_a", z) + F.coalesce("grams_b", z)
                    - F.coalesce("shared_grams", z)
                ).cast("double"),
                6,
            ),
        ).alias("gram_jaccard"),
    )


def curation_funnel(
    stages: list[tuple[str, DataFrame]],
    text_col: str = "text",
) -> DataFrame:
    """Stage-by-stage volume funnel of a curation pipeline: one row per
    stage (stage_order, stage, n_docs, n_tokens) — the went-from/went-to
    dashboard every corpus build publishes per snapshot ("raw 4.1B ->
    c4 2.6B -> gopher 1.9B -> dedup 1.2B docs"). ``stages`` is an
    ordered list of (name, DataFrame); each stage costs ONE
    map-combining aggregate of its own plan (whitespace token counts
    fold in the scan stage). Chained lazy stages recompute their prefix
    — persist intermediates when stages are expensive and the funnel is
    a side output of a real run."""
    if not stages:
        raise ValueError("curation_funnel: stages must be non-empty")
    outs = []
    for i, (name, df) in enumerate(stages):
        outs.append(
            df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.coalesce(F.sum(token_count(F.col(text_col))), F.lit(0))
                .cast("bigint").alias("n_tokens"),
            ).select(
                F.lit(i).cast("int").alias("stage_order"),
                F.lit(name).alias("stage"),
                "n_docs",
                "n_tokens",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def dedup_within_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """INTRA-document span dedup: drop every repeated ``k``-token chunk
    within each document (keep the FIRST occurrence, preserve order)
    and rebuild the text — the template/boilerplate-repetition cleanup
    that corpus-level dedup cannot do (a page repeating its own nav
    block ten times is one document; no pair generator sees it).
    Returns (``id_col``, n_segments, n_kept, text) with text rebuilt
    from the surviving chunks of the NORMALIZED (lowercased,
    whitespace-collapsed) tokenization. NULL and zero-token documents
    come back with 0/0 and empty text.

    Scale shape — the best possible: ZERO shuffle, zero Python. The
    whole operator is scan-stage array expressions (tokenize, chunk,
    first-occurrence filter via ``array_position``, rejoin), so it
    composes into any corpus scan at 100 TB for free. Work per row is
    O(chunks^2) in the worst case (the positional filter probes the
    chunk array), bounded by document length — the same per-row budget
    as the repetition_signals scans."""
    if k < 1:
        raise ValueError("dedup_within_doc: k must be >= 1")
    toks = tokens(normalized_text(F.coalesce(F.col(text_col), F.lit(""))))
    n_chunks = F.ceil(F.size(toks) / F.lit(float(k))).cast("int")
    segs = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.array_join(F.slice(toks, (i - F.lit(1)) * k + F.lit(1), k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = df.withColumn("__segs", segs).withColumn(
        "__kept",
        F.expr("filter(__segs, (x, i) -> array_position(__segs, x) == i + 1)"),
    )
    return out.select(
        F.col(id_col),
        F.size("__segs").cast("int").alias("n_segments"),
        F.size("__kept").cast("int").alias("n_kept"),
        F.array_join("__kept", " ").alias("text"),
    )


_URL_TRACKING_PREFIXES = (
    "utm_", "fbclid=", "gclid=", "mc_cid=", "mc_eid=", "ref=", "igshid=",
)


def canonical_url(c: Column) -> Column:
    """Canonical form of a URL for crawl-level dedup and grouping —
    engine-portable regexp/list arithmetic only (the DuckDB oracle runs
    the same steps):

      1. scheme and host lowercase; the path/query keep their case
         (case-significant on most servers);
      2. default ports stripped (:80 for http, :443 for https) and a
         leading ``www.`` dropped;
      3. the fragment dropped entirely (never sent to the server);
      4. tracking parameters removed (utm_*, fbclid, gclid, mc_cid,
         mc_eid, ref, igshid) and the surviving query params SORTED so
         param order never splits a dup group;
      5. a trailing slash on a non-root path stripped.

    Two crawls of the same page through different share links then
    canonicalize identically — the standard pre-dedup URL key (the
    C4/CCNet crawl-processing step ahead of any text hashing). Expects
    absolute URLs; anything else canonicalizes best-effort (empty
    scheme/host). NULL in, NULL out."""
    u = F.trim(c)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(
        scheme == F.lit("http"), F.regexp_replace(host, ":80$", "")
    ).when(
        scheme == F.lit("https"), F.regexp_replace(host, ":443$", "")
    ).otherwise(host)
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
        r"/+$",
        "",
    )
    query = F.regexp_extract(u, r"\?([^#]*)", 1)

    def _keep(x):
        cond = x != F.lit("")
        for p in _URL_TRACKING_PREFIXES:
            cond = cond & ~x.startswith(p)
        return cond

    qstr = F.array_join(F.array_sort(F.filter(F.split(query, "&"), _keep)), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qstr != F.lit(""), F.concat(F.lit("?"), qstr)).otherwise(F.lit("")),
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level exact dedup: keep, per :func:`canonical_url` group, the
    row with the smallest ``id_col`` (first-crawled under monotonic
    ids). The cheapest dedup pass a crawl pipeline runs — one
    min-per-group aggregate on the canonical key (map-side combining,
    the key is a scan-stage expression) + one semi join back; text
    never moves, so it runs BEFORE any content hashing at a fraction of
    the cost."""
    keyed = df.withColumn("__curl", canonical_url(F.col(url_col)))
    winners = keyed.groupBy("__curl").agg(F.min(id_col).alias(id_col))
    return (
        keyed.join(winners, [id_col, "__curl"], "semi")
        .drop("__curl")
    )


def blocklist_filter(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    mode: str = "drop",
    whole_word: bool = True,
) -> DataFrame:
    """Blocklist term gate (the C4 recipe's bad-words cut, Raffel et al.
    2020 §2.2): count how many blocklist ``terms`` appear in each
    document's normalized text and either ``mode="drop"`` the matching
    docs or ``mode="annotate"`` every row with (blocklist_hits,
    blocklist_pass).

    ``whole_word=True`` matches space-delimited tokens (pad-and-contains
    on the padded normalized text — "ass" must not fire on "class"),
    else substring containment. Every term is normalized EXACTLY like
    the haystack (strip + lower + collapse internal whitespace) in both
    modes — a phrase term with a double space or tab would otherwise
    silently never match the whitespace-collapsed text (r8 ADVICE);
    terms that normalize to empty are rejected loudly rather than
    matching everything. The term list inlines into ONE
    scan-stage codegen expression (an array-exists fold over string
    literals — no join, no UDF, no shuffle): O(|terms|) contains checks
    per doc, which is exactly how the reference C4 implementation scans
    at crawl scale. NULL text has no hits and always passes."""
    if not terms:
        raise ValueError("blocklist_filter: terms must be non-empty")
    if mode not in ("drop", "annotate"):
        raise ValueError(f"blocklist_filter: mode must be drop|annotate, got {mode!r}")
    # mirror of normalized_text() on the Python side: the haystack is
    # strip+lower+collapse-whitespace, so the probes must be too
    normed = [" ".join(t.lower().split()) for t in terms]
    empty = [t for t, nt in zip(terms, normed) if not nt]
    if empty:
        raise ValueError(
            f"blocklist_filter: terms normalize to empty: {empty!r}"
        )
    norm = normalized_text(F.col(text_col))
    hay = F.concat(F.lit(" "), norm, F.lit(" ")) if whole_word else norm
    probes = [
        F.lit(f" {nt} ") if whole_word else F.lit(nt) for nt in normed
    ]
    hits = sum(
        (F.when(F.contains(hay, p), 1).otherwise(0) for p in probes),
        F.lit(0),
    )
    hits = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(hits).cast("int")
    if mode == "annotate":
        return df.select(
            "*", hits.alias("blocklist_hits"), (hits == 0).alias("blocklist_pass")
        )
    return df.filter(hits == 0)


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    max_rank: int = 1000,
) -> DataFrame:
    """Zipf-law fit over the corpus word-frequency table: least-squares
    slope/intercept of log(count) vs log(rank) for the ``max_rank`` most
    frequent words — the corpus-health telemetry every curation run
    wants (natural language sits near slope -1; machine-generated spam,
    boilerplate floods, and template storms bend the curve, showing up
    as a slope drifting toward 0 or below -1.3 between snapshots).
    Returns ONE row: (n_ranks, slope_micro, intercept_micro) in integer
    micro-units.

    Determinism: ranks come from a TakeOrdered top-``max_rank`` by
    (count desc, word) — total order, no ties left to the engine; each
    regression term (ln rank, ln count, products) nano-rounds to an
    INTEGER before the order-free sums (the categorical_dependence
    fixed-point contract), and the closed-form slope evaluates in one
    identical-input IEEE expression over those integer sums.

    Scale shape: one tokenize/explode pass into a map-combining word
    count (the train_bpe word-table shuffle), then a TakeOrdered to
    ``max_rank`` rows — O(max_rank) per partition, never a global sort;
    the regression runs on the bounded table."""
    if max_rank < 2:
        raise ValueError(f"zipf_fit: max_rank must be >= 2, got {max_rank}")
    from pyspark.sql import Window

    toks = fan_out(
        df.select(tokens(normalized_text(F.col(text_col))).alias("__t"))
    ).select(F.explode("__t").alias("__w"))
    wc = toks.groupBy("__w").agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    top = wc.orderBy(F.desc("__c"), F.asc("__w")).limit(int(max_rank))
    # single-partition window over the identity-limited top table: the
    # O(max_rank) bound is already declared by the limit above
    w = Window.orderBy(F.desc("__c"), F.asc("__w"))
    ranked = top.select(
        F.row_number().over(w).cast("bigint").alias("__r"), "__c"
    )
    nano = F.lit(1_000_000_000.0)
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__c").cast("double"))
    terms = ranked.select(
        F.floor(x * nano + F.lit(0.5)).cast("bigint").alias("__x"),
        F.floor(y * nano + F.lit(0.5)).cast("bigint").alias("__y"),
        F.floor(x * y * nano + F.lit(0.5)).cast("bigint").alias("__xy"),
        F.floor(x * x * nano + F.lit(0.5)).cast("bigint").alias("__xx"),
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum("__xy").alias("__sxy"),
        F.sum("__xx").alias("__sxx"),
    )
    nd = F.col("n_ranks").cast("double")
    sx = F.col("__sx").cast("double") / 1e9
    sy = F.col("__sy").cast("double") / 1e9
    sxy = F.col("__sxy").cast("double") / 1e9
    sxx = F.col("__sxx").cast("double") / 1e9
    denom = nd * sxx - sx * sx
    slope = (nd * sxy - sx * sy) / denom
    intercept = (sy - slope * sx) / nd
    micro = F.lit(1_000_000.0)
    return s.select(
        "n_ranks",
        F.when(
            denom != 0, F.floor(slope * micro + F.lit(0.5)).cast("bigint")
        ).alias("slope_micro"),
        F.when(
            denom != 0, F.floor(intercept * micro + F.lit(0.5)).cast("bigint")
        ).alias("intercept_micro"),
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document — the
    classic curation signal for audience targeting and for catching
    machine-generated run-on text (reading ease collapses as sentence
    length explodes). Heuristic syllables (exact transcription needs a
    pronunciation lexicon): a word's syllable count is its number of
    [aeiouy]+ vowel runs, floored at 1 — the standard cheap
    approximation, deterministic and engine-portable. Sentences are
    [.!?]+ runs floored at 1; words are whitespace tokens. One row per
    doc: (id, n_words, n_sentences, n_syllables, flesch_micro,
    fk_grade_micro); NULL scores for empty/NULL text (no words).

    Scale shape: pure scan-stage expressions — regexp extraction plus
    one HOF fold per doc, no explode and no shuffle; all three counts
    are exact integers and each score is ONE IEEE expression over them
    (single rounding site), so any engine reproduces the hash."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.lower(t), r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), F.lit(0)))
    )
    syl = F.aggregate(
        F.transform(
            words,
            lambda w: F.greatest(
                F.lit(1),
                F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    base = df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
        syl.cast("bigint").alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return base.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.floor(
                (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw)
                * F.lit(float(scale)) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("flesch_micro"),
        F.when(
            F.col("n_words") > 0,
            F.floor(
                (F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59))
                * F.lit(float(scale)) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("fk_grade_micro"),
    )
