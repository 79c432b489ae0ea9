"""Training-data pipeline operators: text analysis, dedup, similarity,
multimodal plumbing, streaming windows."""

import pytest

from pd_explain_spark import load_table, to_explainable
from pd_explain_spark.functions import dedup as D
from pd_explain_spark.functions import multimodal as MM
from pd_explain_spark.functions import similarity as S
from pd_explain_spark.functions import text as TX
from pd_explain_spark.streaming.windows import sessionize, windowed_agg
from tests.conftest import assert_df_equal


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").df


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").df


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").df


# ---------------------------------------------------------------- text
def test_text_profile_matches_oracle(documents, duck):
    out = TX.text_profile(documents).select("doc_id", "n_tokens", "n_stopwords", "quality")
    sql = """
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
             len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))::BIGINT AS n_stopwords,
             round(
               0.5 * least(1.0, len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) / 50.0)
             + 0.3 * (1.0 - least(1.0, len(regexp_extract_all(text, '[.,!?;:]'))
                 / greatest(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')), 1)))
             + 0.2 * least(1.0, 4.0 * len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))
                 / greatest(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')), 1)), 6) AS quality
      FROM documents
    """
    assert_df_equal(out, duck.sql(sql))


def test_fingerprint_matches_oracle(documents, duck):
    from pyspark.sql import functions as F

    out = documents.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))
    sql = "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents"
    assert_df_equal(out, duck.sql(sql))


def test_detect_language_runs(documents):
    from pyspark.sql import functions as F

    out = documents.select(TX.detect_language(F.col("text")).alias("lang"))
    vals = {r[0] for r in out.distinct().collect()}
    assert vals  # marker heuristic always yields something ('en' or 'und' on this corpus)
    assert vals <= set(TX.LANG_MARKERS) | {"und"}


# ---------------------------------------------------------------- dedup
def test_exact_duplicates_planted(spark):
    rows = [(1, "alpha beta gamma"), (2, "alpha  beta gamma"), (3, "delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["keep_id"]: r["dup_count"] for r in D.exact_duplicates(df).collect()}
    assert out == {1: 2, 3: 1}  # whitespace-normalized match
    kept = D.dedup_exact(df).select("doc_id").toPandas()["doc_id"].tolist()
    assert sorted(kept) == [1, 3]


def test_ngram_jaccard_planted(spark):
    a = "the quick brown fox jumps over the lazy dog today"
    b = "the quick brown fox jumps over the lazy dog tonight"  # high overlap
    c = "completely different words here nothing shared at all friend"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    pairs = D.ngram_jaccard_pairs(df, threshold=0.3).collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"]) == (1, 2)
    assert 0.5 < pairs[0]["jaccard"] < 1.0


def test_minhash_agrees_with_exact_jaccard(spark):
    base = "w{} " * 30
    texts = [(i, base.format(*range(i, i + 30))) for i in range(0, 40, 10)]
    # two near-identical docs
    texts.append((100, "common words shared across documents " * 5 + "ending one"))
    texts.append((101, "common words shared across documents " * 5 + "ending two"))
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    exact = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in D.minhash_near_duplicates(df, threshold=0.5).collect()}
    assert (100, 101) in exact
    assert lsh == exact  # verification step makes LSH output a subset; high-sim pair must survive banding


def test_simhash_near_duplicates(spark):
    a = " ".join(f"tok{i}" for i in range(60))
    b = " ".join(f"tok{i}" for i in range(59)) + " tokX"  # one token changed
    c = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_near_duplicates(df, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


# ---------------------------------------------------------------- similarity
def test_brute_force_topk_matches_oracle(embeddings, duck):
    queries = embeddings.filter("vec_id < 5")
    out = S.brute_force_topk(embeddings, queries, k=3)
    sql = """
      WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.embedding, c.embedding)
                 / (sqrt(list_dot_product(q.embedding, q.embedding))
                    * sqrt(list_dot_product(c.embedding, c.embedding))) AS sim
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ), ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank,
               round(sim, 6) AS cosine_sim
        FROM scored
      )
      SELECT query_id, neighbor_id, rank::INT AS rank, cosine_sim FROM ranked WHERE rank <= 3
    """
    # tol absorbs round(,6) boundary flips: the engines' FP summation
    # orders differ by ~1e-7, which can land a sim value on opposite
    # sides of the 6-decimal rounding cut (seen at sf0.01)
    assert_df_equal(out, duck.sql(sql), tol=2e-6)


def test_filtered_topk_brute_and_ivf(embeddings):
    """Filtered vector search (r8): where=/allowed= restrict the
    neighbor pool with pre-filter semantics — each query still ranks k
    qualifying neighbors; a vacuous filter is a no-op; the same
    allowed= drives the IVF probe and, at full probe width, agrees with
    the filtered brute force exactly."""
    queries = embeddings.filter("vec_id < 5")
    plain = S.brute_force_topk(embeddings, queries, k=3)

    # vacuous filters change nothing
    vac = S.brute_force_topk(
        embeddings, queries, k=3, where="label >= 0",
        allowed=embeddings.select("vec_id"),
    )
    assert sorted(map(tuple, vac.collect())) == sorted(map(tuple, plain.collect()))

    # real filter: neighbors all satisfy it, and each query still gets k
    filt = S.brute_force_topk(embeddings, queries, k=3, where="label % 2 = 0")
    even_ids = {r["vec_id"] for r in embeddings.filter("label % 2 = 0").collect()}
    rows = filt.collect()
    assert {r["neighbor_id"] for r in rows} <= even_ids
    from collections import Counter

    per_q = Counter(r["query_id"] for r in rows)
    assert all(v == 3 for v in per_q.values()) and len(per_q) == 5

    # IVF with allowed=: subset of allowed; full-probe == filtered exact
    allowed = embeddings.filter("label % 2 = 0").select("vec_id")
    ivf = S.ivf_topk(
        embeddings, queries, k=3, n_centroids=4, n_probe=4, allowed=allowed
    )
    assert {r["neighbor_id"] for r in ivf.collect()} <= even_ids
    assert sorted(map(tuple, ivf.collect())) == sorted(
        map(tuple, S.brute_force_topk(embeddings, queries, k=3, where="label % 2 = 0").collect())
    )

    # uniform contract across the remaining flavors (shared
    # _apply_corpus_filter): arrow agrees with the JVM flavor on
    # ids/ranks under the same filter; lsh candidates stay inside the
    # allowlist; quantized ranks only qualifying codes
    arrow = S.brute_force_topk_arrow(embeddings, queries, k=3, where="label % 2 = 0")
    assert sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in arrow.collect()) == sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in rows
    )
    lsh = S.lsh_topk(embeddings, queries, k=3, n_planes=2, allowed=allowed)
    assert {r["neighbor_id"] for r in lsh.collect()} <= even_ids
    codes = S.quantize_embeddings(embeddings)
    qz = S.quantized_topk(codes, codes.filter("vec_id < 5"), k=3, where="vec_id % 2 = 0")
    assert all(r["neighbor_id"] % 2 == 0 for r in qz.collect())


def test_lsh_topk_reasonable_recall(embeddings):
    queries = embeddings.filter("vec_id < 20")
    exact = S.brute_force_topk(embeddings, queries, k=1).select("query_id", "neighbor_id")
    approx = S.lsh_topk(embeddings, queries, k=1, n_planes=2)
    hits = exact.join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]).count()
    assert approx.count() == queries.count()  # every query answered from its bucket
    # 8-table OR-amplification: measured recall 1.0 at sf0.001/sf0.01;
    # floor at 0.8 leaves margin for seed/data drift (round-1's
    # single-table design sat at ~0.3 and failed its users)
    assert hits >= 0.8 * exact.count()


# ---------------------------------------------------------------- multimodal
def test_multimodal_fake_decoder_roundtrip(spark):
    media = MM.make_demo_media(spark, n=32)
    feats = MM.extract_features(media, fake_decoder=True)
    rows = feats.collect()
    assert len(rows) == 32
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(r["n_bytes"] == 100 + r["media_id"] for r in rows)


def test_multimodal_stub_raises_without_fake(spark):
    if MM.HAS_PIL:
        pytest.skip("Pillow present: the real decode path takes over")
    media = MM.make_demo_media(spark, n=4)
    with pytest.raises(Exception) as ei:
        MM.extract_features(media, fake_decoder=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_multimodal_real_decode_with_pillow(spark):
    """Real path (importorskip-gated): when Pillow IS importable,
    extract_features(fake_decoder=False) decodes actual image bytes and
    resize_images re-encodes at the target size."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    buf = io.BytesIO()
    PIL_Image.new("RGB", (16, 12), color=(200, 10, 30)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(0, "image", png, "image/png", 16, 12, 0)], schema=MM.MEDIA_SCHEMA
    )
    row = MM.extract_features(media, fake_decoder=False).collect()[0]
    assert row["feature"][:3] == [16.0, 12.0, 3.0]
    assert abs(row["feature"][3] - 200.0) < 1.0  # mean red channel
    rrow = MM.resize_images(media, 8, 8, fake_decoder=False).collect()[0]
    rimg = PIL_Image.open(io.BytesIO(bytes(rrow["payload"])))
    assert rimg.size == (8, 8)
    # SOURCE dimensions must survive for images LARGER than the 32px
    # thumbnail (PIL.thumbnail mutates in place — regression guard)
    buf2 = io.BytesIO()
    PIL_Image.new("RGB", (64, 48), color=(5, 5, 5)).save(buf2, format="PNG")
    big = spark.createDataFrame(
        [(1, "image", buf2.getvalue(), "image/png", 64, 48, 0)], schema=MM.MEDIA_SCHEMA
    )
    brow = MM.extract_features(big, fake_decoder=False).collect()[0]
    assert brow["feature"][:2] == [64.0, 48.0]
    # non-image rows must NOT hit the PIL decoder: mixed media table
    # keeps deterministic byte features for audio/video, and a null
    # payload yields a null resized payload instead of a crash
    mixed = MM.make_demo_media(spark, n=6)
    feats = MM.extract_features(mixed, fake_decoder=False).collect()
    assert len(feats) == mixed.count()
    nullrow = spark.createDataFrame(
        [(2, "image", None, "image/png", 0, 0, 0)], schema=MM.MEDIA_SCHEMA
    )
    nr = MM.resize_images(nullrow, 8, 8, fake_decoder=False).collect()[0]
    assert nr["payload"] is None


def test_frame_sampling_plan(spark):
    media = MM.make_demo_media(spark, n=9)
    frames = MM.sample_frames(media, every_ms=1000)
    pdf = frames.toPandas()
    assert (pdf.groupby("media_id").size() >= 2).all()  # videos are >= 2s
    assert set(pdf["frame_ts_ms"] % 1000) == {0}


# ---------------------------------------------------------------- streaming (batch parity)
def test_windowed_agg_matches_oracle(events, duck):
    out = windowed_agg(events, keys=["event_type"], window="1 hour")
    sql = """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, count(*) AS n_events,
             round(sum(value), 6) AS sum_value, round(avg(value), 6) AS avg_value
      FROM events GROUP BY 1, 2
    """
    assert_df_equal(out, duck.sql(sql))


def test_sessionize_counts(events):
    out = sessionize(events, gap="30 minutes")
    total = out.agg({"n_events": "sum"}).first()[0]
    assert total == events.count()  # every event lands in exactly one session


def test_ivf_topk_should_work(spark):
    from pd_explain_spark.functions.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    exact = brute_force_topk(emb, q, k=5).toPandas()
    approx = ivf_topk(emb, q, k=5, n_centroids=8, n_probe=3).toPandas()
    assert set(approx.columns) == {"query_id", "neighbor_id", "rank", "cosine_sim"}
    assert (approx.groupby("query_id").size() <= 5).all()
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].values.tolist()))
    a = set(map(tuple, approx[["query_id", "neighbor_id"]].values.tolist()))
    assert len(e & a) / len(e) >= 0.4  # ANN recall floor at tiny scale


def test_ivf_fixed_deterministic_and_recall(spark):
    """ivf_build_fixed: every vector lands in exactly one of n_centroids
    buckets, two builds agree bit-for-bit (the property the DuckDB
    oracle relies on), and recall vs brute force clears the ANN floor."""
    from pd_explain_spark.functions.similarity import (
        brute_force_topk,
        ivf_build_fixed,
        ivf_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    idx = ivf_build_fixed(emb, n_centroids=8)
    counts = idx.assigned.groupBy().count().collect()[0][0]
    assert counts == emb.count()  # every vector assigned exactly once
    assert idx.centroids.count() == 8

    a1 = sorted(map(tuple, idx.assigned.select("neighbor_id", "bucket").collect()))
    a2 = sorted(
        map(
            tuple,
            ivf_build_fixed(emb, n_centroids=8)
            .assigned.select("neighbor_id", "bucket")
            .collect(),
        )
    )
    assert a1 == a2

    q = emb.filter("vec_id < 5")
    exact = brute_force_topk(emb, q, k=5).toPandas()
    approx = ivf_query(idx, q, k=5, n_probe=3).toPandas()
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].values.tolist()))
    a = set(map(tuple, approx[["query_id", "neighbor_id"]].values.tolist()))
    assert len(e & a) / len(e) >= 0.4


def test_embedding_near_dup_lsh_recall(spark):
    """Multi-table LSH must recover (nearly) all exact near-dup pairs.

    Round-1's single AND-bucket design recovered 1 of 14 true pairs at
    sf0.01 (CORRECTNESS_r01); with 32 OR'd tables the per-pair miss
    probability at cosine ~0.45 is ~2e-3, so requiring >= 90% recall
    here is deterministic in practice."""
    from pd_explain_spark.functions.similarity import embedding_near_duplicates
    from pd_explain_spark.functions.similarity import cosine as _cos
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    l, r = base.alias("l"), base.alias("r")
    exact = {
        (row["id_a"], row["id_b"])
        for row in l.join(r, F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("id_a"),
            F.col("r.vec_id").alias("id_b"),
            _cos(F.col("l.v"), F.col("r.v")).alias("cs"),
        )
        .filter(F.col("cs") >= 0.45)
        .collect()
    }
    lsh = {
        (row["id_a"], row["id_b"])
        for row in embedding_near_duplicates(
            emb, id_col="vec_id", threshold=0.45, n_planes=4, n_tables=32
        ).collect()
    }
    assert lsh <= exact or not exact  # no false positives (exact verify)
    assert len(lsh & exact) >= 0.9 * len(exact)


def test_curate_documents_matches_oracle(documents, duck):
    from pd_explain_spark.functions.text import curate_documents

    out = curate_documents(documents)
    sql = """
      WITH prof AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
               len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
               round(
                 0.5 * least(1.0, len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) / 50.0)
               + 0.3 * (1.0 - least(1.0, len(regexp_extract_all(text, '[.,!?;:]'))
                   / greatest(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')), 1)))
               + 0.2 * least(1.0, 4.0 * len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))
                   / greatest(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')), 1)), 6) AS quality
        FROM documents
      ), gated AS (
        SELECT * FROM prof WHERE quality >= 0.55 AND n_tokens BETWEEN 5 AND 100000
      ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn FROM gated
      )
      SELECT doc_id, fingerprint, n_tokens, quality FROM ranked WHERE rn = 1
    """
    assert_df_equal(out, duck.sql(sql))


def test_curate_documents_gates_before_shuffle(documents):
    """The quality/token predicates must sit below the dedup exchange —
    rows failing the gates never shuffle (the 100 TB property)."""
    from pd_explain_spark.functions.text import curate_documents

    plan = curate_documents(documents)._jdf.queryExecution().executedPlan().toString()
    exch = plan.find("Exchange")
    filt = plan.rfind("Filter")
    assert exch != -1 and filt != -1
    # physical plans print top-down: the scan-side Filter appears AFTER
    # the Exchange line in the string iff it executes before the shuffle
    assert filt > exch


def test_resize_images_fake_roundtrip(spark):
    media = MM.make_demo_media(spark, n=12)
    out = MM.resize_images(media, target_w=32, target_h=32, fake_decoder=True)
    rows = out.collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(rows) == n_images
    assert all(r["width"] == 32 and r["height"] == 32 for r in rows)
    assert all(len(r["payload"]) == 32 * 32 // 64 for r in rows)


def test_resize_images_stub_raises(spark):
    media = MM.make_demo_media(spark, n=3)
    with pytest.raises(Exception) as ei:
        MM.resize_images(media, fake_decoder=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_repetition_signals_match_oracle(documents, duck):
    """Gopher-style repetition gates: planted pathological docs + the
    whole documents table vs the DuckDB list-function oracle."""
    from pyspark.sql import functions as F

    spark = documents.sparkSession
    planted = spark.createDataFrame(
        [
            (9001, "spam spam spam spam spam spam"),          # one token repeated
            (9002, "alpha beta gamma delta epsilon zeta"),    # all distinct
            (9003, "buy now buy now buy now limited offer"),  # dominant bigram
            (9004, "one"),                                    # no bigrams at all
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in TX.repetition_signals(planted).collect()}
    assert out[9001]["dup_token_frac"] == pytest.approx(1 - 1 / 6, abs=1e-6)
    assert out[9001]["top_bigram_frac"] == 1.0           # "spam spam" is every bigram
    assert out[9002]["dup_token_frac"] == 0.0
    assert out[9003]["top_bigram_frac"] == pytest.approx(3 / 7, abs=1e-6)
    assert out[9004]["top_bigram_frac"] == 0.0           # left-join fill, doc kept

    got = TX.repetition_signals(documents)
    sql = """
      WITH norm AS (
        SELECT doc_id,
               list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
                           x -> x <> '') AS t
        FROM documents
      ), grams AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
        FROM norm
      ), cnt AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2)
      SELECT n.doc_id,
             round(CASE WHEN len(n.t) > 0
                   THEN 1.0 - len(list_distinct(n.t))::DOUBLE / len(n.t) ELSE 0.0 END, 6) AS dup_token_frac,
             coalesce((SELECT round(max(c)::DOUBLE / sum(c), 6) FROM cnt WHERE cnt.doc_id = n.doc_id), 0.0)
               AS top_bigram_frac
      FROM norm n
    """
    assert_df_equal(
        got.select("doc_id", "dup_token_frac", "top_bigram_frac"), duck.sql(sql)
    )


def test_duplicate_components_collapse_chains(spark):
    """A~B and B~C must land in one component even though (A,C) was never
    a pair; two disjoint clusters stay separate; convergence beats the
    iteration cap on a long chain."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in D.duplicate_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == comp[23] == comp[24] == 20
    # only docs that appear in pairs get a row
    assert set(comp) == {1, 2, 3, 10, 11, 20, 21, 22, 23, 24}


def test_duplicate_components_deep_chain_pointer_jumping(spark):
    """A 100-link chain needs ~100 rounds of plain min-label propagation;
    pointer jumping collapses it within the default 12-round cap (O(log n))
    and must NOT warn about non-convergence."""
    import warnings

    links = [(i, i + 1) for i in range(100, 200)]
    pairs = spark.createDataFrame(links, "id_a long, id_b long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        comp = {r["id"]: r["component"] for r in D.duplicate_components(pairs).collect()}
    assert set(comp.values()) == {100}
    assert len(comp) == 101


def test_dedup_near_keeps_one_per_cluster(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),   # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog again & again"),      # near-dup of 1+2
        (4, "completely different content about spark shuffle partitions"),
        (5, "another unrelated document mentioning window functions only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # max_df=None: on a 5-doc corpus the boilerplate guard (shingles in
    # >20% of docs) would prune exactly the shared shingles the
    # duplicates share — the guard is for web-scale corpora
    out = D.dedup_near(df, threshold=0.5, max_df=None)
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert kept == [1, 4, 5]


def test_dedup_near_keep_by_keeps_best_not_min_id(spark):
    """keep_by flips the survivor from the min-id member to the
    score-argmax member; singletons are untouched either way."""
    import pyspark.sql.functions as F

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again yes truly"),  # longest dup
        (3, "the quick brown fox jumps over the lazy dog again & again"),
        (4, "completely different content about spark shuffle partitions"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    best = D.dedup_near(
        df, threshold=0.5, max_df=None,
        keep_by=F.size(F.split(F.trim("text"), r"\s+")),
    )
    kept = sorted(r["doc_id"] for r in best.select("doc_id").collect())
    assert kept == [2, 4]  # min-id policy would keep 1

    ties = D.keep_best(
        df, D.duplicate_components(D.ngram_jaccard_pairs(df, threshold=0.5, max_df=None)),
        F.lit(7),  # constant score: tie everywhere -> falls back to min id
    )
    assert sorted(r["doc_id"] for r in ties.select("doc_id").collect()) == [1, 4]


def test_group_centroids_and_distances(spark):
    from pd_explain_spark.functions.similarity import centroid_distances, group_centroids

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 0),     # centroid label 0 = [0.5, 0.5]
        (3, [2.0, 2.0], 1),
        (4, [4.0, 4.0], 1),     # centroid label 1 = [3, 3]
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cents = {r["label"]: r["centroid"] for r in group_centroids(df).collect()}
    assert cents[0] == [0.5, 0.5] and cents[1] == [3.0, 3.0]
    d = {r["vec_id"]: r["centroid_cos"] for r in centroid_distances(df).collect()}
    # label-1 vectors are colinear with their centroid → cosine exactly 1
    assert d[3] == 1.0 and d[4] == 1.0
    # label-0 vectors sit at 45° from [0.5, 0.5] → cos = 1/sqrt(2)
    assert abs(d[1] - 0.707107) < 1e-6 and abs(d[2] - 0.707107) < 1e-6


def test_bpe_token_count_known_strings(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "Hello world"), (2, "it's 2024!"), (3, "foo_bar baz")], "id long, text string"
    )
    out = {r["id"]: r["n"] for r in df.select("id", TX.bpe_token_count(F.col("text")).alias("n")).collect()}
    # "Hello"+" world"=2 ; "it"+"'s"+" 2024"+"!"=4 ; "foo"+"_"+"bar"+" baz"=4
    assert out == {1: 2, 2: 4, 3: 4}


@pytest.mark.parametrize("mode", ["append", "ignore", "errorifexists", "overwrite"])
def test_ivf_index_save_modes(spark, embeddings, tmp_path, mode):
    """IvfIndex.save keeps the persisted dedup indexes' mode rules over a
    path that holds an index: append is rejected (append_save grows an
    index), ignore writes nothing, errorifexists raises before any
    write, and overwrite replaces the index, except from an index whose
    rows are read from that path (the write would empty them first)."""
    first = embeddings.filter("vec_id < 60")
    second = embeddings.filter("vec_id >= 60 AND vec_id < 120")
    path = str(tmp_path / "ivf")
    S.ivf_build_fixed(first, n_centroids=4).save(path)

    def saved():
        idx = S.IvfIndex.load(spark, path)
        ids = sorted(r[0] for r in idx.assigned.select("neighbor_id").collect())
        return ids, idx.centroids.count()

    before = saved()
    assert before == (sorted(r[0] for r in first.select("vec_id").collect()), 4)
    other = S.ivf_build_fixed(second, n_centroids=4)
    if mode == "append":
        with pytest.raises(ValueError, match="append_save"):
            other.save(path, mode="append")
    elif mode == "ignore":
        other.save(path, mode="ignore")
    elif mode == "errorifexists":
        with pytest.raises(FileExistsError):
            other.save(path)
    else:
        with pytest.raises(ValueError, match="read from"):
            S.IvfIndex.load(spark, path).save(path, mode="overwrite")
        assert saved() == before
        other.save(path, mode="overwrite")
        before = (sorted(r[0] for r in second.select("vec_id").collect()), 4)
    assert saved() == before


def test_ivf_index_save_load_partition_pruning(spark, embeddings, tmp_path):
    """A persisted IVF index is hive-partitioned by bucket; a query's
    probe scan must (a) return the same results as the in-memory index
    and (b) show partition filters at the parquet source — only the
    probed buckets' directories are read."""
    idx = S.ivf_build(embeddings, n_centroids=8)
    idx.save(str(tmp_path / "ivf"))
    loaded = S.IvfIndex.load(spark, str(tmp_path / "ivf"))

    queries = embeddings.filter("vec_id < 5")
    mem = S.ivf_query(idx, queries, k=3, n_probe=2).collect()
    disk = S.ivf_query(loaded, queries, k=3, n_probe=2).collect()
    assert sorted(map(tuple, mem)) == sorted(map(tuple, disk)) and len(mem) > 0

    plan = S.ivf_query(loaded, queries, k=3, n_probe=2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_curation_pipeline_planted(spark):
    """Each stage must fire: the low-quality doc gates out, the exact
    duplicate collapses, the near-dup chain keeps one survivor."""
    good = ("the analysis shows that the results of the model are stable and the "
            "errors stay small across all of the tested inputs and conditions today")
    rows = [
        (1, good),
        (2, good + " "),                         # exact dup of 1 (whitespace)
        (3, good.replace("today", "tomorrow")),  # near-dup of 1
        (4, "x y"),                              # too short → token gate
        (5, ("the data and the table of the results in the report is one of the "
             "clean parts of it and it is good to read it in the morning review")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TX.curation_pipeline(df)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 5]


# ------------------------------------------------------- int8 quantization (r5)
def test_quantize_roundtrip_error_bounded(spark):
    """Dequantized vectors are within half a quantization step of the
    original per element (symmetric int8: step = max|v|/127)."""
    import numpy as np

    from pd_explain_spark.functions.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
    rows.append((40, [0.0] * 16))  # zero vector edge
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_embeddings(df, id_col="vec_id")
    deq = dequantize_embeddings(q)
    back = {r["vec_id"]: (r["embedding"], r["scale"]) for r in deq.collect()}
    for i, orig in rows:
        got, scale = back[i]
        step = scale if scale else 0.0
        for a, b in zip(orig, got):
            assert abs(a - b) <= step / 2 + 1e-12
    assert back[40][1] == 0.0 and all(v == 0.0 for v in back[40][0])


def test_quantized_topk_recall_floor(spark):
    """Cosine ranking on int8 codes must track the exact float ranking:
    recall@5 >= 0.8 on random unit-ish vectors."""
    import numpy as np

    from pd_explain_spark.functions.similarity import (
        brute_force_topk,
        quantize_embeddings,
        quantized_topk,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=24)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = brute_force_topk(df, df.filter("vec_id < 8"), k=5).collect()
    codes = quantize_embeddings(df, id_col="vec_id")
    approx = quantized_topk(codes, codes.filter("vec_id < 8"), k=5).collect()
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.8, f"recall {recall}"


# ---------------------------------------------------------------- training mix
def test_redact_pii_planted(spark):
    from pd_explain_spark.functions.mixing import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.example.com or call 555-123-4567."),
            (2, "ssn 123-45-6789 server 10.0.0.1 and 192.168.255.3"),
            (3, "clean text, no pii at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert rows[1]["text"] == "mail me at <EMAIL> or call <PHONE>."
    assert rows[1]["pii_email_count"] == 1 and rows[1]["pii_phone_count"] == 1
    assert rows[2]["text"] == "ssn <SSN> server <IP> and <IP>"
    assert rows[2]["pii_ssn_count"] == 1 and rows[2]["pii_ipv4_count"] == 2
    # the SSN must NOT also be counted as a phone or IP
    assert rows[2]["pii_phone_count"] == 0 and rows[2]["pii_email_count"] == 0
    assert rows[3]["text"] == "clean text, no pii at all"
    assert all(rows[3][f"pii_{k}_count"] == 0 for k in ("email", "ssn", "phone", "ipv4"))


def test_redact_pii_matches_oracle(documents, duck):
    """Differential vs the staged DuckDB mirror on the real corpus (counts
    taken after prior patterns replaced, exactly like the Spark chain)."""
    from pd_explain_spark.functions.mixing import redact_pii

    out = redact_pii(documents).selectExpr(
        "doc_id", "md5(text) AS redacted_md5",
        "pii_email_count", "pii_ssn_count", "pii_phone_count", "pii_ipv4_count",
    )
    sql = r"""
      WITH s1 AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS pii_email_count,
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS text
        FROM documents),
      s2 AS (
        SELECT doc_id, pii_email_count,
               len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))::INT AS pii_ssn_count,
               regexp_replace(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS text
        FROM s1),
      s3 AS (
        SELECT doc_id, pii_email_count, pii_ssn_count,
               len(regexp_extract_all(text, '\+?\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b'))::INT AS pii_phone_count,
               regexp_replace(text, '\+?\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g') AS text
        FROM s2),
      s4 AS (
        SELECT doc_id, pii_email_count, pii_ssn_count, pii_phone_count,
               len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::INT AS pii_ipv4_count,
               regexp_replace(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS text
        FROM s3)
      SELECT doc_id, md5(text) AS redacted_md5,
             pii_email_count, pii_ssn_count, pii_phone_count, pii_ipv4_count
      FROM s4
    """
    assert_df_equal(out, duck.sql(sql))


def test_stratified_sample_matches_naive_definition(documents, duck):
    from pd_explain_spark.functions.mixing import stratified_sample

    out = stratified_sample(documents, by="lang", quota=20, seed=7).select("doc_id", "lang")
    sql = """
      SELECT doc_id, lang FROM documents
      QUALIFY row_number() OVER (
        PARTITION BY lang ORDER BY md5(doc_id::VARCHAR || '-7'), doc_id) <= 20
    """
    assert_df_equal(out, duck.sql(sql))


def test_stratified_sample_dict_quota_whitelist(documents):
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.mixing import stratified_sample

    out = stratified_sample(documents, by="lang", quota={"en": 5, "de": 3}, seed=1)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {"en": 5, "de": 3}  # other strata dropped entirely


def test_stratified_sample_deterministic_and_seed_sensitive(documents):
    from pd_explain_spark.functions.mixing import stratified_sample

    a = {r["doc_id"] for r in stratified_sample(documents, quota=10, seed=3).collect()}
    b = {r["doc_id"] for r in stratified_sample(documents, quota=10, seed=3).collect()}
    c = {r["doc_id"] for r in stratified_sample(documents, quota=10, seed=4).collect()}
    assert a == b
    assert a != c


def test_pack_sequences_matches_oracle(documents, duck):
    from pd_explain_spark.functions.mixing import pack_sequences

    out = pack_sequences(documents, budget=512, num_buckets=5)
    sql = r"""
      SELECT doc_id, n_tokens,
             CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS pack_id,
             CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_pos
      FROM (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM (SELECT doc_id,
                     len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))::BIGINT AS n_tokens
              FROM documents))
    """
    assert_df_equal(out, duck.sql(sql))


def test_pack_sequences_invariants(documents):
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.mixing import pack_sequences

    out = pack_sequences(documents, budget=1000, num_buckets=4)
    bad = out.filter(
        (F.col("pack_pos") < 0) | (F.col("pack_pos") >= 1000) | (F.col("pack_id") < 0)
    )
    assert bad.count() == 0
    # pack ids are dense from 0 and monotone in stream order
    first = out.orderBy("doc_id").first()
    assert first["pack_id"] == 0 and first["pack_pos"] == 0


def test_assign_splits_matches_oracle_and_is_stable(documents, duck):
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.mixing import assign_splits

    out = assign_splits(documents, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=9)
    got = out.select("doc_id", "split")
    sql = """
      SELECT doc_id,
             CASE WHEN h < 800000 THEN 'train'
                  WHEN h < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   ('0x' || substr(md5(doc_id::VARCHAR || '-9'), 1, 8))::BIGINT % 1000000 AS h
            FROM documents)
    """
    assert_df_equal(got, duck.sql(sql))
    # growth stability: assignment of existing ids is unchanged when the
    # corpus doubles (hash of id, not position/count)
    grown = documents.unionByName(
        documents.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    re = assign_splits(grown, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=9).select(
        "doc_id", "split"
    )
    assert re.join(got.withColumnRenamed("split", "s0"), "doc_id").filter(
        F.col("split") != F.col("s0")
    ).count() == 0
    # rough proportions
    n = documents.count()
    train = out.filter(F.col("split") == "train").count()
    assert abs(train / n - 0.8) < 0.06


def test_leakage_safe_splits_components_share_split(spark):
    from pyspark.sql import functions as F

    from pd_explain_spark import assign_splits, leakage_safe_splits

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id bigint")
    # chain 1-2-3 (never emitted as (1,3)), cluster 5-6, singleton 4
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a bigint, id_b bigint"
    )
    out = leakage_safe_splits(
        docs, pairs=pairs, weights={"train": 0.5, "test": 0.5}, seed=7
    )
    rows = {r["doc_id"]: (r["split_rep"], r["split"]) for r in out.collect()}
    # whole component -> one representative -> one split, even across
    # the transitive chain
    assert rows[1] == rows[2] == rows[3] and rows[1][0] == 1
    assert rows[5] == rows[6] and rows[5][0] == 5
    # singletons keep the plain assign_splits behavior exactly
    solo = assign_splits(
        docs.filter("doc_id = 4"), {"train": 0.5, "test": 0.5}, seed=7
    ).first()
    assert rows[4] == (4, solo["split"])
    # split is a function of the representative's hash, not the member's
    rep_split = assign_splits(
        spark.createDataFrame([(1,), (5,)], "doc_id bigint"),
        {"train": 0.5, "test": 0.5},
        seed=7,
    ).collect()
    expect = {r["doc_id"]: r["split"] for r in rep_split}
    assert rows[2][1] == expect[1] and rows[6][1] == expect[5]


def test_shuffle_assign_is_total_deterministic_order(documents):
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.mixing import shuffle_assign

    out = shuffle_assign(documents, n_shards=8, seed=42)
    n = documents.count()
    assert out.count() == n
    assert out.select("shard").distinct().count() == 8
    # (shard, pos) is a dense total order: per-shard positions are 0..k-1
    per = out.groupBy("shard").agg(
        F.count(F.lit(1)).alias("k"), F.max("pos").alias("mx"), F.min("pos").alias("mn")
    )
    assert per.filter((F.col("mx") != F.col("k") - 1) | (F.col("mn") != 0)).count() == 0
    # deterministic: two builds agree row for row
    again = shuffle_assign(documents, n_shards=8, seed=42)
    j = out.select("doc_id", "shard", "pos").join(
        again.select(F.col("doc_id"), F.col("shard").alias("s2"), F.col("pos").alias("p2")),
        "doc_id",
    )
    assert j.filter((F.col("shard") != F.col("s2")) | (F.col("pos") != F.col("p2"))).count() == 0
    # a different seed produces a different permutation
    other = shuffle_assign(documents, n_shards=8, seed=7)
    diff = out.select("doc_id", "shard").join(
        other.select(F.col("doc_id"), F.col("shard").alias("s2")), "doc_id"
    ).filter(F.col("shard") != F.col("s2"))
    assert diff.count() > 0


def test_corpus_stats_planted(spark):
    from pd_explain_spark.functions.text import corpus_stats

    rows = [
        (1, "one two three", "en"),
        (2, "uno dos", "es"),
        (3, "four five six seven", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["lang"]: r.asDict() for r in corpus_stats(df, by="lang").collect()}
    assert got["en"]["n_docs"] == 2 and got["en"]["total_tokens"] == 7
    assert got["en"]["avg_tokens"] == 3.5
    assert got["es"]["total_chars"] == len("uno dos")
    glob = corpus_stats(df).collect()[0]
    assert glob["n_docs"] == 3 and glob["total_tokens"] == 9


def test_write_shards_round_trip(spark, documents, tmp_path):
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.mixing import shuffle_assign, write_shards

    path = str(tmp_path / "shards")
    write_shards(documents, path, n_shards=8, seed=42)
    back = spark.read.parquet(path)
    want = shuffle_assign(documents, n_shards=8, seed=42)
    assert back.count() == want.count()
    j = back.select("doc_id", "shard", "pos").join(
        want.select(F.col("doc_id"), F.col("shard").alias("s2"), F.col("pos").alias("p2")),
        "doc_id",
    )
    assert j.filter((F.col("shard") != F.col("s2")) | (F.col("pos") != F.col("p2"))).count() == 0
    # hive layout: one directory per shard -> a loader can read shard=K alone
    import os

    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert len(dirs) == 8

    # JSONL flavor: same layout, line-delimited text interchange
    jpath = str(tmp_path / "shards_jsonl")
    write_shards(documents.select("doc_id", "text"), jpath, n_shards=4, seed=42, fmt="json")
    jdirs = sorted(d for d in os.listdir(jpath) if d.startswith("shard="))
    assert len(jdirs) == 4
    jback = spark.read.json(jpath)
    assert jback.count() == documents.count()
    assert {"doc_id", "text", "pos", "shard"} <= set(jback.columns)


# ---------------------------------------------------------------- temperature mixing
def test_temperature_sample_shares_follow_alpha(spark):
    from pd_explain_spark.functions.mixing import temperature_sample

    rows = [(i, "big") for i in range(3200)] + [(4000 + i, "small") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # alpha=1: natural shares -> big gets ~16x small's rows
    nat = temperature_sample(df, by="source", alpha=1.0, target_rows=400).groupBy("source").count()
    nat = {r["source"]: r["count"] for r in nat.collect()}
    # alpha=0: uniform shares -> big and small get ~equal rows
    uni = temperature_sample(df, by="source", alpha=0.0, target_rows=400).groupBy("source").count()
    uni = {r["source"]: r["count"] for r in uni.collect()}
    assert nat["big"] / max(nat.get("small", 1), 1) > 8
    assert 0.5 < uni["big"] / uni["small"] < 2.0
    # alpha between: shares between the two extremes
    mid = temperature_sample(df, by="source", alpha=0.5, target_rows=400).groupBy("source").count()
    mid = {r["source"]: r["count"] for r in mid.collect()}
    assert uni["small"] >= mid["small"] >= nat.get("small", 0)


def test_temperature_sample_deterministic_and_clamped(spark):
    from pd_explain_spark.functions.mixing import temperature_sample

    rows = [(i, "only") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # target far above the corpus: rate clamps at 1 -> identity
    assert temperature_sample(df, target_rows=10_000).count() == 100
    a = sorted(r["doc_id"] for r in temperature_sample(df, target_rows=50).collect())
    b = sorted(r["doc_id"] for r in temperature_sample(df, target_rows=50).collect())
    assert a == b  # same seed -> same rows
    c = sorted(r["doc_id"] for r in temperature_sample(df, target_rows=50, seed=7).collect())
    assert a != c  # different seed -> different rows


def test_temperature_sample_plan_broadcasts_rates(documents):
    from pd_explain_spark.functions.mixing import temperature_sample

    out = temperature_sample(documents, by="source", alpha=0.5, target_rows=300)
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert out.columns == documents.columns


# ---------------------------------------------------------------- incremental dedup
def test_dedup_against_removes_corpus_and_batch_dupes(spark):
    corpus = spark.createDataFrame(
        [(1, "old doc about spark"), (2, "another historical page")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "OLD   doc ABOUT spark"),       # normalized dupe of corpus 1
            (11, "a genuinely new document"),
            (12, "a  genuinely NEW document"),   # internal dupe of 11
            (13, "something else entirely"),
        ],
        "doc_id long, text string",
    )
    out = sorted(r["doc_id"] for r in D.dedup_against(new, corpus).collect())
    assert out == [11, 13]


def test_dedup_against_keeps_schema_and_all_fresh(spark):
    corpus = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    new = spark.createDataFrame([(5, "a"), (6, "b")], "doc_id long, text string")
    out = D.dedup_against(new, corpus)
    assert out.columns == new.columns
    assert out.count() == 2


def test_near_dup_against_flags_planted_near_copy(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the river bank")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near the river"),  # near-copy
            (11, "completely different content with no shared phrases at all here"),
        ],
        "doc_id long, text string",
    )
    pairs = D.near_dup_pairs_against(new, corpus, n=3, threshold=0.5).collect()
    assert [(r["new_id"], r["corpus_id"]) for r in pairs] == [(10, 1)]
    assert pairs[0]["jaccard"] > 0.5
    survivors = D.dedup_near_against(new, corpus, n=3, threshold=0.5)
    assert [r["doc_id"] for r in survivors.collect()] == [11]
    assert survivors.columns == new.columns


def test_near_dup_against_id_collisions_are_harmless(spark):
    # SAME ids on both sides must not cross-contaminate the set sizes
    corpus = spark.createDataFrame([(1, "alpha beta gamma delta epsilon")],
                                   "doc_id long, text string")
    new = spark.createDataFrame([(1, "alpha beta gamma delta epsilon")],
                                "doc_id long, text string")
    pairs = D.near_dup_pairs_against(new, corpus, n=3, threshold=0.9).collect()
    assert len(pairs) == 1 and pairs[0]["jaccard"] == 1.0


def test_ingest_pipeline_stages_compose(spark):
    from pd_explain_spark.functions.text import ingest_pipeline

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog near the river bank")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "x"),  # fails the token gate
            (11, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact corpus dupe
            (12, "the quick brown fox jumps over the lazy dog near a river"),  # near-dup of corpus
            (13, "a fresh document in the corpus about window aggregation and joins"),
            (14, "a FRESH  document in the corpus about window aggregation and joins"),  # exact dupe of 13
        ],
        "doc_id long, text string",
    )
    out = ingest_pipeline(new, corpus, jaccard_threshold=0.5)
    assert [r["doc_id"] for r in out.collect()] == [13]
    assert out.columns == ["doc_id", "n_tokens", "quality"]


def test_md5_int_matches_duckdb_for_any_width(spark, duck):
    """functions/hashing.py md5_int is the single source of the portable
    hash wrapper; its Spark spelling must equal DuckDB's
    ('0x' || substr(md5(x), 1, w))::BIGINT for every width used in the
    codebase (8 for splits, 15 everywhere else) over varied byte
    content (unicode, empties, separators, long strings)."""
    import pyspark.sql.functions as F

    from pd_explain_spark.functions.hashing import md5_int

    vals = ["", "a", "doc-42", "x" * 500, "héllo wörld", "1-2-3", "\t\n ", "Ω≈ç√"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for width in (8, 15):
        got = {
            r["s"]: r["h"]
            for r in df.select("s", md5_int(F.md5("s"), width=width).alias("h")).collect()
        }
        want = {
            v: duck.sql(
                f"SELECT ('0x' || substr(md5(?), 1, {width}))::BIGINT", params=[v]
            ).fetchone()[0]
            for v in vals
        }
        assert got == want, (width, got, want)


def test_near_dup_against_max_df_jaccard_is_exact(spark):
    # ADVICE r5: with max_df set, candidate discovery uses the pruned
    # index but the Jaccard must be recomputed from the FULL index.
    # Here the near-copy's overlap is mostly boilerplate shingles (hot in
    # all 5 corpus docs -> pruned); counting the intersection on the
    # pruned tables would give 4/(7+7-4)=0.4 < threshold and silently
    # drop the pair.
    boiler = "terms of service apply here"
    corpus = spark.createDataFrame(
        [(i, f"w{i} x{i} {boiler} y{i} z{i}") for i in range(1, 6)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, f"w1 x1 {boiler} y1 z1")], "doc_id long, text string"
    )
    exact = D.near_dup_pairs_against(new, corpus, n=3, threshold=0.5).collect()
    pruned = D.near_dup_pairs_against(
        new, corpus, n=3, threshold=0.5, max_df=0.3
    ).collect()
    assert [(r["new_id"], r["corpus_id"], r["jaccard"]) for r in exact] == [
        (10, 1, 1.0)
    ]
    assert [(r["new_id"], r["corpus_id"], r["jaccard"]) for r in pruned] == [
        (10, 1, 1.0)
    ]


# ---------------------------------------------------------------- semantic dedup
def test_semantic_dedup_pairs_subset_of_exact_no_false_positives(spark):
    """SemDeDup pairs are exactly the EXACT-cosine near-dup pairs whose
    members share a centroid bucket: every emitted pair must be a true
    near-dup (exact verify), and pairs within one bucket must all be
    found (no within-bucket misses)."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.similarity import (
        cosine as _cos,
        ivf_build_fixed,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    l, r = base.alias("l"), base.alias("r")
    exact = {
        (row["id_a"], row["id_b"])
        for row in l.join(r, F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("id_a"),
            F.col("r.vec_id").alias("id_b"),
            F.round(_cos(F.col("l.v"), F.col("r.v")), 6).alias("cs"),
        )
        .filter(F.col("cs") >= 0.45)
        .collect()
    }
    bucket_of = {
        row["neighbor_id"]: row["bucket"]
        for row in ivf_build_fixed(emb, n_centroids=8).assigned.collect()
    }
    got = {
        (row["id_a"], row["id_b"])
        for row in semantic_dedup_pairs(emb, threshold=0.45, n_centroids=8).collect()
    }
    assert got <= exact  # exact verify: no false positives
    same_bucket = {p for p in exact if bucket_of[p[0]] == bucket_of[p[1]]}
    assert got == same_bucket  # finds every within-bucket true pair


def test_semantic_dedup_keeps_one_per_cluster(spark):
    """Planted duplicate cluster: three near-identical vectors must
    collapse to the min-id survivor; the distinct vector survives."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.similarity import semantic_dedup

    # id 30 hashes below 1 < 2 < 3 (md5 order), so the two centroids are
    # vec30 and vec1 — the planted cluster cannot be split across buckets
    # (SemDeDup's inherent bucket-split caveat would otherwise apply)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.998, 0.02, 0.0, 0.0]),
        (30, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, threshold=0.95, n_centroids=2)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 30]
    # keep_by: keep the cluster member maximizing a score column instead
    scored = emb.withColumn("quality", F.col("vec_id").cast("double"))
    best = semantic_dedup(scored, threshold=0.95, n_centroids=2, keep_by="quality")
    assert sorted(r["vec_id"] for r in best.collect()) == [3, 30]


# ---------------------------------------------------------------- fuzzy dedup / LM score
def test_edit_distance_pairs_and_fuzzy_dedup_planted(spark):
    """Planted typo pair: exact banded Levenshtein finds it with the
    true distance; the unrelated doc never pairs; fuzzy_dedup keeps one
    survivor per cluster (min id / keep_by-max)."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.dedup import edit_distance_pairs, fuzzy_dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over the lazy dog"),   # 2 edits
        (3, "completely different content about spark engines here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = edit_distance_pairs(docs, max_dist=10).collect()
    assert [(r["id_a"], r["id_b"], r["edit_distance"]) for r in pairs] == [(1, 2, 2)]
    assert sorted(r["doc_id"] for r in fuzzy_dedup(docs, max_dist=10).collect()) == [1, 3]
    scored = docs.withColumn("q", F.col("doc_id").cast("double"))
    best = fuzzy_dedup(scored, max_dist=10, keep_by="q")
    assert sorted(r["doc_id"] for r in best.collect()) == [2, 3]
    # past the cap: no pair survives the banded kernel
    assert edit_distance_pairs(docs, max_dist=1).count() == 0


def test_unigram_lm_scores_known_values(spark):
    """Hand-computed unigram surprisals; min_count prunes to OOV; a
    zero-token doc keeps its row (NULL score) — row conservation."""
    import math

    from pd_explain_spark.functions.text import unigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "   ")], "doc_id long, text string"
    )
    # corpus: a x3, b x1, c x1 -> N = 5
    out = {r["doc_id"]: r for r in unigram_lm_scores(docs).collect()}
    ln = math.log
    assert out[1]["n_tokens"] == 3 and out[1]["n_oov"] == 0
    assert out[1]["lm_score"] == round((2 * ln(5 / 3) + ln(5)) / 3, 4)
    assert out[2]["lm_score"] == round((ln(5 / 3) + ln(5)) / 2, 4)
    assert out[3]["n_tokens"] == 0 and out[3]["lm_score"] is None
    # min_count=2: b and c leave the vocabulary -> OOV, excluded from mean
    out2 = {r["doc_id"]: r for r in unigram_lm_scores(docs, min_count=2).collect()}
    assert out2[1]["n_oov"] == 1 and out2[1]["lm_score"] == round(ln(5 / 3), 4)
    assert out2[2]["n_oov"] == 1 and out2[2]["lm_score"] == round(ln(5 / 3), 4)
    # external reference: score df against corpus 2's distribution
    ref = spark.createDataFrame([(9, "a b b b")], "doc_id long, text string")
    out3 = {r["doc_id"]: r for r in unigram_lm_scores(docs, reference=ref).collect()}
    assert out3[2]["n_oov"] == 1  # 'c' unseen in reference
    assert out3[1]["lm_score"] == round((2 * ln(4) + ln(4 / 3)) / 3, 4)


# ---------------------------------------------------------------- persisted near-dup index
def test_neardup_index_bucketed_parity_and_plan(spark, tmp_path):
    """NearDupIndex must (1) reproduce near_dup_pairs_against exactly on
    both the plain and max_df paths, (2) reload from disk into a fresh
    catalog, and (3) join with NO exchange on the corpus side — the
    bucketed scan satisfies the join distribution, only the new batch
    shuffles."""
    from pd_explain_spark.functions.dedup import (
        NearDupIndex,
        _shingle_index,
        near_dup_pairs_against,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    corp, new = docs.filter("doc_id < 250"), docs.filter("doc_id >= 250")
    path = str(tmp_path / "ndidx")
    idx = NearDupIndex.build(corp).save(path, buckets=8)

    def pairset(df):
        return {(r["new_id"], r["corpus_id"], r["jaccard"]) for r in df.collect()}

    expect = pairset(near_dup_pairs_against(new, corp, threshold=0.2))
    assert pairset(idx.pairs_against(new, threshold=0.2)) == expect
    assert pairset(idx.pairs_against(new, threshold=0.2, max_df=0.5)) == pairset(
        near_dup_pairs_against(new, corp, threshold=0.2, max_df=0.5)
    )
    # fresh-catalog reload: drop the catalog entry, load() re-registers
    # the external bucketed table from the path alone
    spark.sql(f"DROP TABLE {NearDupIndex._table_name(path)}")
    idx2 = NearDupIndex.load(spark, path)
    assert pairset(idx2.pairs_against(new, threshold=0.2)) == expect
    # plan pin under forced SMJ (the 100 TB shape — no broadcast shortcut):
    # corpus scan is bucketed, and the ONLY shingle exchange is the new side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = _shingle_index(new, "text", "doc_id", idx2.n).join(idx2.inv, "shingle")
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert "Bucketed: true" in plan and "SelectedBucketsCount: 8 out of 8" in plan
    assert plan.count("Exchange hashpartitioning(shingle") == 1
    # survivor wrapper matches the non-index flavor
    from pd_explain_spark.functions.dedup import dedup_near_against

    assert sorted(r["doc_id"] for r in idx2.dedup(new, threshold=0.2).collect()) == sorted(
        r["doc_id"] for r in dedup_near_against(new, corp, threshold=0.2).collect()
    )


def test_c4_clean_rules(spark):
    """c4_clean (r8): each published C4 rule exercised on a planted doc —
    terminal-punctuation line keep, min-words line drop, line blocklist,
    doc blocklist (lorem ipsum / curly brace), min-surviving-lines doc
    drop — and the plan stays scan-stage (no Exchange, no Generate)."""
    from pd_explain_spark import c4_clean

    good = "this line has five words."
    rows = [
        # doc 1: mixed lines — keeps only the qualifying ones
        (1, "\n".join([
            good,
            "no terminal punctuation here at all",      # dropped: no . ! ? "
            "short line.",                               # dropped: < 5 words
            'a quoted line with enough words"',          # kept: quote terminal
            "enable JavaScript to view this page.",      # dropped: blocklist
            "another final line with plenty words!",     # kept
        ])),
        (2, "\n".join([good] * 2)),                      # dropped: < 3 kept lines
        (3, "\n".join([good] * 3) + "\nlorem ipsum dolor sit amet."),  # doc blocklist
        (4, "\n".join([good] * 3) + "\nvar x = { a: 1 }."),            # curly brace
        (5, "\n".join([good] * 4)),                      # clean doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_clean(docs).collect()}
    assert set(out) == {1, 5}
    assert out[1]["text"].split("\n") == [
        good, 'a quoted line with enough words"',
        "another final line with plenty words!",
    ]
    assert (out[1]["n_lines_kept"], out[1]["n_lines_removed"]) == (3, 3)
    assert out[5]["n_lines_kept"] == 4 and out[5]["n_lines_removed"] == 0

    plan = c4_clean(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Generate" not in plan


def test_ccnet_buckets_exact_terciles(spark):
    """ccnet_buckets (r8): per-language exact tercile split on the
    surprisal scores — head gets the most reference-like docs; bucket
    sizes are the integer-DIV terciles on distinct scores; zero-token
    docs keep their row with a NULL bucket; a doc repeating the
    reference's common words lands in head, gibberish in tail."""
    from pd_explain_spark import ccnet_buckets

    common = "the data table spark row value"
    rows = []
    for i in range(9):  # en: graded fluency — i common words, 9-i rare
        txt = " ".join(common.split()[: max(1, min(6, 9 - i))] * (i + 1)) + " " + " ".join(
            f"rare{i}x{j}" for j in range(i)
        )
        rows.append((i, txt, "en"))
    rows.append((20, "zz1 zz2 zz3", "de"))
    rows.append((21, "zz1 zz1 zz1 zz1", "de"))
    rows.append((22, "zz2 zz9 zz9", "de"))
    rows.append((30, "   ", "en"))  # zero tokens -> NULL bucket
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in ccnet_buckets(docs).collect()}
    assert out[30]["bucket"] is None and out[30]["n_tokens"] == 0

    # per-lang bucket sizes follow the exact tercile ranks
    from collections import Counter

    en = Counter(out[i]["bucket"] for i in range(9))
    assert en["head"] >= 3 and en["head"] + en["middle"] + en["tail"] == 9
    de = Counter(out[i]["bucket"] for i in (20, 21, 22))
    assert de["head"] == 1 and de["middle"] == 1 and de["tail"] == 1

    # ordering property: every head score <= every middle <= every tail
    for lang_ids in ([i for i in range(9)], [20, 21, 22]):
        by = {}
        for i in lang_ids:
            by.setdefault(out[i]["bucket"], []).append(out[i]["lm_score"])
        if {"head", "middle", "tail"} <= set(by):
            assert max(by["head"]) <= min(by["middle"]) <= max(by["middle"]) <= min(by["tail"])

    # determinism
    again = {r["doc_id"]: r["bucket"] for r in ccnet_buckets(docs).collect()}
    assert again == {k: v["bucket"] for k, v in out.items()}


def test_ccnet_cuts_fit_once_score_many(spark):
    """ccnet_cuts + ccnet_buckets(cuts=): thresholds fitted on the
    corpus snapshot stay FIXED when labeling a later batch — an
    all-gibberish batch lands entirely in tail under the fitted cuts
    (without cuts= the batch's own terciles would spread it), and a
    clone of a head doc keeps its head label across batches."""
    from pd_explain_spark import ccnet_buckets, ccnet_cuts

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cuts = ccnet_cuts(corpus)
    base = {r["doc_id"]: r["bucket"] for r in ccnet_buckets(corpus, cuts=cuts).collect()}
    # in-corpus labeling with precomputed cuts == the one-shot flavor
    one_shot = {r["doc_id"]: r["bucket"] for r in ccnet_buckets(corpus).collect()}
    assert base == one_shot

    langs = {r["doc_id"]: r["lang"] for r in corpus.select("doc_id", "lang").collect()}
    head_id = next(i for i, b in base.items() if b == "head")
    tail_id = next(i for i, b in base.items() if b == "tail" and langs[i] == langs[head_id])
    texts = {
        r["doc_id"]: r["text"]
        for r in corpus.filter(f"doc_id in ({head_id}, {tail_id})").collect()
    }
    batch = spark.createDataFrame(
        [
            (9001, texts[head_id], langs[head_id]),
            (9002, texts[tail_id], langs[tail_id]),
            (9003, " ".join(f"zzqx{i}" for i in range(40)), langs[head_id]),
        ],
        "doc_id long, text string, lang string",
    )
    labeled = {
        r["doc_id"]: r["bucket"]
        for r in ccnet_buckets(batch, reference=corpus, cuts=cuts).collect()
    }
    assert labeled[9001] == "head"   # clones keep their labels across batches
    assert labeled[9002] == "tail"
    assert labeled[9003] is None     # all-OOV: no score, CCNet-drop semantics


def test_gopher_gates_rules(spark):
    """gopher_gates (r8): each published Gopher/MassiveWeb threshold
    exercised on a planted doc — word-count bounds, mean word length,
    symbol ratio, bullet/ellipsis line fractions, alpha-word fraction,
    stopword presence — plus a scan-stage plan pin."""
    from pd_explain_spark import gopher_gates

    good = ("the quick brown fox and the lazy dog have fun with words "
            "that be plenty of text to pass gates easily here ") * 5
    rows = [
        (1, good),                                       # passes everything
        (2, "short doc with few words only"),            # < 50 words
        (3, " ".join(["####"] * 60) + " the of and that have with be to"),  # symbols + mean len
        (4, "\n".join(["- bullet line here"] * 10) + "\n" + good),  # >90% bullets
        (5, " ".join(["12345"] * 80) + " the of and"),   # alpha_frac < 0.8
        (6, " ".join([f"w{i}" for i in range(80)])),     # no stopwords
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_gates(docs).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["n_words"] < 50
    assert out[3]["keep"] is False and out[3]["symbol_ratio"] > 0.1
    assert out[4]["keep"] is False and out[4]["bullet_frac"] > 0.9
    assert out[5]["keep"] is False and out[5]["alpha_frac"] < 0.8
    assert out[6]["keep"] is False and out[6]["n_stopwords"] < 2
    assert out[1]["n_stopwords"] >= 2 and 3.0 <= out[1]["mean_word_len"] <= 10.0

    plan = gopher_gates(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Generate" not in plan


def test_simhash_index_parity_reload_append_and_plan(spark, tmp_path):
    """SimHashIndex (r8) must (1) reproduce simhash_pairs_against
    exactly, (2) reload from disk into a fresh catalog, (3) grow
    idempotently via append_save (a retried batch never double-indexes,
    so pair multiplicity is unchanged), and (4) probe with NO exchange
    on the persisted corpus side — the table is bucketed on exactly the
    (block, key) join keys."""
    from pd_explain_spark.functions.dedup import (
        SimHashIndex,
        _simhash_blocks,
        simhash_dedup_against,
        simhash_pairs_against,
        simhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    corp, new = docs.filter("doc_id < 200"), docs.filter("doc_id >= 250")
    batch2 = docs.filter("doc_id >= 200 AND doc_id < 250")
    path = str(tmp_path / "shidx")
    idx = SimHashIndex.build(corp, hash_fn="md5").save(path, buckets=8)

    def pairset(df):
        return {(r["new_id"], r["corpus_id"], r["hamming"]) for r in df.collect()}

    expect = pairset(simhash_pairs_against(new, corp, max_hamming=10, hash_fn="md5"))
    assert pairset(idx.pairs_against(new, max_hamming=10)) == expect

    # fresh-catalog reload from the path alone
    spark.sql(f"DROP TABLE {SimHashIndex._table_name(path)}")
    idx2 = SimHashIndex.load(spark, path)
    assert idx2.hash_fn == "md5"
    assert pairset(idx2.pairs_against(new, max_hamming=10)) == expect

    # append growth == rebuilding over the union; retry is a no-op
    grown = idx2.append_save(path, batch2)
    full = pairset(
        simhash_pairs_against(
            new, docs.filter("doc_id < 250"), max_hamming=10, hash_fn="md5"
        )
    )
    assert pairset(grown.pairs_against(new, max_hamming=10)) == full
    retried = grown.append_save(path, batch2)  # crashed-retry simulation
    assert retried.blocks.count() == grown.blocks.count()

    # survivor wrapper matches the live flavor over the grown corpus
    assert sorted(
        r["doc_id"] for r in retried.dedup(new, max_hamming=10).collect()
    ) == sorted(
        r["doc_id"]
        for r in simhash_dedup_against(
            new, docs.filter("doc_id < 250"), max_hamming=10, hash_fn="md5"
        ).collect()
    )

    # plan pin under forced SMJ: persisted side bucketed, only the new
    # batch's block table exchanges on the join keys
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        probe = _simhash_blocks(
            simhash_signatures(new, "text", "doc_id", hash_fn="md5"), "md5"
        )
        j = probe.alias("a").join(
            retried.blocks.alias("b"),
            (F.col("a.block") == F.col("b.block")) & (F.col("a.key") == F.col("b.key")),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert "Bucketed: true" in plan and "SelectedBucketsCount: 8 out of 8" in plan
    # exactly one (block, key) exchange — the probe side; the persisted
    # side's bucketed scan needs none (the probe's own signature
    # aggregate legitimately shuffles by id below the join)
    assert plan.count("Exchange hashpartitioning(block") == 1


# ---------------------------------------------------------------- span dedup
def test_span_dedup_exact_substring_semantics(spark):
    """Lee et al. ExactSubstr semantics: a 6-token span shared by two
    docs is cut from BOTH; within-doc repetition is also cut; untouched
    and zero-token docs keep their rows."""
    from pd_explain_spark.functions.segments import span_dedup

    rows = [
        (1, "alpha beta gamma delta epsilon zeta THE COMMON SPAN OF SIX TOKENS tail one"),
        (2, "different head words here THE COMMON SPAN OF SIX TOKENS and more trailing text"),
        (3, "x y z x y z x y z x y z"),
        (4, "totally unique document with no duplicated spans anywhere at all"),
        (5, "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(docs, n=6, min_count=2).collect()}
    assert out[1]["text"] == "alpha beta gamma delta epsilon zeta tail one"
    assert out[2]["text"] == "different head words here and more trailing text"
    assert (out[1]["n_removed"], out[2]["n_removed"]) == (6, 6)
    # "x y z" x4: spans of 6 repeat at starts 0/3/6 -> every token covered
    assert out[3]["text"] == "" and out[3]["n_removed"] == 12
    assert out[4]["n_removed"] == 0 and out[4]["n_tokens"] == 10
    assert out[5]["text"] == "" and out[5]["n_tokens"] == 0  # row conserved


def test_bigram_lm_scores_known_values(spark):
    """Hand-computed interpolated bigram surprisals with the <s>
    sentinel: corpus {doc1: 'a b a b', doc2: 'b a'} gives pair counts
    c2={(<s>,a):1,(a,b):2,(b,a):2,(<s>,b):1}, prev counts
    {<s>:2,a:2,b:2}, unigram {a:3,b:3}, N=6."""
    import math

    from pd_explain_spark.functions.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a"), (3, " ")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs, alpha=0.5).collect()}
    ln = math.log
    p_sa = 0.5 * (1 / 2) + 0.5 * (3 / 6)   # (<s>, a)
    p_ab = 0.5 * (2 / 2) + 0.5 * (3 / 6)   # (a, b)
    p_ba = 0.5 * (2 / 2) + 0.5 * (3 / 6)   # (b, a)
    p_sb = 0.5 * (1 / 2) + 0.5 * (3 / 6)   # (<s>, b)
    assert out[1]["lm2_score"] == round(-(ln(p_sa) + 2 * ln(p_ab) + ln(p_ba)) / 4, 4)
    assert out[2]["lm2_score"] == round(-(ln(p_sb) + ln(p_ba)) / 2, 4)
    assert out[3]["n_tokens"] == 0 and out[3]["lm2_score"] is None
    # external reference: 'c' unseen -> OOV, excluded from the mean
    ref = spark.createDataFrame([(9, "a b")], "doc_id long, text string")
    o2 = {r["doc_id"]: r for r in
          bigram_lm_scores(spark.createDataFrame([(1, "a c")], "doc_id long, text string"),
                           reference=ref, alpha=0.5).collect()}
    assert o2[1]["n_oov"] == 1
    # ref pairs: (<s>,a),(a,b); N=2; scoring 'a' after <s>: p = .5*(1/1)+.5*(1/2)
    assert o2[1]["lm2_score"] == round(-math.log(0.5 * 1 + 0.5 * 0.5) / 1, 4)


def test_bm25_empty_and_unicode_terms(spark):
    """Empty query returns an empty frame (no IndexError); a unicode
    term routes through array_contains, not the ASCII \\b prefilter."""
    from pd_explain_spark.functions.relevance import bm25_scores

    docs = spark.createDataFrame(
        [(1, "der café ist gut"), (2, "no match here")],
        "doc_id long, text string",
    )
    assert bm25_scores(docs, []).count() == 0
    got = bm25_scores(docs, ["café"]).collect()
    assert [r["id"] for r in got] == [1]  # output schema is (id, score)


def test_semantic_dedup_against_subset_of_exact(spark):
    """Cross-corpus SemDeDup pairs = exactly the true cross-cosine
    near-dup pairs whose members share a corpus-centroid bucket: no
    false positives, and no within-bucket misses; the anti-join wrapper
    removes exactly the flagged new rows."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.similarity import (
        _assign_buckets,
        cosine as _cos,
        ivf_build_fixed,
        semantic_dedup_against,
        semantic_dedup_pairs_against,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    new, corp = emb.filter("vec_id >= 250"), emb.filter("vec_id < 250")
    got = {
        (r["new_id"], r["corpus_id"])
        for r in semantic_dedup_pairs_against(
            new, corp, threshold=0.45, n_centroids=8
        ).collect()
    }
    base = lambda d: d.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    exact = {
        (r["new_id"], r["corpus_id"])
        for r in base(new).alias("l")
        .crossJoin(base(corp).alias("r"))
        .select(
            F.col("l.vec_id").alias("new_id"),
            F.col("r.vec_id").alias("corpus_id"),
            F.round(_cos(F.col("l.v"), F.col("r.v")), 6).alias("cs"),
        )
        .filter(F.col("cs") >= 0.45)
        .collect()
    }
    idx = ivf_build_fixed(corp, n_centroids=8)
    bucket_of = {
        r["neighbor_id"]: r["bucket"]
        for r in idx.assigned.select("neighbor_id", "bucket").collect()
    }
    bucket_of.update(
        {
            r["neighbor_id"]: r["bucket"]
            for r in _assign_buckets(
                new.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").cast("array<double>").alias("cv"),
                ),
                idx.centroids,
            ).select("neighbor_id", "bucket").collect()
        }
    )
    same_bucket = {p for p in exact if bucket_of[p[0]] == bucket_of[p[1]]}
    assert got <= exact and got == same_bucket
    flagged = {p[0] for p in got}
    survivors = {r["vec_id"] for r in
                 semantic_dedup_against(new, corp, threshold=0.45, n_centroids=8).collect()}
    assert survivors == {r["vec_id"] for r in new.collect()} - flagged


def test_edit_distance_against_planted(spark):
    """Cross-corpus fuzzy: the typo'd new doc pairs with its corpus
    original at the true distance; unrelated docs don't pair; the
    anti-join wrapper drops exactly the flagged new rows."""
    from pd_explain_spark.functions.dedup import (
        edit_distance_pairs_against,
        fuzzy_dedup_against,
    )

    corp = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumped over the lazy dog tonight"),  # 2 edits
            (11, "entirely unrelated content about query optimizers and joins"),
        ],
        "doc_id long, text string",
    )
    pairs = edit_distance_pairs_against(new, corp, max_dist=10).collect()
    assert [(r["new_id"], r["corpus_id"], r["edit_distance"]) for r in pairs] == [(10, 1, 2)]
    assert sorted(r["doc_id"] for r in fuzzy_dedup_against(new, corp, max_dist=10).collect()) == [11]


# ---------------------------------------------------------------- BPE
def _reference_bpe(word_counts, num_merges):
    """Pure-Python Sennrich BPE (the paper's algorithm verbatim):
    returns (merge list, final segmentation dict)."""
    segs = {w: list(w) + ["</w>"] for w in word_counts}
    merges = []
    for _ in range(num_merges):
        pairs = {}
        for w, cnt in word_counts.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] = pairs.get((s[i], s[i + 1]), 0) + cnt
        if not pairs:
            break
        # deterministic tie-break: max count, then lexicographically
        # smallest (a, b) — mirror the Spark orderBy
        bestn = max(pairs.values())
        best = min(p for p, n in pairs.items() if n == bestn)
        if bestn < 2:
            break
        a, b = best
        merges.append((a, b, a + b, bestn))
        for w in segs:
            s, out = segs[w], []
            for sym in s:
                if out and out[-1] == a and sym == b:
                    out[-1] = a + b
                else:
                    out.append(sym)
            segs[w] = out
    return merges, segs


def test_train_bpe_matches_reference(spark):
    """Differential: distributed BPE must learn the SAME merge sequence
    and final segmentations as the pure-Python paper algorithm,
    including greedy-leftmost rewrites ('aaaa') and tie-breaks."""
    from pd_explain_spark.functions.bpe import bpe_encode, train_bpe

    corpora = [
        {"low": 5, "lower": 2, "newest": 6, "widest": 3},
        {"aaaa": 3, "aab": 2, "ba": 4},   # greedy-leftmost + ties
    ]
    for wc in corpora:
        text = " ".join(w for w, c in wc.items() for _ in range(c))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        merges, wt = train_bpe(docs, num_merges=6)
        got = [(r["left"], r["right"], r["merged"], r["pair_count"]) for r in merges.collect()]
        exp_merges, exp_segs = _reference_bpe(wc, 6)
        assert got == exp_merges, (wc, got, exp_merges)
        got_segs = {r["w"]: list(r["syms"]) for r in wt.collect()}
        assert got_segs == exp_segs
    # encode: trained words use their segmentation, OOV falls back to chars
    docs = spark.createDataFrame([(1, "low low newest")], "doc_id long, text string")
    merges, wt = train_bpe(docs, num_merges=4)
    enc = bpe_encode(
        spark.createDataFrame([(7, "low zap")], "doc_id long, text string"), wt
    )
    toks = [r["token"] for r in enc.orderBy("pos").collect()]
    seg_low = {r["w"]: list(r["syms"]) for r in wt.collect()}["low"]
    assert toks == seg_low + ["z", "a", "p", "</w>"]


def test_ivf_index_add_and_append_save(spark, tmp_path):
    """Incremental IVF ingestion: vectors added to an existing index are
    findable by ivf_query with the same results as an index built with
    _assign_buckets over the union (centroids FIXED — the maintenance
    contract); append_save writes only new files and keeps probe-time
    partition pruning intact."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.similarity import (
        IvfIndex,
        _assign_buckets,
        ivf_build_fixed,
        ivf_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    first, second = emb.filter("vec_id < 250"), emb.filter("vec_id >= 250")
    idx = ivf_build_fixed(first, n_centroids=8)
    grown = idx.add(second)
    assert grown.assigned.count() == emb.count()
    # equivalent to assigning the union against the SAME centroids
    ref = _assign_buckets(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").cast("array<double>").alias("cv"),
        ),
        idx.centroids,
    )
    assert {(r["neighbor_id"], r["bucket"]) for r in grown.assigned.collect()} == {
        (r["neighbor_id"], r["bucket"]) for r in ref.collect()
    }
    q = emb.filter("vec_id >= 495")  # queries drawn from the ADDED batch
    got = ivf_query(grown, q, k=3, n_probe=3, round_to=4).collect()
    assert len(got) == q.count() * 3
    # persisted flavor: save the initial index, append the second batch
    path = str(tmp_path / "ivf_grow")
    idx.save(path)
    loaded = IvfIndex.append_save(IvfIndex.load(spark, path), path, second)
    assert loaded.assigned.count() == emb.count()
    want = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in got}
    have = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_query(loaded, q, k=3, n_probe=3, round_to=4).collect()
    }
    assert have == want
    # pruning survives the append: probing a subset selects a partition filter
    plan = loaded.assigned.filter(F.col("bucket") == 3)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan or "bucket#" in plan


# ---------------------------------------------------------------- r7 advice regressions
def test_resize_images_survives_corrupt_payload(spark):
    """ADVICE r7: one corrupt/truncated image payload must not kill the
    whole resize job — the row comes back with payload=None (the same
    corpus-scale contract _pil_features honors via zero-fill)."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    buf = io.BytesIO()
    PIL_Image.new("RGB", (16, 12), color=(1, 2, 3)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [
            (0, "image", png, "image/png", 16, 12, 0),
            (1, "image", b"\x89PNG\r\n\x1a\nnot-really", "image/png", 0, 0, 0),
            (2, "image", png[: len(png) // 2], "image/png", 16, 12, 0),
        ],
        schema=MM.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in MM.resize_images(media, 8, 8).collect()}
    assert len(rows) == 3  # no row lost, no job crash
    assert rows[0]["payload"] is not None
    assert rows[1]["payload"] is None and rows[2]["payload"] is None


def test_neardup_index_distinct_paths_distinct_tables(spark, tmp_path):
    """ADVICE r7: /tmp/a/b and /tmp/a_b must not collapse to one catalog
    name, and load() must not trust a same-named entry whose LOCATION is
    some other path's index."""
    from pd_explain_spark.functions.dedup import NearDupIndex

    pa = str(tmp_path / "a" / "b")
    pb = str(tmp_path / "a_b")
    assert NearDupIndex._table_name(pa) != NearDupIndex._table_name(pb)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corp_a, corp_b = docs.filter("doc_id < 40"), docs.filter("doc_id >= 40")
    new = docs.filter("doc_id < 10")
    NearDupIndex.build(corp_a).save(pa, buckets=4)
    NearDupIndex.build(corp_b).save(pb, buckets=4)

    def corpus_ids(idx):
        return {r["id"] for r in idx.inv.select("id").distinct().collect()}

    ids_a = corpus_ids(NearDupIndex.load(spark, pa))
    ids_b = corpus_ids(NearDupIndex.load(spark, pb))
    assert ids_a == {r["doc_id"] for r in corp_a.select("doc_id").collect()}
    assert ids_b == {r["doc_id"] for r in corp_b.select("doc_id").collect()}

    # stale catalog entry under pb's name pointing at pa's files: load(pb)
    # must detect the LOCATION mismatch and re-register, not silently
    # serve corpus A's inverted table with corpus B's sizes
    name_b = NearDupIndex._table_name(pb)
    spark.sql(f"DROP TABLE IF EXISTS {name_b}")
    schema = spark.read.parquet(f"{pb}/inv").schema
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(
        f"CREATE TABLE {name_b} ({ddl}) USING PARQUET "
        f"CLUSTERED BY (shingle) SORTED BY (shingle) INTO 4 BUCKETS "
        f"LOCATION '{pa}/inv'"
    )
    assert corpus_ids(NearDupIndex.load(spark, pb)) == ids_b


def test_ivf_append_save_idempotent_per_batch(spark, tmp_path):
    """ADVICE r7: re-running append_save on the same batch (retry after a
    partial failure) must not append duplicate assignment rows or inflate
    ivf_query candidate sets with duplicate neighbors."""
    from pd_explain_spark.functions.similarity import IvfIndex, ivf_build_fixed, ivf_query

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    first, second = emb.filter("vec_id < 250"), emb.filter("vec_id >= 250")
    path = str(tmp_path / "ivf_idem")
    ivf_build_fixed(first, n_centroids=8).save(path)
    once = IvfIndex.append_save(IvfIndex.load(spark, path), path, second)
    n_total = emb.count()
    assert once.assigned.count() == n_total
    twice = IvfIndex.append_save(IvfIndex.load(spark, path), path, second)
    assert twice.assigned.count() == n_total  # idempotent re-ingest
    assert twice.assigned.select("neighbor_id").distinct().count() == n_total
    q = emb.filter("vec_id >= 495")
    got = ivf_query(twice, q, k=3, n_probe=3, round_to=4).collect()
    assert len(got) == q.count() * 3  # no duplicate neighbors in top-k
    # in-memory flavor: add() twice is also a no-op the second time
    grown = ivf_build_fixed(first, n_centroids=8).add(second).add(second)
    assert grown.assigned.count() == n_total


def test_pair_budget_bounds_explosive_dedup(spark):
    """VERDICT r6 #6: max_pairs_per_doc caps the pair blow-up on a
    verbatim-duplicated corpus — top-N partners per doc through a
    WindowGroupLimit, defaults unchanged (exact candidate set)."""
    from pd_explain_spark.functions.dedup import (
        edit_distance_pairs,
        minhash_near_duplicates,
    )

    # a 30-doc verbatim cluster + 10 distinct docs: the adversarial shape
    clones = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(30)]
    distinct = [(100 + i, f"completely different text number {i} with its own unique words {i}") for i in range(10)]
    df = spark.createDataFrame(clones + distinct, "doc_id long, text string")

    full = edit_distance_pairs(df, max_dist=5)
    # unbudgeted: quadratic in cluster size (the 30-clone cluster alone
    # contributes 435 pairs; the near-identical "distinct" docs add more)
    assert full.filter("id_a < 30 AND id_b < 30").count() == 30 * 29 // 2
    capped = edit_distance_pairs(df, max_dist=5, max_pairs_per_doc=3)
    n_capped = capped.count()
    assert n_capped <= 40 * 3  # bounded by n_docs x N
    # every clone still participates in >= 1 pair: the cluster stays
    # discoverable, only redundant pairs are shed
    touched = {r["id_a"] for r in capped.collect()} | {r["id_b"] for r in capped.collect()}
    assert touched >= set(range(30))

    # max_df=None: the clone shingles sit in 75% of docs, which the
    # default boilerplate guard would prune from the signature path
    mh_full = minhash_near_duplicates(df, threshold=0.9, max_df=None)
    mh_capped = minhash_near_duplicates(
        df, threshold=0.9, max_df=None, max_pairs_per_doc=3
    )
    assert mh_full.filter("id_a < 30 AND id_b < 30").count() == 30 * 29 // 2
    assert 0 < mh_capped.count() <= 40 * 3

    # plan pin on the pre-checkpoint fragment (the public entry points
    # localCheckpoint their result, which hides the plan): the budget
    # rank-filter must compile to WindowGroupLimit — a bounded per-id
    # heap, not a full per-id sort
    from pd_explain_spark.functions.dedup import (
        _budget_pairs,
        _shingle_index,
        minhash_lsh_candidates,
        _signatures_from_index,
    )
    from pyspark.sql import functions as F

    inv = _shingle_index(df, "text", "doc_id", 3)
    sigs = _signatures_from_index(inv, 16)
    lsh = minhash_lsh_candidates(sigs, 4, 4, max_pairs_per_doc=3)
    assert "WindowGroupLimit" in lsh._jdf.queryExecution().executedPlan().toString()
    scored = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__n_shared"))
    )
    assert "WindowGroupLimit" in _budget_pairs(scored, 3)._jdf.queryExecution().executedPlan().toString()


def test_minhash_pairs_against_subset_and_boilerplate_exact(spark):
    """Cross-corpus MinHash (r7): LSH candidates verified exactly, so
    (1) every reported pair also appears in the exact cross-corpus
    Jaccard scan with the SAME value, (2) a boilerplate-heavy true
    near-dup keeps its exact (not underestimated) Jaccard even with
    max_df pruning the hot shingles from the signature path, and
    (3) minhash_dedup_against removes exactly the flagged new ids."""
    from pd_explain_spark.functions.dedup import (
        minhash_dedup_against,
        minhash_pairs_against,
        near_dup_pairs_against,
    )

    boiler = "all rights reserved contact us terms of service apply here"
    corpus = [(i, f"corpus document {i} body text {i} " + boiler) for i in range(20)]
    # new doc 100 is a near-dup of corpus doc 3 (shares body + boilerplate)
    new = [(100, f"corpus document 3 body text 3 " + boiler),
           (101, "a completely fresh document about spark adaptive execution")]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    ndf = spark.createDataFrame(new, "doc_id long, text string")

    exact = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in near_dup_pairs_against(ndf, cdf, threshold=0.3).collect()
    }
    mh = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in minhash_pairs_against(
            ndf, cdf, num_hashes=16, bands=8, threshold=0.3, max_df=0.5
        ).collect()
    }
    assert mh  # the planted near-dup is found
    for pair, j in mh.items():
        assert exact.get(pair) == j  # exact verify: same value, no underestimate
    assert (100, 3) in mh and mh[(100, 3)] == 1.0
    survivors = {
        r["doc_id"]
        for r in minhash_dedup_against(
            ndf, cdf, num_hashes=16, bands=8, threshold=0.3, max_df=0.5
        ).collect()
    }
    assert survivors == {101}


def test_simhash_pairs_against_planted_and_batch_parity(spark):
    """Cross-corpus SimHash (r8): a one-token-off twin of a corpus doc
    is flagged with the same Hamming distance the batch flavor reports
    on the union; an unrelated doc is not; simhash_dedup_against keeps
    exactly the unflagged new rows."""
    from pd_explain_spark.functions.dedup import (
        simhash_dedup_against,
        simhash_near_duplicates,
        simhash_pairs_against,
    )

    corpus = [(i, " ".join(f"w{i}t{j}" for j in range(40))) for i in range(5)]
    base = " ".join(f"tok{j}" for j in range(60))
    corpus.append((9, base))
    new = [
        (100, " ".join(f"tok{j}" for j in range(59)) + " tokX"),  # twin of 9
        (101, " ".join(f"fresh{j}" for j in range(60))),
    ]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    ndf = spark.createDataFrame(new, "doc_id long, text string")

    cross = {
        (r["new_id"], r["corpus_id"]): r["hamming"]
        for r in simhash_pairs_against(ndf, cdf, max_hamming=8).collect()
    }
    assert (100, 9) in cross and (101, 9) not in cross
    assert all(h <= 8 for h in cross.values())

    # batch parity: the same pair set (and distances) falls out of the
    # single-corpus flavor on the union, restricted to cross pairs
    batch = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(cdf.union(ndf), max_hamming=8).collect()
    }
    new_ids, corp_ids = {100, 101}, {i for i, _ in corpus}
    batch_cross = {
        (max(p), min(p)): h
        for p, h in batch.items()
        if (p[0] in new_ids) != (p[1] in new_ids)
    }
    assert batch_cross == cross

    survivors = {
        r["doc_id"] for r in simhash_dedup_against(ndf, cdf, max_hamming=8).collect()
    }
    assert survivors == {101}


def test_corpus_diff_statuses_and_normalization(spark):
    from pd_explain_spark import corpus_diff

    old = spark.createDataFrame(
        [(1, "hello world"), (2, "stays"), (3, "goes away"), (4, None)],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, "  HELLO   world "), (2, "stays put"), (5, "brand new"), (4, None)],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "unchanged",  # whitespace/case-only edit normalizes away
        2: "changed",
        3: "removed",
        4: "unchanged",  # NULL on both sides: no content either way
        5: "added",
    }


def test_char_entropy_flags_padding_and_gibberish(spark):
    from pd_explain_spark import char_entropy_scores

    df = spark.createDataFrame(
        [
            (1, "aaaa aaaa aaaa aaaa"),                  # padding: near 0
            (2, "the quick brown fox jumps over it"),    # prose: mid
            (3, "qx9#kz@7vw!m2pj$ur5&ty8^eb3*"),         # gibberish: high
            (4, ""),
            (5, None),
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in char_entropy_scores(df).collect()}
    assert rows[1]["char_entropy"] < 1.0
    assert 3.0 < rows[2]["char_entropy"] < 4.5
    assert rows[3]["char_entropy"] > rows[2]["char_entropy"]
    assert rows[4]["char_entropy"] is None and rows[4]["n_chars_norm"] == 0
    assert rows[5]["char_entropy"] is None and rows[5]["n_chars_norm"] == 0
    # exact check: "aabb" -> 1 bit, "abcd" -> 2 bits
    tiny = spark.createDataFrame(
        [(1, "aabb"), (2, "abcd")], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["char_entropy"] for r in char_entropy_scores(tiny).collect()}
    assert got == {1: 1.0, 2: 2.0}


def test_source_gates_drop_bad_domains_wholesale(spark):
    from pd_explain_spark import source_gates

    good = "the cat and the dog sat in the sun. " * 10
    # 6 tokens, no stopwords: quality = 0.5*6/50 + 0.3 = 0.36 < 0.5
    spam = "buy buy buy now now now"
    rows = (
        [(i, good, "good.example") for i in range(6)]
        + [(10 + i, spam, "spam.example") for i in range(6)]
        + [(20 + i, good, "tiny.example") for i in range(2)]   # < min_docs
        + [(30 + i, good, "blocked.example") for i in range(6)]
        + [(40, good, None)]                                    # no domain evidence
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = source_gates(
        df, min_docs=5, min_mean_quality=0.5, blocklist=["blocked.example"]
    )
    got = {(r["doc_id"], r["source"]) for r in out.select("doc_id", "source").collect()}
    # only the good domain survives — spam mean-quality cut, tiny under
    # min_docs, blocked explicit, NULL-source dropped
    assert got == {(i, "good.example") for i in range(6)}
    meta = out.select("source_docs", "source_mean_quality").distinct().collect()
    assert len(meta) == 1 and meta[0]["source_docs"] == 6
    assert 0.5 <= meta[0]["source_mean_quality"] <= 1.0


def test_bloom_dedup_matches_exact_even_undersized(spark, sf_dir):
    from pyspark.sql import functions as F

    from pd_explain_spark import (
        bloom_build,
        bloom_dedup_against,
        bloom_merge,
        dedup_against,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new, corp = docs.filter("doc_id >= 250"), docs.filter("doc_id < 250")
    want = {r["doc_id"] for r in dedup_against(new, corp).select("doc_id").collect()}
    # m_bits=64 saturates the filter: nearly everything is a "maybe",
    # the exact re-verify must still restore dedup_against exactly
    got = {
        r["doc_id"]
        for r in bloom_dedup_against(new, corp, m_bits=64, k_hashes=2)
        .select("doc_id")
        .collect()
    }
    assert got == want
    # well-sized filter: same answer, and the bloom is bounded
    bl = bloom_build(corp, m_bits=65536, k_hashes=4)
    assert bl.count() <= 65536
    got2 = {
        r["doc_id"]
        for r in bloom_dedup_against(new, corp, bloom=bl, m_bits=65536, k_hashes=4)
        .select("doc_id")
        .collect()
    }
    assert got2 == want
    # pure-filter mode (no corpus): definite-novel only — a subset that
    # loses at most the maybes, never admits a true duplicate
    pure = {
        r["doc_id"]
        for r in bloom_dedup_against(
            new, corpus_df=None, bloom=bl, m_bits=65536, k_hashes=4
        )
        .select("doc_id")
        .collect()
    }
    assert pure <= want
    dup_ids = {r["doc_id"] for r in new.select("doc_id").collect()} - want
    assert not (pure & dup_ids)
    # merged per-shard blooms == whole-corpus bloom
    half_a = bloom_build(corp.filter("doc_id < 100"), m_bits=65536, k_hashes=4)
    half_b = bloom_build(corp.filter("doc_id >= 100"), m_bits=65536, k_hashes=4)
    merged = bloom_merge(half_a, half_b)
    assert merged.exceptAll(bl).count() == 0 and bl.exceptAll(merged).count() == 0
    # NULL-text rows are definitely-novel and never mutually deduped
    withnull = spark.createDataFrame(
        [(9001, None), (9002, None)], "doc_id bigint, text string"
    )
    out = bloom_dedup_against(
        withnull, corp.select("doc_id", "text"), m_bits=1024, k_hashes=2
    )
    assert {r["doc_id"] for r in out.collect()} == {9001, 9002}


def test_sketch_param_mismatch_fails_loud(spark, tmp_path):
    import pytest as _pytest

    from pd_explain_spark import bloom_build, bloom_dedup_against, cms_build, cms_heavy_grams

    docs = spark.createDataFrame(
        [(i, f"doc {i} text body words here") for i in range(20)],
        "doc_id bigint, text string",
    )
    # a CMS probed with other (width, depth) would silently zero
    # estimates and drop true heavy hitters — must raise instead
    sk = cms_build(docs, n=2, width=64, depth=3)
    with _pytest.raises(ValueError, match="width"):
        cms_heavy_grams(docs, min_count=1, n=2, width=32, depth=3, sketch=sk)
    with _pytest.raises(ValueError, match="width|depth"):
        cms_heavy_grams(docs, min_count=1, n=2, width=64, depth=2, sketch=sk)
    # a bloom probed with other (m_bits, k_hashes) would silently leak
    # duplicates past the re-verify — must raise, including after a
    # parquet round-trip (params ride as column metadata)
    bl = bloom_build(docs, m_bits=1024, k_hashes=4)
    with _pytest.raises(ValueError, match="m_bits"):
        bloom_dedup_against(docs, docs, bloom=bl, m_bits=512, k_hashes=4)
    with _pytest.raises(ValueError, match="k_hashes"):
        bloom_dedup_against(docs, docs, bloom=bl, m_bits=1024, k_hashes=2)
    p = str(tmp_path / "bloom_rt")
    bl.write.parquet(p)
    rt = spark.read.parquet(p)
    with _pytest.raises(ValueError, match="m_bits"):
        bloom_dedup_against(docs, docs, bloom=rt, m_bits=512, k_hashes=4)
    # matching params still run end to end
    assert bloom_dedup_against(docs, docs, bloom=rt, m_bits=1024, k_hashes=4).count() == 0
    # metadata-less filter (select/selectExpr PRESERVE field metadata —
    # strip it explicitly): the structural max-bit check still catches
    # an undersized probe
    from pyspark.sql import functions as F

    bare = bl.select(F.col("pos").alias("pos", metadata={}))
    assert not bare.schema["pos"].metadata
    with _pytest.raises(ValueError, match="different parameters"):
        bloom_dedup_against(docs, docs, bloom=bare, m_bits=8, k_hashes=4)


def test_cms_merge_equals_whole_corpus_sketch(spark, sf_dir):
    from pd_explain_spark import cms_build, cms_merge

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    whole = cms_build(docs, n=2, width=256, depth=3)
    merged = cms_merge(
        cms_build(docs.filter("doc_id < 250"), n=2, width=256, depth=3),
        cms_build(docs.filter("doc_id >= 250"), n=2, width=256, depth=3),
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_random_projection_preserves_distances_roughly(spark, sf_dir):
    import itertools
    import math

    from pyspark.sql import functions as F

    from pd_explain_spark import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter("vec_id < 40")
    out = random_projection(emb, out_dim=32, out_col="proj")
    rows = {
        r["vec_id"]: (r["embedding"], r["proj"])
        for r in out.select("vec_id", "embedding", "proj").collect()
    }
    assert all(len(p) == 32 for _, p in rows.values())

    def l2(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ratios = []
    ids = sorted(rows)[:15]
    for a, b in itertools.combinations(ids, 2):
        d_hi = l2(rows[a][0], rows[b][0])
        d_lo = l2(rows[a][1], rows[b][1])
        if d_hi > 0:
            ratios.append(d_lo / d_hi)
    # JL at out_dim=32: distances preserved within a loose band, and
    # unbiased on average
    assert 0.8 < sum(ratios) / len(ratios) < 1.2
    assert all(0.4 < r < 1.9 for r in ratios), sorted(ratios)[:3]
    # deterministic under the seed; NULL vectors stay NULL
    again = random_projection(emb, out_dim=32, out_col="proj")
    assert again.select("vec_id", "proj").exceptAll(
        out.select("vec_id", "proj")
    ).count() == 0
    withnull = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    nulled = random_projection(withnull, out_dim=8)
    assert nulled.filter("vec_id = 0").first()["embedding"] is None
    assert nulled.filter("vec_id = 1").first()["embedding"] is not None


def test_pq_adc_exact_when_corpus_is_its_own_codebook(spark):
    import itertools

    from pd_explain_spark import pq_build_fixed, pq_encode, pq_topk

    # n_codes = corpus size: every vector donates its sub-vectors to the
    # codebook, so encoding is lossless and ADC == the true L2^2
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    cb = pq_build_fixed(df, m=2, n_codes=4)
    assert cb.count() == 8  # m * n_codes
    codes = pq_encode(df, cb)
    # row-form code table: m rows per vector
    assert codes.count() == 8
    out = pq_topk(df, df, k=3, m=2, n_codes=4)
    got = {(r["query_id"], r["neighbor_id"]): r["adc_dist"] for r in out.collect()}
    expect = {
        (qi, ni): sum((x - y) ** 2 for x, y in zip(qv, nv))
        for (qi, qv), (ni, nv) in itertools.product(vecs, vecs)
        if qi != ni
    }
    assert set(got) == set(expect)
    assert all(abs(expect[k] - v) < 1e-6 for k, v in got.items())
    # fit-once reuse: a supplied codebook + code table reproduce the run
    again = pq_topk(df, df, k=3, m=2, n_codes=4, codebook=cb, codes=codes)
    assert {(r["query_id"], r["neighbor_id"]) for r in again.collect()} == set(got)
    # dim not divisible by m is a loud contract error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        pq_build_fixed(df, m=3, n_codes=4)


def test_ivf_pq_equals_pq_when_probing_all_buckets(spark, sf_dir):
    from pd_explain_spark import ivf_pq_topk, pq_build_fixed, pq_encode
    from pd_explain_spark.functions.similarity import ivf_build_fixed, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter("vec_id < 120")
    q = emb.filter("vec_id < 5")
    # n_probe = n_centroids: no pruning, so IVF-PQ must reproduce the
    # full-scan ADC ranking exactly
    full = ivf_pq_topk(emb, q, k=5, n_centroids=8, n_probe=8, m=4, n_codes=8)
    plain = pq_topk(emb, q, k=5, m=4, n_codes=8)
    a = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()]
    b = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in plain.collect()]
    assert sorted(a) == sorted(b) and len(a) == 25
    # pruned probe: every result still comes from the query's probed
    # buckets, and the candidate set is a subset of the full scan's
    pruned = ivf_pq_topk(emb, q, k=5, n_centroids=8, n_probe=2, m=4, n_codes=8)
    pruned_pairs = {(r["query_id"], r["neighbor_id"]) for r in pruned.collect()}
    idx = ivf_build_fixed(emb, n_centroids=8)
    bucket_of = {r["neighbor_id"]: r["bucket"] for r in idx.assigned.collect()}
    probed = {}
    for r in (
        ivf_pq_topk(emb, q, k=500, n_centroids=8, n_probe=2, m=4, n_codes=8)
        .collect()
    ):
        probed.setdefault(r["query_id"], set()).add(bucket_of[r["neighbor_id"]])
    assert all(len(bs) <= 2 for bs in probed.values())
    # fit-once / serve-many: prebuilt structures reproduce the run
    cb = pq_build_fixed(emb, m=4, n_codes=8)
    again = ivf_pq_topk(
        emb, q, k=5, n_probe=2, n_centroids=8, m=4, n_codes=8,
        index=idx, codebook=cb, codes=pq_encode(emb, cb),
    )
    assert {(r["query_id"], r["neighbor_id"]) for r in again.collect()} == pruned_pairs


def test_cms_heavy_grams_exact_despite_collisions(spark):
    from pyspark.sql import functions as F

    from pd_explain_spark import cms_build, cms_heavy_grams

    # planted counts: "a b" x5 (doc 1), "c d" x3 (doc 2), 8 singleton
    # bigrams (doc 3 is one long distinct chain)
    docs = spark.createDataFrame(
        [
            (1, " ".join(["a b"] * 5)),
            (2, "c d c d c d"),
            (3, "e f g h i j k l m"),
        ],
        "doc_id bigint, text string",
    )
    # width=2 forces heavy hash collisions: estimates inflate, the
    # exact re-verify must still return exactly the true heavy set
    out = cms_heavy_grams(docs, min_count=3, n=2, width=2, depth=2)
    rows = {r["gram"]: (r["est_count"], r["exact_count"]) for r in out.collect()}
    # true counts: "a b"=5, "b a"=4, "c d"=3, "d c"=2, chain grams =1
    assert set(rows) == {"a b", "b a", "c d"}
    assert rows["a b"][1] == 5 and rows["b a"][1] == 4 and rows["c d"][1] == 3
    # CMS never undercounts
    assert all(est >= exact for est, exact in rows.values())
    # sketch is bounded: at most width*depth non-empty cells
    assert cms_build(docs, n=2, width=2, depth=2).count() <= 4
    # fit-once / probe-many: a caller-supplied sketch reproduces the result
    sk = cms_build(docs, n=2, width=2, depth=2)
    again = cms_heavy_grams(docs, min_count=3, n=2, width=2, depth=2, sketch=sk)
    assert {r["gram"] for r in again.collect()} == set(rows)


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR (r7): docs sharing the target corpus's vocabulary must score
    higher log-weights than off-distribution docs; resampling pulls the
    mix toward the target; a fitted ratio table is reusable across
    batches; zero-gram docs survive with weight 0."""
    from pd_explain_spark.functions.mixing import (
        dsir_log_ratios,
        dsir_sample,
        dsir_weights,
    )

    target = [(i, "spark catalyst optimizer shuffles partitions adaptively " * 3) for i in range(20)]
    raw = (
        [(100 + i, "spark catalyst optimizer shuffles partitions adaptively " * 3) for i in range(10)]
        + [(200 + i, "cooking pasta requires salted boiling water and patience " * 3) for i in range(10)]
        + [(300, "   ")]  # zero grams
    )
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    w = {r["doc_id"]: r for r in dsir_weights(rdf, tdf, n_buckets=128).collect()}
    assert len(w) == 21  # row conservation incl. the zero-gram doc
    assert w[300]["n_grams"] == 0 and w[300]["log_weight"] == 0.0
    on = [w[100 + i]["log_weight"] for i in range(10)]
    off = [w[200 + i]["log_weight"] for i in range(10)]
    assert min(on) > max(off)  # target-like beats off-distribution
    # resampling: a k=8 draw is dominated by target-like docs
    picked = {r["doc_id"] for r in dsir_sample(rdf, tdf, k=8, n_buckets=128).collect()}
    assert len(picked) == 8
    assert sum(1 for d in picked if d < 200) >= 6
    # precomputed ratio table gives identical weights (the score-many-
    # batches-against-one-model contract)
    ratios = dsir_log_ratios(rdf, tdf, n_buckets=128)
    w2 = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights(rdf, tdf, n_buckets=128, ratios=ratios).collect()
    }
    assert w2 == {k: v["log_weight"] for k, v in w.items()}


def test_brute_force_topk_arrow_matches_jvm_flavor(spark, embeddings):
    """Arrow/BLAS dense fast path (r7): identical (query, neighbor,
    rank) sets and 6dp-equal sims vs the oracle-backed JVM-expression
    flavor; zero-norm queries raise; empty query set yields an empty
    frame with the contract schema."""
    import pytest as _pytest

    from pd_explain_spark.functions.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    q = embeddings.filter("vec_id < 10")
    a = brute_force_topk(embeddings, q, k=4).collect()
    b = brute_force_topk_arrow(embeddings, q, k=4).collect()
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in a} == {
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in b
    }
    sims_a = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in a}
    for r in b:
        assert sims_a[(r["query_id"], r["neighbor_id"])] == r["cosine_sim"]
    empty = brute_force_topk_arrow(embeddings, q.filter("vec_id < 0"), k=4)
    assert empty.count() == 0 and empty.columns == [
        "query_id", "neighbor_id", "rank", "cosine_sim",
    ]
    zq = q.selectExpr("vec_id", "transform(embedding, x -> float(0.0)) AS embedding")
    # zero-norm queries have no ranking: dropped on BOTH flavors (an
    # all-zero query set yields the empty frame, not a whole-job error)
    assert brute_force_topk_arrow(embeddings, zq, k=4).count() == 0
    assert brute_force_topk(embeddings, zq, k=4).count() == 0
    # tie-break contract under duplicate embeddings (the near-dup corpus
    # shape): >= k+2 identical vectors in one batch must keep the
    # SMALLEST neighbor ids, exactly like the JVM flavor's
    # (-sim, neighbor_id) ordering — a bare argpartition truncation
    # keeps an arbitrary tied subset and failed this
    dup = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in (30, 20, 40, 10, 50, 60)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    qd = dup.filter("vec_id = 60")
    a2 = brute_force_topk(dup, qd, k=2).collect()
    b2 = brute_force_topk_arrow(dup, qd, k=2).collect()
    want = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in a2}
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in b2} == want
    assert {r["neighbor_id"] for r in b2} == {10, 20}
    # zero-norm CORPUS rows are excluded (cosine undefined), never ranked
    zc = dup.unionByName(
        spark.createDataFrame([(5, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    )
    b3 = brute_force_topk_arrow(zc, qd, k=6).collect()
    assert 5 not in {r["neighbor_id"] for r in b3}


def test_neardup_index_append_save_grows_and_is_idempotent(spark, tmp_path):
    """NearDupIndex.append_save (r7): appending a batch yields the same
    pairs as an index rebuilt over the full corpus; re-appending the
    same batch is a no-op (idempotent retry); the catalog table keeps
    its bucket spec after the append."""
    from pd_explain_spark.functions.dedup import NearDupIndex, near_dup_pairs_against

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    first, second = docs.filter("doc_id < 150"), docs.filter("doc_id >= 150 AND doc_id < 250")
    probe = docs.filter("doc_id >= 250")
    path = str(tmp_path / "nd_grow")
    idx = NearDupIndex.build(first).save(path, buckets=8)
    grown = idx.append_save(path, second)

    def pairset(df):
        return {(r["new_id"], r["corpus_id"], r["jaccard"]) for r in df.collect()}

    expect = pairset(
        near_dup_pairs_against(probe, docs.filter("doc_id < 250"), threshold=0.2)
    )
    assert pairset(grown.pairs_against(probe, threshold=0.2)) == expect
    n_docs = grown.sizes.count()
    again = grown.append_save(path, second)  # retry: must not double-index
    assert again.sizes.count() == n_docs
    assert pairset(again.pairs_against(probe, threshold=0.2)) == expect
    # bucket spec survives the append
    desc = spark.sql(
        f"DESCRIBE TABLE EXTENDED {NearDupIndex._table_name(path)}"
    ).collect()
    txt = "\n".join(f"{r['col_name']} {r['data_type']}" for r in desc)
    assert "8" in txt and "Bucket" in txt, txt

    # crash between the two writes: simulate a run that appended the inv
    # rows but died before the sizes write — the retry must NOT
    # double-index those inv rows AND must backfill the missing sizes
    from pd_explain_spark.functions.dedup import _shingle_index

    third = docs.filter("doc_id >= 250 AND doc_id < 300")
    path2 = str(tmp_path / "nd_crash")
    NearDupIndex.build(first).save(path2, buckets=8)
    name2 = NearDupIndex._table_name(path2)
    (
        _shingle_index(third, "text", "doc_id", 3)
        .write.mode("append").option("path", f"{path2}/inv")
        .bucketBy(8, "shingle").sortBy("shingle").saveAsTable(name2)
    )
    healed = NearDupIndex.load(spark, path2).append_save(path2, third)
    full_ref = NearDupIndex.build(docs.filter("doc_id < 150 OR (doc_id >= 250 AND doc_id < 300)"))
    # inv has exactly one copy of every (id, shingle) row
    assert healed.inv.count() == full_ref.inv.count()
    # sizes were backfilled for the crashed batch
    assert healed.sizes.count() == full_ref.sizes.count()


def _index_ids(idx):
    return {r["id"] for r in getattr(idx, idx._DATA).select("id").distinct().collect()}


def _fresh_index_state(spark, cls, path):
    """(indexed ids, declared bucket count) of the index at ``path`` as
    a session whose catalog does not know it sees it."""
    spark.sql(f"DROP TABLE IF EXISTS {cls._table_name(path)}")
    idx = cls.load(spark, path)
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {cls._table_name(path)}").collect()
    buckets = next(int(r["data_type"]) for r in desc if r["col_name"] == "Num Buckets")
    return _index_ids(idx), buckets


@pytest.mark.parametrize("mode", ["append", "ignore", "errorifexists", "overwrite"])
@pytest.mark.parametrize("cls_name", ["NearDupIndex", "SimHashIndex"])
def test_persisted_index_save_modes(spark, sf_dir, tmp_path, cls_name, mode):
    """Every save mode over a path that already holds an index, for both
    persisted indexes: append is rejected (append_save grows an index);
    ignore writes nothing and returns the saved index, also in a session
    whose catalog does not know it; errorifexists raises before any
    write; overwrite replaces table, sidecars and meta, also over an
    index whose meta is an older ``meta/`` parquet directory."""
    cls = getattr(D, cls_name)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corp_a = docs.filter("doc_id < 30")
    corp_b = docs.filter("doc_id >= 30 AND doc_id < 60")
    ids_a = {r["doc_id"] for r in corp_a.select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in corp_b.select("doc_id").collect()}
    path = str(tmp_path / "idx")
    cls.build(corp_a).save(path, buckets=4)
    other = cls.build(corp_b)
    if mode == "append":
        with pytest.raises(ValueError, match="append_save"):
            other.save(path, buckets=4, mode="append")
        assert _fresh_index_state(spark, cls, path) == (ids_a, 4)
    elif mode == "ignore":
        spark.sql(f"DROP TABLE {cls._table_name(path)}")
        assert _index_ids(other.save(path, buckets=8, mode="ignore")) == ids_a
        assert _fresh_index_state(spark, cls, path) == (ids_a, 4)
    elif mode == "errorifexists":
        with pytest.raises(FileExistsError):
            other.save(path, buckets=8)
        assert _fresh_index_state(spark, cls, path) == (ids_a, 4)
    else:
        spark.createDataFrame([(3, 4)], "n int, buckets int").write.mode(
            "overwrite"
        ).parquet(f"{path}/meta")
        got = other.save(path, buckets=8, mode="overwrite")
        assert _index_ids(got) == ids_b
        if cls is D.NearDupIndex:
            assert sorted(r["id"] for r in got.sizes.collect()) == sorted(ids_b)
        assert _fresh_index_state(spark, cls, path) == (ids_b, 8)


@pytest.mark.parametrize("cls_name", ["NearDupIndex", "SimHashIndex"])
def test_persisted_index_drop_keeps_files(spark, sf_dir, tmp_path, cls_name):
    """drop() removes the index's catalog entry and keeps its files; a
    later load() registers them again and probes to the same pairs. The
    meta.json round trip launches no Spark job."""
    cls = getattr(D, cls_name)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corp, new = docs.filter("doc_id < 250"), docs.filter("doc_id >= 250")
    kw = {"threshold": 0.2} if cls is D.NearDupIndex else {"max_hamming": 10}
    path = str(tmp_path / "idx")
    name = cls._table_name(path)

    def pairset(idx):
        return sorted(tuple(r) for r in idx.pairs_against(new, **kw).collect())

    before = pairset(cls.build(corp).save(path, buckets=4))
    assert before and spark.catalog.tableExists(name)
    # the meta sidecar is read and written on the driver: no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("meta_io", "meta.json round trip")
    try:
        D._write_meta(spark, path, D._read_meta(spark, path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("meta_io")
    cls.drop(spark, path)
    assert not spark.catalog.tableExists(name)
    assert pairset(cls.load(spark, path)) == before
    cls.drop(spark, path)
    assert not spark.catalog.tableExists(name)



@pytest.mark.parametrize("cls_name", ["NearDupIndex", "SimHashIndex"])
def test_persisted_index_resave_onto_own_path_raises(spark, sf_dir, tmp_path, cls_name):
    """An index loaded from ``path`` cannot overwrite ``path``: its rows
    read the files the overwrite would empty first. save() raises before
    any drop or write, launches no Spark job, and the index stays
    loadable with the same rows."""
    cls = getattr(D, cls_name)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter("doc_id < 250")
    path = str(tmp_path / "idx")
    ids = _index_ids(cls.build(docs).save(path, buckets=4))
    loaded = cls.load(spark, path)
    sc = spark.sparkContext
    sc.setJobGroup("resave", "re-save onto own path")
    try:
        with pytest.raises(ValueError, match="read from"):
            loaded.save(path, buckets=4, mode="overwrite")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("resave")
    assert _fresh_index_state(spark, cls, path) == (ids, 4)
    cls.drop(spark, path)

_WITHIN_AND_AGAINST = {
    "ngram": (
        lambda d: D.ngram_jaccard_pairs(d, threshold=0.2),
        lambda d: D.near_dup_pairs_against(d, d, threshold=0.2),
    ),
    "ngram_max_df": (
        lambda d: D.ngram_jaccard_pairs(d, threshold=0.2, max_df=0.05),
        lambda d: D.near_dup_pairs_against(d, d, threshold=0.2, max_df=0.05),
    ),
    "minhash": (
        lambda d: D.minhash_near_duplicates(d, threshold=0.3),
        lambda d: D.minhash_pairs_against(d, d, threshold=0.3),
    ),
    "simhash": (
        lambda d: D.simhash_near_duplicates(d, max_hamming=10, hash_fn="md5"),
        lambda d: D.simhash_pairs_against(d, d, max_hamming=10, hash_fn="md5"),
    ),
    "edit_distance": (
        lambda d: D.edit_distance_pairs(d, max_dist=40),
        lambda d: D.edit_distance_pairs_against(d, d, max_dist=40),
    ),
}


@pytest.mark.parametrize("flavor", sorted(_WITHIN_AND_AGAINST))
def test_within_corpus_pairs_equal_corpus_against_itself(spark, sf_dir, flavor):
    """Each within-corpus flavor is its cross-corpus body on one index
    searched against itself: its pairs equal the corpus's cross-corpus
    pairs against itself, kept where new_id < corpus_id."""
    within, against = _WITHIN_AND_AGAINST[flavor]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(tuple(r) for r in within(docs).collect())
    want = sorted(tuple(r) for r in against(docs).filter("new_id < corpus_id").collect())
    assert got and got == want


def test_cross_corpus_pairs_across_int_and_string_ids(spark):
    """A batch with int ids against a corpus with string ids: the planted
    duplicate pairs up, each side keeps its own id type, and a
    numeric-looking string id stays as written (union type coercion would
    cast the string side to int: an error on 'c-9', '007' -> 7)."""
    dup = "the quick brown fox jumps over the lazy dog near the old river bank"
    new = spark.createDataFrame(
        [(1, dup), (2, "an entirely different sentence about spark jobs and query plans")],
        "doc_id int, text string",
    )
    corp = spark.createDataFrame(
        [("007", dup), ("c-9", "yet another unrelated line of text on the corpus side")],
        "doc_id string, text string",
    )
    for pairs in (
        D.near_dup_pairs_against(new, corp, threshold=0.5),
        D.minhash_pairs_against(new, corp, threshold=0.5, max_df=None),
    ):
        assert pairs.schema["new_id"].dataType.simpleString() == "int"
        assert pairs.schema["corpus_id"].dataType.simpleString() == "string"
        assert [tuple(r) for r in pairs.collect()] == [(1, "007", 1.0)]
    assert [r["doc_id"] for r in D.dedup_near_against(new, corp).collect()] == [2]


def test_null_text_docs_are_never_mutual_duplicates(spark):
    """NULL-text rows share no content: exact dedup must keep them ALL
    (r7 fix — SQL NULL-equality grouping silently collapsed them),
    while genuinely identical texts (including empty-after-normalize)
    still dedup; the incremental flavor behaves the same."""
    from pd_explain_spark.functions.dedup import (
        dedup_against,
        dedup_exact,
        exact_duplicates,
    )

    d = spark.createDataFrame(
        [(1, None), (2, None), (3, "same text"), (4, "same text"),
         (5, "   "), (6, "")],
        "doc_id long, text string",
    )
    survivors = sorted(r["doc_id"] for r in dedup_exact(d).collect())
    # both NULLs live; one of {3,4}; one of {5,6} (empty == empty content)
    assert survivors == [1, 2, 3, 5]
    groups = exact_duplicates(d).collect()
    null_groups = [g for g in groups if g["text_hash"] is None]
    assert len(null_groups) == 2 and all(g["dup_count"] == 1 for g in null_groups)
    corp = spark.createDataFrame([(100, "corpus doc")], "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup_against(d, corp).collect())
    assert kept == [1, 2, 3, 5]


def test_brute_force_topk_arrow_tolerates_null_vectors(spark, embeddings):
    """A NULL embedding row (dirty corpus) must not crash the Arrow
    matmul batch — it is filtered JVM-side, matching the JVM flavor
    where NULL sims sort last and never reach top-k."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )

    base = embeddings.select("vec_id", "embedding")
    dirty = base.unionByName(
        spark.createDataFrame([(9001, None)], "vec_id long, embedding array<float>")
    )
    q = base.filter("vec_id < 5")
    a = {(r["query_id"], r["neighbor_id"], r["rank"])
         for r in brute_force_topk(dirty, q, k=3).collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"])
         for r in brute_force_topk_arrow(dirty, q, k=3).collect()}
    assert a == b
    assert 9001 not in {n for _, n, _ in b}


def test_quality_classifier_separates_reference_like_docs(spark):
    """fasttext-style quality filter (r7): reference-like raw docs score
    strictly above off-distribution docs; scoring is row-conserving
    (zero-gram docs at sigmoid(intercept)); an empty reference raises."""
    import pytest as _pytest

    from pd_explain_spark.functions.classifier import (
        score_quality,
        train_quality_classifier,
    )

    ref = spark.createDataFrame(
        [(i, "spark catalyst optimizer shuffles partitions adaptively with codegen " * 2) for i in range(30)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(100 + i, "spark catalyst optimizer shuffles partitions adaptively with codegen " * 2) for i in range(10)]
        + [(200 + i, "buy cheap pills now click here winner casino bonus free money " * 2) for i in range(10)]
        + [(300, "   ")],
        "doc_id long, text string",
    )
    m = train_quality_classifier(raw, ref, n_buckets=256)
    got = {r["doc_id"]: r for r in score_quality(raw, m).collect()}
    assert len(got) == 21
    on = [got[100 + i]["quality_prob"] for i in range(10)]
    off = [got[200 + i]["quality_prob"] for i in range(10)]
    assert min(on) > max(off)
    import math

    expect_zero = round(1.0 / (1.0 + math.exp(-m.intercept)), 6)
    assert got[300]["n_grams"] == 0 and abs(got[300]["quality_prob"] - expect_zero) < 1e-9
    with _pytest.raises(ValueError):
        train_quality_classifier(raw, ref.filter("doc_id < 0"))


def test_hashed_embeddings_feed_the_similarity_stack(spark):
    """Feature-hashed text embeddings (r7): near-identical texts land
    cosine-near, unrelated texts far; the output drops straight into
    semantic_dedup_pairs; zero-gram docs get the zero vector; non-power-
    of-two dims are rejected (the sign bit is h >> log2(dim))."""
    import pytest as _pytest

    from pd_explain_spark.functions.similarity import brute_force_topk, semantic_dedup_pairs
    from pd_explain_spark.functions.text import hashed_embeddings

    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again today"),
         (2, "the quick brown fox jumps over the lazy dog again tonight"),
         (3, "completely different content about database query optimization"),
         (4, "   ")],
        "doc_id long, text string",
    )
    e = hashed_embeddings(d, dim=64).withColumnRenamed("doc_id", "vec_id")
    rows = {r["vec_id"]: list(r["embedding"]) for r in e.collect()}
    assert set(rows) == {1, 2, 3, 4} and all(len(v) == 64 for v in rows.values())
    assert rows[4] == [0.0] * 64
    tk = {r["neighbor_id"]: r["cosine_sim"]
          for r in brute_force_topk(e, e.filter("vec_id = 1"), k=2).collect()}
    assert tk[2] > 0.8 > tk.get(3, -1.0)
    pairs = {(r["id_a"], r["id_b"])
             for r in semantic_dedup_pairs(e, threshold=0.6, n_centroids=1).collect()}
    assert pairs == {(1, 2)}
    with _pytest.raises(ValueError):
        hashed_embeddings(d, dim=60)


def test_dsir_sample_threshold_matches_heap(spark):
    """The large-k threshold path (approx-quantile seed + exact binary
    search on the 4dp key grid + tie-set boundary fix-up) returns the
    IDENTICAL sample set — ids, weights, keys — as the TakeOrdered heap
    path, at k = corpus/2 and around every edge (odd k, k = n-1, k = n,
    k > n). VERDICT r7 task #5."""
    from pd_explain_spark.functions.mixing import dsir_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw, tgt = docs.filter("doc_id >= 100"), docs.filter("doc_id < 100")
    n = raw.count()
    for k in (37, n // 2, n - 1, n, n + 50):
        rows = lambda m: {
            (r["doc_id"], r["log_weight"], r["gumbel_key"])
            for r in dsir_sample(
                raw, tgt, k=k, n_buckets=128, method=m
            ).select("doc_id", "log_weight", "gumbel_key").collect()
        }
        heap, thr = rows("heap"), rows("threshold")
        assert heap == thr, f"k={k}: threshold set diverges from heap set"
        assert len(thr) == min(k, n)


def test_train_bpe_driver_and_distributed_identical(spark):
    """The driver-local fast trainer (r8) learns the SAME merge sequence
    and segmentations as the distributed per-round loop — on real data
    (sf0.001 documents) and on the adversarial greedy/tie corpus."""
    from pd_explain_spark.functions.bpe import train_bpe

    frames = [
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60),
        spark.createDataFrame(
            [(1, "aaaa aaaa aab ba ba ba")], "doc_id long, text string"
        ),
    ]
    for docs in frames:
        m_drv, wt_drv = train_bpe(docs, num_merges=12, strategy="driver")
        m_dst, wt_dst = train_bpe(docs, num_merges=12, strategy="distributed")
        assert [tuple(r) for r in m_drv.collect()] == [
            tuple(r) for r in m_dst.collect()
        ]
        segs = lambda wt: {r["w"]: (r["cnt"], list(r["syms"])) for r in wt.collect()}
        assert segs(wt_drv) == segs(wt_dst)


def test_token_budget_sample_matches_naive_window(spark):
    """The bucket-decomposed exact prefix (whole buckets from a broadcast
    span table + one windowed boundary bucket per stratum) must return
    EXACTLY the naive definition's rows: keep iff the stratum's running
    token sum through the row (md5-key order) stays <= the budget."""
    from pyspark.sql import Window, functions as F

    from pd_explain_spark.functions.mixing import _sample_key, token_budget_sample
    from pd_explain_spark.functions.text import token_count

    rows = [(i, "a" if i % 3 else "b", "w " * (i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    got = {r.doc_id for r in token_budget_sample(df, budget=120, by="lang", seed=42).collect()}

    w = (
        Window.partitionBy("lang")
        .orderBy(_sample_key("doc_id", 42), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = (
        df.withColumn("__t", F.coalesce(token_count(F.col("text")).cast("long"), F.lit(0)))
        .withColumn("__ct", F.sum("__t").over(w))
        .filter(F.col("__ct") <= 120)
    )
    want = {r.doc_id for r in naive.collect()}
    assert got == want and got


def test_token_budget_sample_budget_and_whitelist(spark):
    """Kept tokens per stratum never exceed the budget; strata absent
    from a dict spec are dropped; NULL text costs 0 tokens and can be
    kept inside the prefix."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.mixing import token_budget_sample
    from pd_explain_spark.functions.text import token_count

    rows = [(i, ["en", "de", "fr"][i % 3], None if i == 0 else "tok " * 5) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = token_budget_sample(df, budget={"en": 37, "de": 10}, by="lang", seed=1)
    per = (
        out.withColumn("__t", F.coalesce(token_count(F.col("text")).cast("long"), F.lit(0)))
        .groupBy("lang")
        .agg(F.sum("__t").alias("t"))
        .collect()
    )
    got = {r.lang: r.t for r in per}
    assert set(got) <= {"en", "de"}          # fr whitelisted out
    assert got.get("en", 0) <= 37 and got.get("de", 0) <= 10
    # the doc_id=0 NULL-text row is in stratum en and hashes somewhere in
    # the order; whether kept or not, a second run is identical
    out2 = {r.doc_id for r in token_budget_sample(df, budget={"en": 37, "de": 10}, by="lang", seed=1).collect()}
    assert out2 == {r.doc_id for r in out.collect()}


def test_prototype_prune_cluster_cut_counts(spark, embeddings):
    """Per cluster, prototype_prune keeps exactly bn - floor(f * bn)
    rows (the least-prototypical tail), and every survivor is an input
    row with its 6dp centroid cosine attached."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.similarity import prototype_prune, prototype_scores

    emb = embeddings.df if hasattr(embeddings, "df") else embeddings
    scored_n = {
        r.bucket: r.n
        for r in prototype_scores(emb, n_centroids=8)
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept = prototype_prune(emb, prune_fraction=0.25, n_centroids=8)
    kept_n = {
        r.bucket: r.n
        for r in kept.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert kept_n and set(kept_n) <= set(scored_n)
    import math

    for b, n in scored_n.items():
        assert kept_n.get(b, 0) == n - math.floor(0.25 * n)
    # survivors carry proto_score and are a subset of the corpus
    assert kept.filter(F.col("proto_score").isNull()).count() == 0
    assert kept.count() <= emb.count()


def test_prototype_prune_after_semantic_dedup_composes(spark, embeddings):
    """The D4 recipe: semantic_dedup then prototype_prune — the chained
    plan builds, stays scalable, and prunes monotonically."""
    from pd_explain_spark.functions.similarity import prototype_prune, semantic_dedup
    from pd_explain_spark.plans.audit import assert_scalable

    emb = embeddings.df if hasattr(embeddings, "df") else embeddings
    dd = semantic_dedup(emb, threshold=0.45, n_centroids=8)
    out = prototype_prune(dd, prune_fraction=0.3, n_centroids=8)
    assert_scalable(out)
    assert out.count() <= dd.count() <= emb.count()


def test_hll_estimate_accuracy_branches_and_duplicates(spark):
    """HLL (r8): the raw branch lands within the published error band,
    the small-range branch switches to linear counting, duplicates
    cannot move a register, and NULLs are not members."""
    from pyspark.sql import functions as F

    from pd_explain_spark import hll_distinct, hll_sketch

    n = 20_000
    vals = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("v"))
    est = hll_distinct(vals, "v", p=10).collect()[0]
    # p=10 => SE ~ 1.04/sqrt(1024) ~ 3.25%; allow 4 sigma
    assert est["method"] == "hll"
    assert abs(est["est_distinct"] - n) / n < 0.13
    # small range: 40 distinct values over m=1024 registers -> linear
    small = spark.range(40).select(F.concat(F.lit("s"), F.col("id")).alias("v"))
    s_est = hll_distinct(small, "v", p=10).collect()[0]
    assert s_est["method"] == "linear"
    assert abs(s_est["est_distinct"] - 40) < 6
    # duplicates are invisible: sketch(corpus x3) == sketch(corpus)
    tripled = vals.unionByName(vals).unionByName(vals)
    a = hll_sketch(vals, "v", p=10)
    b = hll_sketch(tripled, "v", p=10)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # NULL values set no register
    with_null = small.unionByName(
        spark.createDataFrame([(None,)], "v string")
    )
    c = hll_sketch(with_null, "v", p=10)
    d = hll_sketch(small, "v", p=10)
    assert c.exceptAll(d).count() == 0 and d.exceptAll(c).count() == 0


def test_hll_merge_grouped_and_param_guards(spark):
    """Merged per-shard sketches equal the whole-corpus sketch (so
    per-day registers accumulate without rescans), grouped estimates
    track per-group exact counts, and param mismatches fail loud."""
    import pytest
    from pyspark.sql import functions as F

    from pd_explain_spark import hll_distinct, hll_estimate, hll_merge, hll_sketch

    df = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("w"), (F.col("id") % 700)).alias("v"),
    )
    whole = hll_sketch(df, "v", p=8, by=["g"])
    shards = [
        hll_sketch(df.filter(F.col("id") % 2 == i), "v", p=8, by=["g"])
        for i in range(2)
    ]
    merged = hll_merge(*shards)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    # idempotent: re-merging a shard is a no-op
    again = hll_merge(merged, shards[0])
    assert again.exceptAll(whole).count() == 0
    # grouped estimate ~ per-group exact distinct (700 shared values:
    # group g sees the ids === g mod 3 -> ~234 distinct each)
    ests = {r["g"]: r["est_distinct"] for r in hll_estimate(merged).collect()}
    exact = {
        r["g"]: r["x"]
        for r in df.groupBy("g").agg(F.countDistinct("v").alias("x")).collect()
    }
    for g, x in exact.items():
        assert abs(ests[g] - x) / x < 0.3
    # guards: p out of range, estimate/merge with mismatched p
    with pytest.raises(ValueError, match="p must be"):
        hll_sketch(df, "v", p=3)
    with pytest.raises(ValueError, match="built with p="):
        hll_estimate(whole, p=10)
    with pytest.raises(ValueError, match="built with p="):
        hll_merge(whole, hll_sketch(df, "v", p=10, by=["g"]), p=8)
    with pytest.raises(ValueError, match="different group columns"):
        hll_merge(whole, hll_sketch(df, "v", p=8))


def test_winnow_guarantee_sparsity_and_dedup(spark):
    """Winnowing (r8): long shared token runs ALWAYS collide on a
    fingerprint (the paper's guarantee), the winnowed index is
    materially sparser than the full shingle index, short docs behave,
    and the end-to-end dedup keeps one doc per component."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.dedup import (
        _shingle_index,
        winnow_dedup,
        winnow_fingerprint_index,
        winnow_pairs,
    )

    run = "alpha beta gamma delta epsilon zeta"  # 6 tokens = window+k-1
    docs = spark.createDataFrame(
        [
            (1, f"one two {run} three four five six seven"),
            (2, f"eight nine ten {run} eleven twelve thirteen"),
            (3, "totally disjoint vocabulary nothing shared here at all"),
            (4, "tiny doc"),            # < k tokens: no fingerprints
            (5, "exactly three tokens"),  # one gram -> one fingerprint
            (6, f"one two {run} three four five six seven"),  # clone of 1
        ],
        "doc_id bigint, text string",
    )
    inv = winnow_fingerprint_index(docs, k=3, window=4)
    by_id = {r["doc_id"]: r["n"] for r in
             inv.groupBy(F.col("id").alias("doc_id")).agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 4 not in by_id            # sub-k doc has no fingerprints
    assert by_id[5] == 1             # single-gram doc keeps its min
    # guarantee: docs 1 and 2 share a >= window+k-1 token run -> >= 1
    # shared fingerprint, regardless of the differing surroundings
    shared = winnow_pairs(docs, k=3, window=4, threshold=0.0)
    got = {(r["id_a"], r["id_b"]) for r in shared.collect()}
    assert (1, 2) in got and (1, 6) in got and (2, 6) in got
    assert not any(3 in p for p in got)  # disjoint vocab never pairs
    # clone pair is jaccard 1.0, the run-only pair is partial
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in shared.collect()}
    assert j[(1, 6)] == 1.0 and 0.0 < j[(1, 2)] < 1.0
    # dedup: the clone collapses, everything else survives
    surv = winnow_dedup(docs, k=3, window=4, threshold=0.9)
    assert {r["doc_id"] for r in surv.select("doc_id").collect()} == {1, 2, 3, 4, 5}
    # sparsity on a real corpus: winnowed index well under the shingle index
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full_n = _shingle_index(real, "text", "doc_id", 3).count()
    win_n = winnow_fingerprint_index(real, k=3, window=4).count()
    assert win_n < 0.7 * full_n, (win_n, full_n)


def test_soft_dedup_weights_unit_mass_per_cluster(spark):
    """Soft dedup (r8): each duplicate cluster's weights sum to exactly
    1, singletons keep weight 1.0, rows are conserved, and a
    pre-computed components table is reusable (the leakage_safe_splits
    contract)."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.dedup import (
        duplicate_components,
        soft_dedup_weights,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "the quick brown fox jumps over the lazy dog tonight",
            "the quick brown fox jumps over the lazy dog tonight",  # clone of 0
            "the quick brown fox jumps over the lazy dog tonight!",  # near 0
            "completely different text about spark query planning",
            "completely different text about spark query planning",  # clone of 3
            "a lone singleton document with its own vocabulary",
        ])],
        "doc_id bigint, text string",
    )
    from pd_explain_spark.functions.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    out = soft_dedup_weights(docs, pairs=pairs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 6                       # row conservation
    assert rows[5]["cluster_size"] == 1 and rows[5]["weight"] == 1.0
    assert rows[0]["cluster_size"] == 3 and rows[3]["cluster_size"] == 2
    assert rows[0]["dup_component"] == rows[1]["dup_component"] == rows[2]["dup_component"] == 0
    # unit mass per cluster (weights are 6dp-rounded -> tolerance)
    mass = out.groupBy("dup_component").agg(F.sum("weight").alias("m")).collect()
    assert all(abs(r["m"] - 1.0) < 1e-4 for r in mass)
    # reuse path: components= gives the identical result
    comp = duplicate_components(pairs)
    again = soft_dedup_weights(docs, components=comp)
    assert again.exceptAll(out).count() == 0 and out.exceptAll(again).count() == 0


def test_exact_quantiles_differential_and_edges(spark, lineitem):
    """exact_quantiles (r8): matches the sorted-column definition
    exactly, survives forced refinement rounds, handles constant /
    integer / NULL-bearing / empty inputs, and the mergeable histogram
    equals the whole-corpus histogram."""
    import math

    lineitem = lineitem.df  # pipeline ops take plain DataFrames

    import pytest
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.sketches import (
        exact_quantiles,
        histogram_merge,
        value_histogram,
    )

    qs = [0.0, 0.01, 0.5, 0.99, 1.0]
    got = {r["q"]: r["value"] for r in
           exact_quantiles(lineitem, "l_extendedprice", qs, n_bins=64).collect()}
    vals = sorted(v[0] for v in lineitem.select("l_extendedprice").collect())
    n = len(vals)
    for q in qs:
        assert got[q] == vals[max(1, math.ceil(q * n)) - 1], q
    # forced multi-round refinement returns the same answers
    refined = {r["q"]: r["value"] for r in
               exact_quantiles(lineitem, "l_extendedprice", qs, n_bins=8,
                               max_collect=50).collect()}
    assert refined == got
    # constant column: every q is the constant
    const = lineitem.select(F.lit(3.25).alias("c"))
    assert {r["value"] for r in exact_quantiles(const, "c", [0.1, 0.9]).collect()} == {3.25}
    # NULLs excluded; empty input -> empty frame; bad q rejected
    some_null = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (3.0,)], "v double"
    )
    assert exact_quantiles(some_null, "v", [0.5]).collect()[0]["value"] == 2.0
    empty = spark.createDataFrame([], "v double")
    assert exact_quantiles(empty, "v", [0.5]).count() == 0
    with pytest.raises(ValueError, match="in \\[0, 1\\]"):
        exact_quantiles(some_null, "v", [1.5])
    # histogram mergeability: shard histograms sum to the whole
    h_all = value_histogram(lineitem, "l_quantity", 1.0, 50.0, n_bins=32)
    h1 = value_histogram(lineitem.filter("l_orderkey % 2 = 0"), "l_quantity", 1.0, 50.0, 32)
    h2 = value_histogram(lineitem.filter("l_orderkey % 2 = 1"), "l_quantity", 1.0, 50.0, 32)
    merged = histogram_merge(h1, h2)
    assert merged.exceptAll(h_all).count() == 0 and h_all.exceptAll(merged).count() == 0
    with pytest.raises(ValueError, match="mixed grids"):
        histogram_merge(h1, value_histogram(lineitem, "l_quantity", 0.0, 50.0, 32))


def test_tokenizer_fertility_invariants(spark):
    """Fertility report (r8): subwords-per-word >= 1 (a word never
    encodes to fewer than one token), totals are conserved against the
    raw encode, and zero-word languages report NULL ratios."""
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.bpe import bpe_encode, train_bpe

    import __spark_entry__ as entry

    out = entry.queries()["tokenizer_fertility_docs"](
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert len(rows) == 5
    for r in rows:
        assert r["fertility"] >= 1.0
        assert r["total_tokens"] >= r["total_words"] > 0
        assert r["chars_per_token"] > 0
    # conservation: summed tokens equal the raw encode's row count
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    _, wt = train_bpe(docs, num_merges=10)
    assert sum(r["total_tokens"] for r in rows) == bpe_encode(docs, wt).count()


def test_quantile_trim_bounds_and_edges(spark):
    """quantile_trim (r8): survivors are exactly the rows inside the
    exact rank-based bounds, NULLs drop, bad bounds fail loud, and an
    empty input flows through empty."""
    import math

    import pytest

    from pd_explain_spark.functions.mixing import quantile_trim

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = quantile_trim(docs, "n_chars", 0.1, 0.9, n_bins=64)
    vals = sorted(r["n_chars"] for r in docs.select("n_chars").collect())
    n = len(vals)
    lo = vals[max(1, math.ceil(0.1 * n)) - 1]
    hi = vals[max(1, math.ceil(0.9 * n)) - 1]
    want = [v for v in vals if lo <= v <= hi]
    got = sorted(r["n_chars"] for r in out.collect())
    assert got == want
    with pytest.raises(ValueError, match="lower <= upper"):
        quantile_trim(docs, "n_chars", 0.9, 0.1)
    assert quantile_trim(docs.limit(0), "n_chars").count() == 0


def test_csv_roundtrip_adversarial_values(spark, tmp_path):
    """The csv_roundtrip option set must survive the values CSV
    classically mangles: embedded quotes/commas/newlines, NULL vs empty
    string, and text that happens to equal the null sentinel's spelling
    with content after it."""
    opts = {"quote": '"', "escape": '"', "nullValue": "\\N"}
    adv = spark.createDataFrame(
        [
            (1, 'has "quotes" and, commas'),
            (2, "line1\nline2"),
            (3, None),
            (4, ""),
            (5, "\\N literal backslash-N prefix"),
        ],
        "doc_id bigint, text string",
    )
    p = str(tmp_path / "csv_adv")
    adv.write.mode("overwrite").options(**opts, emptyValue='""').csv(p)
    back = (
        spark.read.schema(adv.schema)
        .options(**opts, emptyValue="", multiLine="true")
        .csv(p)
    )
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    want = {r["doc_id"]: r["text"] for r in adv.collect()}
    assert got == want


def test_grouped_exact_quantiles_differential(spark):
    """grouped_exact_quantiles (r8): per-group values match the sorted
    per-group definition exactly, including heavy ties and singleton
    groups; guards fail loud."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.sketches import grouped_exact_quantiles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        (r["lang"], r["q"]): r["value"]
        for r in grouped_exact_quantiles(docs, "n_chars", qs, by=["lang"]).collect()
    }
    by_lang: dict = {}
    for r in docs.select("lang", "n_chars").collect():
        by_lang.setdefault(r["lang"], []).append(r["n_chars"])
    for lang, vals in by_lang.items():
        vals.sort()
        for q in qs:
            want = vals[max(1, math.ceil(q * len(vals))) - 1]
            assert got[(lang, q)] == want, (lang, q)
    # heavy ties + a singleton group
    tiny = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("a", 9), ("b", 5)],
        "g string, v int",
    )
    t = {
        (r["g"], r["q"]): r["value"]
        for r in grouped_exact_quantiles(tiny, "v", [0.5, 1.0], by=["g"]).collect()
    }
    assert t[("a", 0.5)] == 1 and t[("a", 1.0)] == 9
    assert t[("b", 0.5)] == 5 and t[("b", 1.0)] == 5
    with pytest.raises(ValueError, match="by must be non-empty"):
        grouped_exact_quantiles(tiny, "v", [0.5], by=[])


def test_key_skew_report_shares_ties_and_nulls(spark):
    """key_skew_report (r8): shares sum the table, NULL keys count as a
    real (often hottest) group, ties rank deterministically, and the
    totals columns carry the full-table numbers."""
    from pd_explain_spark.functions.profiling import key_skew_report

    df = spark.createDataFrame(
        [("hot",)] * 6 + [(None,)] * 3 + [("a",)] * 2 + [("b",)] * 2 + [("c",)],
        "k string",
    )
    out = key_skew_report(df, "k", top_k=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["k"] == "hot" and out[0]["cnt"] == 6
    assert out[0]["share"] == round(6 / 14, 6)
    assert out[1]["k"] is None and out[1]["cnt"] == 3  # NULL is a group
    assert out[2]["k"] == "a"  # tie with 'b' broken by key asc
    assert all(r["n_rows"] == 14 and r["n_keys"] == 5 for r in out)


def test_corpus_overlap_planted_and_edges(spark):
    """corpus_overlap (r8): identical corpora report full overlap,
    disjoint ones report zero, exact copies within one side collapse to
    distinct fingerprints, and NULL-text docs are invisible."""
    from pd_explain_spark.functions.text import corpus_overlap

    a = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "epsilon zeta eta theta"), (4, None)],
        "doc_id bigint, text string",
    )
    same = corpus_overlap(a, a).collect()[0]
    # docs 1 and 2 are exact copies -> ONE distinct fingerprint; the
    # NULL-text doc carries none
    assert same["distinct_docs_a"] == same["distinct_docs_b"] == 2
    assert same["shared_fingerprints"] == 2
    assert same["gram_jaccard"] == 1.0
    b = spark.createDataFrame(
        [(9, "iota kappa lambda mu")], "doc_id bigint, text string"
    )
    disj = corpus_overlap(a, b).collect()[0]
    assert disj["shared_fingerprints"] == 0 and disj["shared_grams"] == 0
    assert disj["gram_jaccard"] == 0.0
    # both empty: zero counts, NULL jaccard (no grams on either side)
    e = spark.createDataFrame([], "doc_id bigint, text string")
    ee = corpus_overlap(e, e).collect()[0]
    assert ee["distinct_docs_a"] == 0 and ee["gram_jaccard"] is None


def test_blocklist_filter_whole_word_and_modes(spark):
    """blocklist_filter (r8): whole-word matching never fires inside a
    longer token, substring mode does, phrases match across spaces,
    drop mode removes exactly the hit docs, NULL text passes."""
    import pytest

    from pd_explain_spark.functions.text import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "this class is fine"),          # 'ass' inside 'class'
            (2, "what an ass he was"),           # whole-word hit
            (3, "a slow query ruined the day"),  # phrase hit
            (4, None),
            (5, "clean text entirely"),
        ],
        "doc_id bigint, text string",
    )
    ann = {
        r["doc_id"]: (r["blocklist_hits"], r["blocklist_pass"])
        for r in blocklist_filter(
            docs, ["ass", "slow query"], mode="annotate"
        ).collect()
    }
    assert ann[1] == (0, True) and ann[2] == (1, False) and ann[3] == (1, False)
    assert ann[4] == (0, True) and ann[5] == (0, True)
    # substring mode DOES fire inside 'class'
    sub = blocklist_filter(docs, ["ass"], mode="annotate", whole_word=False)
    assert {r["doc_id"]: r["blocklist_hits"] for r in sub.collect()}[1] == 1
    kept = {r["doc_id"] for r in blocklist_filter(docs, ["ass", "slow query"]).collect()}
    assert kept == {1, 4, 5}
    with pytest.raises(ValueError, match="non-empty"):
        blocklist_filter(docs, [])


def test_corpus_minhash_estimate_merge_and_guards(spark):
    """Corpus-level MinHash (r8): the estimate tracks the exact gram
    Jaccard within the estimator's error band, identical corpora
    estimate exactly 1, merged shard signatures equal the whole-corpus
    signature, and width mismatches fail loud."""
    import pytest
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.dedup import (
        corpus_minhash,
        corpus_minhash_merge,
        corpus_overlap_estimate,
    )
    from pd_explain_spark.functions.text import corpus_overlap

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a, b = docs.filter("doc_id < 150"), docs.filter("doc_id >= 100")
    sa, sb = corpus_minhash(a, num_hashes=128), corpus_minhash(b, num_hashes=128)
    est = corpus_overlap_estimate(sa, sb).collect()[0]
    exact = corpus_overlap(a, b).collect()[0]
    true_j = exact["shared_grams"] / (
        exact["grams_a"] + exact["grams_b"] - exact["shared_grams"]
    )
    # SE = sqrt(J(1-J)/128) <= 0.045; allow 4 sigma
    assert abs(est["est_jaccard"] - true_j) < 0.18, (est["est_jaccard"], true_j)
    # identity: a corpus vs itself matches every component
    same = corpus_overlap_estimate(sa, corpus_minhash(a, num_hashes=128)).collect()[0]
    assert same["est_jaccard"] == 1.0
    # mergeability: shard signatures min-combine into the whole
    whole = corpus_minhash(a, num_hashes=32)
    s1 = corpus_minhash(a.filter("doc_id % 2 = 0"), num_hashes=32)
    s2 = corpus_minhash(a.filter("doc_id % 2 = 1"), num_hashes=32)
    merged = corpus_minhash_merge(s1, s2)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    # empty corpus: empty signature; merging it is identity
    esig = corpus_minhash(docs.limit(0), num_hashes=32)
    assert esig.count() == 0
    again = corpus_minhash_merge(whole, esig)
    assert again.exceptAll(whole).count() == 0
    with pytest.raises(ValueError, match="widths differ|built with"):
        corpus_overlap_estimate(sa, whole)


def test_weighted_sample_proportionality_and_paths(spark):
    """weighted_sample (r8): heavier rows win more often across seeds,
    zero/NULL weights never appear, temperature flattens the draw, and
    the threshold path returns the identical sample set to the heap."""
    import pytest
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.mixing import weighted_sample

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 5, 1000.0)
        .when(F.col("id") < 100, 1.0)
        .otherwise(F.lit(None))
        .alias("w"),
    )
    wins = {i: 0 for i in range(5)}
    for seed in range(8):
        got = {r["doc_id"] for r in
               weighted_sample(df, k=10, weight_col="w", seed=seed).collect()}
        assert all(i < 100 for i in got)  # NULL-weight rows never sampled
        for i in range(5):
            wins[i] += i in got
    # each heavy row (weight 1000 vs 1) should win nearly every draw
    assert all(v >= 7 for v in wins.values()), wins
    # determinism + threshold/heap identity
    a = weighted_sample(df, k=10, weight_col="w", seed=3, method="heap")
    b = weighted_sample(df, k=10, weight_col="w", seed=3, method="threshold")
    assert {r["doc_id"] for r in a.collect()} == {r["doc_id"] for r in b.collect()}
    # temperature -> infinity approaches uniform: heavy rows no longer
    # dominate every draw (weight ratio 1000 collapses to ~1)
    flat_wins = 0
    for seed in range(8):
        got = {r["doc_id"] for r in
               weighted_sample(df, k=10, weight_col="w", seed=seed,
                               temperature=1e9).collect()}
        flat_wins += sum(i in got for i in range(5))
    assert flat_wins < 20  # << 40 (= all heavy rows every draw)
    with pytest.raises(ValueError, match="k must be"):
        weighted_sample(df, k=0, weight_col="w")


def test_histogram_psi_drift_direction_and_guards(spark):
    """histogram_psi (r8): identical distributions score ~0, a shifted
    one scores materially higher, the result matches a pure-Python PSI
    on the same bins, and grid mismatches fail loud."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.sketches import histogram_psi, value_histogram

    base = spark.range(2000).select((F.col("id") % 40).cast("double").alias("v"))
    shifted = spark.range(2000).select(
        ((F.col("id") % 40) + 25).cast("double").alias("v")
    )
    grid = dict(lo=0.0, hi=80.0, n_bins=16)
    h0 = value_histogram(base, "v", **grid)
    h1 = value_histogram(base.filter("v >= 0"), "v", **grid)  # identical
    h2 = value_histogram(shifted, "v", **grid)
    same = histogram_psi(h0, h1).collect()[0]
    assert abs(same["psi"]) < 1e-9 and same["n_a"] == same["n_b"] == 2000
    moved = histogram_psi(h0, h2).collect()[0]["psi"]
    assert moved > 0.25  # classic "shifted" threshold
    # differential vs pure-Python PSI on the same grid
    ca = {r["bin"]: r["cnt"] for r in h0.collect()}
    cb = {r["bin"]: r["cnt"] for r in h2.collect()}
    s, nb, na_t, nb_t = 0.5, 16, 2000.0, 2000.0
    want = 0.0
    for b in range(nb):
        pa = (ca.get(b, 0) + s) / (na_t + s * nb)
        pb = (cb.get(b, 0) + s) / (nb_t + s * nb)
        want += (pa - pb) * math.log(pa / pb)
    assert abs(moved - round(want, 6)) < 2e-6
    with pytest.raises(ValueError, match="grids differ"):
        histogram_psi(h0, value_histogram(base, "v", 0.0, 80.0, 32))


def test_bpe_oov_rate_planted(spark):
    """bpe_oov_rate (r8): words absent from training are OOV with
    char+1 fallback cost, seen words count their trained segmentation
    length, and encoding the training corpus itself reports zero OOV."""
    from pd_explain_spark.functions.bpe import bpe_encode, bpe_oov_rate, train_bpe

    train = spark.createDataFrame(
        [(1, "spark spark table table scan"), (2, "spark table join")],
        "doc_id bigint, text string",
    )
    _, wt = train_bpe(train, num_merges=5)
    zero = bpe_oov_rate(train, wt).collect()[0]
    assert zero["oov_words"] == 0 and zero["oov_rate"] == 0.0
    assert zero["fallback_tokens"] == 0
    # vocab_tokens on the training corpus == the raw encode's row count
    assert zero["vocab_tokens"] == bpe_encode(train, wt).count()
    new = spark.createDataFrame(
        [(9, "spark table zzz"), (10, "qqqq")], "doc_id bigint, text string"
    )
    r = bpe_oov_rate(new, wt).collect()[0]
    assert r["total_words"] == 4 and r["oov_words"] == 2
    assert r["oov_rate"] == 0.5
    # fallback cost: len('zzz')+1 + len('qqqq')+1 = 9
    assert r["fallback_tokens"] == 9


def test_table_profile_and_constraints(spark):
    """table_profile (r8): exact counts on planted data incl. NULLs and
    the single-scan plan; check_constraints: NULL predicate results are
    violations, passing and failing rules both report correctly."""
    import pytest

    from pd_explain_spark.functions.profiling import (
        check_constraints,
        table_profile,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None), (3, None, 3.0), (4, "b", 3.0)],
        "id bigint, s string, v double",
    )
    prof = {r["column"]: r for r in table_profile(df).collect()}
    assert prof["id"]["n_rows"] == 4 and prof["id"]["n_distinct"] == 4
    assert prof["s"]["n_null"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["s"]["null_rate"] == 0.25
    assert prof["v"]["min_value"] == "1.0" and prof["v"]["max_value"] == "3.0"
    with pytest.raises(ValueError, match="unknown columns"):
        table_profile(df, ["nope"])
    rules = {
        "id_positive": "id > 0",
        "v_above_two": "v > 2",      # NULL v counts as a violation
        "s_not_null": "s IS NOT NULL",
    }
    got = {r["rule"]: r for r in check_constraints(df, rules).collect()}
    assert got["id_positive"]["passed"] and got["id_positive"]["violations"] == 0
    assert got["v_above_two"]["violations"] == 2  # v=1.0 and v=NULL
    assert got["s_not_null"]["violations"] == 1
    assert got["s_not_null"]["violation_rate"] == 0.25
    with pytest.raises(ValueError, match="non-empty"):
        check_constraints(df, {})


def test_review_fixes_quantiles_and_profiling(spark):
    """Review findings (r8): exact_quantiles must not collapse 64-bit
    values beyond 2^53, the refinement filter must reuse the exact
    sub-histogram origin (adversarial narrow-bin values), dotted rule /
    column names survive the profiling gates, and histogram_merge's
    mixed-grid error is the designed ValueError even when one side
    lost its metadata."""
    import pytest
    from pyspark.sql import functions as F

    from pd_explain_spark.functions.profiling import (
        check_constraints,
        table_profile,
    )
    from pd_explain_spark.functions.sketches import (
        exact_quantiles,
        histogram_merge,
        value_histogram,
    )

    # >2^53: two distinct bigints that are equal as doubles
    big = spark.createDataFrame(
        [(9007199254740992,), (9007199254740993,)], "v bigint"
    )
    got = {r["q"]: r["value"] for r in exact_quantiles(big, "v", [0.5, 1.0]).collect()}
    assert got[0.5] == 9007199254740992 and got[1.0] == 9007199254740993
    # deep refinement on tightly-packed values exercises the exact-origin
    # filter (n_bins=2, max_collect=1 forces max narrowing rounds)
    import math

    vals = [523933286.9553519 + i * 0.37 for i in range(60)]
    dfv = spark.createDataFrame([(v,) for v in vals], "v double")
    q50 = exact_quantiles(dfv, "v", [0.5], n_bins=2, max_collect=1).collect()[0]
    assert q50["value"] == sorted(vals)[math.ceil(0.5 * 60) - 1]
    # dotted names
    dotted = spark.createDataFrame([(1,)], "id bigint").select(
        F.col("id").alias("a.b")
    )
    prof = table_profile(dotted).collect()
    assert prof[0]["column"] == "a.b" and prof[0]["n_distinct"] == 1
    cons = check_constraints(dotted, {"id.positive": "`a.b` > 0"}).collect()
    assert cons[0]["rule"] == "id.positive" and cons[0]["passed"]
    # metadata-less histogram in a merge: ValueError, not TypeError
    h = value_histogram(dfv, "v", 0.0, 1e9, 8)
    bare = h.select(F.col("bin").alias("bin", metadata={}), "cnt")  # strips metadata
    with pytest.raises(ValueError, match="mixed grids"):
        histogram_merge(h, bare)


def test_pooled_lsh_matches_legacy_recall_contract(spark):
    """The r12 pooled flavor (32-plane pool, 96 four-bit tables) must
    hold the same exact-verify/no-false-positive contract and find at
    least as many true pairs as the recall bound promises."""
    from pd_explain_spark.functions.similarity import (
        cosine as _cos,
        embedding_near_duplicates,
    )
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    l, r = base.alias("l"), base.alias("r")
    exact = {
        (row["id_a"], row["id_b"])
        for row in l.join(r, F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("id_a"),
            F.col("r.vec_id").alias("id_b"),
            _cos(F.col("l.v"), F.col("r.v")).alias("cs"),
        )
        .filter(F.col("cs") >= 0.45)
        .collect()
    }
    pooled = {
        (row["id_a"], row["id_b"])
        for row in embedding_near_duplicates(
            emb, id_col="vec_id", threshold=0.45, n_planes=4, n_tables=96,
            n_pool=32,
        ).collect()
    }
    assert pooled <= exact or not exact  # exact verify: no false positives
    assert len(pooled & exact) >= 0.9 * len(exact)


def test_pool_subsets_deterministic_and_distinct():
    from pd_explain_spark.functions.similarity import _pool_subsets

    a = _pool_subsets(32, 4, 96, 42)
    b = _pool_subsets(32, 4, 96, 42)
    assert a == b  # shared by Spark expr and DuckDB mirror: must replay
    assert len({tuple(sorted(s)) for s in a}) == 96
    assert all(len(set(s)) == 4 and all(0 <= i < 32 for i in s) for s in a)
    import pytest

    with pytest.raises(ValueError, match="distinct"):
        _pool_subsets(5, 4, 99, 42)


def test_duplicate_components_driver_and_distributed_paths_agree(spark, monkeypatch):
    """r12: small graphs take a driver union-find fast path (one job);
    forcing the threshold to 0 must run the distributed pointer-jumping
    loop and produce the IDENTICAL (id, component) fixpoint — including
    chains, disjoint clusters and string ids."""
    import pd_explain_spark.functions.dedup as dd

    links = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (5, 3)]
    pairs = spark.createDataFrame(links, "id_a long, id_b long")
    fast = sorted(map(tuple, dd.duplicate_components(pairs).collect()))
    monkeypatch.setattr(dd, "_SMALL_GRAPH_EDGES", 0)
    slow = sorted(map(tuple, dd.duplicate_components(pairs).collect()))
    assert fast == slow
    assert dict(fast)[5] == 1  # 5~3~2~1 chains to the min id

    spairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    monkeypatch.undo()
    sfast = sorted(map(tuple, dd.duplicate_components(spairs).collect()))
    assert dict(sfast) == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
