"""LLM-pipeline queries (SURVEY §2 groups D/E/F/G) over documents +
embeddings."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from icecube_spark import catalog, staging
from icecube_spark.operators import dedup, multimodal, similarity, text
from icecube_spark.functions.materialize import materialize
from icecube_spark.operators import pipeline as pipeline_ops


def _docs(spark, sf_dir):
    return catalog.load(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return catalog.load(spark, sf_dir, "embeddings")


def staged_corpus(spark, sf_dir):
    """Session-scoped corpus staging: the gram table and MinHash
    signature table persisted ONCE per sf_dir and shared by every
    dedup-family query (D2/D3/D6/D9, F18, P6, P32). At 100 TB this is
    a written staging table the dedup campaign builds first; on
    local[32] it is a MEMORY_AND_DISK persist. Results are identical
    with or without staging — the oracle tests run the unstaged
    operators directly."""

    def build():
        docs = _docs(spark, sf_dir)
        grams = dedup.with_grams(docs.select("doc_id", "text"), "text").select(
            "doc_id", "grams"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        sigs = dedup.minhash_signatures(docs, "doc_id", "text").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return grams, sigs

    return staging.get(spark, ("corpus", sf_dir), build)


def staged_collapse(spark, sf_dir):
    """Exact-dup collapse staging for the LSH family: the member→rep
    table plus representative-filtered gram/signature tables,
    persisted once per sf_dir. Five query keys mine MinHash pairs
    (D2, P6, P23, P32, P39); without staging each re-runs the content
    hash window and two semi-joins. Results identical either way —
    the collapse is output-invariant by construction."""

    def build():
        grams, sigs = staged_corpus(spark, sf_dir)
        members = dedup.exact_group_members(
            _docs(spark, sf_dir), "doc_id", "text"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        rep_ids = members.where(F.col("doc_id") == F.col("_rep")).select(
            "doc_id"
        )
        rep_grams = grams.join(rep_ids, "doc_id", "left_semi").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        rep_sigs = sigs.join(rep_ids, "doc_id", "left_semi").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return members, rep_grams, rep_sigs

    return staging.get(spark, ("collapse", sf_dir), build)


def staged_candidates(spark, sf_dir):
    """The capped-inverted-index candidate-pair table, staged once per
    corpus like the gram/signature tables: D3 (Jaccard) and D6
    (containment) verify over the SAME rare-gram candidate set, and
    the window-count + bucket self-join + DISTINCT that builds it is
    the most expensive part of both plans. Same at-scale story: a
    dedup campaign writes candidates once, every verifier reads them."""
    return staging.get(
        spark,
        ("candidates", sf_dir),
        lambda: dedup.capped_gram_candidates(
            staged_corpus(spark, sf_dir)[0], "doc_id", max_df=64
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )


def staged_minhash_pairs(spark, sf_dir):
    """The exact-Jaccard-verified MinHash pair table at the campaign
    threshold (0.8), staged once per corpus: six keys consume the
    SAME pair graph (D2's listing, P6's clusters, P13's sizes, P23,
    P26's survivorship, P32's per-source rate) and the LSH band
    mining + verify join is the expensive part of each. A real dedup
    campaign materializes the pair table once and every downstream
    report reads it."""

    def build():
        members, grams, sigs = staged_collapse(spark, sf_dir)
        return dedup.minhash_lsh_pairs(
            _docs(spark, sf_dir), "doc_id", "text", threshold=0.8,
            grams=grams, sigs=sigs, members=members,
        ).persist(StorageLevel.MEMORY_AND_DISK)

    return staging.get(spark, ("minhash_pairs", sf_dir), build)


def staged_jaccard_pairs(spark, sf_dir, threshold):
    """The verified n-gram Jaccard pair graph, staged once per
    (corpus, threshold). Graph-shaped consumers (D18's wedge/triangle
    audit) reference the pair table many times in one plan — wedges
    are a self-join, closure is a third join, and the summary
    crossJoins three aggregates — so without staging the verify
    pipeline re-runs per reference. Same at-scale story as the other
    staged_* tables: a dedup campaign writes pairs once, every graph
    diagnostic reads them."""
    return staging.get(
        spark,
        ("jaccard_pairs", sf_dir, threshold),
        lambda: dedup.ngram_jaccard_pairs(
            _docs(spark, sf_dir), "doc_id", "text", threshold=threshold,
            grams=staged_corpus(spark, sf_dir)[0],
            cands=staged_candidates(spark, sf_dir),
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )


def staged_ivf_index(spark, sf_dir):
    """The exact-Lloyd IVF index (operators/ivf.py) built ONCE per
    corpus and shared by every consumer (E4's top-k probe, E44's
    nprobe curve, the scale-path tests). At 100 TB the index is a
    materialized artifact (vectors written bucketed by cluster +
    broadcastable centroids); staging it is the session-scale
    equivalent. The assigned table persists MEMORY_AND_DISK; the
    centroids are a driver-built k-row table and stay unpersisted."""
    from icecube_spark.operators.ivf import build_ivf_index

    def build():
        assigned, centroids = build_ivf_index(
            _emb(spark, sf_dir), "vec_id", "embedding", k=16, n_iter=4
        )
        return assigned.persist(StorageLevel.MEMORY_AND_DISK), centroids

    return staging.get(spark, ("ivf_index", sf_dir), build)


def staged_tfidf_fit(spark, sf_dir) -> None:
    """No-op. text_features no longer fits TF-IDF: its output comes
    from a native projection and never depended on the fit. Kept only
    because the benchmark's staging list (perfbench/workloads.py)
    calls it by name; it goes when that list drops it."""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — exact dedup groups by md5(normalized text)."""
    return dedup.exact_dedup(_docs(spark, sf_dir), "doc_id", "text")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — MinHash+LSH candidates, exact-Jaccard-verified >= 0.8."""
    return staged_minhash_pairs(spark, sf_dir)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — exact all-pairs 3-gram Jaccard >= 0.5 (inverted index)."""
    grams, _ = staged_corpus(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.5, grams=grams,
        cands=staged_candidates(spark, sf_dir),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 — SimHash-60 near-dup pairs (chunk candidates, hamming <= 10)."""
    return dedup.simhash_pairs(_docs(spark, sf_dir), "doc_id", "text", max_hamming=10)


def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — brute-force cosine top-5 for query vectors vec_id < 10."""
    return similarity.cosine_topk(
        _emb(spark, sf_dir), "vec_id", "embedding", F.col("vec_id") < 10, k=5
    )


def embed_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — 5-NN majority-vote label for query vectors vec_id < 10."""
    return similarity.knn_label(
        _emb(spark, sf_dir), "vec_id", "embedding", "label", F.col("vec_id") < 10, k=5
    )


def embed_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — hyperplane-LSH bucketed ANN: best in-bucket neighbor."""
    return similarity.lsh_ann_best_neighbor(_emb(spark, sf_dir), "vec_id", "embedding")


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — marker-word language identification."""
    return text.lang_id(_docs(spark, sf_dir), "doc_id", "text")


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — composite document quality score."""
    return text.quality_score(_docs(spark, sf_dir), "doc_id", "text")


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — whitespace/regex token counts."""
    return text.token_count(_docs(spark, sf_dir), "doc_id", "text")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — 5-min-hash shingle fingerprint."""
    return text.doc_fingerprint(_docs(spark, sf_dir), "doc_id", "text", k=5)


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — within-doc repetition: duplicate-word fraction + top
    2-gram share (Gopher repetition rules)."""
    return text.repetition_stats(_docs(spark, sf_dir), "doc_id", "text")


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — Gopher-style rule filter: word count, mean word length,
    symbol ratio, stopword presence -> keep flag."""
    return text.gopher_quality(_docs(spark, sf_dir), "doc_id", "text")


def term_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — mean corpus document-frequency of each doc's tokens."""
    return text.term_commonness(_docs(spark, sf_dir), "doc_id", "text")


def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — per-source vocabulary profile (tokens, vocab, hapax, TTR)."""
    return text.vocab_stats(_docs(spark, sf_dir), "source", "text").orderBy("source")


def embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — per-label embedding centroids as flat (label, dim) rows."""
    return similarity.label_centroids(
        _emb(spark, sf_dir), "label", "embedding"
    ).orderBy("label", "dim")


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — binary payload through the Arrow decode-stub stage."""
    payload = multimodal.attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    return multimodal.decode_stub(payload)


def embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 scale path / E4 — IVF ANN on the exact-Lloyd coarse
    quantizer (operators/ivf.py): deterministic seeds + quantized
    integer distance folds make the whole index hash-checkable against
    the DuckDB oracle; recall vs brute force is additionally pinned in
    tests/test_scale_paths.py."""
    from icecube_spark.operators.ivf import probe_topk

    assigned, centroids = staged_ivf_index(spark, sf_dir)
    return probe_topk(
        assigned, centroids, _emb(spark, sf_dir), "vec_id", "embedding",
        F.col("vec_id") < 10, k_neighbors=5, nprobe=4,
    )


def text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF input stats: token and distinct-term counts
    from a native tokenizer projection, so the key is fully
    oracle-checked. No HashingTF/IDF model is fitted: the stats never
    depended on one, and routing them through model.transform re-runs
    the tokenizer UDF per stats expression after projection collapse.
    The MLlib operator itself is operators/features.tfidf_features."""
    docs = _docs(spark, sf_dir)
    toks = F.array_remove(F.split(F.lower(F.col("text")), r"\s+"), "")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint")
        .alias("n_distinct_terms"),
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 — embedding-cosine near-dup pairs, LSH-bucketed: candidates
    share an 8-bit hyperplane code (the E2 bucketing — one shuffle on
    the code, within-bucket pairs only, never all-pairs), then the
    exact quantized-integer cosine keeps every emitted score
    oracle-exact. Scale path: bucket fanout is O((n/2^bits)²) per
    bucket; at larger corpora raise the plane count / add probe
    tables rather than widening buckets."""
    from icecube_spark.functions.plans import filter_once
    from icecube_spark.operators.similarity import dot_expr, lsh_code, norm_expr

    emb = catalog.load(spark, sf_dir, "embeddings")
    coded = emb.select(
        "vec_id",
        "embedding",
        lsh_code("embedding").alias("code"),
        norm_expr("embedding").alias("nrm"),
    )
    a = coded.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        "code", F.col("nrm").alias("na"),
    )
    b = coded.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        "code", F.col("nrm").alias("nb"),
    )
    scored = (
        a.join(b, "code")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", dot_expr("va", "vb") / (F.col("na") * F.col("nb")))
    )
    # filter_once: without the barrier the >= threshold pushes into the
    # join condition and the 64-term dot product runs twice per pair
    return (
        filter_once(scored, F.col("cosine") >= 0.35)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — top-20 bigram collocations by lift (log-free PMI)."""
    return text.bigram_lift(_docs(spark, sf_dir), "text", min_count=5, k=20)


def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — global-range int8 scalar quantization of embeddings.

    The declared result serializes the quantized vector to a
    comma-joined string: the driver's canonicalizer hashes scalar
    cells and cannot grade ARRAY columns (the oracle twin applies the
    identical array_to_string)."""
    out = similarity.scalar_quantize(_emb(spark, sf_dir), "vec_id", "embedding")
    return out.select(
        "vec_id",
        F.array_join(
            F.expr("transform(qvec, v -> cast(v as string))"), ","
        ).alias("qvec"),
        "gmin",
        "gmax",
    )


def centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — pairwise cosine between label centroids (cluster
    separation / confusable-labels report)."""
    return similarity.centroid_similarity(
        _emb(spark, sf_dir), "label", "embedding"
    ).orderBy("label_a", "label_b")


def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 — per-dimension embedding distribution profile
    (normalization / quantization-calibration statistics)."""
    return similarity.dim_stats(_emb(spark, sf_dir), "embedding").orderBy("dim")


def embed_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 — embedding-norm 3σ outlier flags (broken-encoder guard)."""
    return similarity.norm_outliers(_emb(spark, sf_dir), "vec_id", "embedding").orderBy(
        "vec_id"
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 — exact n-gram containment near-dup pairs (catches subset
    duplicates that Jaccard misses)."""
    grams, _ = staged_corpus(spark, sf_dir)
    return dedup.containment_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.8, grams=grams,
        cands=staged_candidates(spark, sf_dir),
    ).orderBy("doc_a", "doc_b")


def doc_top_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — per-doc top-3 distinctive terms by tf·(N/df)."""
    return text.top_tfidf_terms(_docs(spark, sf_dir), "doc_id", "text", k=3).orderBy(
        "doc_id", "rank"
    )


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 — metadata-lang vs heuristic-prediction confusion matrix."""
    return text.langid_confusion(_docs(spark, sf_dir), "doc_id", "text", "lang").orderBy(
        "true_lang", "predicted_lang"
    )


def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — per-doc sentence-length profile (readability signal)."""
    return text.sentence_stats(_docs(spark, sf_dir), "doc_id", "text").orderBy("doc_id")


def char_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 — raw-text character-class ratios (symbol-soup filters)."""
    return text.char_profile(_docs(spark, sf_dir), "doc_id", "text").orderBy("doc_id")


def embed_top_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 — per-vector top-3 |magnitude| dimensions (sparse
    fingerprint)."""
    return similarity.top_dims(_emb(spark, sf_dir), "vec_id", "embedding", k=3).orderBy(
        "vec_id", "rank"
    )


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — 1→N frame sampling through Arrow mapInPandas."""
    payload = multimodal.attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    return multimodal.sample_frames(payload).orderBy("doc_id", "frame_idx")


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — binary → fixed-width feature-vector stub (rows-only)."""
    payload = multimodal.attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    return multimodal.extract_features(payload).orderBy("doc_id")


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 — Levenshtein ≤ 2 near-dup part names via last-token
    blocking."""
    part = catalog.load(spark, sf_dir, "part")
    return dedup.fuzzy_pairs(part, "p_name", max_dist=2).orderBy("name_a", "name_b")


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 — per-doc fraction of 5-grams first seen in that doc."""
    docs = catalog.load(spark, sf_dir, "documents")
    return pipeline_ops.ngram_novelty(docs, "doc_id", "text").orderBy("doc_id")


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 — recall@5 of the LSH ANN index vs exact brute force."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.ann_recall_eval(
        emb, "vec_id", "embedding", F.col("vec_id") < 10
    ).orderBy("query_id")


def embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 — exact per-dimension z-scores for the leading 8 dims."""
    return similarity.standardize_dims(_emb(spark, sf_dir), "vec_id", "embedding").orderBy(
        "vec_id", "dim"
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 — per-doc mean token log-probability under the corpus
    unigram LM (perplexity-proxy quality score)."""
    return text.unigram_logprob(_docs(spark, sf_dir), "doc_id", "text").orderBy(
        "doc_id"
    )


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17 — one-row Zipf rank-frequency fit of the corpus vocabulary."""
    return text.zipf_fit(_docs(spark, sf_dir), "text")


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 — duplicated 16-token chunks across the corpus (substring-
    level dedup signal whole-doc hashing misses)."""
    return text.chunk_dedup(_docs(spark, sf_dir), "doc_id", "text").orderBy(
        "chunk_hash"
    )


def embed_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 — top-2 principal components of the embedding corpus
    (rows-only: eigendecomposition has no SQL twin; the unit test
    checks the components against numpy PCA)."""
    emb = _emb(spark, sf_dir)
    return similarity.pca_top(emb, "embedding", k=2).orderBy("component", "dim")


def multimodal_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — 256×256 tile manifest of decoded images (docs-as-payload
    stub decode; tile grid from metadata only)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    meta = multimodal.decode_stub(docs)
    return multimodal.tile_manifest(meta).orderBy("doc_id", "tile_y", "tile_x")


def minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 — MinHash estimated-vs-exact Jaccard per LSH candidate
    pair (sketch quality gate)."""
    grams, sigs = staged_corpus(spark, sf_dir)
    return dedup.minhash_estimate_accuracy(
        _docs(spark, sf_dir), "doc_id", "text", grams=grams, sigs=sigs
    ).orderBy("doc_a", "doc_b")


def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 — one exact Lloyd iteration over the embedding corpus
    (seeds = 8 lowest-id vectors), oracle-exact."""
    emb = _emb(spark, sf_dir)
    return similarity.kmeans_refine(emb, "vec_id", "embedding", k=8).orderBy(
        "cluster", "dim"
    )


def near_dup_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 — gram-level diff (shared / only-A / only-B) for every
    verified near-dup pair."""
    grams, sigs = staged_corpus(spark, sf_dir)
    return dedup.near_dup_diff(
        _docs(spark, sf_dir), "doc_id", "text", grams=grams, sigs=sigs
    ).orderBy("doc_a", "doc_b")


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 — near-dup pair/doc counts per candidate cosine threshold
    (one pass over the LSH candidate set)."""
    emb = _emb(spark, sf_dir)
    return similarity.dedup_threshold_curve(emb, "vec_id", "embedding").orderBy(
        "threshold"
    )


def mi_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 — language x source pointwise mutual information (mixing-
    balance audit: positive PMI cells are single-language feeds)."""
    return text.mutual_information(_docs(spark, sf_dir), "lang", "source")


def chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 — chi-squared association of the top-30 document-frequency
    terms with language (feature selection / leak detection)."""
    return text.chi2_terms(_docs(spark, sf_dir), "doc_id", "text", "lang", k=30)


def media_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — header-fingerprint media dedup: payloads whose leading
    block hashes identically, grouped before any decode."""
    return multimodal.prefix_dedup(_docs(spark, sf_dir), "doc_id", "text")


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21 — BM25 top-15 documents for the query {join, hash, scan}."""
    return text.bm25_topk(
        _docs(spark, sf_dir), "doc_id", "text", ["join", "hash", "scan"], k=15
    )


def entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22 — token Shannon entropy per source (template/boilerplate
    detector; normalized by ln(vocab))."""
    return text.entropy_by_group(_docs(spark, sf_dir), "source", "text")


def mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 — MMR diverse top-8 per label-centroid query (rows-only:
    greedy rerank has no SQL twin; numpy twin in pytest)."""
    return similarity.mmr_diversify(
        _emb(spark, sf_dir), "vec_id", "embedding", "label"
    )


def minhash_eval_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P35 — one-row sketch sign-off: over the LSH candidate pairs,
    treat est_jaccard >= 0.8 as the sketch's dedup decision and exact
    jaccard >= 0.8 as truth; report the confusion counts and
    precision/recall/F1 (candidate-conditional — candidate recall
    itself is covered by minhash_accuracy/ann_recall_eval). All three
    ratios are single exact-integer divisions, so the row hashes
    bit-identically.
    """
    grams, sigs = staged_corpus(spark, sf_dir)
    acc = dedup.minhash_estimate_accuracy(
        _docs(spark, sf_dir), "doc_id", "text", grams=grams, sigs=sigs
    )
    pred = F.col("est_jaccard") >= 0.8
    truth = F.col("jaccard") >= 0.8
    agg = acc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        # empty candidate set: SUM over zero rows is NULL, report 0s
        F.coalesce(F.sum(F.when(pred & truth, 1).otherwise(0)), F.lit(0))
        .cast("bigint").alias("tp"),
        F.coalesce(F.sum(F.when(pred & ~truth, 1).otherwise(0)), F.lit(0))
        .cast("bigint").alias("fp"),
        F.coalesce(F.sum(F.when(~pred & truth, 1).otherwise(0)), F.lit(0))
        .cast("bigint").alias("fn"),
    )
    z = F.lit(0.0)
    return agg.select(
        "n_candidates",
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") > 0,
               F.col("tp").cast("double")
               / (F.col("tp") + F.col("fp")).cast("double"))
         .otherwise(z).alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.col("tp").cast("double")
               / (F.col("tp") + F.col("fn")).cast("double"))
         .otherwise(z).alias("recall"),
        F.when(F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
               (F.lit(2) * F.col("tp")).cast("double")
               / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"))
                 .cast("double"))
         .otherwise(z).alias("f1"),
    )


def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 — product-quantization code assignment (8 subspaces × 4
    deterministic seed codes, exact quantized distances)."""
    return similarity.pq_assign(_emb(spark, sf_dir), "vec_id", "embedding")


def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F24 — token-exact blocklist safety gate with per-doc hit
    counts and keep/flag verdicts."""
    return text.blocklist_filter(_docs(spark, sf_dir), "doc_id", "text")


def media_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — overlapping (win 256, hop 128) byte-window manifest per
    payload (audio/STFT-style work units; metadata-only — window size
    chosen so the test corpus' ~50-550-byte payloads actually
    overlap; production audio would use 4096/2048)."""
    return multimodal.chunk_windows(
        _docs(spark, sf_dir), "doc_id", "text", win=256, hop=128
    )


def embed_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 — LSH index health: per-bucket occupancy and induced
    candidate-pair counts for the 8-bit hyperplane code. The ops
    check before trusting E2's recall: a skewed bucket histogram
    means one giant bucket does quadratic work while empty buckets
    return nothing.

    Plan: one map-side code projection + one count shuffle to ≤256
    rows; pair math is projection over the aggregate."""
    emb = _emb(spark, sf_dir)
    coded = emb.select(similarity.lsh_code("embedding").alias("code"))
    return (
        coded.groupBy("code")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .select(
            "code",
            "n_vectors",
            (F.col("n_vectors") * (F.col("n_vectors") - 1) / 2)
            .cast("bigint")
            .alias("n_pairs"),
        )
        .orderBy("code")
    )


def label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 — label-noise screen: per label, how often a vector's best
    in-bucket neighbor (E2's LSH candidate) carries a DIFFERENT
    label. High disagreement flags mislabeled slices or collapsed
    classes before anyone trains on them. Agreement ratio is one
    exact integer division.

    Plan: exactly E2's bucketed pass (one shuffle on the 8-bit code,
    within-bucket pairs only) plus a broadcast re-join of the tiny
    (id, label) side and a label-cardinality aggregate.
    """
    emb = _emb(spark, sf_dir)
    best = similarity.lsh_ann_best_neighbor(emb, "vec_id", "embedding")
    labels = emb.select("vec_id", "label")
    j = (
        best.join(F.broadcast(labels), "vec_id")
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("n_label"),
                )
            ),
            "neighbor_id",
        )
    )
    return (
        j.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(
                F.when(F.col("label") == F.col("n_label"), 1).otherwise(0)
            ).cast("bigint").alias("n_agree"),
        )
        .select(
            "label",
            "n_vectors",
            "n_agree",
            (
                F.col("n_agree").cast("double")
                / F.col("n_vectors").cast("double")
            ).alias("agreement"),
        )
        .orderBy("label")
    )


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F26 — coverage of corpus tokens by the top-k vocabulary at
    several k (tokenizer/embedding-table sizing curve)."""
    return text.vocab_coverage(_docs(spark, sf_dir), "text")


def pq_code_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 — PQ codebook health: member counts + mean distortion per
    (subspace, code)."""
    return similarity.pq_code_balance(_emb(spark, sf_dir), "vec_id", "embedding")


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 — incremental ingestion dedup: per-source novel /
    dup-of-base / dup-in-delta counts for an arriving 20% batch
    against the existing 80% corpus."""
    return dedup.incremental_dedup(_docs(spark, sf_dir), "doc_id", "text")


def js_divergence_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F27 — pairwise JS divergence between language unigram
    distributions (language-separation matrix)."""
    return text.js_divergence_matrix(_docs(spark, sf_dir), "lang", "text")


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F28 — per-doc mean bigram conditional log-probability under
    the corpus's add-1-smoothed bigram LM (fluency score)."""
    return text.bigram_logprob(_docs(spark, sf_dir), "doc_id", "text")


def heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F29 — Heaps'-law vocabulary-growth fit per source."""
    return text.heaps_fit(_docs(spark, sf_dir), "source", "text")


def code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F30 — code-vs-prose heuristic signals per document."""
    return text.code_detect(_docs(spark, sf_dir), "doc_id", "text")


def stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F31 — stopword usage profile per source."""
    return text.stopword_profile(_docs(spark, sf_dir), "source", "text")


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 — PQ asymmetric-distance approximate top-k (codes-only
    query path over the E17 codebook)."""
    return similarity.pq_adc_topk(_emb(spark, sf_dir), "vec_id", "embedding")


def embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 — per-dimension mean drift between even/odd id halves."""
    return similarity.mean_drift(_emb(spark, sf_dir), "vec_id", "embedding")


def cosine_adjacent_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23 — isotropy histogram of adjacent-id pair cosines."""
    return similarity.adjacent_cosine_hist(
        _emb(spark, sf_dir), "vec_id", "embedding"
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F32 — subword-per-word fertility + chars/subword per source."""
    return text.tokenizer_fertility(_docs(spark, sf_dir), "source", "text")


def media_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — cross-media near-dups by shared frame signatures.

    The payload is the ASCII projection of the text (non-ASCII bytes
    → '?') so the DuckDB oracle's character-based frame grid is
    byte-exact by construction on any corpus, not just ASCII ones."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"[^\x00-\x7F]", "?").alias("text"),
    )
    payload = multimodal.attach_binary(docs, "doc_id", "text")
    return multimodal.media_frame_dedup(payload)


def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 — recall@5 of PQ asymmetric-distance search vs exact."""
    return similarity.pq_recall_eval(_emb(spark, sf_dir), "vec_id", "embedding")


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F33 — fluency-decile profile: docs bucketed into deciles of
    the F28 bigram-LM score, with per-decile count, score range and
    mean length. The triage view a curation owner reads to pick the
    perplexity cut — the bottom decile is symbol soup, the top is
    boilerplate; both get different treatment than the middle.

    Plan: the F28 plan + one NTILE window over its (doc, score)
    output + a 10-row aggregate; length joins from the base table on
    the doc id."""
    from pyspark.sql import Window

    from icecube_spark.operators.pipeline import distributed_ntile

    scored = text.bigram_logprob(_docs(spark, sf_dir), "doc_id", "text")
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    b = distributed_ntile(
        scored, ["mean_logprob", "doc_id"], 10, tile_col="decile"
    ).join(docs, "doc_id")
    return (
        b.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("mean_logprob").alias("min_logprob"),
            F.max("mean_logprob").alias("max_logprob"),
            (
                F.sum("n_chars").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_chars"),
        )
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_docs", "min_logprob", "max_logprob", "mean_chars",
        )
        .orderBy("decile")
    )


def lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 — LSH band-bucket size histogram + implied pair cost
    (dedup-campaign health dashboard)."""
    _, _, sigs = staged_collapse(spark, sf_dir)
    return dedup.lsh_bucket_profile(
        _docs(spark, sf_dir), "doc_id", "text", sigs=sigs
    )


def blocklist_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F34 — leet-normalized blocklist gate (catches obfuscated
    variants the exact F24 gate misses)."""
    return text.blocklist_fuzzy(_docs(spark, sf_dir), "doc_id", "text")


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E25 — contrastive hard-negative mining: per query vector, the
    top-3 nearest neighbors with a different label."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(
        emb, "vec_id", "embedding", "label", F.col("vec_id") < 20, k=3
    )


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 — TF-IDF cosine near-dup pairs via the df-capped inverted
    index."""
    return dedup.tfidf_cosine_pairs(_docs(spark, sf_dir), "doc_id", "text")


def repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D13 — cross-doc repeated substring profile (strided 32-char
    window hashes; Lee et al. 2022 signal)."""
    return dedup.repeated_substrings(_docs(spark, sf_dir), "doc_id", "text")


def label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E26 — per-class k-NN label-disagreement audit (confident-
    learning-lite) within E2 LSH buckets."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.label_noise_knn(emb, "vec_id", "embedding", "label", k=5)


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F35 — corpus-weighted adjacent char-pair counts (the first BPE
    merge step)."""
    return text.bpe_merge_candidates(_docs(spark, sf_dir), "text", top_k=50)


def stupid_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F36 — stupid-backoff bigram LM doc scores (Brants et al.
    2007)."""
    return text.stupid_backoff_logprob(_docs(spark, sf_dir), "doc_id", "text")


def translation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E28 — cross-lingual near-duplicate detection: embedding pairs
    above cosine threshold whose DOCUMENTS carry different languages
    — the translated-duplicate sweep (parallel corpora inflate token
    counts and leak eval translations; same-language dedup never
    sees them).

    Plan: the D5 LSH-bucketed pair mine (one code shuffle, never
    all-pairs) plus two broadcast doc-lang joins on the vec ids.
    """
    from icecube_spark.operators.similarity import dot_expr, lsh_code, norm_expr

    emb = catalog.load(spark, sf_dir, "embeddings")
    docs = catalog.load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("lang")
    )
    coded = emb.select(
        "vec_id",
        "embedding",
        lsh_code("embedding").alias("code"),
        norm_expr("embedding").alias("nrm"),
    )
    a = coded.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        "code", F.col("nrm").alias("na"),
    )
    b = coded.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        "code", F.col("nrm").alias("nb"),
    )
    la = docs.select(F.col("doc_id").alias("vec_a"), F.col("lang").alias("lang_a"))
    lb = docs.select(F.col("doc_id").alias("vec_b"), F.col("lang").alias("lang_b"))
    scored = (
        a.join(b, "code")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", dot_expr("va", "vb") / (F.col("na") * F.col("nb")))
        .select("vec_a", "vec_b", "cosine")
        .join(F.broadcast(la), "vec_a")
        .join(F.broadcast(lb), "vec_b")
        .where(F.col("lang_a") != F.col("lang_b"))
    )
    return (
        scored.where(F.col("cosine") >= 0.3)
        .select("vec_a", "vec_b", "lang_a", "lang_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def mojibake_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F37 — encoding-artifact (mojibake/control-byte) audit per
    doc."""
    return text.mojibake_score(_docs(spark, sf_dir), "doc_id", "text")


def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27 — recall@5 of 16-dim-prefix retrieval vs full 64-dim
    (Matryoshka truncation eval)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.matryoshka_recall(emb, "vec_id", "embedding")


def boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F38 — per-source shared-prefix boilerplate detection (top-3
    32-char prefixes + doc share)."""
    return text.boilerplate_prefixes(
        _docs(spark, sf_dir), "doc_id", "text", "source"
    )


def hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E29 — recall@5 of 64-bit sign-sketch Hamming retrieval vs
    exact cosine (binary-quantization eval)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.hamming_recall(emb, "vec_id", "embedding")


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F39 — Flesch reading-ease per doc (exact integer word/
    sentence/syllable counts)."""
    return text.readability_scores(_docs(spark, sf_dir), "doc_id", "text")


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F40 — RAKE top-20 corpus keyphrases (degree/frequency word
    scores over stopword-delimited phrase runs)."""
    return text.rake_keywords(_docs(spark, sf_dir), "doc_id", "text")


def bbit_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D14 — 1-bit MinHash estimator vs the full 64-component sketch
    per LSH candidate pair (Li & König 2010 compression sign-off)."""
    _, sigs = staged_corpus(spark, sf_dir)
    return dedup.bbit_minhash_eval(
        _docs(spark, sf_dir), "doc_id", "text", sigs=sigs
    )


def label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E30 — centroid-silhouette margin per label class (mean own-vs-
    best-foreign centroid cosine + misplaced count)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.label_silhouette(emb, "vec_id", "embedding", "label")


def license_notice_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F41 — copyright/license notice rates per source
    (corpus-governance scan)."""
    return text.license_notice_rate(
        _docs(spark, sf_dir), "doc_id", "text", "source"
    )


def uncertainty_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E31 — top-20 least-decisive k-NN vote anchors (active-learning
    labeling queue)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.uncertainty_sampling(emb, "vec_id", "embedding", "label")


def media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — scene-cut profile per medium: adjacent frame-signature
    changes over the G2 frame grid (a "cut" = consecutive frames with
    different content hashes), plus the distinct-frame count. The
    shot-boundary statistic a video curation pass uses to separate
    static/looping media (few cuts, few distinct frames) from real
    footage — and, like G7, the payload bytes never shuffle: only
    (doc, idx, hash) rows leave the scan.

    Plan: map-only Arrow frame extraction (fanout ≤ 7), one window
    per doc ordered by frame index (key-partitioned, no global sort),
    one per-doc aggregate. Text is ASCII-projected as in G7 so the
    char-based oracle is byte-exact on any corpus.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"[^\x00-\x7F]", "?").alias("text"),
    )
    frames = multimodal.frame_signatures(
        multimodal.attach_binary(docs, "doc_id", "text")
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    cuts = frames.withColumn(
        "is_cut",
        (F.col("frame_hash") != F.lag("frame_hash").over(w)).cast("int"),
    )
    return (
        cuts.groupBy("doc_id")
        .agg(
            F.max("n_frames").cast("bigint").alias("n_frames"),
            F.coalesce(F.sum("is_cut"), F.lit(0)).cast("bigint")
            .alias("n_cuts"),
            F.countDistinct("frame_hash").cast("bigint")
            .alias("n_distinct_frames"),
        )
        .where(F.col("n_frames") > 1)
        .select(
            "doc_id",
            "n_frames",
            "n_cuts",
            "n_distinct_frames",
            (
                F.col("n_cuts").cast("double")
                / (F.col("n_frames") - F.lit(1)).cast("double")
            ).alias("cut_rate"),
        )
        .orderBy("doc_id")
    )


def knn_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E32 — kNN-graph reciprocity + hubness over the vec_id<500 panel."""
    return similarity.knn_graph_stats(
        _emb(spark, sf_dir), "vec_id", "embedding",
        F.col("vec_id") < 500, k=5,
    )


def normalization_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F43 — normalization diff audit: how much does the dedup
    pipeline's canonical normalization (trim → lowercase → whitespace
    collapse) actually change, per source? Reports docs changed, the
    character mass removed, and the case-only change count. The
    pre-flight audit run before switching normalizers — a normalizer
    that rewrites 40% of one source's bytes changes that source's
    dedup groups, and this is how you find out BEFORE the campaign.

    Plan: map-only projections + one source-keyed aggregate;
    integer character counts fold exactly.
    """
    docs = _docs(spark, sf_dir)
    norm = F.expr(
        "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
    )
    case_only = F.expr(
        "regexp_replace(trim(text), '\\\\s+', ' ')"
    )
    audited = docs.select(
        "source",
        F.length("text").alias("raw_len"),
        F.length(norm).alias("norm_len"),
        (norm != F.col("text")).cast("int").alias("changed"),
        (case_only != F.col("text")).cast("int").alias("ws_changed"),
        ((F.lower(F.col("text")) != F.col("text"))).cast("int")
        .alias("has_upper"),
    )
    return (
        audited.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("changed").cast("bigint").alias("n_changed"),
            F.sum("has_upper").cast("bigint").alias("n_case_affected"),
            F.sum("ws_changed").cast("bigint").alias("n_ws_affected"),
            F.sum(F.col("raw_len") - F.col("norm_len")).cast("bigint")
            .alias("chars_removed"),
            (
                F.sum("changed").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("pct_changed"),
        )
        .orderBy("source")
    )


def doc_stitch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F44 — split-document stitching pairs: last-2 tokens of doc A
    == first-2 tokens of doc B, template keys (df > 64) excluded."""
    return text.doc_stitch_pairs(_docs(spark, sf_dir), "doc_id", "text")


def rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E33 — recall@10 of 8-D integer random-projection retrieval vs
    exact cosine (JL-projection index sizing eval)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.rp_recall(emb, "vec_id", "embedding")


def media_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 — per-medium silence profile (64-byte windows, >=25%
    floor-amplitude bytes = silent): chunk counts, longest silent
    run, silence rate. Text is ASCII-projected as in G7/G8 so the
    char-based oracle is byte-exact on any corpus."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"[^\x00-\x7F]", "?").alias("text"),
    )
    return multimodal.audio_silence(
        multimodal.attach_binary(docs, "doc_id", "text")
    ).orderBy("doc_id")


def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F45 — per-doc character entropy over a-z/0-9/space + other
    (gibberish and padding screen)."""
    return text.char_entropy(_docs(spark, sf_dir), "doc_id", "text")


def bucket_label_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E34 — Adjusted Rand Index of the E2 LSH bucket assignment vs
    embedding labels (does geometry recover the classes?)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.bucket_label_ari(emb, "vec_id", "embedding", "label")


def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 — MOSS-style winnowing fingerprint pairs (4-token grams,
    window 4, >=3 shared fingerprints, df<=64 cap)."""
    return dedup.winnowing_pairs(_docs(spark, sf_dir), "doc_id", "text")


def topk_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F46 — token-mass coverage at vocab ranks 10/100/1k/10k: the
    tokenizer-budget table (how much of the corpus the top-k types
    explain). zipf_fit gives the exponent; this gives the budget
    read-off."""
    return text.topk_coverage_curve(_docs(spark, sf_dir), "doc_id", "text")


def dot_cosine_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E35 — per-query Spearman rho between dot-product and cosine
    rankings (is the normalize pass load-bearing on this corpus?)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.dot_cosine_rank_corr(emb, "vec_id", "embedding")


def burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F47 — Burrows' Delta stylometric distance between sources
    (top-20 corpus terms, per-million rates, z-scored)."""
    return text.burrows_delta(_docs(spark, sf_dir), "doc_id", "text", "source")


def embed_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36 — embedding isotropy / anisotropy audit per label plus an
    overall row: ||mean unit vector||^2 and implied mean pairwise
    cosine — the cone-collapse check run before trusting any cosine
    threshold."""
    return similarity.isotropy(
        _emb(spark, sf_dir), "vec_id", "label", "embedding"
    ).orderBy("label")


def mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F48 — moving-average type-token ratio (window 50) per source:
    length-robust lexical diversity; low values flag templated
    feeds."""
    return text.mattr_diversity(
        _docs(spark, sf_dir), "source", "text", window=50
    ).orderBy("source")


def knn_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 — nearest-neighbor margin per label (best same-label minus
    best other-label cosine within the LSH bucket): does cosine
    separate the classes, and by how much?"""
    return similarity.knn_margin(
        _emb(spark, sf_dir), "vec_id", "embedding", "label"
    )


def char_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F49 — char-trigram LM score per doc: sub-word quality gate
    that catches in-token noise a word-level LM misses."""
    return text.char_trigram_logprob(
        _docs(spark, sf_dir), "doc_id", "text"
    ).orderBy("doc_id")


def media_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 — loudness profile per medium (64-byte RMS windows): mean
    /peak RMS, dynamic range, clipping rate. ASCII projection keeps
    the char-based oracle byte-exact."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"[^\x00-\x7F]", "?").alias("text"),
    )
    return multimodal.audio_loudness(
        multimodal.attach_binary(docs, "doc_id", "text")
    ).orderBy("doc_id")


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D17 — sorted-neighborhood blocking (window 3 inside first-token
    blocks) with exact 3-gram Jaccard verify: the deterministic-
    fanout ER alternative to D2's LSH banding."""
    return dedup.sorted_neighborhood_pairs(
        _docs(spark, sf_dir), "doc_id", "text", window=3, min_jaccard=0.3
    )


def cosine_label_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E38 — precision/recall/F1 of "cosine >= t == same label" per
    candidate threshold: calibrate the cosine cut before using it."""
    return similarity.cosine_label_pr_curve(
        _emb(spark, sf_dir), "vec_id", "embedding", "label"
    )


def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F50 — tf/df burstiness of the top-30 terms (Church-Gale):
    topical vocabulary bursts, glue words spread evenly."""
    return text.term_burstiness(_docs(spark, sf_dir), "text", top_k=30)


def media_frame_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 — within-frame byte-entropy profile per medium (64-byte
    frames): content-vs-filler triage before any decode."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"[^\x00-\x7F]", "?").alias("text"),
    )
    return multimodal.frame_entropy(
        multimodal.attach_binary(docs, "doc_id", "text")
    ).orderBy("doc_id")


def dup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D18 — does near-dup similarity behave transitively? Wedge/
    triangle closure rate of the 0.3-Jaccard pair graph — the
    go/no-go check before connected-components cluster collapse."""
    return dedup.dup_transitivity_audit(
        staged_jaccard_pairs(spark, sf_dir, 0.3)
    )


def quantization_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E39 — 1/2/4/8-bit scalar-quantization ladder: RMSE and mean
    original-vs-reconstructed cosine per bit width."""
    return similarity.quantization_sweep(
        _emb(spark, sf_dir), "vec_id", "embedding"
    )


def source_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F51 — doc-to-source-centroid TF cosine rollup: which sources
    mix unrelated content?"""
    return text.source_coherence(
        _docs(spark, sf_dir), "source", "doc_id", "text"
    )


def norm_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E40 — label entropy by embedding-norm decile: do the norm
    tails hold label soup?"""
    return similarity.norm_quality_deciles(
        _emb(spark, sf_dir), "vec_id", "embedding", "label"
    )


def media_dup_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12 — frame-level dedup leverage per medium: total frames vs
    distinct frame signatures and the implied storage savings of
    content-addressed frame storage (G7 finds the dup PAIRS; this
    prices the win)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"[^\x00-\x7F]", "?").alias("text"),
    )
    sigs = multimodal.frame_signatures(
        multimodal.attach_binary(docs, "doc_id", "text")
    )
    agg = sigs.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_frames"),
        F.countDistinct("frame_hash").cast("bigint").alias("distinct_frames"),
        F.countDistinct("doc_id").cast("bigint").alias("n_media"),
    )
    return agg.select(
        "n_media",
        "total_frames",
        "distinct_frames",
        (
            F.col("total_frames").cast("double")
            / F.col("distinct_frames").cast("double")
        ).alias("dup_factor"),
        (
            (F.col("total_frames") - F.col("distinct_frames")).cast("double")
            / F.col("total_frames").cast("double")
        ).alias("storage_savings"),
    )


def yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F53 — Yule's K lexical-richness characteristic per source
    (length-invariant repetitiveness; the vocab-health complement to
    F9's size-dependent TTR)."""
    from icecube_spark.operators import text as text_ops

    return text_ops.yule_k(_docs(spark, sf_dir), "source", "text").orderBy(
        "source"
    )


def knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E42 — k-occurrence (hubness) histogram of the 5-NN cosine graph
    over a 200-vector sample: the high-dimensionality health check
    for the E1/E3 retrieval stack."""
    return similarity.knn_hubness(
        _emb(spark, sf_dir), "vec_id", "embedding", F.col("vec_id") < 200
    )


def media_format_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13 — magic-byte format dispatch over the opaque payload
    column: classify each asset by its leading byte (the same
    first-bytes sniff a real ingester does before routing to a
    codec; classes here are a deterministic stand-in taxonomy) and
    report per-class counts, bytes, and share of the corpus."""
    from pyspark.sql import Window

    from icecube_spark.operators import multimodal

    payload = multimodal.attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    lead = F.expr("decode(substring(payload, 1, 1), 'utf-8')")
    fmt = (
        F.when(lead.isin("a", "e", "i", "o", "u"), F.lit("audio-like"))
        .when(lead.rlike("^[0-9]$"), F.lit("image-like"))
        .when(lead.rlike("^[a-z]$"), F.lit("video-like"))
        .when(lead.rlike("^[A-Z]$"), F.lit("doc-like"))
        .otherwise(F.lit("unknown"))
    )
    wall = Window.partitionBy()
    agg = payload.groupBy(fmt.alias("format_class")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum(F.length("payload")).cast("bigint").alias("total_bytes"),
    )
    return agg.select(
        "format_class",
        "n_assets",
        "total_bytes",
        (
            F.col("n_assets").cast("double")
            / F.sum("n_assets").over(wall).cast("double")
        ).alias("asset_share"),
    ).orderBy("format_class")


def distance_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E43 — pairwise cosine-distance concentration at matryoshka
    prefix widths 8/16/32/64 over a 200-vector sample: the
    curse-of-dimensionality companion to E42's hubness check."""
    return similarity.distance_concentration(
        _emb(spark, sf_dir), "vec_id", "embedding", F.col("vec_id") < 200
    )


def casing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F54 — raw-token casing mix per source (ALL-CAPS / TitleCase /
    digit shares): the pre-normalization quality signal."""
    from icecube_spark.operators import text as text_ops

    return text_ops.casing_profile(
        _docs(spark, sf_dir), "source", "text"
    ).orderBy("source")


def payload_compression_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14 — storage-codec triage over the opaque payload column:
    per source, the mean unique ratio of non-overlapping 8-byte
    blocks (a deterministic compressibility proxy — low ratio =
    dedup-friendly, skip recompression) plus how many assets are
    dup-heavy (< 0.5 unique)."""
    d = _docs(spark, sf_dir)
    blocks = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, cast(floor((n_chars - 8) / 8) as int)),"
                " i -> substring(text, 1 + 8 * i, 8))"
            )
        ).alias("blk"),
    ).where(F.length("blk") == 8)
    per_doc = blocks.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.countDistinct("blk").cast("bigint").alias("n_unique"),
    )
    ratio_q = F.floor(
        F.col("n_unique").cast("double")
        / F.col("n_blocks").cast("double")
        * F.lit(1e9)
    ).cast("bigint")
    return (
        per_doc.select("source", ratio_q.alias("rq"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            (
                F.sum("rq").cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_unique_ratio"),
            F.count_if(F.col("rq") < 500_000_000)
            .cast("bigint")
            .alias("n_dup_heavy"),
        )
        .orderBy("source")
    )


def shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D19 — shingle-width tuning table (3/5/8-word shingles): volume,
    distinctness, and cross-corpus repeat share per width — the
    dedup-campaign knob D15/F18 don't cover."""
    return dedup.shingle_stats(_docs(spark, sf_dir), "doc_id", "text")


def minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20 — LSH band-shape tuning (16x4 / 8x8 / 4x16 over the same
    64-hash signatures): candidate volume and precision vs exact
    Jaccard >= 0.8 per layout — the shape knob of the D15/D19/F18
    tuning family."""
    grams, sigs = staged_corpus(spark, sf_dir)
    return dedup.minhash_band_tuning(
        _docs(spark, sf_dir), "doc_id", "text", grams=grams, sigs=sigs
    )


def ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E44 — IVF nprobe tuning curve: recall@5 of the E4 index vs
    brute-force cosine at nprobe 1/2/4/8 — the latency-recall ladder
    an ANN deployment picks its operating point from. The exact-Lloyd
    index (operators/ivf.py) is built ONCE and probed four times
    (probes are the cheap part); deterministic folds make every point
    on the curve oracle-checkable. pytest additionally pins recall
    monotonicity and the nprobe=n_clusters upper bound."""
    from icecube_spark.operators.ivf import probe_recall_curve

    emb = _emb(spark, sf_dir)
    # the truth set is 50 rows but its brute-force lineage is a full
    # corpus pass; the curve plan references it twice (hit join +
    # truth count) — eager localCheckpoint pays the pass once
    exact = similarity.cosine_topk(
        emb, "vec_id", "embedding", F.col("vec_id") < 10, k=5
    ).select(
        "query_id", F.col("neighbor_id").alias("true_id")
    ).transform(materialize)
    assigned, centroids = staged_ivf_index(spark, sf_dir)
    return probe_recall_curve(
        assigned, centroids, emb, "vec_id", "embedding",
        F.col("vec_id") < 10, exact, k_neighbors=5, nprobes=(1, 2, 4, 8),
    )


def langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F55 — language-ID margin calibration per true language: mean
    top-vs-runner-up marker margin, low-margin share, no-signal
    count — the confidence view beside F12's confusion matrix."""
    from icecube_spark.operators import text as text_ops

    return text_ops.langid_margin(_docs(spark, sf_dir), "text", "lang")


def dup_pair_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D21 — is the dedup campaign eating short docs? Per source,
    corpus mean length vs the mean length of docs that appear in at
    least one verified near-dup pair, with the bias ratio. A ratio
    far from 1 says the D2 threshold behaves differently across
    length bands — re-tune before collapsing (pairs with dedup
    campaigns' known short-doc false-positive failure mode)."""
    pairs = staged_minhash_pairs(spark, sf_dir)
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    corpus = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.sum("n_chars").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("corpus_mean_chars"),
    )
    dup = (
        docs.join(dup_ids, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_docs"),
            (
                F.sum("n_chars").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_mean_chars"),
        )
    )
    return (
        corpus.join(dup, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_dup_docs"), F.lit(0).cast("bigint")).alias(
                "n_dup_docs"
            ),
            "corpus_mean_chars",
            "dup_mean_chars",
            (
                F.col("dup_mean_chars") / F.col("corpus_mean_chars")
            ).alias("length_bias_ratio"),
        )
        .orderBy("source")
    )


def sentence_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F56 — per-source share of sentences that recur in other docs:
    the sentence-granularity boilerplate detector between D1's
    whole-doc hash and F42's prefix mining."""
    from icecube_spark.operators import text as text_ops

    return text_ops.sentence_dedup_rate(_docs(spark, sf_dir), "source", "text")


def simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E45/D — SimHash bit-balance audit: each of the 60 signature
    bits should be set for ~50% of docs; a skewed bit carries less
    entropy and weakens D4's Hamming separation (the SimHash twin of
    E20's PQ code balance). Reports per-bit set share and absolute
    skew, worst bits first in the skew column.

    Exactness: pure integer bit counting; shares divide exact
    counts."""
    sims = dedup.simhash_docs(_docs(spark, sf_dir), "doc_id", "text")
    bits = sims.select(
        F.explode(F.expr("sequence(0, 59)")).alias("bit"),
        F.col("simhash"),
    ).select(
        "bit",
        F.expr("cast(shiftright(simhash, bit) & 1 as int)").alias("v"),
    )
    return (
        bits.groupBy("bit")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("v").cast("bigint").alias("n_set"),
        )
        .select(
            "bit",
            "n_docs",
            "n_set",
            (
                F.col("n_set").cast("double") / F.col("n_docs").cast("double")
            ).alias("set_share"),
            F.abs(
                F.col("n_set").cast("double")
                / F.col("n_docs").cast("double")
                - F.lit(0.5)
            ).alias("skew"),
        )
        .orderBy("bit")
    )


def dup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D22 — near-dup cluster source purity: group P6's
    connected-component clusters by how many SOURCES they span.
    Single-source clusters are re-posts the source owner can fix;
    multi-source clusters are mirrors/scrapes with licensing and
    double-counting consequences — the cluster-level rollup of
    P23's pair matrix."""
    from pyspark.sql import Window

    from icecube_spark.operators import pipeline as pipeline_ops

    labels = pipeline_ops.connected_components(
        staged_minhash_pairs(spark, sf_dir), "doc_a", "doc_b"
    )
    src = _docs(spark, sf_dir).select("doc_id", "source")
    per_cluster = (
        labels.join(src, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
    )
    wall = Window.partitionBy()
    return (
        per_cluster.groupBy("n_sources")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
        )
        .select(
            "n_sources",
            "n_clusters",
            "n_docs",
            (
                F.col("n_clusters").cast("double")
                / F.sum("n_clusters").over(wall).cast("double")
            ).alias("cluster_share"),
        )
        .orderBy("n_sources")
    )


def anchor_margin_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E46 — coarse-quantizer confidence histogram: decile buckets of
    the nearest-vs-second-anchor margin (operators/similarity.py).
    The pre-deployment health read for the E4 IVF index."""
    return similarity.anchor_margin_deciles(
        _emb(spark, sf_dir), "vec_id", "embedding", n_anchors=8
    )


def word_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F57 — word-length morphology per language: token count, mean
    word length, long-word (>= 8 chars) share, and the longest word.
    Length morphology separates scripts and registers cheaply
    (agglutinative vs analytic, prose vs code-ish), and shifts in it
    flag tokenizer-hostile content F32's fertility then prices.

    Exactness: lengths are exact ints; the mean folds DECIMAL(18,8);
    shares divide exact counts. length() is character-based in both
    engines (UTF-8 aware), so non-ASCII parity is free.

    Plan: one explode -> one (lang) aggregate, all map-side
    combinable; only (lang, partial) rows shuffle.
    """
    from icecube_spark.operators.dedup import NORM

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "lang",
        F.explode(
            F.expr(f"split({NORM.format(col='text')}, ' ')")
        ).alias("w"),
    ).where(F.col("w") != "")
    return (
        words.select("lang", F.length("w").alias("wl"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            (
                F.sum(F.col("wl").cast("decimal(18,8)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_word_len"),
            (
                F.sum(
                    F.when(F.col("wl") >= 8, F.lit(1)).otherwise(F.lit(0))
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("long_word_share"),
            F.max("wl").cast("bigint").alias("max_word_len"),
        )
        .orderBy("lang")
    )


def media_chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G15 — content-defined chunk dedup savings per source: split
    each payload into fixed 64-char chunks, count total vs distinct
    chunk signatures, and report the storage-savings rate a
    chunk-level CAS (content-addressed store) would achieve. The
    storage-planning companion to G7's frame-level pair detection —
    savings, not pairs.

    Payloads use the ASCII projection of the text (the G7 discipline)
    so the oracle's character grid is byte-exact on any corpus.

    Plan: bounded fan-out explode (len/64 chunks per doc), one
    (source, md5) distinct-count aggregate — only 32-char hashes
    shuffle, never payloads.
    """
    docs = _docs(spark, sf_dir).select(
        "source",
        F.regexp_replace("text", r"[^\x00-\x7F]", "?").alias("t"),
    )
    chunks = docs.select(
        "source",
        F.explode(
            F.expr(
                "sequence(0,"
                " greatest(0, cast(floor((length(t) - 1) / 64) as int)))"
            )
        ).alias("i"),
        "t",
    ).select(
        "source",
        F.md5(F.expr("substring(t, i * 64 + 1, 64)")).alias("sig"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("sig").cast("bigint").alias("n_distinct"),
            (
                F.lit(1.0)
                - F.countDistinct("sig").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("dedup_savings"),
        )
        .orderBy("source")
    )


def normalization_dup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D23 — what does text normalization buy the exact-dup pass?
    Duplicate-doc counts under raw md5(text) vs md5(normalized text)
    (lowercase + whitespace collapse, the D1 pipeline's NORM), and
    the gain. If the gain is large, the corpus is full of
    near-identical casing/spacing variants and the campaign should
    normalize BEFORE hashing; if ~0, raw hashing suffices and the
    normalize pass can be dropped.

    Plan: two digest-only aggregates over the corpus (32-byte hashes
    shuffle, never text), one 1-row summary.
    """
    from icecube_spark.operators.dedup import NORM

    docs = _docs(spark, sf_dir)
    raw = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
            .cast("bigint").alias("raw_dup_docs"),
            F.count(F.lit(1)).cast("bigint").alias("raw_groups"),
        )
    )
    norm = (
        docs.groupBy(
            F.md5(F.expr(NORM.format(col="text"))).alias("h")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
            .cast("bigint").alias("norm_dup_docs"),
            F.count(F.lit(1)).cast("bigint").alias("norm_groups"),
        )
    )
    total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        total.crossJoin(raw).crossJoin(norm)
        .select(
            "n_docs", "raw_dup_docs", "norm_dup_docs",
            (F.col("norm_dup_docs") - F.col("raw_dup_docs"))
            .cast("bigint").alias("normalization_gain"),
            "raw_groups", "norm_groups",
        )
    )


def label_quantization_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E47 — per-label quantization distortion: the mean quantized
    squared distance from each vector to its nearest anchor (the E46
    anchor set), per label. A label whose members sit far from every
    anchor is under-represented by the coarse quantizer and will
    probe poorly — the class-level fairness read beside E46's global
    margin histogram.

    Plan: broadcast anchors, map-side distance fan-in (min over 8
    folds per vector), one label aggregate.
    """
    emb = _emb(spark, sf_dir)
    anchors = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("aid"),
        F.col("embedding").alias("avec"),
    )
    d = (
        emb.crossJoin(F.broadcast(anchors))
        .where(F.col("vec_id") != F.col("aid"))
        .select(
            "vec_id", "label",
            similarity.qdist_expr("embedding", "avec").alias("qd"),
        )
    )
    best = d.groupBy("vec_id", "label").agg(F.min("qd").alias("d1"))
    return (
        best.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            (
                F.sum("d1").cast("double")
                / F.count(F.lit(1)).cast("double") / F.lit(1e12)
            ).alias("mean_distortion"),
            (F.max("d1").cast("double") / F.lit(1e12)).alias("max_distortion"),
        )
        .orderBy("label")
    )


def media_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16 — payload size profile per source: exact p50/p90 byte
    sizes (rank picks on UTF-8 byte lengths) and the oversize share
    (> 4 KiB). The shard-packing and transfer-budget read an ingest
    plan needs per source before moving any actual media bytes.

    Plan: byte lengths only (never payloads); per-source ranks via the
    keyed distributed_rank (range-partitioned local ranks + broadcast
    offsets — bit-identical to the source-partitioned window the
    oracle uses, without capping the sort at |sources| tasks), one
    source rollup.
    """
    docs = _docs(spark, sf_dir)
    sized = docs.select(
        "source", "doc_id", F.octet_length("text").cast("bigint").alias("b")
    )
    ranked = pipeline_ops.distributed_rank(
        sized, ["b", "doc_id"], rank_col="rk", n_col="n", key_cols=["source"]
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.sum("b").cast("bigint").alias("total_bytes"),
            F.max(
                F.when(F.col("rk") == F.expr("greatest(1, (50 * n) div 100)"),
                       F.col("b"))
            ).cast("bigint").alias("p50_bytes"),
            F.max(
                F.when(F.col("rk") == F.expr("greatest(1, (90 * n) div 100)"),
                       F.col("b"))
            ).cast("bigint").alias("p90_bytes"),
            (
                F.sum(
                    F.when(F.col("b") > 4096, F.lit(1)).otherwise(F.lit(0))
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("oversize_share"),
        )
        .orderBy("source")
    )


def url_email_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F58 — link/contact density per source: URL-ish and email-ish
    match counts per kilochar, and the share of docs containing any.
    Link farms and scraped contact pages are quality-gate targets a
    plain stopword/length filter misses; PII-bearing sources need the
    P3 redaction pass first.

    Plan: regexp_count arithmetic in codegen, one source aggregate.
    Both engines' regex dialects treat these character-class patterns
    identically (pinned by the 3-SF oracle sweep).
    """
    docs = _docs(spark, sf_dir)
    urls = F.expr(r"regexp_count(text, 'https?://[^ ]+')")
    emails = F.expr(
        r"regexp_count(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+')"
    )
    per = docs.select(
        "source",
        urls.cast("bigint").alias("u"),
        emails.cast("bigint").alias("e"),
        F.length("text").cast("bigint").alias("nc"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("u").cast("bigint").alias("n_urls"),
        F.sum("e").cast("bigint").alias("n_emails"),
        (
            F.sum(F.col("u") + F.col("e")).cast("double") * F.lit(1000.0)
            / F.sum("nc").cast("double")
        ).alias("density_per_kchar"),
        (
            F.sum(
                F.when((F.col("u") > 0) | (F.col("e") > 0), F.lit(1))
                .otherwise(F.lit(0))
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("doc_hit_share"),
    )
    return per.orderBy("source")


def dup_group_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D24 — are exact duplicates ingest-adjacent or cross-snapshot?
    For every exact-dup group, the doc_id span (max-min) bucketed by
    decade of magnitude: small spans = same crawl batch (fix the
    ingest), large spans = recurring content across snapshots (fix
    with dedup). Span histogram + per-bucket doc mass.

    Plan: one digest aggregate (md5, hashes only), one span bucket
    rollup; log-magnitude buckets are exact integer length() of the
    span's decimal representation.
    """
    docs = _docs(spark, sf_dir)
    groups = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("c"),
        (F.max("doc_id") - F.min("doc_id")).cast("bigint").alias("span"),
    ).where(F.col("c") > 1)
    bucket = F.length(F.col("span").cast("string")).cast("int")
    return (
        groups.select(bucket.alias("span_magnitude"), "c", "span")
        .groupBy("span_magnitude")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("c").cast("bigint").alias("n_docs"),
            F.max("span").cast("bigint").alias("max_span"),
        )
        .orderBy("span_magnitude")
    )


def norm_percentiles_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E48 — vector-norm distribution per label: exact p10/p50/p90
    rank picks on micro-quantized norms. Per-class norm drift breaks
    dot-product rankers even when cosines look healthy — the
    class-sliced view of E9's global outlier scan.

    Plan: norms map-side, per-label ranks via the keyed
    distributed_rank (range-partitioned local ranks + broadcast
    offsets — no |labels|-task sort cap), 10-row rollup.
    """
    emb = _emb(spark, sf_dir)
    qn = F.floor(
        similarity.norm_expr("embedding") * F.lit(1e6)
    ).cast("bigint")
    ranked = pipeline_ops.distributed_rank(
        emb.select("label", "vec_id", qn.alias("qn")),
        ["qn", "vec_id"],
        rank_col="rk",
        n_col="n",
        key_cols=["label"],
    )
    def pick(pct):
        return F.max(
            F.when(F.col("rk") == F.expr(f"greatest(1, ({pct} * n) div 100)"),
                   F.col("qn"))
        ).cast("double") / F.lit(1e6)
    return (
        ranked.groupBy("label")
        .agg(
            F.max("n").cast("bigint").alias("n_vectors"),
            pick(10).alias("p10_norm"),
            pick(50).alias("p50_norm"),
            pick(90).alias("p90_norm"),
        )
        .orderBy("label")
    )


def numeric_token_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F59 — numeric-token share per source: tokens that are pure
    numbers (integer or decimal), their share of all tokens, and the
    share of docs above 20% numeric. Tables, logs, and price lists
    masquerade as prose and poison LM batches — char-level digit
    ratios (F14) miss them when digits clump into few long tokens.

    Plan: one explode -> per-doc counts (map-side) -> one source
    rollup; the numeric test is a single anchored regex in codegen.
    """
    from icecube_spark.operators.dedup import NORM

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "source",
        F.explode(
            F.expr(f"split({NORM.format(col='text')}, ' ')")
        ).alias("w"),
    ).where(F.col("w") != "")
    is_num = F.col("w").rlike(r"^[0-9]+([.,][0-9]+)?$")
    per_doc = toks.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.when(is_num, F.lit(1)).otherwise(F.lit(0))).alias("n_num"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum("n_num").cast("bigint").alias("n_numeric"),
            (
                F.sum("n_num").cast("double") / F.sum("n_tok").cast("double")
            ).alias("numeric_share"),
            (
                F.sum(
                    F.when(
                        F.col("n_num") * 5 > F.col("n_tok"), F.lit(1)
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("numeric_heavy_doc_share"),
        )
        .orderBy("source")
    )


def whitespace_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F60 — whitespace-hygiene audit per source: shares of docs with
    multi-space runs, hard tabs, carriage returns, and leading/
    trailing edge whitespace. Scraper and OCR paths leave distinct
    whitespace fingerprints; the per-source shares say which
    ingestion path needs a normalization pass before tokenization
    (multi-space runs also inflate the D-family shingle inventories
    that D23 measures after the fact).

    Plan: one projection of contains/startswith/endswith predicates
    (all codegen string ops, no regex), one source rollup.
    """
    docs = _docs(spark, sf_dir)
    per = docs.select(
        "source",
        F.col("text").contains("  ").cast("int").alias("dbl"),
        F.col("text").contains("\t").cast("int").alias("tab"),
        F.col("text").contains("\r").cast("int").alias("cr"),
        (
            F.col("text").startswith(" ") | F.col("text").endswith(" ")
        ).cast("int").alias("edge"),
        F.length("text").cast("bigint").alias("n_chars"),
        (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(" ")))
        ).cast("bigint").alias("n_spaces"),
    )
    n = F.count(F.lit(1))
    return (
        per.groupBy("source")
        .agg(
            n.cast("bigint").alias("n_docs"),
            (F.sum("dbl").cast("double") / n.cast("double"))
            .alias("multi_space_share"),
            (F.sum("tab").cast("double") / n.cast("double"))
            .alias("tab_share"),
            (F.sum("cr").cast("double") / n.cast("double"))
            .alias("cr_share"),
            (F.sum("edge").cast("double") / n.cast("double"))
            .alias("edge_ws_share"),
            (
                F.sum("n_spaces").cast("double")
                / F.sum("n_chars").cast("double")
            ).alias("space_density"),
        )
        .orderBy("source")
    )


def anchor_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E49 — coverage-radius curve of the anchor set: every vector's
    quantized squared distance to its NEAREST of 8 anchors, split
    into deciles with per-decile mean and max. The tail deciles are
    the vectors a coarse quantizer covers worst — a fat max in decile
    10 means more anchors (or reseeding) before an IVF build, the
    capacity read beside E46's ambiguity margins and E44's recall
    curve.

    Exactness: distances are the quantized-integer folds; decile ids
    come from exact NTILE semantics over the deterministic
    (distance, id) total order; means divide exact BIGINT sums.

    Plan: anchors broadcast (8 rows), map-side min-of-8 distance
    fold, then distributed_ntile (range repartition + prefix-summed
    offsets — NO single-partition window; the oracle's plain NTILE is
    bit-identical), one 10-row rollup.
    """
    from icecube_spark.operators import similarity
    from icecube_spark.operators.pipeline import distributed_ntile

    emb = _emb(spark, sf_dir)
    anchors = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("aid"),
        F.col("embedding").alias("avec"),
    )
    d1 = (
        emb.crossJoin(F.broadcast(anchors))
        .where(F.col("vec_id") != F.col("aid"))
        .select(
            "vec_id",
            similarity.qdist_expr("embedding", "avec").alias("qd"),
        )
        .groupBy("vec_id")
        .agg(F.min("qd").alias("d1"))
    )
    return (
        distributed_ntile(d1, ["d1", "vec_id"], 10, tile_col="decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            (
                F.sum("d1").cast("double") / F.count(F.lit(1)).cast("double")
                / F.lit(1e12)
            ).alias("mean_dist"),
            (F.max("d1").cast("double") / F.lit(1e12)).alias("max_dist"),
        )
        .orderBy("decile")
    )
