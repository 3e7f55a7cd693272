"""SURVEY §2 groups D/E/F/G: LLM-pipeline ops vs DuckDB oracle."""

import pytest

from icecube_spark.queries import llm_queries as lq
from icecube_spark.queries.llm_oracles import ORACLES

from .conftest import assert_oracle_parity


# multimodal_frames has its own test, test_multimodal_frames_fanout
@pytest.mark.parametrize("key", sorted(ORACLES.keys() - {"multimodal_frames"}))
def test_llm_matches_oracle(spark, sf_dir, oracle, key):
    assert_oracle_parity(spark, sf_dir, oracle, key)


def test_minhash_finds_planted_neardups(spark, sf_dir):
    """The generator plants near-dup pairs; LSH must surface them."""
    out = lq.dedup_minhash_lsh(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["jaccard"] >= 0.8).all()


def test_minhash_recall_vs_exact(spark, sf_dir):
    """LSH candidates (verified >= 0.8) == exact all-pairs >= 0.8."""
    lsh = lq.dedup_minhash_lsh(spark, sf_dir).toPandas()
    from icecube_spark import catalog
    from icecube_spark.operators import dedup

    exact = dedup.ngram_jaccard_pairs(
        catalog.load(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.8
    ).toPandas()
    got = set(zip(lsh.doc_a, lsh.doc_b))
    want = set(zip(exact.doc_a, exact.doc_b))
    assert got == want, f"LSH missed {want - got} / extra {got - want}"


@pytest.mark.parametrize("verify", ["ngram_jaccard_pairs", "containment_pairs"])
def test_staged_cands_refuse_another_max_df(spark, sf_dir, verify):
    """A staged candidate table fixes its own max_df: passing another
    one next to it raises instead of being ignored."""
    from icecube_spark import catalog
    from icecube_spark.operators import dedup

    docs = catalog.load(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="max_df"):
        getattr(dedup, verify)(
            docs, "doc_id", "text", max_df=8, cands=lq.staged_candidates(spark, sf_dir)
        )


def test_cosine_topk_is_broadcast_no_corpus_shuffle(plans):
    joins = plans["embed_cosine_topk"]["joins"]
    assert any(j.startswith("Broadcast") for j in joins), joins


def test_multimodal_batches_are_real_arrow(spark, sf_dir):
    out = lq.multimodal_meta(spark, sf_dir)
    pdf = out.toPandas()
    assert (pdf["byte_len"] > 0).all()
    assert set(pdf["modality"]) == {"image"}
    assert pdf["width"].between(16, 1024).all()


def test_multimodal_frames_fanout(spark, sf_dir, oracle):
    """G2: 1→N frame fanout matches the deterministic oracle."""
    assert_oracle_parity(spark, sf_dir, oracle, "multimodal_frames")


def test_multimodal_features_deterministic(spark, sf_dir):
    """G3 (rows-only): fixed width, [0,1] bounds, run-to-run stable."""
    a = lq.multimodal_features(spark, sf_dir).toPandas()
    assert (a.feature.apply(len) == 8).all()
    assert a.feature.apply(lambda v: all(0.0 <= x <= 1.0 for x in v)).all()
    b = lq.multimodal_features(spark, sf_dir).toPandas()
    assert a.feature.apply(tuple).equals(b.feature.apply(tuple))


def test_ann_recall_eval_bounds(spark, sf_dir):
    """E11: recall in [0,1]; hits never exceed either top-k set."""
    from icecube_spark.queries import llm_queries as lq

    out = lq.ann_recall_eval(spark, sf_dir).toPandas()
    assert len(out) == 10
    assert ((out["recall_at_k"] >= 0) & (out["recall_at_k"] <= 1)).all()
    assert (out["n_hits"] <= out["k"]).all()
    assert (out["n_hits"] <= out["n_ann"]).all()


def test_embed_standardize_moments(spark, sf_dir):
    """E12: per-dim z-scores sum to ~0 with unit-ish variance."""
    from icecube_spark.queries import llm_queries as lq

    out = lq.embed_standardize(spark, sf_dir).toPandas()
    for _, g in out.groupby("dim"):
        n = len(g)
        assert abs(g["z"].sum()) < 1e-6 * n
        assert abs((g["z"] ** 2).sum() / n - 1.0) < 0.01


def test_chunk_dedup_finds_planted_chunk(spark, sf_dir):
    """Two docs sharing an identical 16-token run must produce a
    shared duplicated chunk; exact-duplicate docs duplicate EVERY
    chunk, so any corpus with whole-doc dups has n_docs>1 rows."""
    from icecube_spark.operators import text as text_ops

    docs = lq._docs(spark, sf_dir)
    out = text_ops.chunk_dedup(docs, "doc_id", "text")
    assert out.where("n_docs > 1").count() > 0


def test_zipf_slope_is_negative(spark, sf_dir):
    row = lq.zipf_fit(spark, sf_dir).collect()[0]
    assert row["zipf_slope"] < 0
    assert row["vocab_size"] > 10


def test_unigram_logprob_orders_quality(spark, sf_dir):
    """Mean token logprob is a probability average: always < 0, and
    docs of common tokens score higher than the corpus minimum."""
    import numpy as np

    vals = [
        r["mean_logprob"]
        for r in lq.unigram_logprob(spark, sf_dir).collect()
    ]
    assert all(v < 0 for v in vals)
    assert np.std(vals) > 0


def test_pca_matches_numpy(spark, sf_dir):
    """Distributed Gramian PCA == numpy PCA of the collected corpus
    (same eigenvalues; eigenvectors up to sign, which pca_top fixes)."""
    import numpy as np

    emb = lq._emb(spark, sf_dir)
    X = np.array([r["embedding"] for r in emb.select("embedding").collect()])
    cov = np.cov(X.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]

    out = lq.embed_pca_top(spark, sf_dir).collect()
    got = {}
    for r in out:
        got.setdefault(r["component"], [0.0] * X.shape[1])[r["dim"]] = r["weight"]
    for c in range(2):
        w = np.array(got[c])
        ref = evecs[:, order[c]]
        if ref[np.argmax(np.abs(ref))] < 0:
            ref = -ref
        assert np.allclose(w, ref, atol=1e-6)
    ratios = sorted({round(r["explained_var_ratio"], 9) for r in out}, reverse=True)
    want = sorted((evals[order[:2]] / evals.sum()).tolist(), reverse=True)
    assert np.allclose(ratios, want, atol=1e-9)


def test_mmr_diversify_matches_numpy(spark, sf_dir):
    """E16: the distributed greedy MMR equals the same greedy replayed
    densely in numpy with the operator's pico-quantized dot scheme
    (exact selection + exact ids), and per-label picks are unique.
    (The hard gate is the DuckDB oracle — graduated from rows-only in
    round 7; this twin pins the pandas-side greedy independently.)"""
    import numpy as np

    got = lq.mmr_diversify(spark, sf_dir).toPandas()
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id", ignore_index=True)
    )
    V = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    ids = emb["vec_id"].to_numpy()
    labels = emb["label"].to_numpy()
    lam, k, n_cand = 0.7, 8, 32

    # the operator's pico-quantized dot: floor((a*b)*1e12) per dim,
    # EXACT integer fold, one division back
    def qdot(a, b):
        return np.floor((a * b) * 1e12).astype(np.int64).sum() / 1e12

    for lab in np.unique(labels):
        # centroid with the operator's decimal(18,8)-fold parity:
        # per-dim mean of values; plain float64 mean is close enough
        # for rank equality on this data
        q = V[labels == lab].mean(axis=0)
        cn = np.array([np.sqrt(qdot(V[i], V[i])) for i in range(len(V))])
        rel = np.array(
            [qdot(q, V[i]) / (np.sqrt(qdot(q, q)) * cn[i])
             for i in range(len(V))]
        )
        order = np.lexsort((ids, -rel))[:n_cand]
        cand_rel = rel[order]
        Vc = V[order]
        cnc = cn[order]
        n = len(order)
        S = np.array(
            [[qdot(Vc[i], Vc[j]) / (cnc[i] * cnc[j]) for j in range(n)]
             for i in range(n)]
        )
        picked, avail = [], list(range(n))
        while avail and len(picked) < k:
            if not picked:
                best = max(avail, key=lambda i: (cand_rel[i], -ids[order][i]))
            else:
                best, best_s = -1, -np.inf
                for i in avail:
                    sc = lam * cand_rel[i] - (1 - lam) * S[i, picked].max()
                    if sc > best_s:
                        best, best_s = i, sc
            picked.append(best)
            avail.remove(best)
        want_ids = list(ids[order][picked])
        got_ids = list(
            got[got["qlabel"] == lab].sort_values("sel_rank")["vec_id"]
        )
        assert got_ids == want_ids, f"label {lab}: {got_ids} vs {want_ids}"
        assert len(set(got_ids)) == len(got_ids)


def test_lsh_collapse_parity_and_degenerate_bucket(spark):
    """VERDICT r2 item 3: a mass-duplicate template (1k identical docs)
    must not blow up the band-bucket self-join. With collapse_exact the
    banding sees ONE representative per distinct text, so LSH candidate
    growth is linear in duplicates; output must equal the uncollapsed
    plan exactly (identical texts share every bucket; Jaccard == 1.0).
    """
    from icecube_spark.operators import dedup

    base = [
        (i, "the quick brown fox jumps over the lazy dog variant "
            + ("alpha " * (i % 3)) + f"tail {i}")
        for i in range(8)
    ]
    near = [(100, "the quick brown fox jumps over the lazy dog variant "
                  "alpha tail 1 extra")]
    mixed = spark.createDataFrame(base + near, ["doc_id", "text"])
    on = dedup.minhash_lsh_pairs(mixed, "doc_id", "text", threshold=0.5,
                                 collapse_exact=True).toPandas()
    off = dedup.minhash_lsh_pairs(mixed, "doc_id", "text", threshold=0.5,
                                  collapse_exact=False).toPandas()
    key = ["doc_a", "doc_b"]
    on = on.sort_values(key, ignore_index=True)
    off = off.sort_values(key, ignore_index=True)
    assert on[key].values.tolist() == off[key].values.tolist()
    assert (on["jaccard"].values == off["jaccard"].values).all()

    # degenerate: 1000 byte-identical docs + 2 distinct
    template = "free v1agra click here now " * 10
    rows = [(i, template) for i in range(1000)]
    rows += [(2000, "a perfectly ordinary document about gardens"),
             (2001, "another ordinary doc, this one about trains")]
    dup = spark.createDataFrame(rows, ["doc_id", "text"])

    # the representative-level LSH input is ONE row for the template
    reps = (dup.selectExpr(
        "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' ')) AS th")
        .distinct().count())
    assert reps == 3

    out = dedup.minhash_lsh_pairs(dup, "doc_id", "text",
                                  threshold=0.8).toPandas()
    assert len(out) == 1000 * 999 // 2
    assert (out["jaccard"] == 1.0).all()
    assert (out["doc_a"] < out["doc_b"]).all()
    assert len(out.drop_duplicates(["doc_a", "doc_b"])) == len(out)


def test_media_frame_dedup_finds_planted_copies(spark):
    """G7: byte-identical payloads share every frame signature; a
    trimmed copy (same prefix, shorter tail) still shares the leading
    frames when the frame grid coincides. Corpus data is all-distinct
    (0 pairs, oracle-checked); this pins the positive path."""
    from icecube_spark.operators import multimodal

    base = "frame dedup payload " * 40
    rows = [(1, base), (2, base), (3, "completely different content " * 30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    payload = multimodal.attach_binary(df, "doc_id", "text")
    out = multimodal.media_frame_dedup(payload).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.overlap_frac == 1.0
    n = len(base.encode()) % 7 + 1
    assert r.n_shared_frames == n
