"""IVF ANN, TF-IDF features, stateful streaming, raster crawling."""

import os
import struct

import pandas as pd
import plan_audit  # scripts/, put on sys.path by conftest.py
import pytest
from pyspark.sql import functions as F

from icecube_spark import catalog, staging
from icecube_spark.operators import ivf, similarity
from icecube_spark.sources.raster import crawl_raster_metadata, parse_tiff_header


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with nprobe=4/16 must recover most of the true top-5."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    truth = similarity.cosine_topk(
        emb, "vec_id", "embedding", F.col("vec_id") < 10, k=5
    ).toPandas()
    approx = ivf.ivf_topk(
        emb, "vec_id", "embedding", F.col("vec_id") < 10,
        k_neighbors=5, n_clusters=16, nprobe=4,
    ).toPandas()
    t = set(zip(truth.query_id, truth.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    recall = len(t & a) / len(t)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # probed subset: every approx cosine must appear in the full ranking
    assert (approx.groupby("query_id").size() == 5).all()


def test_tfidf_features_shape(spark, sf_dir):
    from icecube_spark.operators.features import tfidf_features

    docs = catalog.load(spark, sf_dir, "documents")
    out = tfidf_features(docs, "doc_id", "text").toPandas()
    assert len(out) == docs.count()
    assert (out["n_tokens"] > 0).all()
    v = out["tfidf"].iloc[0]
    assert v.size == 1 << 12 and len(v.indices) > 0


def _mk_tiff(width=640, height=480, bits=16, endian="<") -> bytes:
    """Hand-assemble a minimal classic TIFF header + one IFD."""
    hdr = (b"II" if endian == "<" else b"MM") + struct.pack(endian + "HI", 42, 8)
    tags = b""
    for tag, value in ((256, width), (257, height), (258, bits)):
        tags += struct.pack(endian + "HHI", tag, 3, 1) + struct.pack(
            endian + "HH", value, 0
        )
    ifd = struct.pack(endian + "H", 3) + tags + struct.pack(endian + "I", 0)
    return hdr + ifd


def test_tiff_header_parser_both_endians():
    for endian in ("<", ">"):
        meta = parse_tiff_header(_mk_tiff(1024, 768, 8, endian))
        assert meta["width"] == 1024 and meta["height"] == 768 and meta["bits"] == 8
    assert parse_tiff_header(b"PAR1not-a-tiff") is None
    assert parse_tiff_header(b"") is None


def test_raster_crawl_over_binary_source(spark, tmp_path):
    (tmp_path / "a_GRD.tif").write_bytes(_mk_tiff(512, 256, 16))
    (tmp_path / "b_GRD.tif").write_bytes(_mk_tiff(2048, 1024, 8, ">"))
    (tmp_path / "junk.tif").write_bytes(b"not a tiff at all")
    bdf = spark.read.format("binaryFile").load(str(tmp_path))
    out = crawl_raster_metadata(bdf).toPandas().sort_values("path")
    assert out["is_tiff"].sum() == 2
    good = out[out.is_tiff]
    assert set(zip(good.width, good.height)) == {(512, 256), (2048, 1024)}


def test_streaming_stateful_sessionize(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessions match the batch sessionizer for
    sessions that are closed within the drained stream."""
    from icecube_spark.operators.timeseries import sessionize
    from icecube_spark.streaming.events import read_events_stream
    from icecube_spark.streaming.stateful import streaming_sessionize

    sdf = read_events_stream(spark, sf_dir).select("ts", "user_id", "value")
    q = (
        streaming_sessionize(sdf)
        .writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stream_sessions").toPandas()

    ev = catalog.load(spark, sf_dir, "events")
    batch = (
        sessionize(ev, "ts", "user_id", gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .toPandas()
    )
    # closed streaming sessions must agree with the batch result
    batch_keys = set(
        zip(batch.user_id, batch.session_start.astype("datetime64[us]"))
    )
    got_keys = set(zip(got.user_id, got.session_start.astype("datetime64[us]")))
    assert got_keys, "stream produced no closed sessions"
    assert got_keys <= batch_keys, "streaming emitted a session batch doesn't have"
    merged = got.merge(
        batch, on="user_id", suffixes=("_s", "_b"),
    )
    matched = merged[
        merged.session_start_s.astype("datetime64[us]")
        == merged.session_start_b.astype("datetime64[us]")
    ]
    assert (matched.n_events_s == matched.n_events_b).all()


def _mk_tiff_full(pix, bits=16, endian="<", fmt=1, strips=1) -> bytes:
    """Assemble a complete uncompressed TIFF: header, IFD (incl. strip
    layout + sample format), and pixel strips."""
    import numpy as np

    height, width = pix.shape
    bpp = bits // 8
    rows_per_strip = max(1, height // strips)
    offsets, counts, blobs = [], [], []
    n_tags = 9
    data_start = 8 + 2 + n_tags * 12 + 4
    pos = data_start
    for r0 in range(0, height, rows_per_strip):
        chunk = pix[r0 : r0 + rows_per_strip].astype(
            np.dtype(f"{endian}u{bpp}" if fmt == 1 else f"{endian}i{bpp}")
        )
        blob = chunk.tobytes()
        offsets.append(pos)
        counts.append(len(blob))
        blobs.append(blob)
        pos += len(blob)
    n_strips = len(blobs)
    # strip offset/count arrays that don't fit inline go after pixel data
    extra = b""

    def arr_tag(tag, values):
        nonlocal extra
        if len(values) == 1:
            return struct.pack(endian + "HHI", tag, 4, 1) + struct.pack(
                endian + "I", values[0]
            )
        off = pos + len(extra)
        extra_bytes = struct.pack(endian + "I" * len(values), *values)
        extra += extra_bytes
        return struct.pack(endian + "HHI", tag, 4, len(values)) + struct.pack(
            endian + "I", off
        )

    def short_tag(tag, value):
        return struct.pack(endian + "HHI", tag, 3, 1) + struct.pack(
            endian + "HH", value, 0
        )

    tags = (
        short_tag(256, width)
        + short_tag(257, height)
        + short_tag(258, bits)
        + short_tag(259, 1)
        + arr_tag(273, offsets)
        + short_tag(277, 1)
        + short_tag(278, rows_per_strip)
        + arr_tag(279, counts)
        + short_tag(339, fmt)
    )
    hdr = (b"II" if endian == "<" else b"MM") + struct.pack(endian + "HI", 42, 8)
    ifd = struct.pack(endian + "H", n_tags) + tags + struct.pack(endian + "I", 0)
    return hdr + ifd + b"".join(blobs) + extra


def test_tiff_pixel_decode_roundtrip():
    import numpy as np

    from icecube_spark.sources.raster import decode_tiff_pixels

    rng = np.random.RandomState(7)
    pix = rng.randint(0, 60000, size=(13, 9)).astype("uint16")
    for endian in ("<", ">"):
        for strips in (1, 4):
            out = decode_tiff_pixels(_mk_tiff_full(pix, 16, endian, strips=strips))
            assert out.shape == (13, 9) and (out == pix).all(), (endian, strips)
    # 8-bit single strip
    pix8 = rng.randint(0, 255, size=(5, 7)).astype("uint8")
    out8 = decode_tiff_pixels(_mk_tiff_full(pix8, 8))
    assert (out8 == pix8).all()


def test_reference_grd_fixtures_decode():
    """The reference's own 10x10 GRD fixtures decode without rasterio
    (analytics_IO.load_tiff parity for uncompressed rasters)."""
    import glob

    from icecube_spark.sources.raster import decode_tiff_pixels

    paths = sorted(
        glob.glob("/root/reference/tests/resources/grd_stack/*.tif")
    )
    if not paths:
        pytest.skip("reference fixtures not present")
    for p in paths:
        arr = decode_tiff_pixels(open(p, "rb").read())
        assert arr.shape == (10, 10) and str(arr.dtype) == "uint16"
        assert arr.max() > arr.min()


def test_decode_rasters_distributed(spark, tmp_path):
    import numpy as np

    from icecube_spark.sources.raster import decode_rasters

    rng = np.random.RandomState(3)
    pix = {}
    for i in range(3):
        p = rng.randint(0, 60000, size=(6, 4)).astype("uint16")
        (tmp_path / f"r{i}.tif").write_bytes(_mk_tiff_full(p, 16))
        pix[f"r{i}.tif"] = p
    (tmp_path / "junk.bin").write_bytes(b"not a tiff")
    bdf = spark.read.format("binaryFile").load(str(tmp_path))
    out = decode_rasters(bdf).toPandas()
    assert len(out) == 3
    for _, row in out.iterrows():
        name = row["path"].rsplit("/", 1)[-1]
        assert row["width"] == 4 and row["height"] == 6
        got = np.array(row["pixels"]).reshape(6, 4)
        assert (got == pix[name]).all()


def test_streaming_anomaly_matches_batch(spark, sf_dir):
    """C39s: applyInPandasWithState running z-score detector flags the
    IDENTICAL event set as its batch cumulative-window twin — integer
    moment state makes the two paths exactly comparable."""
    from icecube_spark import catalog
    from icecube_spark.streaming.anomaly import batch_anomaly, streaming_anomaly
    from icecube_spark.streaming.events import read_events_stream

    q = (
        streaming_anomaly(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("stream_anomalies")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stream_anomalies").toPandas()
    want = batch_anomaly(catalog.load(spark, sf_dir, "events")).toPandas()
    assert len(want) > 0, "fixture should contain anomalies"
    assert set(got["event_id"]) == set(want["event_id"])
    g = got.sort_values("event_id").reset_index(drop=True)
    w = want.sort_values("event_id").reset_index(drop=True)
    assert (g["n_prior"].to_numpy() == w["n_prior"].to_numpy()).all()
    assert (g["mean_prior"].to_numpy() == w["mean_prior"].to_numpy()).all()


def test_streaming_funnel_matches_batch(spark, sf_dir):
    """Stateful funnel completions (streaming drain) == batch twin
    fold per user — identical completion set."""
    from icecube_spark.streaming.events import read_events_stream
    from icecube_spark.streaming.funnel import batch_funnel, streaming_funnel

    sdf = read_events_stream(spark, sf_dir).select(
        "ts", "event_id", "user_id", "event_type"
    )
    q = (
        streaming_funnel(sdf)
        .writeStream.format("memory")
        .queryName("stream_funnels")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stream_funnels").toPandas()

    ev = catalog.load(spark, sf_dir, "events")
    want = batch_funnel(ev).toPandas()
    assert len(want) > 0, "corpus has no completed funnels"
    key = lambda df: set(  # noqa: E731
        zip(
            df.user_id,
            df.t_start.astype("datetime64[us]"),
            df.t_complete.astype("datetime64[us]"),
        )
    )
    assert key(got) == key(want)


def test_session_window_stream_matches_batch(spark, sf_dir):
    """Native session_window aggregation: streaming drain (complete
    mode) == identical batch expression."""
    from icecube_spark.streaming.events import (
        read_events_stream,
        session_window_counts,
    )

    sdf = read_events_stream(spark, sf_dir).select("ts", "user_id", "value")
    q = (
        session_window_counts(sdf)
        .writeStream.format("memory")
        .queryName("stream_session_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stream_session_windows").toPandas()

    ev = catalog.load(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
    )
    want = session_window_counts(ev).toPandas()
    assert len(want) > 0
    key = lambda df: set(  # noqa: E731
        zip(
            df.user_id,
            df.session_start.astype("datetime64[us]"),
            df.n_events,
        )
    )
    assert key(got) == key(want)


# Keys whose plans rely on per-group rank pruning: Spark's
# WindowGroupLimit pushes the rank<=k filter below the exchange so
# each partition ships only its local top-k. A Spark-version or
# refactor regression that drops the rule would silently reintroduce
# a full global sort — pin the physical-plan invariant here
# (VERDICT r2 item 9).
WINDOW_GROUP_LIMIT_KEYS = [
    # curation_waterfall left this list in r9: its per-digest
    # canonical pick is now a min(doc_id) AGGREGATE (map-side partial
    # combine) — no rank window to group-limit
    "mmr_diversify", "q2_min_cost_supplier",
    "event_paths", "changepoint_cusum", "ann_recall_eval",
    # downsample_lttb left this list in r8: its per-bucket argmax is
    # now a max_by AGGREGATE (map-side partial combine) — no rank
    # window to group-limit
    "cdc_merge", "embed_cosine_topk",
    "embed_knn_label", "embed_ann_lsh", "doc_top_tfidf",
    "topk_terms_per_lang", "sample_per_group", "embed_ann_ivf",
    "pq_code_balance", "label_agreement", "embed_pq_codes",
    "top_parts_by_revenue", "cube_temporal_dedup", "cube_merge",
    "hard_negatives", "label_noise_knn", "boilerplate_prefixes",
    "matryoshka_recall", "hamming_recall", "cube_otsu_threshold",
    "period_detect",
]
# Global top-k keys: TakeOrderedAndProject (per-partition heap + one
# merge), never Sort + Limit over the full exchange.
TAKE_ORDERED_KEYS = ["basket_pairs", "basket_lift", "bm25_topk",
                     "repeated_substrings", "bpe_merge_candidates"]
# Keys rerouted (rounds 6-7) through the keyed/global distributed
# rank/cumsum/lag primitives, with the low-cardinality column their
# windows were once partitioned by: no window may again be partitioned
# by it first, or be global, over corpus-grain rows (bound ``none``) —
# that window caps parallelism at |keys| tasks. The rank lives behind
# the primitives' checkpoint (bound ``pid``); the tiny per-(key,
# partition) offset tables (``offsets``) and aggregate-grain frames
# (``agg``, e.g. the r9 (key, value) count histograms) may remain.
FUNNEL_FREE_KEYS = {
    "value_percentiles": "event_type",
    "winsorize_values": "event_type",
    "mad_outliers": "event_type",
    "ship_latency_quantiles": "o_orderpriority",
    "order_gap_stats": "c_mktsegment",
    "priority_value_skew": "o_orderpriority",
    "reorder_intervals": "n_name",
    "media_size_profile": "source",
    "norm_percentiles_by_label": "label",
    "lead_time_sla": "month",
    "brand_spearman": "p_brand",
    "volume_bars": "event_type",
    "value_concentration_trend": "day",
    "source_balance_gini": "source",
    "quantile_normalize": "source",
    "sequence_packing": "source",
    "packing_curve": "source",
    # r8: the last two corpus-grain funnels — conversion_lag's old
    # GLOBAL rank window and downsample_lttb's per-type windows
    "conversion_lag": "lag_us",
    "downsample_lttb": "t",
}


@pytest.mark.parametrize("name", WINDOW_GROUP_LIMIT_KEYS)
def test_rank_topk_has_window_group_limit(plans, name):
    assert "WindowGroupLimit" in plans[name]["ops"], f"{name} lost its rank-filter pruning"


@pytest.mark.parametrize(
    "name", sorted(FUNNEL_FREE_KEYS), ids=sorted(FUNNEL_FREE_KEYS)
)
def test_no_low_cardinality_window_funnel(plans, name):
    col = FUNNEL_FREE_KEYS[name]
    funnels = [
        plan_audit.format_site(s) for s in plans[name]["windows"]
        if s["bound"] == "none" and s["partition"][:1] in ([], [col])
    ]
    assert not funnels, f"{name}: corpus-grain window funnels {funnels}"


@pytest.mark.parametrize("name", TAKE_ORDERED_KEYS)
def test_global_topk_is_take_ordered(plans, name):
    assert "TakeOrderedAndProject" in plans[name]["ops"], f"{name} lost its top-k heap merge"


@pytest.mark.parametrize("family,name,ops,windows", [
    (test_rank_topk_has_window_group_limit, "mmr_diversify", "Sort Window", "k@agg"),
    (test_global_topk_is_take_ordered, "bm25_topk", "Limit Sort", "-"),
    (test_no_low_cardinality_window_funnel, "value_percentiles", "Window", "event_type@none"),
    (test_no_low_cardinality_window_funnel, "conversion_lag", "Window", "@none"),
], ids=["group-limit", "take-ordered", "keyed-funnel", "global-funnel"])
def test_plan_families_fail_on_bad_lines(plans, family, name, ops, windows):
    """Each family rule fails on a pinned line that breaks it."""
    line = f"{name} | ops: {ops} | joins: - | windows: {windows} | pushed: 0/0 | codegen: 1"
    with pytest.raises(AssertionError, match=name):
        family({**plans, name: plan_audit.parse_line(line)[1]}, name)


def test_streaming_ingest_dedup_matches_batch(spark, sf_dir):
    """C80s: watermarked dropDuplicates over a replayed stream keeps
    exactly the distinct event set — the exactly-once ingest edge,
    with state bounded by the watermark horizon."""
    from icecube_spark.streaming.dedup import (
        batch_ingest_dedup,
        streaming_ingest_dedup,
    )
    from icecube_spark.streaming.events import read_events_stream

    q = (
        streaming_ingest_dedup(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("stream_ingest_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("stream_ingest_dedup").toPandas()
    want = batch_ingest_dedup(catalog.load(spark, sf_dir, "events")).toPandas()
    assert len(got) == len(want) > 0
    assert set(got["event_id"]) == set(want["event_id"])
    assert got["event_id"].is_unique


def test_ivf_probe_curve_monotone(spark, sf_dir):
    """E44 — recall@5 must be non-decreasing in nprobe and bounded."""
    from icecube_spark.queries.llm_queries import ivf_probe_curve

    pdf = ivf_probe_curve(spark, sf_dir).toPandas()
    assert list(pdf.nprobe) == [1, 2, 4, 8]
    rec = list(pdf.recall_at_5)
    assert all(0.0 <= r <= 1.0 for r in rec)
    assert all(b >= a - 1e-12 for a, b in zip(rec, rec[1:])), rec
    assert rec[-1] >= 0.5, rec


def _drift(spark, plans, keys) -> list[str]:
    """Each key whose freshly built plan line differs from its PLANS.md
    line, with both lines."""
    sf_dir = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), "sf0.01")
    out = []
    for k in keys:
        pinned = plan_audit.format_line(k, plans[k]) if k in plans else None
        try:
            fresh = plan_audit.plan_line(spark, k, sf_dir)
        except Exception as exc:  # report every key, not the first
            fresh = f"{type(exc).__name__}: {exc}"[:300]
        if fresh != pinned:
            out.append(f"{k}\n  PLANS.md: {pinned}\n  fresh:    {fresh}")
    staging.release()
    return out


def test_registry_wide_funnel_sweep(spark, plans):
    """The drift check: every registered key's plan, built the way
    scripts/plan_audit.py builds it (sf0.01, AQE off, staging released,
    no action), fingerprints to its PLANS.md line, and PLANS.md holds
    no other key. So a plan change fails tier-1 until its line is
    regenerated, and the funnel, Cartesian and family rules, which
    read the pinned lines, judge the plans that run."""
    import __spark_entry__ as entry_mod

    drift = _drift(spark, plans, sorted(set(entry_mod.queries()) | set(plans)))
    assert not drift, (
        f"{len(drift)} plans differ from PLANS.md (defaultParallelism "
        f"{spark.sparkContext.defaultParallelism}; the lines hold from 4 up); regenerate with "
        "`python scripts/plan_audit.py <key ...>` and review the diff:\n"
        + "\n".join(drift)
    )


def test_plan_drift_names_the_changed_key(spark, plans, monkeypatch):
    """A plan change whose line is not regenerated fails the drift
    comparison, and the failure names the key and shows both lines."""
    import __spark_entry__ as entry_mod

    key = "q6_forecast_revenue"
    build = entry_mod._QUERIES[key]
    monkeypatch.setitem(entry_mod._QUERIES, key, lambda s, d: build(s, d).repartition(3))
    pinned = plan_audit.format_line(key, plans[key])
    fresh = pinned.replace("Exchange*2", "Exchange*3")  # the round-robin one added
    assert _drift(spark, plans, [key]) == [f"{key}\n  PLANS.md: {pinned}\n  fresh:    {fresh}"]
