"""Multimodal plumbing + end-to-end news pipeline tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_playground_spark.tables import table


def test_multimodal_decode_features(spark, sf_dir):
    from data_pipeline_playground_spark.multimodal.media import (
        attach_payload_from_text,
        decode_features,
    )

    docs = table(spark, sf_dir, "documents").limit(50)
    media = attach_payload_from_text(docs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = decode_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-3  # histogram sums to ~1
    # determinism: same input → same features
    again = {r.media_id: r.features for r in decode_features(media).collect()}
    assert {r.media_id: r.features for r in rows} == again


def test_multimodal_frame_sampling(spark, sf_dir):
    from data_pipeline_playground_spark.multimodal.media import (
        attach_payload_from_text,
        sample_frames,
    )

    docs = table(spark, sf_dir, "documents").limit(5)
    media = attach_payload_from_text(docs).withColumn(
        "kind", F.lit("video")
    ).withColumn(
        "meta",
        F.struct(
            F.lit(64).alias("width"), F.lit(64).alias("height"),
            F.lit(3500).alias("duration_ms"), F.lit("h264").alias("codec"),
        ),
    )
    frames = sample_frames(media, every_ms=1000)
    per_media = frames.groupBy("media_id").count().collect()
    assert all(r["count"] == 4 for r in per_media)  # 0,1000,2000,3000


def test_multimodal_resize(spark, sf_dir):
    from data_pipeline_playground_spark.multimodal.media import (
        attach_payload_from_text,
        resize_images,
    )

    docs = table(spark, sf_dir, "documents").limit(20)
    media = attach_payload_from_text(docs)  # 64x64 images per stub meta
    resized = resize_images(media, 32, 32)
    rows = resized.collect()
    assert len(rows) == 20
    src_len = {r.media_id: len(bytes(r.payload)) for r in media.collect()}
    for r in rows:
        assert (r.width, r.height) == (32, 32)
        got = len(bytes(r.payload))
        # 32x32 from 64x64 → ~1/4 of the bytes, and never empty
        assert 0 < got <= max(1, src_len[r.media_id] // 4 + 1)
    # determinism
    again = {r.media_id: bytes(r.payload) for r in resize_images(media, 32, 32).collect()}
    assert {r.media_id: bytes(r.payload) for r in rows} == again


def test_news_pipeline_end_to_end(spark, sf_dir):
    from data_pipeline_playground_spark.plans.news_pipeline import run_news_pipeline

    out = run_news_pipeline(spark, sf_dir)
    rows = out.collect()
    docs_n = table(spark, sf_dir, "documents").count()
    assert len(rows) >= 2  # at least k=2 clusters survive
    assert sum(r.n_articles for r in rows) <= docs_n  # dedup removed some
    for r in rows:
        assert r.n_articles > 0
        assert r.keywords and len(r.keywords.split(" ")) <= 5
        assert r.summary_text  # every cluster got a representative text


def test_news_pipeline_leaves_no_cache_entry(spark, sf_dir):
    """The pipeline pins its reused frames with localCheckpoint, not
    .cache(): each call builds a new KMeans model, so a cached plan
    never matches an earlier call's entry and every call would leave
    new entries in the JVM CacheManager for the session's life."""
    from data_pipeline_playground_spark.plans.news_pipeline import run_news_pipeline

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.numCachedEntries()
    run_news_pipeline(spark, sf_dir).collect()
    after_first = cache_manager.numCachedEntries()
    run_news_pipeline(spark, sf_dir).collect()
    assert cache_manager.numCachedEntries() == after_first == before


def test_news_pipeline_greedy_fidelity_snapshot(spark, sf_dir):
    """VERDICT r5 #5: the greedy fidelity mode reproduces the
    reference's arrival-order dedup (pipeline.py:22-42) END-TO-END on
    the driver corpus (FIXTURES.md F9): an independent sequential
    Python rescan — walk doc_ids in arrival order, keep a doc iff its
    60-char title is not similar (ratio > 80) to any previously KEPT
    title — must produce the exact survivor sequence the distributed
    component-parallel operator emits, and the pipeline's greedy mode
    must consume exactly that survivor set."""
    from data_pipeline_playground_spark.functions.text import py_fuzz_ratio
    from data_pipeline_playground_spark.operators.dedup import (
        FUZZ_THRESHOLD,
        TITLE_PREFIX_LEN,
        fuzzy_dedup_greedy_survivors,
    )
    from data_pipeline_playground_spark.plans.news_pipeline import run_news_pipeline

    docs = table(spark, sf_dir, "documents")
    titles = {
        r.doc_id: (r.text or "")[:TITLE_PREFIX_LEN]
        for r in docs.select("doc_id", "text").collect()
    }

    def similar(a: str, b: str) -> bool:
        if not a and not b:
            return False  # engine formula: total=0 → ratio 0, not 100
        return py_fuzz_ratio(a, b) > FUZZ_THRESHOLD

    kept: list[int] = []  # reference survivor sequence, arrival order
    for i in sorted(titles):
        if not any(similar(titles[i], titles[j]) for j in kept):
            kept.append(i)

    got = sorted(
        r.doc_id for r in fuzzy_dedup_greedy_survivors(docs).collect()
    )
    assert got == kept  # arrival order == ascending doc_id

    out = run_news_pipeline(spark, sf_dir, dedup="greedy").collect()
    assert sum(r.n_articles for r in out) == len(kept)


def test_audio_window_rms_shape_and_determinism(spark, sf_dir):
    """Every audio row yields ceil-split windows of its duration;
    window indices are dense from 0; RMS is bounded by the 8-bit PCM
    range; and the result is identical under a different partitioning
    (the row-local math can't depend on batch boundaries)."""
    from data_pipeline_playground_spark.multimodal.media import (
        attach_audio_from_text,
        audio_window_rms,
    )
    from data_pipeline_playground_spark.tables import table

    docs = table(spark, sf_dir, "documents").limit(100)
    media = attach_audio_from_text(docs)
    out = audio_window_rms(media, win_ms=200).cache()

    n_media = media.count()
    per = (
        out.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_win"),
            F.max("window_idx").alias("max_idx"),
            F.min("window_idx").alias("min_idx"),
            F.max("rms").alias("max_rms"),
            F.min("rms").alias("min_rms"),
        )
    )
    rows = per.collect()
    assert len(rows) == n_media  # every audio row produced windows
    for r in rows:
        assert r.min_idx == 0 and r.max_idx == r.n_win - 1  # dense 0..n-1
        assert 0.0 <= r.min_rms and r.max_rms <= 128.0

    # duration 10ms/char, 200ms windows → n_win == duration // 200 (≥1)
    expected = {
        r.media_id: max((r.dur // 200), 1)
        for r in media.select(
            "media_id", F.col("meta.duration_ms").alias("dur")
        ).collect()
    }
    got = {r.media_id: r.n_win for r in rows}
    assert got == expected

    again = {
        (r.media_id, r.window_idx): r.rms
        for r in audio_window_rms(media.repartition(7), win_ms=200).collect()
    }
    first = {(r.media_id, r.window_idx): r.rms for r in out.collect()}
    assert again == first


def test_default_decoder_selection_and_real_path():
    """The decoder/resizer defaults are PIL-backed exactly when PIL is
    importable; with PIL present, the real path must keep the stub's
    output contract (8 floats in [0,1] summing to ~1; bytes→bytes)."""
    from data_pipeline_playground_spark.multimodal import media as M

    if not M._pil_available():
        assert M.default_decoder() is M._stub_decode
        assert M.default_resizer() is M._stub_resize
        return
    assert M.default_decoder() is M.pil_decode
    assert M.default_resizer() is M.pil_resize
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (16, 16), color=77).save(buf, format="PNG")
    png = buf.getvalue()
    feats = M.pil_decode(png)
    assert len(feats) == len(M._stub_decode(b"xyz")) == 8
    assert all(0.0 <= f <= 1.0 for f in feats)
    assert abs(sum(feats) - 1.0) < 1e-3
    out = M.pil_resize(png, 16, 16, 8, 8)
    assert isinstance(out, bytes)
    assert Image.open(io.BytesIO(out)).size == (8, 8)
