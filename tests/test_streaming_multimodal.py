"""Tests for the Structured Streaming operators (streaming result ==
batch result over the same bounded input) and the multimodal binary
column family."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from kaj_query_engine_spark.operators import multimodal as M
from kaj_query_engine_spark.streaming import (
    read_stream_table,
    run_available_now,
    stream_stateful_user_totals,
    stream_tumbling_agg,
    streaming_dedup,
)
from tests.conftest import SF_DIR


def test_stream_tumbling_equals_batch(spark):
    s = read_stream_table(spark, SF_DIR, "events")
    out = run_available_now(
        stream_tumbling_agg(
            s, "ts", "1 hour", "10 minutes", [F.count("*").alias("n")]
        ),
        "complete",
    )
    from kaj_query_engine_spark.catalog import _read_parquet

    batch = (
        _read_parquet(spark, f"{SF_DIR}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    got = {(r.ws, r.n) for r in out.select("ws", "n").collect()}
    want = {(r.ws, r.n) for r in batch.collect()}
    assert got == want


def test_streaming_dedup_keeps_one_per_key(spark):
    s = read_stream_table(spark, SF_DIR, "events")
    out = run_available_now(
        streaming_dedup(s, ["user_id"], "ts", "1 hour")
        .groupBy()
        .agg(F.count("*").alias("n")),
        "complete",
    )
    from kaj_query_engine_spark.catalog import _read_parquet

    n_users = (
        _read_parquet(spark, f"{SF_DIR}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert out.collect()[0].n == n_users


def test_stream_corpus_filter_drops_known_fingerprints(spark, tmp_path):
    # corpus knows A (two normalized copies) and B; the stream lands
    # A-again (normalized differently), B-again, and new C/D — only
    # the genuinely-new docs survive the anti join
    from kaj_query_engine_spark.operators import dedup as D
    from kaj_query_engine_spark.streaming import stream_corpus_filter

    corpus = spark.createDataFrame(
        [(0, "Doc alpha  text"), (1, "doc ALPHA text"), (2, "doc beta text")],
        "id long, text string",
    )
    index = D.exact_duplicates(corpus, "id", "text")
    land = str(tmp_path / "landing")
    spark.createDataFrame(
        [
            (10, "DOC  alpha TEXT"),
            (11, "doc beta  TEXT"),
            (12, "doc gamma text"),
            (13, "doc delta text"),
        ],
        "id long, text string",
    ).write.parquet(land)
    stream = spark.readStream.schema("id long, text string").parquet(land)
    out = run_available_now(
        stream_corpus_filter(stream, index, "text"), "append"
    )
    assert {r.id for r in out.collect()} == {12, 13}
    # fingerprint column is internal — the survivor schema is the input's
    assert out.columns == ["id", "text"]


def test_stateful_totals_equals_groupby(spark):
    s = read_stream_table(spark, SF_DIR, "events")
    out = run_available_now(stream_stateful_user_totals(s), "update")
    from kaj_query_engine_spark.catalog import _read_parquet

    batch = (
        _read_parquet(spark, f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    got = {(r.user_id, r.n_events) for r in out.select("user_id", "n_events").collect()}
    want = {(r.user_id, r.n_events) for r in batch.collect()}
    assert got == want


def test_stateful_totals_half_up_at_half_micro(spark, tmp_path):
    """Values landing exactly on a half-micro must quantize HALF_UP
    (away from zero) like CAST(v AS DECIMAL(18,6)) — banker's rounding
    would give 2+2+4994 = 4998 micros (sum 0.00), HALF_UP gives
    3+3+4994 = 5000 (sum 0.01)."""
    d = str(tmp_path / "halfup")
    spark.createDataFrame(
        [(1, 2.5e-6), (1, 2.5e-6), (1, 0.004994)],
        "user_id long, value double",
    ).write.parquet(d)
    s = spark.readStream.schema("user_id long, value double").parquet(d)
    out = run_available_now(stream_stateful_user_totals(s), "update")
    final = [r for r in out.collect() if r.n_events == 3]
    assert final and final[0].sum_v == 0.01


# ------------------------------------------------------------------
# multimodal
# ------------------------------------------------------------------


@pytest.fixture()
def media(spark):
    df = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    return M.attach_fake_media(df)


def test_state_partition_sizing_rule(spark):
    """state_partitions derives from observed key cardinality (round-5
    verdict item 5): pure rule pinned at the measured break points,
    and the approx-count wrapper checked at two live cardinalities."""
    from kaj_query_engine_spark.streaming.ops import (
        auto_state_partitions,
        state_partitions_for_keys,
    )

    # pure rule: floor 4, ~2048 keys/partition, pow2, parallelism clamp
    assert state_partitions_for_keys(10, 32) == 4
    assert state_partitions_for_keys(1500, 32) == 4
    assert state_partitions_for_keys(6000, 32) == 4  # 2.9 -> pow2 4
    assert state_partitions_for_keys(10_000, 32) == 8
    assert state_partitions_for_keys(100_000, 32) == 32  # clamp
    assert state_partitions_for_keys(10**9, 2048) == 2048  # cluster clamp
    assert state_partitions_for_keys(100, 2) == 2  # floor respects tiny cluster
    # python-stateful floor: partitions = concurrent Python workers,
    # so the floor rises to parallelism/2 (measured: 16 beats 4 by
    # 1.6x on the user-totals shape at local[32])
    assert state_partitions_for_keys(1500, 32, python_stateful=True) == 16
    assert state_partitions_for_keys(10, 32, python_stateful=True) == 16
    assert state_partitions_for_keys(100_000, 32, python_stateful=True) == 32
    assert state_partitions_for_keys(100, 2, python_stateful=True) == 2
    # live wrapper at two cardinalities
    lo = spark.range(100).select((F.col("id") % 7).alias("k"))
    hi = spark.range(100_000).select(F.col("id").alias("k"))
    par = spark.sparkContext.defaultParallelism
    assert auto_state_partitions(lo, F.col("k")) == min(4, par)
    assert auto_state_partitions(hi, F.col("k")) == min(
        state_partitions_for_keys(100_000, par), par
    )


def test_auto_state_partitions_memoizes_file_sources(spark, tmp_path, monkeypatch):
    """The public operator API must not pay a full-source scan per
    stream start (round-7 verdict item 5): a file-backed batch view is
    scanned ONCE per (source generation, key set) — repeat calls hit
    the in-process memo, a cache_path lets later processes skip the
    scan too, and touching the source invalidates both."""
    import json

    from kaj_query_engine_spark.streaming import ops as S

    src = tmp_path / "src"
    spark.range(5000).selectExpr("id % 300 AS k", "id AS v").write.parquet(
        str(src)
    )
    calls = {"n": 0}
    real = S._scan_key_cardinality

    def counted(df, keys):
        calls["n"] += 1
        return real(df, keys)

    monkeypatch.setattr(S, "_scan_key_cardinality", counted)
    df = spark.read.parquet(str(src))
    p1 = S.auto_state_partitions(df, F.col("k"))
    assert calls["n"] == 1
    # repeat call, fresh DataFrame over the same files: memo hit
    p2 = S.auto_state_partitions(spark.read.parquet(str(src)), F.col("k"))
    assert calls["n"] == 1 and p2 == p1
    # a DIFFERENT key set is a different cardinality: must rescan
    S.auto_state_partitions(df, F.col("v"))
    assert calls["n"] == 2
    # persisted cache: clear the in-process memo (simulating a new
    # process) — the JSON record must satisfy the call with no scan
    cache = tmp_path / "counts.json"
    S.auto_state_partitions(df, F.col("k"), cache_path=str(cache))
    assert calls["n"] == 2  # memo still hot, no scan, no rewrite needed
    S._ASP_MEMO.clear()
    S.auto_state_partitions(df, F.col("k"), cache_path=str(cache))
    assert calls["n"] == 3  # cold memo, cold cache: one scan, persisted
    S._ASP_MEMO.clear()
    S.auto_state_partitions(df, F.col("k"), cache_path=str(cache))
    assert calls["n"] == 3  # cold memo, warm cache: zero scans
    assert json.loads(cache.read_text())  # record really on disk
    # source changed (new file listing): stale token forces a rescan
    spark.range(100).selectExpr("id AS k", "id AS v").write.mode(
        "append"
    ).parquet(str(src))
    S.auto_state_partitions(spark.read.parquet(str(src)), F.col("k"))
    assert calls["n"] == 4
    # non-file sources have no staleness token: every call scans
    mem = spark.range(10).selectExpr("id AS k")
    S.auto_state_partitions(mem, F.col("k"))
    S.auto_state_partitions(mem, F.col("k"))
    assert calls["n"] == 6


def test_stream_static_enrich_equals_batch_join(spark):
    """Stream-static left join against a broadcast dimension produces
    exactly the batch left-join result (unmatched rows NULL-padded)."""
    from pyspark.sql import functions as F

    from kaj_query_engine_spark.catalog import _read_parquet
    from kaj_query_engine_spark.streaming import (
        read_stream_table,
        run_available_now,
        stream_static_enrich,
    )

    dim = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(0, 150, 2)],  # odd ids unmatched
        "user_id long, segment string",
    )
    s = read_stream_table(spark, SF_DIR, "events")
    out = run_available_now(
        stream_static_enrich(s, dim, "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n")),
        "complete",
    )
    got = {r.segment: r.n for r in out.collect()}
    batch = (
        _read_parquet(spark, f"{SF_DIR}/events.parquet")
        .join(dim, "user_id", "left")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expect = {r.segment: r.n for r in batch.collect()}
    assert got == expect
    assert None in expect  # odd user_ids really exercise the left join


def test_fake_media_payload_is_sha_blocks(media):
    rows = {r.doc_id: bytes(r.media) for r in media.collect()}
    for d, payload in rows.items():
        n_blocks = 2 + d % 3
        assert len(payload) == 32 * n_blocks
        for i in range(n_blocks):
            want = hashlib.sha256(f"{d}:{i}".encode()).digest()
            assert payload[i * 32 : (i + 1) * 32] == want


def test_media_byte_features_consistent(media):
    feats = {r.doc_id: r for r in M.media_byte_features(media).collect()}
    payloads = {r.doc_id: bytes(r.media) for r in media.collect()}
    from collections import Counter

    for d, r in feats.items():
        p = payloads[d]
        c = Counter(p)
        assert r.n_bytes == len(p)
        assert r.first_byte_hex == p[:1].hex()
        assert abs(r.mean_byte - sum(p) / len(p)) < 1e-5
        assert r.n_distinct_bytes == len(c)
        assert r.mode_count == max(c.values())
        assert 0.0 <= r.entropy <= 8.0  # byte entropy bound


def test_frame_sample_reconstructs_payload(media):
    frames = M.frame_sample(media).collect()
    payloads = {r.doc_id: bytes(r.media) for r in media.collect()}
    by_doc: dict[int, dict[int, bytes]] = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, {})[r.frame_idx] = bytes(r.frame)
    for d, chunks in by_doc.items():
        rebuilt = b"".join(chunks[i] for i in range(len(chunks)))
        assert rebuilt == payloads[d]


def test_decode_media_guards_non_png(media):
    """Non-PNG payloads (the sha-block fake media) must fail loudly in
    the task — no codec libraries exist for them here and silently
    skipping media would corrupt a corpus."""
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(PythonException, match="only PNG"):
        M.decode_media(media).collect()


def test_png_codec_roundtrip_all_filters():
    """encode→decode is the identity for grey and RGB arrays under
    both filter modes; corrupted chunks are rejected, not mis-decoded."""
    import numpy as np

    from kaj_query_engine_spark.functions.png import decode_png, encode_png

    rng = np.random.default_rng(0)
    for shape in [(1, 1), (7, 3), (24, 28), (13, 17, 3), (5, 1), (1, 9, 3)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for mode in ("cycle", "none"):
            b = decode_png(encode_png(a, mode))
            assert b.shape == a.shape and (b == a).all(), (shape, mode)
    good = bytearray(encode_png(rng.integers(0, 256, (4, 4), dtype=np.uint8)))
    good[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(good))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"GIF89a not a png")


def test_decode_media_pixels_match_model(spark):
    """decode_media on attach_png_media output reproduces the sha
    scanline pixel model byte-for-byte — the numpy-reference pin for
    the real decode path (the q93 oracle is the SQL twin of this)."""
    import hashlib as hl

    import numpy as np

    df = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = {
        r.doc_id: r
        for r in M.decode_media(M.attach_png_media(df, "doc_id")).collect()
    }
    assert len(out) == 12
    for d in range(12):
        w, h = 16 + (d % 4) * 4, 12 + (d % 3) * 6
        expect = b"".join(
            hl.sha256(f"{d}:r{i}".encode()).digest()[:w] for i in range(h)
        )
        r = out[d]
        assert (r.width, r.height, r.channels) == (w, h, 1)
        assert bytes(r.pixels) == expect


def test_resize_decoded_media_nearest_neighbor(spark):
    """The decoded-resize twin matches the numpy index rule
    yi = ti·H//T applied to the model pixels, after a full second
    encode→decode round trip."""
    import hashlib as hl

    import numpy as np

    from kaj_query_engine_spark.functions.png import decode_png

    df = spark.createDataFrame([(3,), (7,)], "doc_id long")
    media = M.attach_png_media(df, "doc_id")
    out = {
        r.doc_id: r
        for r in M.resize_decoded_media(media, 8, 8).collect()
    }
    for d in (3, 7):
        w, h = 16 + (d % 4) * 4, 12 + (d % 3) * 6
        grid = np.stack(
            [
                np.frombuffer(
                    hl.sha256(f"{d}:r{i}".encode()).digest()[:w], np.uint8
                )
                for i in range(h)
            ]
        )
        yi = np.arange(8) * h // 8
        xi = np.arange(8) * w // 8
        got = decode_png(bytes(out[d].media))
        assert (got == grid[np.ix_(yi, xi)]).all()
        assert out[d].media_meta.width == 8 and out[d].media_meta.format == "png"


def test_stream_static_enrich_small_dim_still_broadcasts(spark):
    """Round 5 removed the F.broadcast hint from stream_static_enrich
    (a hint overrides the size threshold and would OOM on a grown
    dimension at scale). This pins the other half of that trade: the
    per-micro-batch planner must still CHOOSE a broadcast join on its
    own when the dimension is small — the common enrichment case pays
    no shuffle."""
    from kaj_query_engine_spark.streaming import (
        read_stream_table,
        stream_static_enrich,
    )

    dim = spark.createDataFrame(
        [(i, f"seg{i % 3}") for i in range(0, 150, 2)],
        "user_id long, segment string",
    )
    s = read_stream_table(spark, SF_DIR, "events")
    q = (
        stream_static_enrich(s, dim, "user_id")
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        # explainInternal(extended=False) renders the LAST executed
        # micro-batch's physical plan
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    # AQE's rendering also includes the pre-adaptive initial plan
    # (which may show a sort-merge join) — the claim is that the
    # FINAL executed plan contains the broadcast join
    assert "BroadcastHashJoin" in plan, plan


def test_wav_codec_roundtrip_and_stdlib_cross_check():
    """encode→decode is the identity for mono and stereo int16 PCM,
    and BOTH directions cross-check against the stdlib ``wave``
    module (an independent RIFF implementation): our bytes parse in
    ``wave``, and ``wave``-authored bytes parse in our decoder."""
    import io
    import wave

    import numpy as np

    from kaj_query_engine_spark.functions.wav import decode_wav, encode_wav

    rng = np.random.default_rng(1)
    mono = rng.integers(-32768, 32768, 501).astype(np.int16)
    b = encode_wav(mono, 16000)
    rate, ch, out = decode_wav(b)
    assert (rate, ch) == (16000, 1) and np.array_equal(out, mono)
    w = wave.open(io.BytesIO(b))
    assert (w.getframerate(), w.getnchannels(), w.getsampwidth()) == (
        16000,
        1,
        2,
    )
    assert w.readframes(501) == mono.astype("<i2").tobytes()

    stereo = rng.integers(-32768, 32768, (300, 2)).astype(np.int16)
    rate2, ch2, out2 = decode_wav(encode_wav(stereo, 44100))
    assert (rate2, ch2) == (44100, 2) and np.array_equal(out2, stereo)

    buf = io.BytesIO()
    ww = wave.open(buf, "wb")
    ww.setnchannels(1)
    ww.setsampwidth(2)
    ww.setframerate(8000)
    ww.writeframes(mono.tobytes())
    ww.close()
    rate3, ch3, out3 = decode_wav(buf.getvalue())
    assert (rate3, ch3) == (8000, 1) and np.array_equal(out3, mono)


def test_wav_codec_rejects_malformed():
    """Corruption fails loudly, never mis-decodes: bad magic,
    truncation, missing fmt/data, non-PCM format tags, 8-bit depth."""
    import struct

    import numpy as np

    from kaj_query_engine_spark.functions.wav import decode_wav, encode_wav

    good = encode_wav(np.arange(100, dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"RIFX" + good[4:])
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_wav(good[:40])
    with pytest.raises(ValueError, match="missing fmt"):
        decode_wav(good.replace(b"fmt ", b"xmt ", 1))
    with pytest.raises(ValueError, match="missing data"):
        decode_wav(good.replace(b"data", b"dat_", 1))
    # flip the PCM format tag to 3 (IEEE float) — unsupported
    i = good.index(b"fmt ") + 8
    bad = good[:i] + struct.pack("<H", 3) + good[i + 2 :]
    with pytest.raises(ValueError, match="format_tag=3"):
        decode_wav(bad)


def test_decode_audio_samples_match_model(spark):
    """decode_audio on attach_wav_media output reproduces the sha256
    sample-block model byte-for-byte — the numpy-reference pin for the
    real audio decode path (the q94 oracle is the SQL twin)."""
    import hashlib as hl

    df = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = {
        r.doc_id: r
        for r in M.decode_audio(M.attach_wav_media(df, "doc_id")).collect()
    }
    assert len(out) == 12
    for d in range(12):
        expect = b"".join(
            hl.sha256(f"{d}:a{j}".encode()).digest() for j in range(6 + d % 4)
        )
        r = out[d]
        assert (r.rate, r.channels) == (8000 + (d % 3) * 4000, 1)
        assert r.n_samples == (6 + d % 4) * 16
        assert bytes(r.samples) == expect


def test_audio_features_match_numpy_reference(spark):
    """audio_features agrees with a from-scratch numpy computation on
    the model samples: exact int energy, IEEE-derived rms/duration,
    strict-sign-change zcr, |v| peak."""
    import hashlib as hl
    import math

    import numpy as np

    df = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    out = {
        r.doc_id: r
        for r in M.audio_features(M.attach_wav_media(df, "doc_id")).collect()
    }
    for d in range(9):
        raw = b"".join(
            hl.sha256(f"{d}:a{j}".encode()).digest() for j in range(6 + d % 4)
        )
        v = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        r = out[d]
        assert r.energy == int(np.sum(v * v))
        assert r.rms == math.sqrt(r.energy / len(v))
        assert r.duration_s == len(v) / r.rate
        assert r.zcr == int(np.count_nonzero(v[:-1] * v[1:] < 0))
        assert r.peak == int(np.max(np.abs(v)))


def test_resample_audio_nearest_neighbor(spark):
    """resample_audio matches the floor index rule si = i·N//T applied
    to the model samples, after the full second encode→decode trip."""
    import hashlib as hl

    import numpy as np

    from kaj_query_engine_spark.functions.wav import decode_wav

    df = spark.createDataFrame([(2,), (5,)], "doc_id long")
    audio = M.attach_wav_media(df, "doc_id")
    out = {
        r.doc_id: r for r in M.resample_audio(audio, 64, 8000).collect()
    }
    for d in (2, 5):
        raw = b"".join(
            hl.sha256(f"{d}:a{j}".encode()).digest() for j in range(6 + d % 4)
        )
        v = np.frombuffer(raw, dtype="<i2")
        idx = np.arange(64) * len(v) // 64
        rate, ch, got = decode_wav(bytes(out[d].audio))
        assert (rate, ch) == (8000, 1)
        assert np.array_equal(got, v[idx])
        assert out[d].audio_meta.n_samples == 64
        assert out[d].audio_meta.format == "wav"


def test_decode_audio_guards_non_wav(media):
    """Non-WAV payloads fail loudly in the task (no mp3/flac codecs
    here) — mirror of the PNG guard."""
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(PythonException, match="only WAV"):
        M.decode_audio(media, bin_col="media").collect()


def test_avi_codec_roundtrip_and_rejects_malformed():
    """encode→decode is the identity for RGB frame stacks including
    padded row widths; corruption fails loudly (bad magic, truncation,
    wrong bit depth, header/movi frame-count disagreement)."""
    import struct

    import numpy as np

    from kaj_query_engine_spark.functions.avi import decode_avi, encode_avi

    rng = np.random.default_rng(4)
    for shape in [(1, 1, 1, 3), (4, 6, 8, 3), (3, 5, 7, 3), (2, 9, 10, 3)]:
        f = rng.integers(0, 256, shape).astype(np.uint8)
        fps, out = decode_avi(encode_avi(f, 12))
        assert fps == 12 and np.array_equal(out, f), shape
    b = encode_avi(rng.integers(0, 256, (2, 4, 5, 3)).astype(np.uint8), 10)
    with pytest.raises(ValueError, match="RIFF"):
        decode_avi(b"RIFX" + b[4:])
    with pytest.raises(ValueError, match="truncated"):
        decode_avi(b[:60])
    i = b.index(b"strf") + 8 + 14  # biBitCount
    with pytest.raises(ValueError, match="bits=8"):
        decode_avi(b[:i] + struct.pack("<H", 8) + b[i + 2 :])
    j = b.index(b"avih") + 8 + 16  # dwTotalFrames
    with pytest.raises(ValueError, match="frame count mismatch"):
        decode_avi(b[:j] + struct.pack("<I", 5) + b[j + 4 :])


def test_decode_video_frames_match_model(spark):
    """decode_video on attach_avi_media output reproduces the sha256
    frame/scanline model byte-for-byte per exploded frame row — the
    numpy-reference pin for the real container decode (q95's oracle is
    the SQL twin). Pins the bottom-up/BGR/padding round trip."""
    import hashlib as hl

    df = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    rows = M.decode_video(M.attach_avi_media(df, "doc_id")).collect()
    by_key = {(r.doc_id, r.frame_idx): r for r in rows}
    for d in range(9):
        n, h = 2 + d % 3, 6 + d % 3
        assert sum(1 for k in by_key if k[0] == d) == n
        for f in range(n):
            expect = b"".join(
                hl.sha256(f"{d}:f{f}:r{r}".encode()).digest()[:30]
                for r in range(h)
            )
            r = by_key[(d, f)]
            assert (r.width, r.height, r.fps, r.n_frames) == (10, h, 10, n)
            assert bytes(r.pixels) == expect


def test_subsample_video_keeps_every_kth_frame(spark):
    """subsample_video(stride=2) re-encodes frames 0,2,4,… — decoding
    the result yields the original even frames' exact pixels."""
    import hashlib as hl

    df = spark.createDataFrame([(2,), (8,)], "doc_id long")  # n_frames=4
    v = M.attach_avi_media(df, "doc_id")
    rows = M.decode_video(M.subsample_video(v, 2)).collect()
    by_key = {(r.doc_id, r.frame_idx): r for r in rows}
    for d in (2, 8):
        h = 6 + d % 3
        assert sum(1 for k in by_key if k[0] == d) == 2  # ceil(4/2)
        for fi, orig in [(0, 0), (1, 2)]:
            expect = b"".join(
                hl.sha256(f"{d}:f{orig}:r{r}".encode()).digest()[:30]
                for r in range(h)
            )
            assert bytes(by_key[(d, fi)].pixels) == expect


def test_video_summary_matches_numpy_reference(spark):
    """video_summary agrees with a from-scratch computation: exact int
    pixel sum and the IEEE-division mean."""
    import hashlib as hl

    df = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    out = {
        r.doc_id: r
        for r in M.video_summary(M.attach_avi_media(df, "doc_id")).collect()
    }
    for d in range(6):
        n, h = 2 + d % 3, 6 + d % 3
        pix_sum = sum(
            sum(hl.sha256(f"{d}:f{f}:r{r}".encode()).digest()[:30])
            for f in range(n)
            for r in range(h)
        )
        r = out[d]
        assert (r.n_frames, r.fps, r.width, r.height) == (n, 10, 10, h)
        assert r.pix_sum == pix_sum
        assert r.mean_byte == pix_sum / (n * h * 30)


def test_decode_video_guards_non_avi(media):
    """Non-AVI payloads fail loudly in the task (no compressed-video
    codecs here) — mirror of the PNG/WAV guards."""
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(PythonException, match="only AVI"):
        M.decode_video(media, bin_col="media").collect()


def test_avi_codec_rejects_short_header_chunks():
    """A chunk whose DECLARED length is shorter than its fixed struct
    must raise ValueError (not a struct.error leak) — the headers are
    validated before unpacking."""
    import struct

    import numpy as np

    from kaj_query_engine_spark.functions.avi import decode_avi, encode_avi

    b = encode_avi(np.zeros((1, 2, 2, 3), dtype=np.uint8), 10)
    for tag in (b"avih", b"strh", b"strf"):
        i = b.index(tag) + 4
        bad = b[:i] + struct.pack("<I", 4) + b[i + 4 :]
        with pytest.raises(ValueError):
            decode_avi(bad)


def test_stream_media_decode_equals_batch(spark):
    """The real WAV codec runs unchanged on a streaming plan: decoding
    and featurizing docs as they land (availableNow backfill) must
    equal the batch featurizer row-for-row — the suite's
    streaming==batch law extended to the codec path (q96)."""
    df = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    batch = {
        r.doc_id: r
        for r in M.audio_features(M.attach_wav_media(df, "doc_id")).collect()
    }
    import tempfile

    land = tempfile.mkdtemp(prefix="stream_media_")
    df.write.mode("overwrite").parquet(land)
    s = spark.readStream.schema("doc_id long").parquet(land)
    streamed = {
        r.doc_id: r
        for r in run_available_now(
            M.audio_features(M.attach_wav_media(s, "doc_id")), "append"
        ).collect()
    }
    assert set(streamed) == set(batch)
    for d, r in streamed.items():
        b = batch[d]
        assert (
            r.rate, r.n_samples, r.duration_s, r.energy, r.rms, r.zcr, r.peak
        ) == (b.rate, b.n_samples, b.duration_s, b.energy, b.rms, b.zcr, b.peak)


def test_jpeg_entropy_layer_lossless_roundtrip():
    """encode→decode recovers the QUANTIZED coefficients bit-exactly
    for random sparse blocks (Huffman, RLE/ZRL/EOB, DPCM and bit
    packing all exercised), and malformed files are rejected."""
    import numpy as np

    from kaj_query_engine_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    for trial in range(15):
        bx, by = rng.integers(1, 4), rng.integers(1, 4)
        h, w = by * 8 - rng.integers(0, 8), bx * 8 - rng.integers(0, 8)
        co = np.zeros((bx * by, 64), dtype=np.int64)
        for b in range(bx * by):
            co[b, 0] = rng.integers(-100, 101)
            ks = rng.choice(
                np.arange(1, 64), size=rng.integers(0, 12), replace=False
            )
            for k in ks:
                co[b, k] = rng.integers(-200, 201)
            if rng.random() < 0.3:
                co[b, 63] = rng.integers(1, 50)  # no-EOB path
        H, W, _px, cd = decode_jpeg(encode_jpeg(co, h, w))
        assert (H, W) == (h, w) and np.array_equal(cd, co), trial
    good = encode_jpeg(np.zeros((1, 64), dtype=int), 8, 8)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\xff\xd9" + good[2:])
    with pytest.raises(ValueError, match="EOI"):
        decode_jpeg(good[:-2])
    # progressive SOF2 must be refused, not mis-decoded
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc2", 1))


def test_jpeg_idct_matches_spec_cosine_sum():
    """The separable IDCT equals the literal T.81 defining four-loop
    cosine sum — the lossy layer is pinned, not trusted."""
    import numpy as np

    from kaj_query_engine_spark.functions.jpeg import idct_block

    rng = np.random.default_rng(12)
    F8 = rng.standard_normal((8, 8)) * 50

    def ref(F8):
        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        au = np.sqrt(1 / 8) if u == 0 else 0.5
                        av = np.sqrt(1 / 8) if v == 0 else 0.5
                        s += (
                            au * av * F8[u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                out[x, y] = s
        return out

    assert np.abs(idct_block(F8) - ref(F8)).max() < 1e-9


def test_jpeg_coefficients_match_model(spark):
    """jpeg_coefficients on attach_jpeg_media output reproduces the
    sha256 coefficient model value-for-value (the q97 'coeffs' oracle
    is the SQL twin of this pin)."""
    import hashlib as hl

    import numpy as np

    df = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    out = {
        r.doc_id: r
        for r in M.jpeg_coefficients(M.attach_jpeg_media(df, "doc_id")).collect()
    }
    for d in range(8):
        bx, by = 1 + d % 2, 1 + d % 3
        want = np.zeros((bx * by, 64), dtype=np.int16)
        for b in range(bx * by):
            dig = hl.sha256(f"{d}:j{b}".encode()).digest()
            want[b, 0] = dig[0] % 32 - 16
            for k in range(1, 64):
                if (dig[k % 32] + k) % 5 == 0:
                    want[b, k] = dig[(k * 7 + 3) % 32] % 15 - 7
        r = out[d]
        assert (r.width, r.height, r.n_blocks) == (bx * 8, by * 8, bx * by)
        got = np.frombuffer(bytes(r.coeffs), dtype="<i2").reshape(-1, 64)
        assert np.array_equal(got, want)


def test_jpeg_dc_only_pixels_are_flat_patches(spark):
    """decode_media on the DC-only corpus yields exact flat 8×8
    patches: pixel = floor(DC·q0/8 + 128.5) — the oracle-checkable
    form of the IDCT/level-shift/clamp/raster math (q97 'dcpatch')."""
    import hashlib as hl
    import math

    import numpy as np

    df = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    media = M.attach_jpeg_media(df, "doc_id", dc_only=True)
    out = {r.doc_id: r for r in M.decode_media(media).collect()}
    for d in range(6):
        bx, by = 1 + d % 2, 1 + d % 3
        px = np.frombuffer(bytes(out[d].pixels), np.uint8).reshape(
            by * 8, bx * 8
        )
        assert out[d].channels == 1
        for b in range(bx * by):
            dc = hl.sha256(f"{d}:j{b}".encode()).digest()[0] % 32 - 16
            want = math.floor(dc / 8 + 128.5)
            patch = px[(b // bx) * 8 : (b // bx) * 8 + 8,
                       (b % bx) * 8 : (b % bx) * 8 + 8]
            assert (patch == want).all()


def test_gif_codec_roundtrip_all_lzw_regimes():
    """encode→decode is the identity across LZW regimes: random data
    (CLEAR fires when the dictionary fills), highly repetitive data
    (long dictionary chains), the KwKwK first-reference pattern, and
    tiny images; corruption is rejected loudly."""
    import numpy as np

    from kaj_query_engine_spark.functions.gif import decode_gif, encode_gif

    rng = np.random.default_rng(6)
    cases = [
        rng.integers(0, 256, (1, 1)).astype(np.uint8),
        rng.integers(0, 256, (24, 28)).astype(np.uint8),
        rng.integers(0, 256, (100, 100)).astype(np.uint8),  # forces CLEAR
        np.tile(np.arange(256, dtype=np.uint8), (64, 2)),
        (np.zeros((128, 256)) + np.arange(256) % 2).astype(np.uint8),
        # KwKwK: 0,1,0,0,1,0,0,1... the cScSc pattern
        np.tile(np.array([0, 1, 0], dtype=np.uint8), 100).reshape(10, 30),
    ]
    for a in cases:
        out = decode_gif(encode_gif(a))
        assert out.shape == (*a.shape, 3)
        assert (out == a[:, :, None]).all(), a.shape
    good = encode_gif(cases[1])
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"JIF87a" + good[6:])
    with pytest.raises(ValueError, match="trailer|terminator|truncated"):
        decode_gif(good[:-2])
    # flipping the interlace flag on a non-interlaced stream must
    # REORDER rows per the four-pass interleave, not be ignored (the
    # image descriptor sits structurally after header+LSD+768-byte
    # palette — searching for 0x2C would match a gray palette triple)
    from kaj_query_engine_spark.functions.gif import _interlace_order

    i = 6 + 7 + 768 + 9
    assert good[6 + 7 + 768] == 0x2C
    scrambled = decode_gif(
        good[:i] + bytes([good[i] | 0x40]) + good[i + 1 :]
    )
    plain = decode_gif(good)
    # deinterlace scatters stream row k to image row order[k], so
    # gathering the scrambled rows back in interleave order recovers
    # the plain decode
    assert (scrambled[_interlace_order(plain.shape[0])] == plain).all()


def test_gif_decode_media_pixels_match_model(spark):
    """decode_media on attach_gif_media output reproduces the sha256
    index model through the grayscale palette (each byte tripled to
    RGB) — the numpy pin whose SQL twin is the q98 oracle."""
    import hashlib as hl

    import numpy as np

    df = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    out = {
        r.doc_id: r
        for r in M.decode_media(M.attach_gif_media(df, "doc_id")).collect()
    }
    for d in range(8):
        w, h = 16 + (d % 4) * 4, 12 + (d % 3) * 6
        idx = np.stack(
            [
                np.frombuffer(
                    hl.sha256(f"{d}:g{r}".encode()).digest()[:w], np.uint8
                )
                for r in range(h)
            ]
        )
        r = out[d]
        assert (r.width, r.height, r.channels) == (w, h, 3)
        got = np.frombuffer(bytes(r.pixels), np.uint8).reshape(h, w, 3)
        assert (got == idx[:, :, None]).all()


def test_png_attach_streaming_equals_batch(spark, tmp_path):
    """attach_png_media rides a streaming plan like the WAV generator
    (q96 family): in-flight generate+decode equals batch byte-exactly."""
    df = spark.createDataFrame([(i,) for i in range(15)], "doc_id long")
    batch = {
        r.doc_id: bytes(r.pixels)
        for r in M.decode_media(M.attach_png_media(df, "doc_id")).collect()
    }
    land = str(tmp_path / "png_landing")
    df.write.mode("overwrite").parquet(land)
    s = spark.readStream.schema("doc_id long").parquet(land)
    streamed = {
        r.doc_id: bytes(r.pixels)
        for r in run_available_now(
            M.decode_media(M.attach_png_media(s, "doc_id")), "append"
        ).collect()
    }
    assert streamed == batch and len(streamed) == 15


def test_flac_codec_roundtrip_and_rejects_malformed():
    """FLAC encode→decode is the identity across lengths, block sizes
    and all forced FIXED orders; CRC and mid-stream corruption are
    caught (the format carries three integrity layers: header CRC-8,
    frame CRC-16, STREAMINFO MD5)."""
    import numpy as np

    from kaj_query_engine_spark.functions.flac import decode_flac, encode_flac

    rng = np.random.default_rng(9)
    for n in (1, 64, 65, 500):
        s = rng.integers(-32768, 32768, n).astype(np.int16)
        for bs in (16, 64, 4096):
            r, out = decode_flac(encode_flac(s, 44100, block_size=bs))
            assert r == 44100 and np.array_equal(out, s), (n, bs)
    t = np.arange(1500)
    smooth = (1000 * np.sin(t / 50) + 50 * np.sin(t / 7)).astype(np.int16)
    for o in range(5):
        _r, out = decode_flac(
            encode_flac(smooth, 8000, block_size=128, force_order=o)
        )
        assert np.array_equal(out, smooth), o
    # lossless compression actually compresses the smooth signal
    assert len(encode_flac(smooth, 8000)) < len(smooth) * 2 * 0.5
    good = encode_flac(smooth[:300], 8000)
    with pytest.raises(ValueError, match="magic"):
        decode_flac(b"fLaX" + good[4:])
    bad = bytearray(good)
    bad[-3] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|MD5|range|sync"):
        decode_flac(bytes(bad))
    bad2 = bytearray(good)
    bad2[60] ^= 0x01
    with pytest.raises(ValueError):
        decode_flac(bytes(bad2))


def test_flac_decode_audio_matches_wav_twin(spark):
    """decode_audio on the FLAC corpus yields byte-identical PCM to
    the WAV corpus built from the same sample model — the two-codec
    one-oracle law behind q99."""
    df = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    wav = {
        r.doc_id: (r.rate, r.n_samples, bytes(r.samples))
        for r in M.decode_audio(M.attach_wav_media(df, "doc_id")).collect()
    }
    flac = {
        r.doc_id: (r.rate, r.n_samples, bytes(r.samples))
        for r in M.decode_audio(M.attach_flac_media(df, "doc_id")).collect()
    }
    assert flac == wav and len(flac) == 10


def test_flac_lpc_subframes_roundtrip_and_compress():
    """LPC subframes (Levinson-Durbin quantized coefficients, RFC 9639
    §9.2.3): lossless across orders including block-clamped ones, and
    on a smooth signal a low-order LPC predictor out-compresses the
    best FIXED predictor — the property the subframe family exists
    for. The estimator windows the block (Welch) before
    autocorrelation; without it the edge bias halved predictor gain
    (residual magnitudes 5 -> 62 across frames of a pure sine)."""
    import numpy as np

    from kaj_query_engine_spark.functions.flac import decode_flac, encode_flac

    t = np.arange(4096)
    smooth = (3000 * np.sin(t / 9.0)).astype(np.int16)
    for lo in (1, 2, 3, 8, 32):
        _r, out = decode_flac(
            encode_flac(smooth, 8000, block_size=256, lpc_order=lo)
        )
        assert np.array_equal(out, smooth), lo
    fixed_best = len(encode_flac(smooth, 8000, block_size=256))
    lpc2 = len(encode_flac(smooth, 8000, block_size=256, lpc_order=2))
    assert lpc2 < fixed_best
    # degenerate blocks (zero energy) fall back to FIXED silently
    zeros = np.zeros(100, dtype=np.int16)
    _r, out = decode_flac(encode_flac(zeros, 8000, lpc_order=8))
    assert np.array_equal(out, zeros)


def test_auto_state_partitions_memo_bounded_per_source(spark, tmp_path):
    """Round-8 ADVICE: the memo must not grow one listing-sized entry
    per source GENERATION — a regenerated source replaces its entry
    (keyed by source dir + keys, token held as a digest), so a
    long-lived driver over a frequently-rewritten landing dir holds
    one bounded record per (source, keys)."""
    from kaj_query_engine_spark.streaming import ops as S

    src = tmp_path / "src"
    S._ASP_MEMO.clear()
    for gen in range(3):  # three generations of the same source
        spark.range(1000 + gen).selectExpr("id % 50 AS k").write.mode(
            "overwrite"
        ).parquet(str(src))
        S.auto_state_partitions(spark.read.parquet(str(src)), F.col("k"))
    assert len(S._ASP_MEMO) == 1  # superseded generations evicted
    ((key, (digest, _n)),) = S._ASP_MEMO.items()
    assert key[0].endswith("src") and len(digest) == 64  # digest, not listing


def test_source_root_guards_mixed_and_repeated_paths():
    """Round-10 advice: _source_root must not throw on a mixed
    absolute/relative listing (commonpath raises ValueError) and must
    return a DIRECTORY when a single path repeats (commonpath returns
    the file itself)."""
    from kaj_query_engine_spark.streaming.ops import _source_root

    rep = (("/data/src/part-0.parquet", 1, 2),
           ("/data/src/part-0.parquet", 1, 2))
    assert _source_root(rep) == "/data/src"
    mixed = (("/data/src/a.parquet", 1, 2), ("rel/b.parquet", 1, 2))
    assert _source_root(mixed) == "/data/src"
    # round-11 advice: ordering must not matter — when the RELATIVE
    # outlier lists first, the absolute majority still keys the root
    mixed_rel_first = (
        ("rel/b.parquet", 1, 2),
        ("/data/src/a.parquet", 1, 2),
        ("/data/src/k=1/c.parquet", 1, 2),
    )
    assert _source_root(mixed_rel_first) == "/data/src"
    hive = (("/lake/ds/k=1/p.parquet", 1, 2),)
    assert _source_root(hive) == "/lake/ds"
