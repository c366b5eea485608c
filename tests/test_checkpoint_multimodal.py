"""Checkpoint/resume semantics + multimodal plumbing."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from fluvio_jolt_spark.operators.multimodal import (
    extract_image_features,
    fake_decode_image,
    sample_video_frames,
    synth_media,
)
from fluvio_jolt_spark.plans.checkpoint import (
    BUCKET_COL,
    CheckpointedRun,
    with_bucket,
)


def _pipeline(df):
    return df.withColumn("doubled", F.col("turn_idx") * 2)


def test_checkpoint_first_run_commits_all(spark, transcripts_small, tmp_path):
    df, _ = transcripts_small
    run = CheckpointedRun(str(tmp_path / "out"), n_buckets=4, lineage={"job": "t"})
    report = run.run(df, _pipeline)
    assert report["ran_buckets"] == [0, 1, 2, 3]
    assert report["rows_in"] == df.count()
    assert report["rows_out"] == df.count()
    assert run.completed_buckets() == {0, 1, 2, 3}


def test_checkpoint_resume_skips_completed(spark, transcripts_small, tmp_path):
    df, _ = transcripts_small
    out = str(tmp_path / "out")
    run = CheckpointedRun(out, n_buckets=4)
    run.run(df, _pipeline)

    # sabotage one manifest → that bucket must rerun, others skip
    victim = Path(out) / "_manifest" / "bucket_2.json"
    victim.unlink()
    run2 = CheckpointedRun(out, n_buckets=4)
    report = run2.run(df, _pipeline)
    assert report["skipped_buckets"] == [0, 1, 3]
    assert report["ran_buckets"] == [2]

    # full output present and correct after resume
    data = spark.read.parquet(out + "/data")
    assert data.count() == df.count()
    assert run2.run(df, _pipeline)["ran_buckets"] == []


def test_torn_manifest_not_counted(spark, transcripts_small, tmp_path):
    df, _ = transcripts_small
    out = str(tmp_path / "out")
    run = CheckpointedRun(out, n_buckets=2)
    run.run(df, _pipeline)
    (Path(out) / "_manifest" / "bucket_0.json").write_text("{not json")
    assert CheckpointedRun(out, n_buckets=2).completed_buckets() == {1}


def test_lineage_recorded(spark, transcripts_small, tmp_path):
    df, _ = transcripts_small
    out = str(tmp_path / "out")
    lineage = {"input": "/root/testdata", "spec_hash": "abc123", "version": "0.1.0"}
    CheckpointedRun(out, n_buckets=2, lineage=lineage).run(df, _pipeline)
    doc = json.loads((Path(out) / "_manifest" / "bucket_0.json").read_text())
    assert doc["lineage"] == lineage
    assert doc["rows_in"] > 0


# ---- multimodal ----


def test_fake_decode_roundtrip(spark):
    media = synth_media(spark, n=6)
    row = media.filter(F.col("kind") == "image").first()
    arr = fake_decode_image(bytes(row.payload))
    assert arr.shape == (row.height, row.width, 3)


def test_image_features(spark):
    media = synth_media(spark, n=12)
    feats = extract_image_features(media).toPandas()
    assert len(feats) == media.filter("kind = 'image'").count()
    assert feats.mean_r.between(0, 255).all()
    # deterministic: same input → same signature
    feats2 = extract_image_features(media).toPandas()
    assert (feats.sort_values("media_id").sig64.to_numpy()
            == feats2.sort_values("media_id").sig64.to_numpy()).all()


def test_video_frame_sampling_prunes_payload(spark, tmp_path):
    media = synth_media(spark, n=12)
    path = str(tmp_path / "media")
    media.write.parquet(path)
    frames = sample_video_frames(spark.read.parquet(path), every_ms=500)
    pdf = frames.toPandas()
    assert (pdf.frame_ts_ms % 500 == 0).all()
    # column pruning: the parquet ReadSchema must not include the binary payload
    plan = frames._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "payload" not in read_schema[0], plan


def test_bucket_stability(spark, transcripts_small):
    df, _ = transcripts_small
    a = with_bucket(df, n_buckets=8).select("conv_id", BUCKET_COL).distinct()
    counts = a.groupBy("conv_id").count().agg(F.max("count")).collect()[0][0]
    assert counts == 1, "bucket must be a pure function of conv_id"


def test_ppm_roundtrip_and_header_forms():
    """encode->decode is lossless; decoder handles comment lines and
    multi-whitespace headers (netpbm spec forms)."""
    import numpy as np

    from fluvio_jolt_spark.operators.multimodal import decode_ppm, encode_ppm

    rng = np.random.RandomState(5)
    arr = rng.randint(0, 256, size=(13, 17, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(arr)) == arr).all()
    # comment + extra whitespace in header
    body = arr.tobytes()
    weird = b"P6\n# a comment\n 17\t13\n# another\n255\n" + body
    assert (decode_ppm(weird) == arr).all()


def test_bmp_roundtrip_with_row_padding():
    """Odd width (17*3=51 bytes/row -> 1 pad byte) exercises the 4-byte
    row alignment; bottom-up BGR order round-trips exactly."""
    import numpy as np

    from fluvio_jolt_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.RandomState(6)
    for w in (17, 18, 19, 20):
        arr = rng.randint(0, 256, size=(7, w, 3), dtype=np.uint8)
        payload = encode_bmp(arr)
        assert len(payload) > 54
        assert (decode_bmp(payload) == arr).all()


def test_real_codec_features_distributed(spark):
    """The distributed mapInPandas feature stage over REAL encoded
    PPM/BMP byte streams matches the local pure-function reference —
    the real-codec analogue of the stub-codec golden test."""
    from fluvio_jolt_spark.operators.multimodal import (
        extract_image_features,
        image_feature_row,
        synth_ppm_bmp_media,
        synth_ppm_bmp_media_rows,
    )

    media = synth_ppm_bmp_media(spark, n=24).repartition(6)
    got = extract_image_features(media).toPandas().sort_values("media_id")
    cols = synth_ppm_bmp_media_rows(n=24)
    want = [
        image_feature_row(mid, p)
        for mid, p in zip(cols["media_id"], cols["payload"])
    ]
    assert len(got) == len(want) == 24
    for row, (mid, r, g, b, s, sig) in zip(got.itertuples(index=False), want):
        assert row.media_id == mid and row.sig64 == sig
        assert abs(row.mean_r - r) < 1e-9 and abs(row.std_gray - s) < 1e-9


def test_decode_image_dispatch():
    """Magic-byte dispatch: PPM/BMP decode natively; unknown compressed
    formats raise the documented NotImplementedError without PIL."""
    import numpy as np
    import pytest as _pytest

    from fluvio_jolt_spark.operators.multimodal import decode_image, encode_bmp, encode_ppm

    arr = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    assert (decode_image(encode_ppm(arr)) == arr).all()
    assert (decode_image(encode_bmp(arr)) == arr).all()
    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with _pytest.raises(NotImplementedError, match="PPM"):
            decode_image(b"\x89PNG\r\n\x1a\nfakefakefake")


def test_wav_roundtrip_and_chunk_walk():
    """RIFF/WAVE PCM-16 codec: encode->decode is identity (mono and
    stereo), unknown chunks are skipped with word alignment, and
    non-PCM formats raise."""
    import struct

    import numpy as np
    import pytest as _pytest

    from fluvio_jolt_spark.operators.multimodal import decode_wav, encode_wav

    mono = (np.arange(100, dtype=np.int16) * 300 - 15000)[:, None]
    out, sr = decode_wav(encode_wav(mono, 8000))
    assert sr == 8000 and (out == mono).all()

    stereo = np.stack([mono[:, 0], -mono[:, 0]], axis=1).astype(np.int16)
    out, sr = decode_wav(encode_wav(stereo, 16000))
    assert sr == 16000 and out.shape == (100, 2) and (out == stereo).all()

    # splice an odd-sized unknown chunk between fmt and data: a
    # spec-compliant reader skips it (word-aligned) and still decodes
    raw = encode_wav(mono, 8000)
    fmt_end = 12 + 8 + 16
    junk = b"JUNK" + struct.pack("<I", 3) + b"xyz" + b"\x00"  # pad byte
    spliced = raw[:fmt_end] + junk + raw[fmt_end:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    out, sr = decode_wav(spliced)
    assert (out == mono).all()

    bad = bytearray(encode_wav(mono, 8000))
    bad[20] = 3  # audio_format = IEEE float
    with _pytest.raises(ValueError, match="PCM"):
        decode_wav(bytes(bad))
    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS" + b"\x00" * 40)


def test_audio_features_distributed(spark):
    """The distributed WAV decode+DSP stage equals the local pure
    function over the same real byte streams (the audio analogue of the
    real-codec image test)."""
    from fluvio_jolt_spark.operators.multimodal import (
        audio_feature_row,
        extract_audio_features,
        synth_wav_media,
        synth_wav_media_rows,
    )

    got = (
        extract_audio_features(synth_wav_media(spark, n=24))
        .orderBy("media_id")
        .toPandas()
    )
    cols = synth_wav_media_rows(n=24)
    want = [
        audio_feature_row(mid, p)
        for mid, p in zip(cols["media_id"], cols["payload"])
    ]
    assert len(got) == len(want) == 24
    for row, (mid, sr, ch, ns, rms, peak, zc) in zip(
        got.itertuples(index=False), want
    ):
        assert (row.media_id, row.sample_rate, row.n_channels, row.n_samples) == (
            mid, sr, ch, ns,
        )
        assert abs(row.rms - rms) < 1e-12 and abs(row.zero_cross_rate - zc) < 1e-12
    # the synth table exercises both channel counts and sample rates
    assert set(got.n_channels) == {1, 2} and set(got.sample_rate) == {8000, 16000}


def test_y4m_roundtrip_and_header_forms():
    """YUV4MPEG2 codec: encode->decode is identity for C420 and C444,
    tagged header params parse in any order with unknown X tags
    skipped, colorspace defaults to C420jpeg, and malformed streams
    raise."""
    import numpy as np
    import pytest as _pytest

    from fluvio_jolt_spark.operators.multimodal import decode_y4m, encode_y4m

    rng = np.random.default_rng(7)
    for cs, cdiv in (("C420jpeg", 2), ("C444", 1)):
        y = rng.integers(0, 256, (3, 12, 16), dtype=np.uint8)
        u = rng.integers(0, 256, (3, 12 // cdiv, 16 // cdiv), dtype=np.uint8)
        v = rng.integers(0, 256, (3, 12 // cdiv, 16 // cdiv), dtype=np.uint8)
        y2, u2, v2, num, den, cs2 = decode_y4m(
            encode_y4m(y, u, v, fps=(30000, 1001), colorspace=cs)
        )
        assert (y2 == y).all() and (u2 == u).all() and (v2 == v).all()
        assert (num, den, cs2) == (30000, 1001, cs)

    # reordered tags + unknown X tag + implicit default colorspace
    y = rng.integers(0, 256, (2, 4, 6), dtype=np.uint8)
    u = rng.integers(0, 256, (2, 2, 3), dtype=np.uint8)
    v = rng.integers(0, 256, (2, 2, 3), dtype=np.uint8)
    raw = encode_y4m(y, u, v, fps=(25, 1))
    body = raw[raw.index(b"\n") + 1 :]
    reordered = b"YUV4MPEG2 XYSCSS=420JPEG F25:1 H4 W6 Ip\n" + body
    y2, u2, v2, num, den, cs2 = decode_y4m(reordered)
    assert (y2 == y).all() and (u2 == u).all() and cs2 == "C420jpeg"

    with _pytest.raises(ValueError, match="YUV4MPEG2"):
        decode_y4m(b"RIFF" + b"\x00" * 16 + b"\n")
    with _pytest.raises(ValueError, match="truncated"):
        decode_y4m(raw[:-5])
    with _pytest.raises(ValueError, match="frame header"):
        decode_y4m(raw[: raw.index(b"\n") + 1] + b"FRAMX\n" + body[6:])


def test_frame_sampling_grid_deterministic():
    """sample_frame_indices: integer tick arithmetic, deduped, bounded
    by n_frames, exact for both the 25/1 and 30000/1001 rates."""
    from fluvio_jolt_spark.operators.multimodal import sample_frame_indices

    # 25 fps, 80ms ticks -> frame on screen every 2nd frame
    assert sample_frame_indices(7, 25, 1, 80) == [0, 2, 4, 6]
    # NTSC rate: idx = (j*80*30000) // (1000*1001)
    assert sample_frame_indices(8, 30000, 1001, 80) == [0, 2, 4, 7]
    # ticks denser than frames dedupe to every frame
    assert sample_frame_indices(3, 25, 1, 10) == [0, 1, 2]
    assert sample_frame_indices(0, 25, 1, 80) == []


def test_video_frame_features_distributed(spark):
    """The distributed Y4M decode+stats stage equals the local pure
    function over the same real byte streams (the video analogue of
    the real-codec image/audio tests), and the synth table exercises
    both chroma layouts and frame rates."""
    from fluvio_jolt_spark.operators.multimodal import (
        decode_y4m,
        extract_video_frame_features,
        synth_y4m_media,
        synth_y4m_media_rows,
        video_frame_feature_rows,
    )

    got = (
        extract_video_frame_features(synth_y4m_media(spark, n=16), every_ms=80)
        .orderBy("media_id", "frame_no")
        .toPandas()
    )
    cols = synth_y4m_media_rows(n=16)
    want = []
    layouts, rates = set(), set()
    for mid, p in zip(cols["media_id"], cols["payload"]):
        want.extend(video_frame_feature_rows(mid, p, every_ms=80))
        _y, _u, _v, num, den, cs = decode_y4m(p)
        layouts.add(cs)
        rates.add((num, den))
    assert len(got) == len(want) > 16
    for row, exp in zip(got.itertuples(index=False), want):
        assert (row.media_id, row.frame_no, row.frame_ts_ms) == exp[:3]
        assert (row.width, row.height, row.n_frames) == exp[3:6]
        for g, w in zip((row.mean_y, row.std_y, row.mean_u, row.mean_v), exp[6:10]):
            assert abs(g - w) < 1e-12
        if exp[10] is None:
            assert row.motion != row.motion  # NaN in pandas for NULL
        else:
            assert abs(row.motion - exp[10]) < 1e-12
    assert layouts == {"C420jpeg", "C444"} and rates == {(25, 1), (30000, 1001)}
