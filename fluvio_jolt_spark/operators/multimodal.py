"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched mapInPandas.

Codecs: the uncompressed public formats decode NATIVELY in pure numpy
(``decode_ppm`` for netpbm P6, ``decode_bmp`` for 24-bit BI_RGB BMP) —
real encoded byte streams run end-to-end through the distributed
feature stage. Compressed formats (PNG/JPEG) dispatch to PIL when
importable and raise NotImplementedError otherwise (no codec library in
this container); the deterministic fake codec remains for synthetic
test payloads. Everything Spark-side — schemas, batching, UDF
signatures, partition sizing — is identical across codec paths.

Scale notes: binary payloads make rows big; metadata-only operations
prune the binary column at scan (column pruning is checked in tests).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def synth_media_rows(n: int = 64, seed: int = 42) -> dict:
    """Pure-Python generation of the deterministic fake media table —
    shared by the Spark table builder AND the driver oracle (which
    precomputes expected feature values locally, so the distributed
    mapInPandas path is checked against a single-process reference)."""
    kinds = ["image", "audio", "video"]
    cols: dict = {k: [] for k in
                  ("media_id", "kind", "mime", "width", "height", "duration_ms", "payload")}
    for i in range(n):
        h = hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=8).digest()
        kind = kinds[i % 3]
        w, hgt = 16 + (i % 8) * 16, 16 + (i % 5) * 16
        dur = 1000 + (i % 7) * 500
        header = struct.pack("<4sHHI", kind[:4].encode().ljust(4), w, hgt, dur)
        body = (h * ((w * hgt * 3) // 8 + 1))[: w * hgt * 3]
        cols["media_id"].append(i)
        cols["kind"].append(kind)
        cols["mime"].append("image/png" if kind == "image" else "application/octet-stream")
        cols["width"].append(w)
        cols["height"].append(hgt)
        cols["duration_ms"].append(dur if kind != "image" else None)
        cols["payload"].append(header + body)
    return cols


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: payload = seeded pseudo-random
    bytes with a 16-byte header encoding (kind, width, height). Built
    through Arrow — py4j row serialization of binary payloads is
    ~10× slower."""
    cols = synth_media_rows(n, seed)
    # Arrow table, not pandas: pandas coerces a None-bearing int column
    # to float64/NaN, which createDataFrame rejects for IntegerType.
    # Arrow keeps it a nullable int32 end-to-end.
    import pyarrow as pa

    table = pa.table(
        {
            "media_id": pa.array(cols["media_id"], pa.int64()),
            "kind": pa.array(cols["kind"], pa.string()),
            "mime": pa.array(cols["mime"], pa.string()),
            "width": pa.array(cols["width"], pa.int32()),
            "height": pa.array(cols["height"], pa.int32()),
            "duration_ms": pa.array(cols["duration_ms"], pa.int32()),
            "payload": pa.array(cols["payload"], pa.binary()),
        }
    )
    return spark.createDataFrame(table, MEDIA_SCHEMA)


def encode_ppm(arr: np.ndarray) -> bytes:
    """Binary PPM (netpbm P6, maxval 255) from an HxWx3 uint8 array —
    a real, public, uncompressed image format, pure bytes+numpy."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode binary PPM (P6). Handles the standard header forms:
    whitespace-separated tokens with optional '#' comment lines, a
    single whitespace byte after maxval, then raw RGB rows."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while payload[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    pos += 1  # the single whitespace byte after maxval
    body = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return body.reshape(h, w, 3)


def encode_bmp(arr: np.ndarray) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB): BGR pixel
    order, rows bottom-up, each row padded to 4 bytes."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    row = w * 3
    pad = (-row) % 4
    padded = np.zeros((h, row + pad), dtype=np.uint8)
    padded[:, :row] = arr[::-1, :, ::-1].reshape(h, row)  # bottom-up, BGR
    pixels = padded.tobytes()
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + dib + pixels


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode uncompressed 24-bit BI_RGB BMP to HxWx3 RGB uint8."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    dib_size, w, h, _planes, bpp, compression = struct.unpack_from("<IiiHHI", payload, 14)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit BI_RGB supported (bpp={bpp}, comp={compression})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=h * stride, offset=offset)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def decode_image(payload: bytes) -> "np.ndarray":
    """Real decoder: pure-numpy paths for the uncompressed public
    formats (PPM/P6, 24-bit BMP), PIL for everything else when
    available (compressed formats need a codec library this container
    doesn't ship)."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    try:
        from PIL import Image
    except ImportError as e:
        raise NotImplementedError(
            "compressed-format decode requires PIL/pillow, not present in this "
            "environment; PPM (P6) and 24-bit BMP decode natively, or use "
            "fake_decode_image (deterministic stand-in)"
        ) from e
    import io

    return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))


def fake_decode_image(payload: bytes) -> np.ndarray:
    """Deterministic stand-in: reinterpret body bytes as HxWx3 uint8
    using the synthetic header."""
    _kind, w, h, _dur = struct.unpack("<4sHHI", payload[:12])
    body = np.frombuffer(payload[12:12 + w * h * 3], dtype=np.uint8)
    return body.reshape(h, w, 3)


def _decode_any(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch: real codecs (PPM/BMP, and PIL formats when
    available) for real payloads; the deterministic fake codec for the
    synthetic-header test payloads."""
    if payload[:2] in (b"P6", b"BM"):
        return decode_image(payload)
    return fake_decode_image(payload)


def image_feature_row(media_id: int, payload: bytes) -> tuple:
    """Per-image features from the decoded array — pure function
    shared by the distributed mapInPandas stage and the local oracle
    reference: (media_id, mean_r, mean_g, mean_b, std_gray, sig64).
    Real PPM/BMP payloads decode through the real codec path."""
    arr = _decode_any(payload)
    gray = arr.astype(np.float64).mean(axis=2)
    # 8x8 average-hash signature
    ah = gray[: (gray.shape[0] // 8) * 8, : (gray.shape[1] // 8) * 8]
    ah = ah.reshape(8, ah.shape[0] // 8, 8, ah.shape[1] // 8).mean((1, 3))
    bits = (ah > ah.mean()).flatten()
    sig = 0
    for b in bits:
        sig = (sig << 1) | int(b)
    sig -= 1 << 64 if sig >= 1 << 63 else 0
    return (
        int(media_id),
        float(arr[:, :, 0].mean()),
        float(arr[:, :, 1].mean()),
        float(arr[:, :, 2].mean()),
        float(gray.std()),
        int(sig),
    )


def synth_ppm_bmp_media_rows(n: int = 32, seed: int = 42) -> dict:
    """Deterministic REAL-format media table: seeded pseudo-random RGB
    images encoded to binary PPM (even ids) and 24-bit BMP (odd ids) —
    actual encoded byte streams, decoded end-to-end by the real codec
    path. Shared by the Spark table builder and the driver oracle."""
    cols: dict = {k: [] for k in
                  ("media_id", "kind", "mime", "width", "height", "duration_ms", "payload")}
    for i in range(n):
        w, h = 16 + (i % 6) * 8, 16 + (i % 4) * 8
        raw = hashlib.blake2b(f"ppmbmp:{seed}:{i}".encode(), digest_size=8).digest()
        body = np.frombuffer((raw * (w * h * 3 // 8 + 1))[: w * h * 3], dtype=np.uint8)
        arr = body.reshape(h, w, 3)
        payload = encode_ppm(arr) if i % 2 == 0 else encode_bmp(arr)
        cols["media_id"].append(i)
        cols["kind"].append("image")
        cols["mime"].append("image/x-portable-pixmap" if i % 2 == 0 else "image/bmp")
        cols["width"].append(w)
        cols["height"].append(h)
        cols["duration_ms"].append(None)
        cols["payload"].append(payload)
    return cols


def synth_ppm_bmp_media(spark, n: int = 32, seed: int = 42) -> DataFrame:
    """Spark frame of the real-format media rows (Arrow path, see
    synth_media)."""
    import pyarrow as pa

    cols = synth_ppm_bmp_media_rows(n, seed)
    table = pa.table(
        {
            "media_id": pa.array(cols["media_id"], pa.int64()),
            "kind": pa.array(cols["kind"], pa.string()),
            "mime": pa.array(cols["mime"], pa.string()),
            "width": pa.array(cols["width"], pa.int32()),
            "height": pa.array(cols["height"], pa.int32()),
            "duration_ms": pa.array(cols["duration_ms"], pa.int32()),
            "payload": pa.array(cols["payload"], pa.binary()),
        }
    )
    return spark.createDataFrame(table, MEDIA_SCHEMA)


def extract_image_features(
    df: DataFrame, payload_col: str = "payload", batch_budget_bytes: int = 64 << 20
) -> DataFrame:
    """Per-image features (mean/std per channel + phash-like signature)
    via mapInPandas. Batch shape: the iterator yields per-Arrow-batch
    frames; heavy decode stays inside numpy."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("mean_r", T.DoubleType(), True),
            T.StructField("mean_g", T.DoubleType(), True),
            T.StructField("mean_b", T.DoubleType(), True),
            T.StructField("std_gray", T.DoubleType(), True),
            T.StructField("sig64", T.LongType(), True),
        ]
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                image_feature_row(int(mid), bytes(payload))
                for mid, payload in zip(pdf["media_id"], pdf[payload_col])
            ]
            yield pd.DataFrame(
                recs, columns=["media_id", "mean_r", "mean_g", "mean_b", "std_gray", "sig64"]
            )

    images = df.filter(F.col("kind") == "image").select("media_id", payload_col)
    return images.mapInPandas(feats, schema=out_schema)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """RIFF/WAVE PCM 16-bit from an (n_samples, n_channels) int16 array
    — a real, public, uncompressed audio format, pure bytes+numpy
    (audio's PPM: no codec library needed)."""
    assert samples.dtype == np.int16 and samples.ndim == 2
    n, ch = samples.shape
    data = samples.tobytes()  # interleaved little-endian, as stored
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> "tuple[np.ndarray, int]":
    """Decode RIFF/WAVE PCM 16-bit to ((n_samples, n_channels) int16,
    sample_rate). Walks the chunk list (fmt /data in any order, unknown
    chunks skipped, word-aligned) like any spec-compliant reader."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        chunk = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", chunk, 0)
        elif cid == b"data":
            data = chunk
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, ch, sample_rate, _br, _ba, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only PCM 16-bit supported (fmt={audio_format}, bits={bits})")
    samples = np.frombuffer(data, dtype="<i2", count=(len(data) // (2 * ch)) * ch)
    return samples.reshape(-1, ch), sample_rate


def synth_wav_media_rows(n: int = 24, seed: int = 42) -> dict:
    """Deterministic REAL-format audio table: integer sawtooth + seeded
    blake2b noise, encoded to actual RIFF/WAVE PCM-16 byte streams
    (mono/stereo, 8/16 kHz). Integer-only synthesis — no
    transcendentals — so the Spark stage and the local oracle reference
    compute bit-identical samples. Shared by the Spark table builder
    and the driver oracle."""
    cols: dict = {k: [] for k in
                  ("media_id", "kind", "mime", "width", "height", "duration_ms", "payload")}
    for i in range(n):
        sr = 8000 if i % 2 == 0 else 16000
        ch = 1 + (i % 3 == 0)
        dur_ms = 200 + (i % 5) * 100
        n_samp = sr * dur_ms // 1000
        period = 40 + 10 * (i % 7)
        t = np.arange(n_samp, dtype=np.int64)
        saw = ((t % period) * (20000 // period) - 10000).astype(np.int64)
        raw = hashlib.blake2b(f"wav:{seed}:{i}".encode(), digest_size=8).digest()
        noise = np.frombuffer((raw * (n_samp * 2 // 8 + 1))[: n_samp * 2], dtype="<i2")
        mono = np.clip(saw + noise.astype(np.int64) // 8, -32768, 32767).astype(np.int16)
        samples = np.stack([mono] * ch, axis=1) if ch > 1 else mono[:, None]
        if ch == 2:  # decorrelate the channels deterministically
            samples = samples.copy()
            samples[:, 1] = np.roll(mono, period // 2)
        cols["media_id"].append(i)
        cols["kind"].append("audio")
        cols["mime"].append("audio/wav")
        cols["width"].append(None)
        cols["height"].append(None)
        cols["duration_ms"].append(dur_ms)
        cols["payload"].append(encode_wav(samples, sr))
    return cols


def synth_wav_media(spark, n: int = 24, seed: int = 42) -> DataFrame:
    """Spark frame of the real WAV rows (Arrow path, see synth_media)."""
    import pyarrow as pa

    cols = synth_wav_media_rows(n, seed)
    table = pa.table(
        {
            "media_id": pa.array(cols["media_id"], pa.int64()),
            "kind": pa.array(cols["kind"], pa.string()),
            "mime": pa.array(cols["mime"], pa.string()),
            "width": pa.array(cols["width"], pa.int32()),
            "height": pa.array(cols["height"], pa.int32()),
            "duration_ms": pa.array(cols["duration_ms"], pa.int32()),
            "payload": pa.array(cols["payload"], pa.binary()),
        }
    )
    return spark.createDataFrame(table, MEDIA_SCHEMA)


def audio_feature_row(media_id: int, payload: bytes) -> tuple:
    """Per-clip audio features from the decoded PCM — pure function
    shared by the distributed mapInPandas stage and the local oracle
    reference: (media_id, sample_rate, n_channels, n_samples, rms,
    peak, zero_cross_rate). rms/peak over [-1, 1]-normalized samples;
    zero-cross rate = mean over channels of sign-change fraction."""
    samples, sr = decode_wav(payload)
    x = samples.astype(np.float64) / 32768.0
    signs = np.sign(x)
    signs[signs == 0] = 1.0
    zc = float((signs[1:] != signs[:-1]).mean()) if len(x) > 1 else 0.0
    return (
        int(media_id),
        int(sr),
        int(samples.shape[1]),
        int(samples.shape[0]),
        float(np.sqrt((x * x).mean())),
        float(np.abs(x).max()),
        zc,
    )


def extract_audio_features(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Per-clip audio features via Arrow-batched mapInPandas over the
    REAL WAV codec (decode + numpy DSP stay inside the batch; only
    kind=='audio' rows are read, and only id+payload columns — scan
    pruning as for the image stage)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("n_channels", T.IntegerType(), True),
            T.StructField("n_samples", T.LongType(), True),
            T.StructField("rms", T.DoubleType(), True),
            T.StructField("peak", T.DoubleType(), True),
            T.StructField("zero_cross_rate", T.DoubleType(), True),
        ]
    )
    names = [f.name for f in out_schema.fields]

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                audio_feature_row(int(mid), bytes(payload))
                for mid, payload in zip(pdf["media_id"], pdf[payload_col])
            ]
            yield pd.DataFrame(recs, columns=names)

    clips = df.filter(F.col("kind") == "audio").select("media_id", payload_col)
    return clips.mapInPandas(feats, schema=out_schema)


def sample_video_frames(
    df: DataFrame, every_ms: int = 500, payload_col: str = "payload"
) -> DataFrame:
    """Metadata-only frame-sampling PLANNER: one output row per sampled
    frame from duration/rate metadata alone, so the binary column is
    NOT read (column pruning — at scale this prices a sampling job
    before paying decode). The real-decode sibling is
    ``extract_video_frame_features``, which reads actual Y4M frame
    bytes for the sampled frames."""
    vids = df.filter(F.col("kind") == "video").select("media_id", "duration_ms")
    idx = F.sequence(F.lit(0), F.floor(F.col("duration_ms") / every_ms).cast("int"))
    return vids.select(
        "media_id",
        F.explode(idx).alias("frame_no"),
        (F.col("frame_no") * every_ms).alias("frame_ts_ms"),
    )


def encode_y4m(
    y: np.ndarray,
    u: np.ndarray,
    v: np.ndarray,
    fps: "tuple[int, int]" = (25, 1),
    colorspace: str = "C420jpeg",
) -> bytes:
    """YUV4MPEG2 (Y4M) encoder — the public uncompressed video
    container (mjpegtools): a one-line ASCII stream header
    (``YUV4MPEG2 W.. H.. F..:.. Ip A1:1 C..``), then per frame a
    ``FRAME`` line followed by raw planar YCbCr bytes. Video's PPM:
    real byte streams, pure bytes+numpy, no codec library.

    ``y`` is (n_frames, H, W) uint8; ``u``/``v`` are (n_frames, H/2,
    W/2) for C420* layouts and (n_frames, H, W) for C444."""
    assert y.dtype == np.uint8 and y.ndim == 3
    n, h, w = y.shape
    if colorspace.startswith("C420"):
        assert u.shape == v.shape == (n, h // 2, w // 2)
    elif colorspace == "C444":
        assert u.shape == v.shape == (n, h, w)
    else:
        raise ValueError(f"unsupported colorspace {colorspace}")
    header = (
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 {colorspace}\n"
    ).encode("ascii")
    parts = [header]
    for f in range(n):
        parts.append(b"FRAME\n")
        parts.append(y[f].tobytes())
        parts.append(u[f].tobytes())
        parts.append(v[f].tobytes())
    return b"".join(parts)


def decode_y4m(
    payload: bytes,
) -> "tuple[np.ndarray, np.ndarray, np.ndarray, int, int, str]":
    """Decode a YUV4MPEG2 stream to (y, u, v, fps_num, fps_den,
    colorspace); plane arrays are uint8 with shapes as in
    ``encode_y4m``. Walks the stream like a spec-compliant reader:
    tagged stream-header params in any order (unknown X tags skipped),
    per-frame FRAME lines may carry their own (ignored) params,
    colorspace defaults to C420jpeg when absent."""
    nl = payload.index(b"\n")
    header = payload[:nl].decode("ascii", errors="replace").split(" ")
    if header[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    fps_num, fps_den = 30, 1
    colorspace = "C420jpeg"
    for tag in header[1:]:
        if not tag:
            continue
        key, val = tag[0], tag[1:]
        if key == "W":
            w = int(val)
        elif key == "H":
            h = int(val)
        elif key == "F":
            a, b = val.split(":")
            fps_num, fps_den = int(a), int(b)
        elif key == "C":
            colorspace = tag
        # I (interlace), A (aspect), X (comment): no effect on planes
    if w is None or h is None:
        raise ValueError("missing W/H in stream header")
    if colorspace.startswith("C420"):
        cw, ch = w // 2, h // 2
    elif colorspace == "C422":
        cw, ch = w // 2, h
    elif colorspace == "C444":
        cw, ch = w, h
    else:
        raise ValueError(f"unsupported colorspace {colorspace}")
    frame_bytes = w * h + 2 * cw * ch
    ys, us, vs = [], [], []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("malformed frame header")
        pos = fnl + 1
        raw = payload[pos : pos + frame_bytes]
        if len(raw) < frame_bytes:
            raise ValueError("truncated frame data")
        arr = np.frombuffer(raw, dtype=np.uint8)
        ys.append(arr[: w * h].reshape(h, w))
        us.append(arr[w * h : w * h + cw * ch].reshape(ch, cw))
        vs.append(arr[w * h + cw * ch :].reshape(ch, cw))
        pos += frame_bytes
    return (
        np.stack(ys),
        np.stack(us),
        np.stack(vs),
        fps_num,
        fps_den,
        colorspace,
    )


def synth_y4m_media_rows(n: int = 16, seed: int = 42) -> dict:
    """Deterministic REAL-format video table: per clip a horizontal
    gradient + a moving bright square + seeded blake2b noise, encoded
    to actual YUV4MPEG2 byte streams (C420jpeg and C444 layouts, 25/1
    and 30000/1001 frame rates). Integer-only synthesis, so the Spark
    stage and the local oracle reference decode bit-identical planes.
    Shared by the Spark table builder and the driver oracle."""
    cols: dict = {k: [] for k in
                  ("media_id", "kind", "mime", "width", "height", "duration_ms", "payload")}
    for i in range(n):
        w = 16 + 8 * (i % 3)          # 16 / 24 / 32
        h = 8 + 4 * (i % 2)           # 8 / 12 (even, for 420 chroma)
        fps = (25, 1) if i % 2 == 0 else (30000, 1001)
        n_frames = 3 + i % 5
        colorspace = "C420jpeg" if i % 3 != 2 else "C444"
        grad = (np.arange(w, dtype=np.int32) * 255) // max(w - 1, 1)
        raw = hashlib.blake2b(f"y4m:{seed}:{i}".encode(), digest_size=8).digest()
        nbytes = n_frames * h * w
        noise = np.frombuffer((raw * (nbytes // 8 + 1))[:nbytes], dtype=np.uint8)
        noise = noise.reshape(n_frames, h, w).astype(np.int32) // 16
        ys = np.empty((n_frames, h, w), dtype=np.uint8)
        for f in range(n_frames):
            frame = np.broadcast_to(grad, (h, w)).astype(np.int32) + noise[f]
            bx = (f * 3) % max(w - 4, 1)
            by = (f * 2) % max(h - 4, 1)
            frame = frame.copy()
            frame[by : by + 4, bx : bx + 4] = 200
            ys[f] = np.clip(frame, 0, 255).astype(np.uint8)
        cw, ch = (w // 2, h // 2) if colorspace.startswith("C420") else (w, h)
        us = np.empty((n_frames, ch, cw), dtype=np.uint8)
        vs = np.empty((n_frames, ch, cw), dtype=np.uint8)
        for f in range(n_frames):
            us[f] = np.uint8((128 + 7 * f + i) % 256)
            vs[f] = np.uint8((128 - 5 * f + 2 * i) % 256)
        payload = encode_y4m(ys, us, vs, fps=fps, colorspace=colorspace)
        cols["media_id"].append(i)
        cols["kind"].append("video")
        cols["mime"].append("video/x-yuv4mpeg")
        cols["width"].append(w)
        cols["height"].append(h)
        cols["duration_ms"].append(n_frames * 1000 * fps[1] // fps[0])
        cols["payload"].append(payload)
    return cols


def synth_y4m_media(spark, n: int = 16, seed: int = 42) -> DataFrame:
    """Spark frame of the real Y4M rows (Arrow path, see synth_media)."""
    import pyarrow as pa

    cols = synth_y4m_media_rows(n, seed)
    table = pa.table(
        {
            "media_id": pa.array(cols["media_id"], pa.int64()),
            "kind": pa.array(cols["kind"], pa.string()),
            "mime": pa.array(cols["mime"], pa.string()),
            "width": pa.array(cols["width"], pa.int32()),
            "height": pa.array(cols["height"], pa.int32()),
            "duration_ms": pa.array(cols["duration_ms"], pa.int32()),
            "payload": pa.array(cols["payload"], pa.binary()),
        }
    )
    return spark.createDataFrame(table, MEDIA_SCHEMA)


def sample_frame_indices(
    n_frames: int, fps_num: int, fps_den: int, every_ms: int
) -> "list[int]":
    """Deterministic integer frame sampling: at each every_ms tick take
    the frame on screen at that instant (idx = ts*num // (1000*den)),
    deduped — the shared arithmetic for the metadata-only planner and
    the real decode stage."""
    idxs: list[int] = []
    j = 0
    while True:
        idx = (j * every_ms * fps_num) // (1000 * fps_den)
        if idx >= n_frames:
            return idxs
        if not idxs or idx != idxs[-1]:
            idxs.append(idx)
        j += 1


def video_frame_feature_rows(
    media_id: int, payload: bytes, every_ms: int = 80
) -> "list[tuple]":
    """Per-sampled-frame video features from REAL decoded Y4M planes —
    pure function shared by the distributed mapInPandas stage and the
    local oracle reference. One row per sampled frame: (media_id,
    frame_no, frame_ts_ms, width, height, n_frames, mean_y, std_y,
    mean_u, mean_v, motion), motion = mean |Y - prev sampled Y| (NULL
    on the first sampled frame)."""
    y, u, v, num, den, _cs = decode_y4m(payload)
    n_frames, h, w = y.shape
    rows: list[tuple] = []
    prev: "np.ndarray | None" = None
    for idx in sample_frame_indices(n_frames, num, den, every_ms):
        yf = y[idx].astype(np.float64)
        motion = None if prev is None else float(np.abs(yf - prev).mean())
        rows.append(
            (
                int(media_id),
                int(idx),
                int(idx * 1000 * den // num),
                int(w),
                int(h),
                int(n_frames),
                float(yf.mean()),
                float(yf.std()),
                float(u[idx].astype(np.float64).mean()),
                float(v[idx].astype(np.float64).mean()),
                motion,
            )
        )
        prev = yf
    return rows


def extract_video_frame_features(
    df: DataFrame, every_ms: int = 80, payload_col: str = "payload"
) -> DataFrame:
    """Frame sampling + per-frame features via Arrow-batched
    mapInPandas over the REAL Y4M codec (decode + numpy stats stay
    inside the batch; only kind=='video' rows, only id+payload columns
    — same scan-pruning shape as the image/audio stages)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_no", T.IntegerType(), False),
            T.StructField("frame_ts_ms", T.IntegerType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("mean_y", T.DoubleType(), True),
            T.StructField("std_y", T.DoubleType(), True),
            T.StructField("mean_u", T.DoubleType(), True),
            T.StructField("mean_v", T.DoubleType(), True),
            T.StructField("motion", T.DoubleType(), True),
        ]
    )
    names = [f.name for f in out_schema.fields]

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                recs.extend(video_frame_feature_rows(int(mid), bytes(payload), every_ms))
            yield pd.DataFrame(recs, columns=names)

    vids = df.filter(F.col("kind") == "video").select("media_id", payload_col)
    return vids.mapInPandas(feats, schema=out_schema)
