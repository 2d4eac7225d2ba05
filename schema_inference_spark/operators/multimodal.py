"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct; the
Spark-side plumbing — schema, partition-friendly batch shapes, Arrow UDF
signatures — is real and tested. The real decode branch
(`decode_features(fake=False)`) runs in THIS container for two formats
via dependency-free pure-numpy codecs: binary PPM/PGM images
(`decode_ppm`) and PCM16 RIFF/WAVE audio (`decode_wav`), selected by
magic-byte sniff. Richer formats (JPEG/PNG/FLAC/video) remain behind
the `_probe_codecs` import probe (PIL/soundfile, not shipped here) or
the injectable `decoders` seam; a kind with no decoder raises
NotImplementedError — a declared stub boundary, not silent wrong
output. `fake=True` keeps the deterministic hash stand-in for
shape-only pipeline tests.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16

PAYLOAD_SCHEMA = ("doc_id bigint, payload binary, kind string, "
                  "n_bytes bigint, checksum string")

FEATURE_SCHEMA = ("doc_id bigint, kind string, n_bytes bigint, "
                  "feature array<float>")


def attach_payload(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Synthesize an opaque binary payload column from text (deterministic
    stand-in for real image/audio bytes) with typed metadata — all JVM
    expressions."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.pmod(F.col(id_col), F.lit(3)) + 1).cast("int")).alias("kind"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.sha2(payload, 256).alias("checksum"))


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in decoder: sha256 -> FEATURE_DIM floats in
    [0, 1). Replace with a real codec (PIL/librosa/ffmpeg) in prod."""
    h = hashlib.sha256(payload).digest()
    raw = np.frombuffer((h * ((FEATURE_DIM * 4) // len(h) + 1))[:FEATURE_DIM * 4],
                        dtype=np.uint32)
    return (raw % 10_000).astype(np.float32) / 10_000.0


def _probe_codecs() -> dict:
    """Import-probe for real codec libraries. Executed on the WORKER (the
    driver's environment can differ from executors'); cheap enough to run
    once per mapInPandas task. Prod wiring: PIL decodes image payloads to
    a resized thumbnail tensor; soundfile/librosa frames audio; video
    falls back to ffmpeg frame sampling. None ship in this container, so
    availability gates the real path."""
    avail = {}
    try:
        from PIL import Image  # noqa: F401
        avail["image"] = "PIL"
    except ImportError:
        pass
    try:
        import soundfile  # noqa: F401
        avail["audio"] = "soundfile"
    except ImportError:
        pass
    return avail


def decode_ppm(payload: bytes) -> np.ndarray:
    """Dependency-free image decode: binary PPM (P6) / PGM (P5) header
    parse + pixel read, block-averaged to a 4x4 grayscale grid ->
    FEATURE_DIM floats in [0, 1]. Pure numpy — the real (non-fake) decode
    branch is exercisable without PIL in the container."""
    # header tokenizer: magic, width, height, maxval; '#' comments legal
    # anywhere between tokens, a single whitespace byte ends the header
    tokens, i, n = [], 0, len(payload)
    while len(tokens) < 4 and i < n:
        c = payload[i:i + 1]
        if c == b"#":
            i = payload.index(b"\n", i) + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not payload[j:j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 4 or tokens[0] not in (b"P5", b"P6"):
        raise ValueError("not a binary PPM/PGM payload")
    w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if not (0 < w and 0 < h and 0 < maxval < 65536):
        raise ValueError(f"bad PPM geometry {w}x{h} maxval={maxval}")
    i += 1  # exactly one whitespace byte separates header from raster
    ch = 3 if tokens[0] == b"P6" else 1
    depth = 2 if maxval > 255 else 1
    need = w * h * ch * depth
    raster = payload[i:i + need]
    if len(raster) < need:
        raise ValueError(f"truncated PPM raster: {len(raster)} < {need}")
    dt = ">u2" if depth == 2 else np.uint8
    px = np.frombuffer(raster, dtype=dt).reshape(h, w, ch).astype(np.float32)
    gray = px.mean(axis=2) / float(maxval)
    # 4x4 block average (pad the ragged tail block by edge replication)
    ys = np.minimum((np.arange(4) * h) // 4, h - 1)
    xs = np.minimum((np.arange(4) * w) // 4, w - 1)
    # a block's end must clear its start even when w/h < 4 (tiny images
    # replicate edge rows/cols instead of averaging an empty slice)
    ye = np.maximum(np.append(ys[1:], h), ys + 1)
    xe = np.maximum(np.append(xs[1:], w), xs + 1)
    out = np.empty((4, 4), np.float32)
    for a in range(4):
        for b in range(4):
            out[a, b] = gray[ys[a]:ye[a], xs[b]:xe[b]].mean()
    return out.reshape(FEATURE_DIM)


def decode_wav(payload: bytes) -> np.ndarray:
    """Dependency-free audio decode: RIFF/WAVE chunk walk (fmt + data),
    PCM16 samples -> per-segment RMS energy over FEATURE_DIM equal
    windows, normalized to [0, 1]. Pure numpy."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(payload)
    fmt = data = None
    while i + 8 <= n:
        cid = payload[i:i + 4]
        size = int.from_bytes(payload[i + 4:i + 8], "little")
        body = payload[i + 8:i + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16 or channels < 1:
        raise ValueError(
            f"unsupported WAV: format={audio_format} bits={bits} "
            f"channels={channels} (PCM16 only)")
    frames = np.frombuffer(
        data[:len(data) - len(data) % (2 * channels)], dtype="<i2"
    ).reshape(-1, channels).astype(np.float32).mean(axis=1)
    if frames.size == 0:
        return np.zeros(FEATURE_DIM, np.float32)
    edges = (np.arange(FEATURE_DIM + 1) * frames.size) // FEATURE_DIM
    out = np.empty(FEATURE_DIM, np.float32)
    for s in range(FEATURE_DIM):
        seg = frames[edges[s]:max(edges[s + 1], edges[s] + 1)]
        out[s] = np.sqrt(np.mean(seg * seg)) / 32768.0
    return out


def _real_decode(payload: bytes, kind: str, codecs: dict) -> np.ndarray:
    """Real decode seam — magic-sniffed dependency-free decoders first
    (binary PPM/PGM images, PCM16 WAV audio — pure numpy, always
    available), then whatever _probe_codecs found (PIL etc.). ref: the
    reference has no multimodal surface at all; this operator exists for
    the training-data pipeline scope."""
    if kind == "image" and payload[:2] in (b"P5", b"P6"):
        return decode_ppm(payload)
    if kind == "audio" and payload[:4] == b"RIFF":
        return decode_wav(payload)
    if kind == "image" and codecs.get("image") == "PIL":
        import io

        from PIL import Image
        img = Image.open(io.BytesIO(payload)).convert("L").resize((4, 4))
        px = np.asarray(img, dtype=np.float32).reshape(-1)
        return px[:FEATURE_DIM] / 255.0
    raise NotImplementedError(
        f"no codec available for kind={kind!r} (probed: {sorted(codecs)})")


def decode_features(df: DataFrame, fake: bool = False,
                    decoders: dict | None = None,
                    batch_size_hint: int = 1024) -> DataFrame:
    """Decode payloads into feature vectors via mapInPandas (Arrow batches;
    one Python worker per input split — the right shape for codec work:
    CPU-bound, per-record independent, no shuffle).

    ``decoders``: the PROD WIRING seam — a dict mapping ``kind`` to a
    callable ``bytes -> array-like of FEATURE_DIM floats``. The callables
    are cloudpickled into the UDF closure and run on the WORKERS, so prod
    registers its codec stack here (PIL thumbnail, librosa frames, ffmpeg
    frame sampling) without touching this module; `git show
    3abe443:docs/MULTIMODAL.md` has the recipes. Kinds not covered fall through to the built-in probe
    (`_probe_codecs` / `_real_decode`).

    ``fake=True`` uses the deterministic hash stand-in. With neither a
    registered decoder nor a probed codec for a kind, the UDF raises
    NotImplementedError — a clearly-marked stub boundary, not silent
    wrong output.
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codecs = {} if fake else _probe_codecs()
        for pdf in batches:
            if fake:
                feats = [
                    _fake_decode(bytes(p)).tolist() for p in pdf["payload"]]
            else:
                feats = []
                for p, k in zip(pdf["payload"], pdf["kind"]):
                    dec = (decoders or {}).get(k)
                    if dec is not None:
                        v = np.asarray(dec(bytes(p)), dtype=np.float32)
                        if v.shape != (FEATURE_DIM,):
                            raise ValueError(
                                f"decoder for kind={k!r} returned shape "
                                f"{v.shape}, expected ({FEATURE_DIM},)")
                        feats.append(v.tolist())
                    else:
                        feats.append(_real_decode(bytes(p), k, codecs).tolist())
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["n_bytes"],
                "feature": feats,
            })

    return df.mapInPandas(fn, FEATURE_SCHEMA)


def synth_ppm(seed: int, w: int = 12, h: int = 9,
              maxval: int = 255) -> bytes:
    """Deterministic valid binary PPM (P6) payload for tests/benchmarks —
    a real raster the real decode branch parses, no image library."""
    rng = np.random.default_rng(seed)
    raster = rng.integers(0, maxval + 1, size=w * h * 3,
                          dtype=np.uint16)
    body = (raster.astype(">u2").tobytes() if maxval > 255
            else raster.astype(np.uint8).tobytes())
    return (f"P6\n# synth seed={seed}\n{w} {h}\n{maxval}\n".encode("ascii")
            + body)


def synth_wav(seed: int, n_frames: int = 800, channels: int = 1,
              rate: int = 8000) -> bytes:
    """Deterministic valid PCM16 RIFF/WAVE payload (sine + noise)."""
    rng = np.random.default_rng(seed)
    t = np.arange(n_frames, dtype=np.float32)
    freq = 110.0 * (1 + seed % 7)
    wave = (0.6 * np.sin(2 * np.pi * freq * t / rate)
            + 0.1 * rng.standard_normal(n_frames))
    frames = np.clip(wave * 20000, -32768, 32767).astype("<i2")
    data = np.repeat(frames, channels).tobytes()
    block = 2 * channels
    fmt = (b"\x01\x00" + channels.to_bytes(2, "little")
           + rate.to_bytes(4, "little")
           + (rate * block).to_bytes(4, "little")
           + block.to_bytes(2, "little") + (16).to_bytes(2, "little"))
    chunks = (b"fmt " + len(fmt).to_bytes(4, "little") + fmt
              + b"data" + len(data).to_bytes(4, "little") + data)
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def payload_meta(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Metadata-only view (no decode): the oracle-checkable face of the
    multimodal path — byte length + checksum computed JVM-side."""
    return (attach_payload(df, id_col, text_col)
            .select("doc_id", "kind", "n_bytes", "checksum")
            .orderBy("doc_id"))
