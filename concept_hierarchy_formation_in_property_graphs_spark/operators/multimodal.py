"""Multimodal asset columns: image/audio/video as opaque BINARY + typed
metadata, processed through Arrow-batched pandas stages.

The Spark-side plumbing — schema, Arrow batch shape, partition sizing,
output contracts — is real and tested. Codecs dispatch through
:func:`decode_asset`: PNG images decode FOR REAL (dependency-free decoder,
stdlib zlib, all five scanline filters) and RIFF/WAVE PCM audio decodes
FOR REAL (stdlib wave); every other format (JPEG/MP3/H.264) falls back to
``_decode_stub`` because the environment has no imaging/audio libraries —
the stub derives deterministic pseudo-features from the bytes
(md5-seeded), so every pipeline property (schemas, shapes, determinism,
partitioning) is exercised end-to-end. Extending the registry with
PIL/librosa/pyav changes ONE function.

Asset schema (the `pages.html` pattern generalized):

    assets(asset_id BIGINT, kind STRING in {image,audio,video},
           data BINARY, meta MAP<STRING,STRING>)

Arrow batches stay small (session.py caps maxRecordsPerBatch) because
asset rows are MB-scale — same G1-humongous-allocation guard as html.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ASSET_SCHEMA = (
    "asset_id long, kind string, data binary, meta map<string,string>"
)

FEATURE_DIM = 16
ASSET_SEED = 42  # seeds generate_assets_df's payload bytes and sizes


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png(data: bytes) -> dict:
    """REAL codec for the ``image`` kind: a dependency-free PNG decoder
    (stdlib zlib only) covering the common subset — 8-bit depth, no
    interlace, all five scanline filters, grey/RGB/palette-index/
    grey-alpha/RGBA color types. Returns width/height/channels plus the
    de-filtered raw pixel bytes, so downstream feature extraction can run
    on REAL pixels. Payloads that aren't PNG (or use an unsupported
    variant) raise ValueError/NotImplementedError and fall back to the
    deterministic stub in :func:`decode_asset` — the registry shape a
    production codec stack (PIL/pyav) would slot into unchanged.
    """
    import struct
    import zlib

    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    color_type = None
    idat = b""
    while pos + 8 <= len(data):
        length, ctype = struct.unpack(">I4s", data[pos:pos + 8])
        pos += 8
        chunk = data[pos:pos + length]
        pos += length + 4  # chunk payload + CRC
        if ctype == b"IHDR":
            (width, height, bit_depth, color_type,
             _comp, _filt, interlace) = struct.unpack(">IIBBBBB", chunk)
            if bit_depth != 8:
                raise NotImplementedError(f"PNG bit depth {bit_depth}")
            if interlace != 0:
                raise NotImplementedError("interlaced PNG")
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(idat)
    stride = width * channels
    out = bytearray()
    prev = bytearray(stride)
    p = 0
    for _y in range(height):
        f = raw[p]
        line = bytearray(raw[p + 1:p + 1 + stride])
        p += 1 + stride
        if f == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise NotImplementedError(f"PNG filter {f}")
        out += line
        prev = line
    return {"width": width, "height": height, "channels": channels,
            "pixels": bytes(out)}


def decode_wav(data: bytes) -> dict:
    """REAL codec for the ``audio`` kind: RIFF/WAVE PCM via the stdlib
    ``wave`` module. Returns sample_rate/n_samples/channels plus the raw
    PCM frame bytes so downstream feature extraction can run on REAL
    samples. Non-WAV payloads (or compressed WAVE variants ``wave``
    rejects) raise and fall back to the deterministic stub in
    :func:`decode_asset`, exactly like :func:`decode_png`."""
    import io
    import wave

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    with wave.open(io.BytesIO(data)) as w:
        n = w.getnframes()
        return {
            "sample_rate": w.getframerate(),
            "n_samples": n,
            "channels": w.getnchannels(),
            "sample_width": w.getsampwidth(),
            "pcm": w.readframes(n),
        }


def decode_asset(data: bytes, kind: str) -> dict:
    """Codec registry entry point: real decoders first (PNG for images,
    RIFF/WAVE PCM for audio — both sniffed by magic bytes), deterministic
    stub otherwise. decode_assets / the oracle fixtures exercise the stub
    path (their payloads are synthetic bytes); real PNG/WAV payloads
    through the SAME DataFrame operator decode for real (pytest-covered)."""
    if kind == "image" and data[:8] == PNG_MAGIC:
        try:
            m = decode_png(data)
        except Exception:  # 16-bit/interlaced/truncated PNG → stub, like WAV
            return _decode_stub(data, kind)
        return {"width": m["width"], "height": m["height"],
                "channels": m["channels"]}
    if kind == "audio" and data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        try:
            m = decode_wav(data)
        except Exception:  # compressed/truncated WAVE → stub, like non-PNG
            return _decode_stub(data, kind)
        return {"sample_rate": m["sample_rate"], "n_samples": m["n_samples"],
                "channels": m["channels"]}
    return _decode_stub(data, kind)


def _decode_stub(data: bytes, kind: str) -> dict:
    """STUB — stands in for the real decoder (PIL / librosa / pyav).

    Raises for unknown kinds exactly as a real codec registry would;
    produces deterministic md5-derived pseudo-metadata so downstream
    plumbing is testable byte-for-byte. The hash runs over the
    lowercase-HEX rendering of the payload (not the raw bytes) so the
    DuckDB oracle — whose ``md5()`` only accepts VARCHAR — can recompute
    every value from the persisted parquet via ``md5(lower(hex(data)))``.
    """
    if kind not in ("image", "audio", "video"):
        raise NotImplementedError(f"no codec for asset kind {kind!r}")
    m = hashlib.md5(data.hex().encode()).hexdigest()
    h0, h1 = int(m[0:2], 16), int(m[2:4], 16)
    if kind == "image":
        return {"width": 64 + h0 % 192, "height": 64 + h1 % 192, "channels": 3}
    if kind == "audio":
        return {"sample_rate": 8000 * (1 + h0 % 6), "n_samples": len(data) * 4,
                "channels": 1 + h1 % 2}
    return {"fps": 24 + h0 % 6, "n_frames": 1 + h1, "width": 320, "height": 240}


def _features_stub(data: bytes) -> list[float]:
    """STUB feature extractor: FEATURE_DIM floats derived from a rolling md5 chain
    over the hex rendering (oracle-portable, see ``_decode_stub``) — the
    real model call (CLIP/wav2vec/...) drops in here unchanged."""
    out: list[float] = []
    m = data.hex()
    while len(out) < FEATURE_DIM:
        m = hashlib.md5(m.encode()).hexdigest()
        for i in range(0, 32, 8):
            u = int.from_bytes(bytes.fromhex(m[i : i + 8]), "little")
            out.append(round(u / 2**32 * 2.0 - 1.0, 4))
    return out[:FEATURE_DIM]


def decode_assets(assets: DataFrame) -> DataFrame:
    """(asset_id, kind, decoded metadata columns) via mapInPandas.

    Only (asset_id, kind, data) crosses the Arrow boundary — meta is not
    needed for decode, and column pruning keeps it out of the scan.
    """
    src = assets.select("asset_id", "kind", "data")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, kind, data in zip(pdf["asset_id"], pdf["kind"], pdf["data"]):
                m = decode_asset(bytes(data), kind)
                rows.append(
                    (int(aid), kind, int(m.get("width", 0)), int(m.get("height", 0)),
                     int(m.get("sample_rate", 0)), int(m.get("n_frames", 0)))
                )
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "kind", "width", "height", "sample_rate",
                         "n_frames"],
            )

    return src.mapInPandas(
        run,
        schema="asset_id long, kind string, width int, height int, "
               "sample_rate int, n_frames int",
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """(asset_id, embedding ARRAY<FLOAT>) — the ANN-ready feature column;
    feeds operators/similarity.py directly."""
    src = assets.select("asset_id", "data")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].astype("int64"),
                    "embedding": [
                        _features_stub(bytes(d)) for d in pdf["data"]
                    ],
                }
            )

    return src.mapInPandas(run, schema="asset_id long, embedding array<float>")


def frame_sample(assets: DataFrame, every_n: int = 10) -> DataFrame:
    """video → one row per sampled frame (explode pattern). The STUB
    synthesizes frame descriptors from the decode metadata; a real
    implementation yields decoded frame bytes from the same iterator."""
    vids = assets.where(F.col("kind") == "video").select("asset_id", "kind", "data")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, kind, data in zip(pdf["asset_id"], pdf["kind"], pdf["data"]):
                meta = _decode_stub(bytes(data), kind)
                hx = bytes(data).hex()
                for f in range(0, int(meta["n_frames"]), every_n):
                    rows.append((int(aid), f, hashlib.md5(
                        f"{hx}|{f}".encode()).hexdigest()))
            yield pd.DataFrame(rows, columns=["asset_id", "frame_idx", "frame_key"])

    return vids.mapInPandas(
        run, schema="asset_id long, frame_idx int, frame_key string"
    )


def persist_assets_parquet(spark, path: str) -> str:
    """Write the deterministic asset fixture to parquet (overwrite) so the
    DuckDB oracle twins can recompute decode/feature/frame values from the
    EXACT same rows via ``read_parquet``. Overwritten on every call — 120
    tiny rows — so the oracle can never read a stale fixture."""
    generate_assets_df(spark, 120).write.mode("overwrite").parquet(path)
    return path


def generate_assets_df(spark, n: int) -> DataFrame:
    """Deterministic binary-asset fixture (no external data): payload bytes
    derive from the asset id, sizes vary 1-64 KB."""
    import random

    rows = []
    for i in range(n):
        rng = random.Random(i * 7919 + ASSET_SEED)
        kind = ("image", "audio", "video")[i % 3]
        size = rng.randint(1024, 65536)
        data = hashlib.md5(str((i, ASSET_SEED)).encode()).digest() * (size // 16 + 1)
        rows.append((i, kind, bytes(data[:size]), {"source": f"synthetic/{i}"}))
    return spark.createDataFrame(rows, ASSET_SCHEMA)
