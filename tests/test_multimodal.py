"""Multimodal plumbing: schemas, batch shapes, determinism, unknown-kind
failure — with stubbed codecs (no imaging libs in the sandbox)."""

from __future__ import annotations

import pytest

from concept_hierarchy_formation_in_property_graphs_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_assets,
    extract_features,
    frame_sample,
    generate_assets_df,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.similarity import (
    cosine_topk_bruteforce,
)


def test_decode_schema_and_determinism(spark):
    assets = generate_assets_df(spark, 30)
    a = sorted(map(tuple, decode_assets(assets).collect()))
    b = sorted(map(tuple, decode_assets(assets.repartition(7)).collect()))
    assert a == b and len(a) == 30
    kinds = {r[1] for r in a}
    assert kinds == {"image", "audio", "video"}
    for r in a:
        if r[1] == "image":
            assert r[2] >= 64 and r[3] >= 64  # width/height populated


def test_features_feed_similarity_search(spark):
    assets = generate_assets_df(spark, 24)
    emb = extract_features(assets).withColumnRenamed("asset_id", "vec_id")
    row = emb.first()
    assert len(row["embedding"]) == FEATURE_DIM
    topk = cosine_topk_bruteforce(emb, [0], k=3)
    assert topk.count() == 3  # multimodal features plug into ANN unchanged


def test_frame_sampling_explodes_videos_only(spark):
    assets = generate_assets_df(spark, 12)
    frames = frame_sample(assets, every_n=50)
    rows = frames.collect()
    video_ids = {r["asset_id"] for r in rows}
    assert video_ids == {i for i in range(12) if i % 3 == 2}
    assert all(r["frame_idx"] % 50 == 0 for r in rows)


def test_unknown_kind_raises(spark):
    bad = spark.createDataFrame(
        [(1, "hologram", b"xx", {})],
        "asset_id long, kind string, data binary, meta map<string,string>",
    )
    with pytest.raises(Exception, match="hologram|PythonException"):
        decode_assets(bad).collect()


def _encode_png(width, height, pixels, color_type=2, filters=None):
    """Minimal test-side PNG encoder (filter per row, default 0)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 6: 4}[color_type]
    stride = width * channels
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        line = bytearray(pixels[y * stride:(y + 1) * stride])
        f = filters[y]
        enc = bytearray(line)
        if f == 1:
            for i in range(stride - 1, channels - 1, -1):
                enc[i] = (line[i] - line[i - channels]) & 0xFF
        elif f == 2:
            for i in range(stride):
                enc[i] = (line[i] - prev[i]) & 0xFF
        raw += bytes([f]) + enc
        prev = line

    def chunk(ctype, payload):
        return (struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", zlib.crc32(ctype + payload)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_png_decoder_roundtrip():
    """The real PNG codec de-filters every row back to the source pixels,
    across filter types 0/1/2."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.multimodal import (
        decode_png,
    )

    w, h = 5, 3
    pixels = bytes((x * 37 + 11) % 256 for x in range(w * h * 3))
    for filters in ([0, 0, 0], [1, 1, 1], [2, 2, 2], [0, 1, 2]):
        png = _encode_png(w, h, pixels, filters=filters)
        m = decode_png(png)
        assert (m["width"], m["height"], m["channels"]) == (w, h, 3)
        assert m["pixels"] == pixels, f"filters {filters}"


def test_real_png_through_decode_assets(spark):
    """A real PNG payload rides the SAME mapInPandas operator as the stub
    fixtures and comes back with its true dimensions."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_assets,
    )

    w, h = 31, 17
    png = _encode_png(w, h, bytes((x * 7) % 256 for x in range(w * h * 3)))
    df = spark.createDataFrame(
        [(999, "image", png, {"source": "test/png"})], ASSET_SCHEMA
    )
    row = decode_assets(df).collect()[0]
    assert (row["width"], row["height"]) == (w, h)
    assert row["sample_rate"] == 0 and row["n_frames"] == 0


def _encode_wav(sample_rate, samples, channels=1):
    """Minimal test-side WAV encoder (16-bit PCM) via stdlib wave."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_wav_decoder_roundtrip():
    """The real WAV codec recovers rate/frames/channels and the exact PCM
    bytes of a deterministic triangle wave."""
    import struct

    from concept_hierarchy_formation_in_property_graphs_spark.operators.multimodal import (
        decode_wav,
    )

    samples = [((i * 193) % 2048) - 1024 for i in range(400)]
    wav = _encode_wav(16000, samples)
    m = decode_wav(wav)
    assert (m["sample_rate"], m["n_samples"], m["channels"]) == (16000, 400, 1)
    assert m["pcm"] == b"".join(struct.pack("<h", s) for s in samples)


def test_real_wav_through_decode_assets(spark):
    """A real WAV payload rides the SAME mapInPandas operator as the stub
    fixtures and comes back with its true sample rate; a non-WAV audio
    payload in the same batch still takes the stub path."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.multimodal import (
        ASSET_SCHEMA,
        _decode_stub,
        decode_assets,
    )

    wav = _encode_wav(22050, [0, 100, -100, 50] * 25, channels=2)
    fake = b"not-audio-bytes" * 10
    df = spark.createDataFrame(
        [(1000, "audio", wav, {"source": "test/wav"}),
         (1001, "audio", fake, {"source": "test/raw"})], ASSET_SCHEMA
    )
    rows = {r["asset_id"]: r for r in decode_assets(df).collect()}
    assert rows[1000]["sample_rate"] == 22050
    assert rows[1000]["width"] == 0 and rows[1000]["n_frames"] == 0
    assert rows[1001]["sample_rate"] == _decode_stub(fake, "audio")["sample_rate"]
