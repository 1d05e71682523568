"""Multimodal binary-column plumbing tests: deterministic generation,
byte-level kernels, row-expanding frame sampling, stubbed real-codec path."""

from __future__ import annotations

import pytest

from f1_data_pipeline_spark.operators.multimodal import (
    decode_real,
    extract_features,
    frame_sample,
    make_media_table,
    _parse_fake,
)


@pytest.fixture(scope="module")
def media(spark):
    return make_media_table(spark, n=60).cache()


def test_media_generation_deterministic(spark, media):
    a = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    b = {
        r["media_id"]: bytes(r["payload"])
        for r in make_media_table(spark, n=60).collect()
    }
    assert a == b
    assert len(a) == 60


def test_extract_features(media):
    feats = extract_features(media).collect()
    assert len(feats) == 60
    for r in feats:
        assert 0 <= r["mean_val"] <= 255 and r["std_val"] > 0


def test_frame_sample_expands_video_rows(media):
    vids = media.where("kind = 'video'")
    frames = frame_sample(media, every=4)
    per_vid = {
        r["media_id"]: r["cnt"]
        for r in frames.groupBy("media_id").count().withColumnRenamed("count", "cnt").collect()
    }
    for r in vids.select("media_id", "height").collect():
        assert per_vid[r["media_id"]] == -(-r["height"] // 4)


def test_native_lib_formats_still_stubbed():
    """PNG/JPEG/etc. genuinely need PIL/ffmpeg — the stub must survive for
    exactly those, and only those."""
    with pytest.raises(NotImplementedError):
        decode_real(b"\x89PNG\r\n\x1a\n....")


def test_wav_roundtrip_bitexact():
    import numpy as np

    from f1_data_pipeline_spark.operators.multimodal import decode_wav, wav_bytes

    rng = np.random.default_rng(3)
    samples = rng.integers(-32768, 32768, size=777, dtype=np.int16)
    rate, channels, out = decode_wav(wav_bytes(samples, rate=44100))
    assert (rate, channels) == (44100, 1)
    assert np.array_equal(out, samples)


def test_wav_decoder_skips_unknown_chunks():
    """A spec-conformant reader must chunk-walk, not assume fmt/data offsets:
    inject a LIST chunk (odd size → word-aligned padding) before data."""
    import struct

    import numpy as np

    from f1_data_pipeline_spark.operators.multimodal import decode_wav, wav_bytes

    samples = np.arange(-5, 5, dtype=np.int16)
    plain = wav_bytes(samples, rate=8000)
    fmt_chunk = plain[12:36]  # 'fmt ' + size + 16-byte body
    data_chunk = plain[36:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size + pad
    body = fmt_chunk + extra + data_chunk
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    rate, channels, out = decode_wav(payload)
    assert rate == 8000 and np.array_equal(out, samples)


def test_bmp_roundtrip_bitexact_including_row_padding():
    import numpy as np

    from f1_data_pipeline_spark.operators.multimodal import bmp_bytes, decode_bmp

    rng = np.random.default_rng(4)
    # width 18 -> 54-byte rows padded to 56: exercises the 4-byte alignment
    pix = rng.integers(0, 256, size=(9, 18, 3), dtype=np.uint8)
    w, h, out = decode_bmp(bmp_bytes(pix))
    assert (w, h) == (18, 9)
    assert np.array_equal(out, pix)


def test_non_pcm_and_palettized_raise():
    import struct

    import numpy as np

    from f1_data_pipeline_spark.operators.multimodal import (
        bmp_bytes,
        decode_bmp,
        decode_wav,
        wav_bytes,
    )

    wav = bytearray(wav_bytes(np.zeros(4, dtype=np.int16)))
    wav[20:22] = struct.pack("<H", 3)  # IEEE-float encoding tag
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(wav))
    bmp = bytearray(bmp_bytes(np.zeros((2, 2, 3), dtype=np.uint8)))
    bmp[28:30] = struct.pack("<H", 8)  # 8-bit palettized
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(bmp))


def test_x_multimodal_real_expected_derived_independently():
    """Same independence rule as the fake-format oracles: replay generation
    → REAL encode → REAL decode → aggregate in pure numpy and assert the
    pinned literals match."""
    import numpy as np

    from f1_data_pipeline_spark.operators.multimodal import (
        X_MULTIMODAL_REAL_EXPECTED,
        _real_payload,
    )

    per: dict[str, list[tuple[int, float, int]]] = {}
    for i in range(500):
        fmt, payload = _real_payload(i)
        d = decode_real(payload)
        assert d["fmt"] == fmt
        if fmt == "wav":
            a = np.abs(d["samples"].astype(np.int64))
            per.setdefault("wav", []).append(
                (int(a.size), float(np.round(a.mean(), 4)), int(a.max()))
            )
        else:
            p = d["pixels"].astype(np.float64)
            per.setdefault("bmp", []).append(
                (
                    int(d["width"] * d["height"]),
                    float(np.round(p.mean(), 4)),
                    int(d["pixels"].max()),
                )
            )
    derived = tuple(
        (
            fmt,
            len(v),
            round(float(np.mean([x[0] for x in v])), 2),
            round(float(np.mean([x[1] for x in v])), 2),
            max(x[2] for x in v),
        )
        for fmt, v in sorted(per.items())
    )
    assert derived == X_MULTIMODAL_REAL_EXPECTED


def test_real_media_pipeline_on_spark(spark):
    """End-to-end through the Spark kernels: real files decode executor-side
    and the registered query matches its pinned constants."""
    from f1_data_pipeline_spark.queries import all_queries

    rows = all_queries()["x_multimodal_real"].builder(spark, "unused").collect()
    from f1_data_pipeline_spark.operators.multimodal import X_MULTIMODAL_REAL_EXPECTED

    got = tuple(
        (r["fmt"], r["n"], r["avg_units"], r["avg_level"], r["max_peak"]) for r in rows
    )
    assert got == X_MULTIMODAL_REAL_EXPECTED


def test_x_multimodal_expected_derived_independently():
    """Re-derive X_MULTIMODAL_EXPECTED with a pure-numpy pipeline (no Spark):
    replays make_media_table's generation rules and extract_features' kernel
    math item-by-item, then aggregates. Pinning the literals to this
    independent derivation is what makes the VALUES oracle a genuine check
    rather than an echo of a Spark run."""
    import numpy as np

    from f1_data_pipeline_spark.operators.multimodal import (
        X_MULTIMODAL_EXPECTED,
        _fake_payload,
    )

    per_kind: dict[str, list[tuple[float, float, int]]] = {}
    for i in range(500):
        kind = ["image", "audio", "video"][i % 3]
        w = 16 + (i % 5) * 8
        h = 16 + (i % 3) * 8
        _, _, m = _parse_fake(_fake_payload(i, kind, w, h))
        a = m.astype(np.float64)
        per_kind.setdefault(kind, []).append(
            (
                float(np.round(a.mean(), 4)),
                float(np.round(a.std(), 4)),
                int((np.abs(np.diff(a, axis=1)) > 64).sum()),
            )
        )
    derived = tuple(
        (
            kind,
            len(vals),
            round(float(np.mean([v[0] for v in vals])), 2),
            round(float(np.mean([v[1] for v in vals])), 2),
            sum(v[2] for v in vals),
        )
        for kind, vals in sorted(per_kind.items())
    )
    assert derived == X_MULTIMODAL_EXPECTED


def test_x_multimodal_frames_expected_derived_independently():
    """Same independence rule for the frame-sample oracle: replay the
    generation rules + frame_sample kernel math in pure numpy and assert
    the pinned literals match."""
    import numpy as np

    from f1_data_pipeline_spark.operators.multimodal import (
        X_MULTIMODAL_FRAMES_EXPECTED,
        _fake_payload,
    )

    per_frame: dict[int, list[float]] = {}
    for i in range(500):
        if i % 3 != 2:  # frame_sample keeps kind == 'video' only
            continue
        w = 16 + (i % 5) * 8
        h = 16 + (i % 3) * 8
        _, _, m = _parse_fake(_fake_payload(i, "video", w, h))
        for fi in range(0, h, 4):
            per_frame.setdefault(fi, []).append(
                float(np.round(m[fi].astype(np.float64).mean(), 4))
            )
    derived = tuple(
        (fi, len(v), round(float(np.mean(v)), 2)) for fi, v in sorted(per_frame.items())
    )
    assert derived == X_MULTIMODAL_FRAMES_EXPECTED
