"""Multimodal plumbing: synthesize → decode (stub) → frame/patch plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from ufc_data_warehouse_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def decoded(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return mm.decode_media(mm.synthesize_media(docs), fake=True).persist()


def test_real_decode_is_explicitly_stubbed(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(NotImplementedError, match="CODEC CONTRACT"):
        mm.decode_media(mm.synthesize_media(docs), fake=False)


def test_decode_is_deterministic_and_typed(decoded):
    rows = decoded.orderBy("media_id").limit(3).collect()
    again = decoded.orderBy("media_id").limit(3).collect()
    assert rows == again
    r = rows[0]
    assert len(r["features"]) == 8
    assert r["digest"] and r["width"] >= 16 and r["height"] >= 16


def test_frame_sampling_counts(decoded):
    frames = mm.sample_frames(decoded, every_n=30)
    joined = (
        frames.groupBy("media_id")
        .count()
        .join(decoded.select("media_id", "n_frames"), "media_id")
    )
    bad = joined.filter(
        F.col("count") != (F.floor((F.col("n_frames") - 1) / 30) + 1)
    )
    assert bad.count() == 0


# ---------------------------------------------------------------------------
# THE CODEC CONTRACT (multimodal.py) — executable specification
# ---------------------------------------------------------------------------


def _contract_fake_decode(payload: bytes, kind: str) -> dict:
    """A contract-conformant stand-in for a PIL/pyav/ffmpeg wrapper —
    byte-identical to decode_media's built-in fake codec."""
    import hashlib

    digest = hashlib.md5(payload).hexdigest()
    h = int(digest[:8], 16)
    return {
        "digest": digest,
        "width": 16 + h % 2048,
        "height": 16 + (h >> 11) % 2048,
        "n_frames": 1 if kind == "image" else 1 + h % 300,
        "features": [
            ((int(digest[i * 2 : i * 2 + 2], 16) - 128) / 128.0)
            for i in range(8)
        ],
    }


def test_decode_conformance_checker_accepts_fake_codec():
    assert mm.check_decode_conformance(_contract_fake_decode)


def test_decode_conformance_checker_rejects_violations():
    def missing_key(payload, kind):
        r = _contract_fake_decode(payload, kind)
        del r["digest"]
        return r

    def nondeterministic(payload, kind):
        import random

        r = _contract_fake_decode(payload, kind)
        r["width"] = random.randint(1, 10_000)
        return r

    def multi_frame_image(payload, kind):
        r = _contract_fake_decode(payload, kind)
        r["n_frames"] = 2
        return r

    for bad in (missing_key, nondeterministic, multi_frame_image):
        with pytest.raises(AssertionError):
            mm.check_decode_conformance(bad)


def test_plugged_decode_fn_matches_fake_path(spark):
    """A conformant decode_fn plugs into the seam and every downstream op
    consumes its output unchanged — fake=True is droppable in production."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    media = mm.synthesize_media(docs)
    via_fake = mm.decode_media(media, fake=True)
    via_fn = mm.decode_media(media, decode_fn=_contract_fake_decode)
    assert sorted(map(tuple, via_fake.collect())) == sorted(
        map(tuple, via_fn.collect())
    )
    # downstream ops run over the plugged decode unchanged
    assert mm.patchify_plan(via_fn).count() > 0
    assert mm.scene_cut_stats(via_fn).count() > 0


def test_undecodable_payload_yields_null_fields_not_task_failure(spark):
    """Contract point 3: decode_fn returning None marks the row corrupt
    (NULL decode fields, digest kept) instead of killing the task."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    media = mm.synthesize_media(docs)

    def flaky(payload: bytes, kind: str):
        if kind == "video":
            return None  # simulate an undecodable container
        return _contract_fake_decode(payload, kind)

    out = mm.decode_media(media, decode_fn=flaky)
    rows = out.collect()
    assert len(rows) == 30  # nothing dropped
    vids = [r for r in rows if r["kind"] == "video"]
    assert vids and all(
        r["width"] is None and r["features"] is None and r["digest"]
        for r in vids
    )


# ---------------------------------------------------------------------------
# the REAL uncompressed codec (r6): PPM / BMP / WAV with ground truth
# ---------------------------------------------------------------------------


def _make_ppm(w: int, h: int, rgb_rows: bytes) -> bytes:
    return b"P6\n# a comment\n%d %d\n255\n" % (w, h) + rgb_rows


def _make_bmp(w: int, h: int, rgb_rows: bytes, top_down: bool = False) -> bytes:
    """Minimal 24-bit BI_RGB BMP from top-down RGB row bytes."""
    import struct

    stride = ((w * 3 + 3) // 4) * 4
    rows = [
        rgb_rows[y * w * 3 : (y + 1) * w * 3] for y in range(h)
    ]
    # convert RGB -> BGR per pixel, pad each row to the 4-byte stride
    bgr_rows = []
    for row in rows:
        bgr = bytearray()
        for x in range(w):
            r, g, b = row[x * 3 : x * 3 + 3]
            bgr += bytes((b, g, r))
        bgr_rows.append(bytes(bgr) + b"\x00" * (stride - w * 3))
    stored = bgr_rows if top_down else bgr_rows[::-1]
    pixel_data = b"".join(stored)
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixel_data), 0, 0, offset)
    dib = struct.pack(
        "<IiiHHIIiiII",
        40, w, (-h if top_down else h), 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0,
    )
    return header + dib + pixel_data


def _make_wav(samples: list[int], rate: int = 8000, channels: int = 1) -> bytes:
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2,
                      channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


_RGB_2x2 = bytes((255, 0, 0,  0, 255, 0,
                  0, 0, 255,  255, 255, 255))  # rows: [R G] / [B W]


def test_numpy_codec_decodes_ppm_with_ground_truth():
    rec = mm.numpy_uncompressed_decode(_make_ppm(2, 2, _RGB_2x2), "image")
    assert rec is not None
    assert (rec["width"], rec["height"], rec["n_frames"]) == (2, 2, 1)
    # channel means of [255,0,0,255]/... per channel = 510/4/255 = 0.5
    assert rec["features"][0] == pytest.approx(0.5)
    assert rec["features"][1] == pytest.approx(0.5)
    assert rec["features"][2] == pytest.approx(0.5)
    assert rec["features"][6] == pytest.approx(0.5)  # w/(w+h)


def test_numpy_codec_bmp_matches_ppm_pixels():
    """The SAME pixel grid through BMP (bottom-up AND top-down storage)
    and PPM must produce identical features — catches BGR-order and
    row-flip mistakes with real ground truth."""
    ppm = mm.numpy_uncompressed_decode(_make_ppm(2, 2, _RGB_2x2), "image")
    up = mm.numpy_uncompressed_decode(_make_bmp(2, 2, _RGB_2x2), "image")
    down = mm.numpy_uncompressed_decode(
        _make_bmp(2, 2, _RGB_2x2, top_down=True), "image"
    )
    assert up is not None and down is not None
    assert up["features"] == pytest.approx(ppm["features"])
    assert down["features"] == pytest.approx(ppm["features"])
    assert (up["width"], up["height"]) == (2, 2)


def test_numpy_codec_decodes_wav_with_ground_truth():
    rec = mm.numpy_uncompressed_decode(
        _make_wav([0, 16384, -16384, 0], rate=8000), "audio"
    )
    assert rec is not None
    assert (rec["width"], rec["height"], rec["n_frames"]) == (1, 8000, 4)
    assert rec["features"][0] == pytest.approx(0.0)       # mean
    assert rec["features"][3] == pytest.approx(0.5)       # max = 16384/32768


def test_numpy_codec_rejects_garbage_and_truncation():
    ppm = _make_ppm(4, 4, bytes(range(48)))
    assert mm.numpy_uncompressed_decode(ppm[:-1], "image") is None  # short
    assert mm.numpy_uncompressed_decode(b"P6 junk", "image") is None
    assert mm.numpy_uncompressed_decode(b"\x89PNG...", "image") is None
    assert mm.numpy_uncompressed_decode(b"RIFFxxxxWEBP", "audio") is None
    assert mm.numpy_uncompressed_decode(b"anything", "video") is None
    # kind mismatch: a valid WAV claimed as image is undecodable-as-claimed
    assert mm.numpy_uncompressed_decode(_make_wav([1]), "image") is None


def test_numpy_codec_passes_conformance_and_sparkside(spark):
    samples = [
        (_make_ppm(2, 2, _RGB_2x2), "image"),
        (_make_bmp(3, 2, bytes(range(18))), "image"),
        (_make_wav([100, -100, 5000]), "audio"),
        (b"not media at all", "video"),
    ]
    assert mm.check_decode_conformance(mm.numpy_uncompressed_decode, samples)
    rows = [
        (i, kind, payload, len(payload), "synth")
        for i, (payload, kind) in enumerate(samples)
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in mm.decode_media(media, decode_fn=mm.numpy_uncompressed_decode)
        .collect()
    }
    assert got[0]["width"] == 2 and got[0]["n_frames"] == 1
    assert got[1]["width"] == 3 and got[1]["height"] == 2
    assert got[2]["height"] == 8000 and got[2]["n_frames"] == 3
    # the video row flows through with NULL decode fields, digest intact
    assert got[3]["width"] is None and got[3]["digest"]


def test_package_codec_registered_for_by_value_pickling(spark):
    """r6 ADVICE 2: a package-defined decode_fn would pickle by reference
    (executors without the wheel fail the import); decode_media must
    register its module for by-value shipping so the no-wheel contract
    holds for the built-in codec too."""
    from pyspark import cloudpickle as cp

    media = spark.createDataFrame(
        [(1, "image", _make_ppm(2, 2, _RGB_2x2), 1, "synth")], mm.MEDIA_SCHEMA
    )
    decoded = mm.decode_media(media, decode_fn=mm.numpy_uncompressed_decode)
    assert decoded.count() == 1
    registered = {
        m if isinstance(m, str) else m.__name__
        for m in cp.list_registry_pickle_by_value()
    }
    assert mm.numpy_uncompressed_decode.__module__ in registered


def test_register_codecs_by_value_swallows_only_the_missing_api(monkeypatch):
    """Only a cloudpickle without the registry API falls back quietly; a
    module name that is not imported is the caller's error and raises."""
    import pyspark.cloudpickle

    with pytest.raises(KeyError):
        mm.register_codecs_by_value("no_such_module")
    monkeypatch.delattr(pyspark.cloudpickle, "register_pickle_by_value")
    assert mm.register_codecs_by_value("no_such_module") is None


# ---------------------------------------------------------------------------
# Real PNG codec (r7): spec-correct reference ENCODER lives here in the
# test, so decode is verified against independently-constructed files —
# every filter type, every supported color type, and the rejection edges.
# ---------------------------------------------------------------------------

import struct as _struct
import zlib as _zlib

import numpy as _nptest


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        _struct.pack(">I", len(data))
        + ctype
        + data
        + _struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _encode_png(arr, color_type, row_filters=None, palette=None) -> bytes:
    """Reference encoder: forward-filters each scanline per the PNG spec
    (the exact inverse of the decoder's unfilter pass)."""
    h, w = arr.shape[:2]
    channels = arr.shape[2] if arr.ndim == 3 else 1
    bpp = channels
    flat = arr.reshape(h, w * channels).astype(_nptest.int64)
    row_filters = row_filters or [0] * h
    out = []
    for y in range(h):
        f = row_filters[y]
        cur = flat[y]
        prior = flat[y - 1] if y else _nptest.zeros_like(cur)
        line = _nptest.empty_like(cur)
        for x in range(len(cur)):
            a = cur[x - bpp] if x >= bpp else 0
            b = prior[x]
            c = prior[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line[x] = (cur[x] - pred) & 0xFF
        out.append(bytes([f]) + bytes(line.astype(_nptest.uint8)))
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    chunks = [_png_chunk(b"IHDR", ihdr)]
    if palette is not None:
        chunks.append(_png_chunk(b"PLTE", palette))
    chunks.append(_png_chunk(b"IDAT", _zlib.compress(b"".join(out))))
    chunks.append(_png_chunk(b"IEND", b""))
    return b"\x89PNG\r\n\x1a\n" + b"".join(chunks)


def _rng_img(h, w, channels, seed):
    rng = _nptest.random.default_rng(seed)
    shape = (h, w, channels) if channels else (h, w)
    return rng.integers(0, 256, size=shape, dtype=_nptest.uint8)


def test_png_codec_every_filter_type_roundtrips_exactly():
    """6×5 RGB with rows filtered None/Sub/Up/Average/Paeth/Sub: the
    decoded channel means must equal the source array's exactly."""
    arr = _rng_img(6, 5, 3, seed=7)
    png = _encode_png(arr, 2, row_filters=[0, 1, 2, 3, 4, 1])
    rec = mm.numpy_png_decode(png, "image")
    assert rec is not None and rec["width"] == 5 and rec["height"] == 6
    for c in range(3):
        assert rec["features"][c] == pytest.approx(
            float(arr[:, :, c].mean() / 255.0), abs=1e-12
        )
    assert rec["features"][4] == pytest.approx(
        float(arr.astype(_nptest.float64).mean(axis=2).min() / 255.0)
    )


def test_png_codec_color_types():
    gray = _rng_img(4, 3, 0, seed=1)
    rec = mm.numpy_png_decode(
        _encode_png(gray[..., None], 0, row_filters=[2, 1, 4, 3]), "image"
    )
    assert rec is not None
    assert rec["features"][0] == rec["features"][1] == rec["features"][2]
    assert rec["features"][0] == pytest.approx(float(gray.mean() / 255.0))

    rgba = _rng_img(3, 4, 4, seed=2)
    rec = mm.numpy_png_decode(_encode_png(rgba, 6, row_filters=[0, 4, 1]), "image")
    assert rec is not None  # alpha dropped for features
    assert rec["features"][0] == pytest.approx(float(rgba[:, :, 0].mean() / 255.0))

    ga = _rng_img(3, 3, 2, seed=3)
    rec = mm.numpy_png_decode(_encode_png(ga, 4, row_filters=[1, 2, 3]), "image")
    assert rec is not None
    assert rec["features"][0] == pytest.approx(float(ga[:, :, 0].mean() / 255.0))

    # palette: indices into a 4-entry PLTE
    idx = (_rng_img(4, 4, 0, seed=4) % 4).astype(_nptest.uint8)
    pal_arr = _rng_img(4, 3, 0, seed=5).reshape(4, 3)
    rec = mm.numpy_png_decode(
        _encode_png(idx[..., None], 3, palette=bytes(pal_arr.tobytes())),
        "image",
    )
    assert rec is not None
    expect = pal_arr[idx]
    for c in range(3):
        assert rec["features"][c] == pytest.approx(
            float(expect[:, :, c].mean() / 255.0)
        )


def test_png_codec_rejects_malformed():
    arr = _rng_img(4, 4, 3, seed=9)
    good = _encode_png(arr, 2)
    assert mm.numpy_png_decode(good, "image") is not None
    # corrupt a CRC byte
    bad = bytearray(good)
    bad[-1] ^= 0xFF
    assert mm.numpy_png_decode(bytes(bad), "image") is None
    # truncated IDAT
    assert mm.numpy_png_decode(good[:-30], "image") is None
    # 16-bit depth rejected (rewrite IHDR with depth=16, fixing its CRC)
    ihdr16 = _struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    deep = good[:8] + _png_chunk(b"IHDR", ihdr16) + good[8 + 25:]
    assert mm.numpy_png_decode(deep, "image") is None
    # interlaced rejected
    ihdr_i = _struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)
    inter = good[:8] + _png_chunk(b"IHDR", ihdr_i) + good[8 + 25:]
    assert mm.numpy_png_decode(inter, "image") is None
    # filter byte out of range
    raw = b"\x07" + bytes(12)
    png_badf = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", _struct.pack(">IIBBBBB", 4, 1, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", _zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert mm.numpy_png_decode(png_badf, "image") is None
    # wrong kind and non-PNG payloads
    assert mm.numpy_png_decode(good, "audio") is None
    assert mm.numpy_png_decode(b"\x89PNG\r\n\x1a\njunk", "image") is None
    assert mm.stdlib_decode(good, "image") is not None
    assert mm.stdlib_decode(good[:4], "image") is None


def test_png_codec_matches_ppm_decode_of_same_pixels():
    """Two containers, one pixel array: PNG and PPM decodes must agree on
    every feature (digests differ — different bytes)."""
    arr = _rng_img(5, 7, 3, seed=11)
    png_rec = mm.numpy_png_decode(
        _encode_png(arr, 2, row_filters=[4, 3, 2, 1, 0]), "image"
    )
    ppm = b"P6\n7 5\n255\n" + arr.tobytes()
    ppm_rec = mm.numpy_uncompressed_decode(ppm, "image")
    assert png_rec is not None and ppm_rec is not None
    assert png_rec["features"] == ppm_rec["features"]
    assert (png_rec["width"], png_rec["height"]) == (
        ppm_rec["width"],
        ppm_rec["height"],
    )


def test_stdlib_decode_passes_conformance_with_all_formats(spark):
    arr = _rng_img(4, 4, 3, seed=13)
    samples = [
        (_encode_png(arr, 2, row_filters=[0, 1, 2, 4]), "image"),
        (_make_ppm(2, 2, _RGB_2x2), "image"),
        (_make_wav([100, -100, 5000]), "audio"),
        (b"not media at all", "video"),
    ]
    assert mm.check_decode_conformance(mm.stdlib_decode, samples)


# ---------------------------------------------------------------------------
# Baseline JPEG codec (r7): pure-numpy Huffman + DCT, encode and decode
# ---------------------------------------------------------------------------


def test_jpeg_constant_blocks_roundtrip_exactly():
    """Constant 8×8 blocks have DC-only DCTs; with quant=1 the integer DC
    survives the whole Huffman/bitstream/zigzag/IDCT chain bit-exactly."""
    rng = _nptest.random.default_rng(21)
    d = rng.integers(0, 256, 16, dtype=_nptest.uint8)
    arr = _nptest.kron(
        d.reshape(4, 4), _nptest.ones((8, 8), dtype=_nptest.uint8)
    ).astype(_nptest.uint8)
    rec = mm.numpy_jpeg_decode(mm.jpeg_encode_baseline(arr, quant=1), "image")
    assert rec is not None
    assert (rec["width"], rec["height"], rec["n_frames"]) == (32, 32, 1)
    assert rec["features"][0] == pytest.approx(float(arr.mean() / 255.0), abs=0)
    assert rec["features"][4] == pytest.approx(float(d.min() / 255.0), abs=0)
    assert rec["features"][5] == pytest.approx(float(d.max() / 255.0), abs=0)


def test_jpeg_random_content_near_lossless_at_quant_one():
    rng = _nptest.random.default_rng(22)
    g = rng.integers(0, 256, (23, 17), dtype=_nptest.uint8)  # crop path too
    rec = mm.numpy_jpeg_decode(mm.jpeg_encode_baseline(g, quant=1), "image")
    assert rec is not None and (rec["width"], rec["height"]) == (17, 23)
    assert rec["features"][0] == pytest.approx(float(g.mean() / 255.0), abs=2e-3)

    c = rng.integers(0, 256, (16, 24, 3), dtype=_nptest.uint8)
    rec = mm.numpy_jpeg_decode(mm.jpeg_encode_baseline(c, quant=1), "image")
    assert rec is not None
    for ch in range(3):
        assert rec["features"][ch] == pytest.approx(
            float(c[:, :, ch].mean() / 255.0), abs=3e-3
        )
    # heavier quantization still decodes, just lossier
    rec16 = mm.numpy_jpeg_decode(mm.jpeg_encode_baseline(c, quant=16), "image")
    assert rec16 is not None
    assert rec16["features"][0] == pytest.approx(
        float(c[:, :, 0].mean() / 255.0), abs=2e-2
    )


def test_jpeg_rejects_out_of_scope():
    rng = _nptest.random.default_rng(23)
    arr = rng.integers(0, 256, (8, 8), dtype=_nptest.uint8)
    good = mm.jpeg_encode_baseline(arr, quant=1)
    assert mm.numpy_jpeg_decode(good, "image") is not None
    # progressive: flip the SOF0 marker byte (FFC0 -> FFC2)
    sof_at = good.index(b"\xff\xc0")
    prog = good[:sof_at + 1] + b"\xc2" + good[sof_at + 2:]
    assert mm.numpy_jpeg_decode(prog, "image") is None
    # sampling factors beyond 2 (e.g. 3:1) stay out of scope
    sub = bytearray(good)
    sub[sof_at + 2 + 2 + 6 + 1] = 0x31
    assert mm.numpy_jpeg_decode(bytes(sub), "image") is None
    # a DRI promising restarts the entropy stream doesn't contain: the
    # decoder runs out of restart segments and must reject, not misparse
    big = mm.jpeg_encode_baseline(
        _nptest.zeros((16, 16), dtype=_nptest.uint8), quant=1
    )
    sos_big = big.index(b"\xff\xda")
    dri = b"\xff\xdd\x00\x04\x00\x01"
    assert mm.numpy_jpeg_decode(big[:sos_big] + dri + big[sos_big:], "image") is None
    # truncated entropy stream
    assert mm.numpy_jpeg_decode(good[:-6], "image") is None
    # wrong kind / not a JPEG
    assert mm.numpy_jpeg_decode(good, "audio") is None
    assert mm.numpy_jpeg_decode(b"\xff\xd8\xff\xee junk", "image") is None


def test_jpeg_decoder_reads_foreign_huffman_tables():
    """The decoder must build tables from DHT, not assume the encoder's:
    re-encode with a shuffled-but-valid AC value ordering and confirm an
    identical decode."""
    rng = _nptest.random.default_rng(24)
    arr = rng.integers(0, 256, (16, 16), dtype=_nptest.uint8)
    good = mm.jpeg_encode_baseline(arr, quant=1)
    ref = mm.numpy_jpeg_decode(good, "image")
    # permute the encoder's AC symbol list (same canonical lengths) and
    # rebuild the file via the module's own encode path
    orig = mm._JPEG_AC_VALS[:]
    try:
        mm._JPEG_AC_VALS.reverse()
        alt = mm.jpeg_encode_baseline(arr, quant=1)
    finally:
        mm._JPEG_AC_VALS[:] = orig
    assert alt != good
    rec = mm.numpy_jpeg_decode(alt, "image")
    assert rec is not None and rec["features"] == ref["features"]


def test_stdlib_decode_dispatches_jpeg():
    rng = _nptest.random.default_rng(25)
    arr = rng.integers(0, 256, (8, 8), dtype=_nptest.uint8)
    jp = mm.jpeg_encode_baseline(arr, quant=1)
    assert mm.stdlib_decode(jp, "image") is not None
    samples = [
        (jp, "image"),
        (_make_ppm(2, 2, _RGB_2x2), "image"),
        (_make_wav([100, -100, 5000]), "audio"),
    ]
    assert mm.check_decode_conformance(mm.stdlib_decode, samples)


# ---------------------------------------------------------------------------
# GIF codec (r7): real LZW, container walk, interlace
# ---------------------------------------------------------------------------


def test_gif_roundtrips_exactly_and_stresses_lzw():
    rng = _nptest.random.default_rng(41)
    a = rng.integers(0, 256, (4, 4), dtype=_nptest.uint8)
    rec = mm.numpy_gif_decode(mm.gif_encode_gray(a), "image")
    assert rec is not None and (rec["width"], rec["height"], rec["n_frames"]) == (4, 4, 1)
    assert rec["features"][0] == pytest.approx(float(a.mean() / 255.0), abs=0)
    # big enough to cross every code-width boundary AND the 4096-entry cap
    b = rng.integers(0, 256, (80, 90), dtype=_nptest.uint8)
    rec = mm.numpy_gif_decode(mm.gif_encode_gray(b), "image")
    assert rec is not None
    assert rec["features"][0] == pytest.approx(float(b.mean() / 255.0), abs=0)
    assert rec["features"][4] == pytest.approx(float(b.min() / 255.0), abs=0)
    # long runs drive deep LZW chains incl. the KwKwK special case
    c = (_nptest.repeat(_nptest.arange(60, dtype=_nptest.uint8) % 7, 137)
         .reshape(60, 137) * 30).astype(_nptest.uint8)
    rec = mm.numpy_gif_decode(mm.gif_encode_gray(c), "image")
    assert rec is not None
    assert rec["features"][0] == pytest.approx(float(c.mean() / 255.0), abs=0)


def test_gif_lzw_property_roundtrip():
    for seed in range(12):
        rng = _nptest.random.default_rng(seed)
        n = int(rng.integers(1, 9000))
        alphabet = int(rng.integers(2, 256))
        data = bytes(rng.integers(0, alphabet, n, dtype=_nptest.uint8))
        assert mm._gif_lzw_decode(mm._gif_lzw_encode(data, 8), 8) == data


def test_gif_interlaced_and_malformed():
    import struct

    rng = _nptest.random.default_rng(42)
    a = rng.integers(0, 256, (16, 5), dtype=_nptest.uint8)
    plain = mm.gif_encode_gray(a)
    # hand-build the interlaced variant: rows stored in 4-pass order
    rows = (list(range(0, 16, 8)) + list(range(4, 16, 8))
            + list(range(2, 16, 4)) + list(range(1, 16, 2)))
    inter_pixels = a[rows]
    lzw = mm._gif_lzw_encode(inter_pixels.tobytes(), 8)
    out = bytearray(b"GIF87a") + struct.pack("<HHBBB", 5, 16, 0xF7, 0, 0)
    for i in range(256):
        out += bytes((i, i, i))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 5, 16, 0x40)  # interlace
    out.append(8)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    rec_i = mm.numpy_gif_decode(bytes(out), "image")
    rec_p = mm.numpy_gif_decode(plain, "image")
    assert rec_i is not None and rec_i["features"] == rec_p["features"]
    # malformed inputs
    assert mm.numpy_gif_decode(plain[:-4], "image") is None  # no trailer/terminator
    assert mm.numpy_gif_decode(b"GIF87a" + b"\x00" * 5, "image") is None
    assert mm.numpy_gif_decode(plain, "audio") is None
    bad = bytearray(plain)
    bad[13 + 768 + 10] = 3  # corrupt LZW min code size below range... 3 is valid
    bad[13 + 768] = 0x99  # unknown block type instead of image descriptor
    assert mm.numpy_gif_decode(bytes(bad), "image") is None
    assert mm.stdlib_decode(plain, "image") is not None


# ---------------------------------------------------------------------------
# G.711 µ-law / A-law WAV (r7)
# ---------------------------------------------------------------------------


def _g711_ref_ulaw(b: int) -> int:
    u = ~b & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def _g711_ref_alaw(b: int) -> int:
    a = b ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def _make_g711_wav(samples: bytes, fmt_code: int) -> bytes:
    import struct

    fmt = struct.pack("<HHIIHH", fmt_code, 1, 8000, 8000, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(samples)) + samples
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_g711_companded_wav_decodes_per_reference():
    payload = bytes(range(256))
    for fmt_code, ref in ((7, _g711_ref_ulaw), (6, _g711_ref_alaw)):
        rec = mm.numpy_uncompressed_decode(_make_g711_wav(payload, fmt_code), "audio")
        assert rec is not None, f"fmt {fmt_code} failed"
        assert rec["n_frames"] == 256 and rec["width"] == 1
        lin = [ref(b) for b in payload]
        assert rec["features"][0] == pytest.approx(
            sum(lin) / 256 / 32768.0, abs=1e-12
        )
        assert rec["features"][2] == pytest.approx(min(lin) / 32768.0, abs=1e-12)
        assert rec["features"][3] == pytest.approx(max(lin) / 32768.0, abs=1e-12)
    # unsupported companded bit depths still reject
    import struct

    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    assert mm.numpy_uncompressed_decode(
        b"RIFF" + struct.pack("<I", len(body)) + body, "audio"
    ) is None


def test_jpeg_restart_interval_roundtrip():
    """DRI/RSTn support (r7): byte-aligned restart segments with DC
    predictor resets, encoder and decoder."""
    rng = _nptest.random.default_rng(55)
    c = rng.integers(0, 256, (40, 33, 3), dtype=_nptest.uint8)
    jp = mm.jpeg_encode_baseline(c, quant=1, restart_interval=3)
    assert b"\xff\xdd" in jp and b"\xff\xd0" in jp
    rec = mm.numpy_jpeg_decode(jp, "image")
    assert rec is not None
    for ch in range(3):
        assert rec["features"][ch] == pytest.approx(
            float(c[:, :, ch].mean() / 255.0), abs=3e-3
        )
    # constant blocks + restarts stay exact
    d = rng.integers(0, 256, 16, dtype=_nptest.uint8)
    arr = _nptest.kron(
        d.reshape(4, 4), _nptest.ones((8, 8), dtype=_nptest.uint8)
    ).astype(_nptest.uint8)
    rec = mm.numpy_jpeg_decode(
        mm.jpeg_encode_baseline(arr, quant=1, restart_interval=5), "image"
    )
    assert rec is not None
    assert rec["features"][0] == pytest.approx(float(arr.mean() / 255.0), abs=0)


_REAL_WORLD_MEDIA = [
    # third-party files shipped by unrelated OS packages — produced by
    # real encoders this module has never seen (interop, not roundtrip)
    "/usr/share/gitweb/static/git-logo.png",
    "/usr/share/doc/python3/_static/file.png",
    "/usr/share/doc/libxslt1-dev/html/smallfootonly.gif",
    "/usr/share/doc/libxslt1-dev/html/processing.gif",
    # baseline 4:4:4 with DRI=21 restart markers
    "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/requests/ext/flower-of-life.jpg",
    # real camera baseline JPEGs, 4:2:0 subsampled (Spark's mllib data)
    "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/kittens/DP802813.jpg",
    "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/multi-channel/chr30.4.184.jpg",
]


def test_codecs_decode_real_world_files():
    import os

    present = [p for p in _REAL_WORLD_MEDIA if os.path.exists(p)]
    if not present:
        pytest.skip("no third-party media in this environment")
    for p in present:
        with open(p, "rb") as fh:
            rec = mm.stdlib_decode(fh.read(), "image")
        assert rec is not None, f"failed to decode {p}"
        assert rec["width"] >= 1 and rec["height"] >= 1
        assert all(0.0 <= rec["features"][i] <= 1.0 for i in range(6)), p


def test_jpeg_chroma_subsampling_modes():
    """4:2:0 / 4:2:2 (r7): gray-content RGB has constant chroma, so
    subsampling loses nothing and every mode must agree with the source;
    DRI on top must not change a single decoded value."""
    rng = _nptest.random.default_rng(66)
    g = rng.integers(0, 256, (21, 30), dtype=_nptest.uint8)
    rgb = _nptest.repeat(g[:, :, None], 3, axis=2)
    for sub in ("420", "422", "444"):
        rec = mm.numpy_jpeg_decode(
            mm.jpeg_encode_baseline(rgb, quant=1, subsampling=sub), "image"
        )
        assert rec is not None, sub
        assert rec["features"][0] == pytest.approx(
            float(g.mean() / 255.0), abs=2e-3
        ), sub
    c = rng.integers(0, 256, (24, 16, 3), dtype=_nptest.uint8)
    plain = mm.numpy_jpeg_decode(
        mm.jpeg_encode_baseline(c, quant=1, subsampling="420"), "image"
    )
    with_dri = mm.numpy_jpeg_decode(
        mm.jpeg_encode_baseline(
            c, quant=1, subsampling="420", restart_interval=2
        ),
        "image",
    )
    assert plain is not None and with_dri is not None
    assert plain["features"] == with_dri["features"]
    with pytest.raises(ValueError):
        mm.jpeg_encode_baseline(c, subsampling="411")


def test_pgm_p5_grayscale_decodes():
    """P5 binary PGM (r7): one byte per pixel, gray replicated to RGB."""
    g = bytes(range(12))
    rec = mm.numpy_uncompressed_decode(b"P5\n4 3\n255\n" + g, "image")
    assert rec is not None and (rec["width"], rec["height"]) == (4, 3)
    assert rec["features"][0] == rec["features"][1] == rec["features"][2]
    assert rec["features"][0] == pytest.approx(sum(g) / 12 / 255.0)
    assert rec["features"][5] == pytest.approx(11 / 255.0)
    # truncated pixel array still rejects
    assert mm.numpy_uncompressed_decode(b"P5\n4 3\n255\n" + g[:-1], "image") is None
