"""Baseline JPEG codec (operators/jpeg.py) — the non-oracle-able tier.

The q_image_jpeg_decode catalog entry hash-gates the exact constant-block
subclass end-to-end through Spark; these tests cover everything the oracle
cannot see: the float DCT against a naive spec-literal reference, lossy
round-trip quality floors across the quality ladder, chroma subsampling,
restart markers, byte stuffing, and the honest NotImplementedError
boundaries.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tesseract_spark.operators import jpeg


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)


def _gray(dec: dict) -> np.ndarray:
    return np.frombuffer(dec["pixels"], dtype=np.uint8).reshape(
        dec["height"], dec["width"], 3
    )[:, :, 0]


def _smooth(h: int, w: int) -> np.ndarray:
    x = np.linspace(0, 4 * np.pi, w)
    y = np.linspace(0, 3 * np.pi, h)
    return (127 + 100 * np.outer(np.sin(y), np.cos(x))).astype(np.uint8)


def test_dct_matches_naive_spec_formula():
    """The matrix-form 2D DCT must equal T.81's A.3.3 double sum, and
    idct2 must invert it to float precision."""
    rng = np.random.default_rng(11)
    blk = rng.integers(0, 256, (8, 8)).astype(float)

    naive = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        blk[x, y]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            naive[u, v] = 0.25 * cu * cv * s
    assert np.allclose(jpeg.dct2(blk), naive, atol=1e-9)
    assert np.allclose(jpeg.idct2(jpeg.dct2(blk)), blk, atol=1e-9)
    # DC of a constant-c block is exactly 8c (the exactness the oracle
    # entry's all-8s quant table relies on)
    const = np.full((8, 8), 77.0)
    f = jpeg.dct2(const)
    assert abs(f[0, 0] - 8 * 77.0) < 1e-9
    assert np.max(np.abs(f.ravel()[1:])) < 1e-9


def test_constant_block_roundtrip_is_exact():
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 256, 24, dtype=np.uint8)
    img = np.repeat(np.repeat(vals.reshape(6, 4), 8, axis=0), 8, axis=1)
    q8 = np.full((8, 8), 8, dtype=np.int32)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(img, quant=q8))
    assert dec["width"] == 32 and dec["height"] == 48 and dec["channels"] == 3
    assert np.array_equal(_gray(dec), img)


def test_gray_roundtrip_quality_ladder():
    """Lossy round trip: PSNR must climb with quality and clear per-tier
    floors on a smooth image (the signal class DCT codecs are built for)."""
    img = _smooth(40, 56)
    prev = 0.0
    for quality, floor in ((50, 35.0), (75, 40.0), (90, 45.0), (95, 47.0)):
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(img, quality=quality))
        p = _psnr(_gray(dec), img)
        assert p >= floor, (quality, p)
        assert p >= prev - 0.5  # monotone up to noise
        prev = p


def test_color_roundtrip_444_and_420():
    h, w = 40, 56
    x = np.linspace(0, 4 * np.pi, w)
    y = np.linspace(0, 3 * np.pi, h)
    rgb = np.stack(
        [
            127 + 100 * np.outer(np.sin(y), np.cos(x)),
            127 + 100 * np.outer(np.cos(y), np.sin(x)),
            np.full((h, w), 80.0),
        ],
        axis=2,
    ).astype(np.uint8)
    d444 = jpeg.decode_jpeg(jpeg.encode_jpeg_color(rgb, quality=90, subsample="4:4:4"))
    arr444 = np.frombuffer(d444["pixels"], dtype=np.uint8).reshape(h, w, 3)
    assert _psnr(arr444, rgb) >= 38.0
    d420 = jpeg.decode_jpeg(jpeg.encode_jpeg_color(rgb, quality=90, subsample="4:2:0"))
    arr420 = np.frombuffer(d420["pixels"], dtype=np.uint8).reshape(h, w, 3)
    assert d420["width"] == w and d420["height"] == h
    # chroma is halved, luma is not: Y-plane PSNR stays high even at 4:2:0
    def lum(a):
        return 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]

    assert _psnr(lum(arr420), lum(rgb)) >= 38.0
    assert _psnr(arr420, rgb) >= 28.0


def test_restart_markers_do_not_change_pixels():
    img = _smooth(32, 48)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(img, quality=90))
    for ri in (1, 3, 7):
        d = jpeg.decode_jpeg(
            jpeg.encode_jpeg_gray(img, quality=90, restart_interval=ri)
        )
        assert d["pixels"] == base["pixels"], ri


def test_odd_dimensions_pad_and_crop():
    """Non-multiple-of-8 dimensions: encoder edge-pads, decoder crops back
    to the SOF dimensions."""
    img = _smooth(19, 21)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(img, quality=95))
    assert dec["width"] == 21 and dec["height"] == 19
    assert _psnr(_gray(dec), img) >= 40.0


def test_byte_stuffing_survives_ff_heavy_streams():
    """An all-extreme image produces entropy bytes hitting 0xFF; the
    stuffed stream must decode (a missed 0xFF00 unstuff dies loudly)."""
    rng = np.random.default_rng(5)
    img = (rng.integers(0, 2, (24, 24)) * 255).astype(np.uint8)
    enc = jpeg.encode_jpeg_gray(img, quality=95)
    assert b"\xff\x00" in enc.split(b"\xff\xda")[1], "no stuffing exercised"
    dec = jpeg.decode_jpeg(enc)
    assert dec["width"] == 24 and dec["height"] == 24


def test_honest_boundaries():
    with pytest.raises(ValueError, match="missing SOI"):
        jpeg.decode_jpeg(b"BM\x00")
    with pytest.raises(NotImplementedError, match="differential"):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xc6\x00\x05\x08\x00\x08")
    with pytest.raises(NotImplementedError, match="arithmetic"):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xc9\x00\x05\x08\x00\x08")
    with pytest.raises(NotImplementedError, match="arithmetic"):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xca\x00\x05\x08\x00\x08")
    # SOF2 is no longer a boundary — a truncated progressive stub is now
    # just a corrupt file
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xc2\x00\x05\x08\x00\x08")


def test_decode_media_dispatches_jpeg():
    from tesseract_spark.operators.multimodal import decode_media

    img = np.repeat(np.repeat(np.arange(4, dtype=np.uint8).reshape(2, 2) * 60, 8, 0), 8, 1)
    q8 = np.full((8, 8), 8, dtype=np.int32)
    out = decode_media(jpeg.encode_jpeg_gray(img, quant=q8), "image")
    assert out["width"] == 16 and out["height"] == 16
    assert np.array_equal(
        np.frombuffer(out["pixels"], dtype=np.uint8).reshape(16, 16, 3)[:, :, 0], img
    )


def test_jpeg_closure_ships_by_value():
    """decoded_jpeg_features registers operators.jpeg with cloudpickle's
    pickle-by-value so executors need no repo PYTHONPATH (the multimodal
    module contract): prove it by unpickling and running decode_jpeg in a
    subprocess whose sys.path cannot see the repo."""
    import pickle
    import subprocess
    import sys
    import tempfile

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(jpeg)
    try:
        img = np.full((8, 8), 99, dtype=np.uint8)
        q8 = np.full((8, 8), 8, dtype=np.int32)
        payload = jpeg.encode_jpeg_gray(img, quant=q8)
        blob = cloudpickle.dumps(jpeg.decode_jpeg)
        with tempfile.NamedTemporaryFile(suffix=".bin", delete=False) as f:
            pickle.dump({"fn": blob, "payload": payload}, f)
            path = f.name
        prog = (
            "import pickle, sys\n"
            "sys.path = [p for p in sys.path if 'repo' not in p and p not in ('', '.')]\n"
            "d = pickle.load(open(sys.argv[1], 'rb'))\n"
            "import pyspark.cloudpickle as cp\n"
            "fn = cp.loads(d['fn'])\n"
            "out = fn(d['payload'])\n"
            "px = out['pixels']\n"
            "assert out['width'] == 8 and set(px) == {99}, (out['width'], set(px))\n"
            "print('BYVALUE_OK')\n"
        )
        r = subprocess.run(
            [sys.executable, "-c", prog, path],
            capture_output=True,
            text=True,
            cwd="/tmp",
            timeout=120,
        )
        assert "BYVALUE_OK" in r.stdout, (r.stdout, r.stderr)
    finally:
        cloudpickle.unregister_pickle_by_value(jpeg)


def test_hostile_sof_dimensions_cannot_oom():
    """ADVICE r12: a 65535x65535 SOF header over a tiny entropy payload
    must raise ValueError before allocating multi-GB planes (each 8x8
    block costs >=1 entropy bit, so the geometry is provably corrupt)."""
    enc = bytearray(jpeg.encode_jpeg_gray(_smooth(16, 16)))
    i = bytes(enc).index(b"\xff\xc0")
    # SOF0: marker(2) len(2) precision(1) height(2) width(2)
    struct.pack_into(">HH", enc, i + 5, 65535, 65535)
    with pytest.raises(ValueError, match="implausible"):
        jpeg.decode_jpeg(bytes(enc))


def test_native_decoder_seam():
    """register_native_decoder routes 0xFFD8 through a verified plugin,
    with the from-scratch codec as the equivalence oracle: a compliant
    candidate (here: the codec itself behind a marker) registers and
    serves dispatch; a divergent one is rejected and never installed."""
    from tesseract_spark.operators import multimodal as mm

    img = _smooth(16, 24)
    enc = jpeg.encode_jpeg_gray(img, quality=85)
    baseline = mm.decode_media(enc, "img.jpg")

    calls = []

    def good(payload):
        calls.append(1)
        return jpeg.decode_jpeg(payload)

    mm.register_native_decoder("jpeg", good)
    try:
        out = mm.decode_media(enc, "img.jpg")
        assert calls, "plugin was not dispatched"
        assert out["pixels"] == baseline["pixels"]
    finally:
        mm.unregister_native_decoder("jpeg")
    # after unregister the default path serves again
    calls.clear()
    assert mm.decode_media(enc, "img.jpg")["pixels"] == baseline["pixels"]
    assert not calls

    # a decoder that disagrees on the EXACT subclass is rejected
    def bad(payload):
        d = jpeg.decode_jpeg(payload)
        px = bytearray(d["pixels"])
        px[0] ^= 0xFF
        d["pixels"] = bytes(px)
        return d

    with pytest.raises(ValueError, match="equivalence|diverges"):
        mm.register_native_decoder("jpeg", bad)
    assert mm._NATIVE_DECODERS.get("jpeg") is None

    # unknown formats cannot register silently unverified
    with pytest.raises(ValueError, match="no verification fixture"):
        mm.register_native_decoder("webp", lambda p: None)


def test_decoder_gate_covers_restart_markers_and_color():
    """ADVICE r14 #2: the gate previously verified a restart-free grayscale
    fixture only, while the wired consumer (decoded_jpeg_features) encodes
    with restart_interval=2 — a plugin that mishandles RST markers (or
    chroma) could pass the gate yet diverge in production. Both failure
    modes must now be caught AT THE GATE."""

    # a decoder that "forgets" restart state: strip DRI and RSTn, then
    # decode — without predictor resets the DC values desync, which is
    # exactly what a restart-unaware plugin produces
    def restart_blind(payload):
        out = bytearray()
        i = 0
        n = len(payload)
        while i < n:
            if payload[i] == 0xFF and i + 1 < n:
                m = payload[i + 1]
                if m == 0xDD:  # DRI segment: marker + 2-byte length + body
                    seglen = (payload[i + 2] << 8) | payload[i + 3]
                    i += 2 + seglen
                    continue
                if 0xD0 <= m <= 0xD7:  # RSTn: bare marker
                    i += 2
                    continue
            out.append(payload[i])
            i += 1
        return jpeg.decode_jpeg(bytes(out))

    with pytest.raises(ValueError, match="restart-marker"):
        jpeg.verify_decoder_equivalence(restart_blind)

    # a decoder with broken chroma: decode correctly, then collapse the
    # color fixture to its luma (what a gray-only plugin would return)
    def chroma_blind(payload):
        d = jpeg.decode_jpeg(payload)
        px = d["pixels"]
        gray = bytearray()
        for k in range(0, len(px), 3):
            y = (77 * px[k] + 150 * px[k + 1] + 29 * px[k + 2]) >> 8
            gray += bytes((y, y, y))
        d["pixels"] = bytes(gray)
        return d

    with pytest.raises(ValueError, match="color"):
        jpeg.verify_decoder_equivalence(chroma_blind)

    # a plugin returning a MALFORMED result (None / missing keys) is also
    # normalized to the gate's labeled ValueError — never a raw
    # TypeError/KeyError past the only-ValueError contract (r15 review)
    with pytest.raises(ValueError, match="constant-block fixture"):
        jpeg.verify_decoder_equivalence(lambda payload: None)
    with pytest.raises(ValueError, match="constant-block fixture"):
        jpeg.verify_decoder_equivalence(lambda payload: {"width": 1})

    # the reference codec itself still passes the widened gate
    jpeg.verify_decoder_equivalence(jpeg.decode_jpeg)


def test_12bit_precision_roundtrip_and_exact_subclass():
    """12-bit extended sequential (SOF1): uint16 input in [0, 4095],
    16-bit-capable DQT, extended Huffman categories, level shift 2048,
    output mapped to the top 8 bits. Constant blocks c = b<<4 decode
    exactly back to byte b — the same subclass the oracle column pins."""
    img8 = _smooth(40, 56)
    # 8-bit byte layout is unchanged by the precision parameter
    assert jpeg.encode_jpeg_gray(img8, quality=85) == jpeg.encode_jpeg_gray(
        img8, quality=85, precision=8
    )
    img12 = (img8.astype(np.uint16) << 4) | 7  # low bits exercise rounding
    enc = jpeg.encode_jpeg_gray(img12, quality=90, precision=12)
    dec = jpeg.decode_jpeg(enc)
    g = _gray(dec)
    assert _psnr(g, (img12 >> 4).astype(np.uint8)) >= 45.0
    # exact constant-block subclass
    vals = np.arange(12, dtype=np.uint16).reshape(3, 4) * 20 + 8
    cimg = np.repeat(np.repeat(vals << 4, 8, 0), 8, 1)
    q8 = np.full((8, 8), 8, np.int32)
    dc = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(cimg, quant=q8, precision=12))
    assert np.array_equal(_gray(dc), np.repeat(np.repeat(vals, 8, 0), 8, 1))
    # 16-bit DQT (pq=1) round-trips
    q300 = np.full((8, 8), 300, np.int32)
    d300 = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(img12, quant=q300, precision=12))
    assert d300["width"] == 56 and d300["height"] == 40
    with pytest.raises(ValueError, match="4095"):
        jpeg.encode_jpeg_gray(np.full((8, 8), 5000, np.uint16), precision=12)
    with pytest.raises(ValueError, match="precision"):
        jpeg.encode_jpeg_gray(img8, precision=10)


def _cmyk_const(rng, rows=4, cols=4):
    const = rng.integers(0, 256, (rows, cols, 4), dtype=np.uint8)
    return np.repeat(np.repeat(const, 8, axis=0), 8, axis=1)


def test_cmyk_constant_block_exact_both_conventions():
    """r14 (VERDICT r13 'missing' #2): Adobe-marked CMYK stores inverted
    ink, unmarked stores plain ink; both convert through the exact integer
    inversion, so constant blocks predict every decoded byte."""
    q8 = np.full((8, 8), 8, dtype=np.int32)
    rng = np.random.default_rng(11)
    img = _cmyk_const(rng)
    s = img.astype(np.int64)
    dec = jpeg.decode_jpeg(
        jpeg.encode_jpeg_cmyk(img, quant=q8, adobe=True, restart_interval=2)
    )
    got = np.frombuffer(dec["pixels"], np.uint8).reshape(32, 32, 3)
    exp = np.stack(
        [(s[:, :, i] * s[:, :, 3] + 127) // 255 for i in range(3)], axis=2
    ).astype(np.uint8)
    assert np.array_equal(got, exp)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg_cmyk(img, quant=q8, adobe=False))
    got = np.frombuffer(dec["pixels"], np.uint8).reshape(32, 32, 3)
    inv = 255 - s
    exp = np.stack(
        [(inv[:, :, i] * inv[:, :, 3] + 127) // 255 for i in range(3)], axis=2
    ).astype(np.uint8)
    assert np.array_equal(got, exp)


def test_ycck_roundtrip_quality_floor():
    """transform=2 (YCCK) rides the forward/inverse YCbCr on the CMY
    triple — lossy, so pin a PSNR floor against the stored values' exact
    RGB conversion across the quality ladder."""
    rng = np.random.default_rng(5)
    smooth = _smooth(40, 56)
    img = np.stack([smooth, np.roll(smooth, 7, 1), smooth[::-1], 255 - smooth], 2)
    s = img.astype(np.float64)
    exp = np.stack(
        [(s[:, :, i] * s[:, :, 3] + 127) // 255 for i in range(3)], axis=2
    )
    for quality, floor in ((95, 35.0), (75, 28.0)):
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg_cmyk(img, quality=quality, transform=2))
        got = np.frombuffer(dec["pixels"], np.uint8).reshape(40, 56, 3)
        assert _psnr(got, exp) > floor, quality


def test_cmyk_progressive_dc_bit_identity():
    """A DC-only progressive 4-component stream (interleaved DC first at
    Al=1 + DC refinement — AC state stays zero) must decode bit-identically
    to the sequential encode of the same constant-block image: both paths
    share one quantize path and constant blocks are DC-only."""
    q8 = np.full((8, 8), 8, dtype=np.int32)
    rng = np.random.default_rng(3)
    img = _cmyk_const(rng, 3, 5)
    h, w = img.shape[:2]
    seq = jpeg.decode_jpeg(jpeg.encode_jpeg_cmyk(img, quant=q8, adobe=True))
    # hand-build the progressive file (no 4-comp progressive encoder —
    # this is the decoder-coverage tier)
    bh, bw_ = h // 8, w // 8
    planes = [
        jpeg._quantize_plane(img[:, :, c].astype(np.float64), q8, bh, bw_)
        for c in range(4)
    ]
    dc_codes = jpeg._build_codes(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
    out = bytearray(b"\xff\xd8")
    out += jpeg._app14_adobe(0)
    out += jpeg._seg(0xFFDB, jpeg._dqt_payload(0, q8))
    sof = struct.pack(">BHHB", 8, h, w, 4)
    for cid in (1, 2, 3, 4):
        sof += bytes([cid, 0x11, 0])
    out += jpeg._seg(0xFFC2, sof)
    out += jpeg._seg(0xFFC4, jpeg._dht_payload(0, 0, jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS))
    scan_comps = [(cid, 0, 0) for cid in (1, 2, 3, 4)]
    # DC first, Al=1
    bw = jpeg._BitWriter()
    preds = [0, 0, 0, 0]
    for by in range(bh):
        for bx in range(bw_):
            for ci in range(4):
                preds[ci] = jpeg._emit_dc_first_block(
                    bw, planes[ci][by, bx], preds[ci], 1, dc_codes
                )
    bw.flush()
    out += jpeg._sos_header(scan_comps, 0, 0, 0, 1) + bw.buf
    # DC refinement, Ah=1 -> Al=0: one raw bit per block
    bw = jpeg._BitWriter()
    for by in range(bh):
        for bx in range(bw_):
            for ci in range(4):
                bw.write(int(planes[ci][by, bx][0]) & 1, 1)
    bw.flush()
    out += jpeg._sos_header(scan_comps, 0, 0, 1, 0) + bw.buf
    out += b"\xff\xd9"
    prog = jpeg.decode_jpeg(bytes(out))
    assert prog["pixels"] == seq["pixels"]


def test_cmyk_hostile_inputs():
    q8 = np.full((8, 8), 8, dtype=np.int32)
    img = np.zeros((8, 8, 4), dtype=np.uint8)
    enc = bytearray(jpeg.encode_jpeg_cmyk(img, quant=q8))
    # truncated APP14 body
    i = bytes(enc).index(b"Adobe") - 4
    trunc = bytes(enc[: i + 2]) + struct.pack(">H", 8) + bytes(enc[i + 4 : i + 10]) + bytes(enc[i + 16 :])
    with pytest.raises((ValueError, NotImplementedError)):
        jpeg.decode_jpeg(trunc)
    # 12-bit 4-component stays a boundary
    with pytest.raises(NotImplementedError, match="8-bit only"):
        img12 = np.zeros((8, 8), dtype=np.uint16)
        payload = bytearray(jpeg.encode_jpeg_gray(img12, quant=q8, precision=12))
        j = bytes(payload).index(b"\xff\xc1")
        payload[j + 9] = 4  # claim 4 components in the SOF header
        jpeg.decode_jpeg(bytes(payload))
    # invalid transform in the encoder
    with pytest.raises(ValueError, match="transform"):
        jpeg.encode_jpeg_cmyk(img, transform=1)


def test_native_installer_runs_in_worker_processes(spark, sf_dir, tmp_path):
    """r14 (VERDICT r13 'what's wrong' #4): the executor-side native seam
    must actually install the plugin INSIDE each Python worker process —
    pid-marker files prove the factory ran in workers (not the driver),
    and the decoded output byte-matches the from-scratch codec run."""
    import os

    from tesseract_spark.operators import multimodal as mm

    marker = str(tmp_path)

    def factory(md=marker):
        import os as _os

        # self-contained factory contract: imports live in the body (a
        # real binding would import its native package here)
        from tesseract_spark.operators.jpeg import decode_jpeg as _d

        with open(f"{md}/pid_{_os.getpid()}", "w") as f:
            f.write("x")

        def native(payload, _dec=_d):
            return _dec(payload)

        return native

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(64)
    inst = mm.make_worker_decoder_installer("jpeg", factory)
    base = sorted(
        tuple(sorted(r.asDict().items()))
        for r in mm.decoded_jpeg_features(docs).collect()
    )
    via = sorted(
        tuple(sorted(r.asDict().items()))
        for r in mm.decoded_jpeg_features(docs, native_installer=inst).collect()
    )
    assert via == base, "plugin-served decode diverged from the codec run"
    pids = {
        int(name.split("_")[1])
        for name in os.listdir(marker)
        if name.startswith("pid_")
    }
    assert pids, "factory never ran"
    assert os.getpid() not in pids, (
        "factory ran in the driver process — the installer must defer to "
        "worker-side first use"
    )


def test_native_installer_rejects_divergent_plugin_in_worker(spark, sf_dir):
    """A divergent candidate must fail the in-worker verification loudly
    (task error carrying the equivalence message), never serve pixels."""
    from tesseract_spark.operators import multimodal as mm

    def bad_factory():
        def native(payload):
            return {"width": 8, "height": 8, "channels": 3, "pixels": b"\x00" * 192}

        return native

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(8)
    inst = mm.make_worker_decoder_installer("jpeg", bad_factory)
    with pytest.raises(Exception, match="equivalence|differently-sized"):
        mm.decoded_jpeg_features(docs, native_installer=inst).collect()


def test_huffman_lut_fast_path_matches_per_bit_walk():
    """The r16 8-bit-prefix LUT in _huff_decode is a pure fast path: with
    the LUT disabled (all sentinel -1, forcing every symbol through the
    original per-bit dict walk) the decoded pixels must be byte-identical
    across baseline/progressive/subsampled/restart/CMYK variants."""
    from unittest import mock

    import numpy as np

    from tesseract_spark.operators import jpeg

    rng = np.random.default_rng(11)
    g = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    c = rng.integers(0, 256, (32, 40, 3), dtype=np.uint8)
    k4 = rng.integers(0, 256, (24, 32, 4), dtype=np.uint8)
    encs = [
        jpeg.encode_jpeg_gray(g, quality=90),
        jpeg.encode_jpeg_gray(g, quality=35, restart_interval=2),
        jpeg.encode_jpeg_color(c, subsample="4:2:0"),
        jpeg.encode_jpeg_progressive_gray(g, quality=85),
        jpeg.encode_jpeg_progressive_color(c, subsample="4:2:0"),
        jpeg.encode_jpeg_cmyk(k4, quality=90, transform=2),
    ]
    fast = [jpeg.decode_jpeg(e) for e in encs]

    real_build = jpeg._build_decode

    def lutless_build(bits, vals):
        # copy before mutating: real_build returns a content-CACHED table
        # shared across decodes, and poisoning its lut would break later
        # decodes in this process
        tab = jpeg._DecodeTable(real_build(bits, vals))
        tab.lut = [-1] * 256  # every lookup misses -> per-bit walk only
        return tab

    with mock.patch.object(jpeg, "_build_decode", lutless_build), mock.patch.object(
        jpeg, "_fast_decode_baseline", lambda *a, **k: None
    ):  # segment decoder disabled too: the slow side must be the per-bit walk
        slow = [jpeg.decode_jpeg(e) for e in encs]
    for f, s in zip(fast, slow):
        assert f == s


def test_vectorized_segment_decoder_matches_loop():
    """The r16 vectorized segment decoder (_fast_decode_baseline) is a pure
    fast path: decoded output must be byte-identical with it forced off
    (per-block loop) across restart intervals, precisions, component
    layouts and content — including streams it declines (no restarts,
    subsampled color) and ERROR behavior on corrupt streams."""
    from unittest import mock

    import numpy as np

    from tesseract_spark.operators import jpeg

    rng = np.random.default_rng(31)
    g = rng.integers(0, 256, (48, 40), dtype=np.uint8)
    flat = np.full((32, 32), 129, np.uint8)
    c = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    k4 = rng.integers(0, 256, (24, 32, 4), dtype=np.uint8)
    q8 = np.full((8, 8), 8, np.int32)
    encs = []
    for ri in (1, 2, 5, 7):
        encs.append(jpeg.encode_jpeg_gray(g, quality=40, restart_interval=ri))
        encs.append(jpeg.encode_jpeg_gray(flat, quant=q8, restart_interval=ri))
        encs.append(
            jpeg.encode_jpeg_gray(
                g.astype(np.uint16) << 4, quant=q8, precision=12, restart_interval=ri
            )
        )
        encs.append(jpeg.encode_jpeg_cmyk(k4, quality=85, transform=2, restart_interval=ri))
    encs.append(jpeg.encode_jpeg_gray(g, quality=40))  # no restarts: declines
    encs.append(jpeg.encode_jpeg_color(c, subsample="4:2:0"))  # 2x2: declines

    def outcomes(data):
        try:
            return jpeg.decode_jpeg(data)
        except Exception as e:  # noqa: BLE001
            return (type(e).__name__, str(e))

    # corrupt streams: error behavior must be identical too
    bad = bytearray(encs[0])
    bad[len(bad) // 2] ^= 0x55
    cases = encs + [bytes(bad), encs[1][: len(encs[1]) - 40]]

    fast = [outcomes(e) for e in cases]
    with mock.patch.object(jpeg, "_fast_decode_baseline", lambda *a, **k: None):
        slow = [outcomes(e) for e in cases]
    assert len(fast) == len(slow)
    for f, s in zip(fast, slow):
        assert f == s


def test_vectorized_progressive_decoder_matches_loop():
    """The r16 vectorized progressive scan decoder
    (_fast_progressive_scan_decode) is a pure fast path: decoded output
    must be byte-identical with it forced off (per-block loop) across
    content that ENGAGES it (constant-block fixtures: DC chains + raw-bit
    refinement + pure-EOB AC scans), content that makes it DECLINE (live
    AC symbols, no restarts, interleaved color DC scans), quant tables,
    restart intervals, and ERROR behavior on corrupt streams."""
    from unittest import mock

    import numpy as np

    from tesseract_spark.operators import jpeg

    rng = np.random.default_rng(47)
    g = rng.integers(0, 256, (48, 40), dtype=np.uint8)
    c = rng.integers(0, 256, (32, 40, 3), dtype=np.uint8)
    q8 = np.full((8, 8), 8, np.int32)
    # constant-block grid (the engaging subclass: DC-only coefficients)
    cb = np.repeat(np.repeat(rng.integers(0, 256, (9, 5), np.uint8), 8, 0), 8, 1)
    encs = []
    for ri in (1, 2, 5):
        encs.append(jpeg.encode_jpeg_progressive_gray(cb, quant=q8, restart_interval=ri))
        encs.append(jpeg.encode_jpeg_progressive_gray(g, quality=85, restart_interval=ri))
        encs.append(jpeg.encode_jpeg_progressive_gray(g, quant=q8, restart_interval=ri))
    encs.append(jpeg.encode_jpeg_progressive_gray(cb, quant=q8))  # no restarts
    encs.append(jpeg.encode_jpeg_progressive_color(c, subsample="4:2:0"))

    def outcomes(data):
        try:
            return jpeg.decode_jpeg(data)
        except Exception as e:  # noqa: BLE001
            return (type(e).__name__, str(e))

    bad = bytearray(encs[0])
    bad[len(bad) * 2 // 3] ^= 0x3C
    cases = encs + [bytes(bad), encs[0][: len(encs[0]) - 25]]

    fast = [outcomes(e) for e in cases]
    with mock.patch.object(
        jpeg, "_fast_progressive_scan_decode", lambda *a, **k: None
    ):
        slow = [outcomes(e) for e in cases]
    assert len(fast) == len(slow)
    for f, s in zip(fast, slow):
        assert f == s


def test_vectorized_scan_emitter_matches_loop():
    """The r16 vectorized entropy emitter (_fast_baseline_scan /
    _fast_progressive_scan) is a pure fast path: with it disabled (forced
    to the per-block _emit_block_zz / emitter loop) every encoder variant
    must produce byte-identical files across random/gradient/constant
    content, restart intervals, 8/12-bit precision, 4:2:0/4:4:4 color,
    CMYK/YCCK and progressive scripts."""
    from unittest import mock

    import numpy as np

    from tesseract_spark.operators import jpeg

    rng = np.random.default_rng(23)
    q8 = np.full((8, 8), 8, np.int32)
    imgs = [
        rng.integers(0, 256, (37, 53), dtype=np.uint8),
        np.full((16, 24), 77, np.uint8),
        (127 + 120 * np.outer(np.sin(np.linspace(0, 5, 41)),
                              np.cos(np.linspace(0, 5, 29)))).astype(np.uint8),
    ]

    def encode_all():
        out = []
        for g in imgs:
            c3 = np.stack([g, 255 - g, g // 2], axis=2)
            c4 = np.stack([g, 255 - g, g // 2, g | 3], axis=2)
            for ri in (0, 1, 2, 5):
                out.append(jpeg.encode_jpeg_gray(g, quality=40, restart_interval=ri))
                out.append(jpeg.encode_jpeg_gray(g, quant=q8, restart_interval=ri))
                out.append(
                    jpeg.encode_jpeg_gray(
                        g.astype(np.uint16) << 4,
                        quant=q8,
                        precision=12,
                        restart_interval=ri,
                    )
                )
                out.append(
                    jpeg.encode_jpeg_cmyk(
                        c4, quality=85, transform=2, restart_interval=ri
                    )
                )
                out.append(
                    jpeg.encode_jpeg_progressive_gray(
                        g, quality=85, restart_interval=ri
                    )
                )
                out.append(
                    jpeg.encode_jpeg_progressive_gray(
                        g, quant=q8, restart_interval=ri
                    )
                )
            out.append(jpeg.encode_jpeg_color(c3, subsample="4:2:0"))
            out.append(jpeg.encode_jpeg_color(c3, subsample="4:4:4"))
        return out

    fast = encode_all()

    def no_fast_baseline(*a, **k):
        raise jpeg._FastEmitUnavailable

    with mock.patch.object(jpeg, "_fast_baseline_scan", no_fast_baseline), \
            mock.patch.object(jpeg, "_fast_progressive_scan", lambda *a, **k: None):
        loop = encode_all()
    assert len(fast) == len(loop)
    for f, s in zip(fast, loop):
        assert f == s


def test_huffman_table_caches_are_bounded_lru():
    """ADVICE r16 (medium): per-image unique DHTs (mozjpeg-style optimized
    Huffman) must not grow the content-keyed table caches without bound —
    each decode table can lazily carry ~0.5 MB of wide LUT. The caches are
    small LRUs: churning many distinct tables caps residency while the
    standard tables stay resident under mixed traffic."""
    enc, dec = jpeg._ENCODE_TABLE_CACHE, jpeg._DECODE_TABLE_CACHE
    # standard tables resident first (as in a warm executor)
    std_enc = jpeg._build_codes(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
    std_dec = jpeg._build_decode(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
    for i in range(4 * jpeg._TABLE_CACHE_MAX):
        # distinct single-code tables: one 2-bit code with a varying value
        key_bits = [0, 1] + [0] * 14
        jpeg._build_codes(key_bits, [(i * 7 + 3) % 256])
        jpeg._build_decode(key_bits, [(i * 7 + 3) % 256])
    assert len(enc) <= jpeg._TABLE_CACHE_MAX
    assert len(dec) <= jpeg._TABLE_CACHE_MAX
    # LRU (not plain FIFO): touching the standard table keeps it resident
    # across churn when re-requested between insertions
    a = jpeg._build_codes(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
    b = jpeg._build_decode(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
    for i in range(jpeg._TABLE_CACHE_MAX - 1):
        jpeg._build_codes([0, 1] + [0] * 14, [i])
        jpeg._build_decode([0, 1] + [0] * 14, [i])
        assert jpeg._build_codes(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS) is a
        assert jpeg._build_decode(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS) is b


def test_shared_tables_are_read_only():
    """ADVICE r16 (low): the content-cached tables are process-globally
    shared; item mutation must fail loudly instead of silently poisoning
    every later encode/decode in the process."""
    codes = jpeg._build_codes(jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
    with pytest.raises(TypeError):
        codes[0] = (0, 1)  # type: ignore[index]
    tab = jpeg._build_decode(jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
    with pytest.raises(TypeError):
        tab[(1 << 16) | 0] = 99
    with pytest.raises(TypeError):
        del tab[next(iter(tab))]
    # sanctioned path: a copy is mutable (the lutless test's pattern)
    cp = jpeg._DecodeTable(tab)
    cp[(1 << 16) | 0] = 99  # no raise
    # and the real tables still decode after the attempted mutations
    g = np.full((8, 8), 128, np.uint8)
    assert jpeg.decode_jpeg(jpeg.encode_jpeg_gray(g)) is not None


def test_frozen_decode_table_rejects_every_mutator():
    """Every dict mutator of a shared (frozen) decode table raises, not
    only item assignment and deletion; a copy stays mutable through all
    of them."""
    tab = jpeg._build_decode(jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
    before = dict(tab)
    key = next(iter(tab))
    mutators = {
        "update": lambda t: t.update({(1 << 16) | 0: 99}),
        "pop": lambda t: t.pop(key),
        "popitem": lambda t: t.popitem(),
        "clear": lambda t: t.clear(),
        "setdefault": lambda t: t.setdefault((17 << 16) | 0, 99),
        "__ior__": lambda t: t.__ior__({(1 << 16) | 0: 99}),
    }
    for name, mutate in mutators.items():
        with pytest.raises(TypeError):
            mutate(tab)
        assert dict(tab) == before, name
    with pytest.raises(TypeError):
        tab |= {(1 << 16) | 0: 99}
    assert dict(tab) == before
    for name, mutate in mutators.items():
        cp = jpeg._DecodeTable(tab)
        mutate(cp)  # no raise
        assert dict(cp) != before, name


def test_huff_decode_marker_adjacent_error_parity():
    """ADVICE r16 (low): with EXACTLY 16 bits buffered before a marker and
    no ≤16-bit code matching, the per-bit walk reads a 17th bit and raises
    _MarkerHit — the 16-bit LUT path must reproduce that, not raise the
    invalid-code ValueError the walk only raises when more bits exist."""
    # table with a single 1-bit code '0': any peek starting with a 1-bit
    # matches nothing at any length
    bits = [1] + [0] * 15
    tab = jpeg._build_decode(bits, [7])

    # 16 ones buffered, reader positioned at an EOI marker -> _MarkerHit
    br = jpeg._BitReader(b"\xff\xd9", 0)
    br.acc, br.nbits = 0xFFFF, 16
    with pytest.raises(jpeg._MarkerHit) as ei:
        jpeg._huff_decode(br, tab)
    assert ei.value.marker == 0xFFD9

    # 16 ones buffered at TRUE stream end -> IndexError (normalized to
    # ValueError by decode_jpeg), exactly like the walk's 17th _fill
    br = jpeg._BitReader(b"", 0)
    br.acc, br.nbits = 0xFFFF, 16
    with pytest.raises(IndexError):
        jpeg._huff_decode(br, tab)

    # >16 bits buffered: the walk consumes a 17th buffered bit and raises
    # the invalid-code error — LUT path matches
    br = jpeg._BitReader(b"\xff\xd9", 0)
    br.acc, br.nbits = 0x1FFFF, 17
    with pytest.raises(ValueError, match="invalid Huffman code"):
        jpeg._huff_decode(br, tab)


def test_frame_segments_guard_pad_covers_speculative_gathers():
    """ADVICE r16 (low): the vectorized decoder's bit cursor can reach
    end_bits + 16 BEFORE the overrun check, and gather32 then reads bytes
    (B>>3)..(B>>3)+3 — the guard pad must cover that worst case for the
    LAST segment (whose end is the end of U)."""
    g = np.add.outer(np.arange(16), np.arange(16)).astype(np.uint8) * 3
    enc = jpeg.encode_jpeg_gray(g, quality=90, restart_interval=1)
    # locate SOS entropy start the way decode does: after SOS header
    sos = enc.find(b"\xff\xda")
    assert sos > 0
    ls = struct.unpack(">H", enc[sos + 2 : sos + 4])[0]
    pos = sos + 2 + ls
    framed = jpeg._frame_segments(enc, pos, 4)  # 16x16 → 4 MCUs, R=1
    assert framed is not None
    U, seg_start_byte, counts_u, end_bits, _term = framed
    worst_bit = int(end_bits[-1]) + 16
    worst_gather_last_byte = (worst_bit >> 3) + 3
    assert worst_gather_last_byte < len(U), (
        "guard pad too small for the speculative magnitude gather"
    )
