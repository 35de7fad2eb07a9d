from __future__ import annotations

import os
import pickle
import random
import struct
import subprocess
import sys

import pandas as pd
import pytest

from tesseract_spark.operators import multimodal as mm

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _reference_encode_bmp_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Per-pixel 24-bit bottom-up BMP writer: gray tripled, rows padded."""
    stride = (width * 3 + 3) & ~3
    data = b"".join(
        b"".join(bytes((b, b, b)) for b in pixels[y * width : (y + 1) * width])
        + b"\x00" * (stride - width * 3)
        for y in range(height - 1, -1, -1)
    )
    return (
        struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        + data
    )


def _reference_decode_bmp(payload: bytes) -> bytes:
    """Per-pixel stride walk: top-down RGB from BGR(A) rows."""
    (off,) = struct.unpack_from("<I", payload, 10)
    _, w, h_raw = struct.unpack_from("<Iii", payload, 14)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    h, n_ch = abs(h_raw), bpp // 8
    stride = (w * n_ch + 3) & ~3
    out = bytearray()
    for y in range(h):
        src_y = h - 1 - y if h_raw > 0 else y
        for x in range(w):
            px = payload[off + src_y * stride + x * n_ch :][:n_ch]
            out += bytes((px[2], px[1], px[0]))
    return bytes(out)


@pytest.mark.parametrize("bpp", [24, 32])
@pytest.mark.parametrize("top_down", [False, True])
@pytest.mark.parametrize("width", range(1, 8))
def test_bmp_decoder_matches_per_pixel_reference(bpp, top_down, width):
    """Every row-padding case (widths 1-7) at both depths and both row
    orders; the padding bytes are random, so reading one of them as a
    pixel changes the result."""
    rng = random.Random(bpp * 100 + width * 2 + top_down)
    height = 3
    stride = (width * bpp // 8 + 3) & ~3
    data = bytes(rng.randrange(256) for _ in range(stride * height))
    raw = (
        struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, width, -height if top_down else height,
            1, bpp, 0, len(data), 0, 0, 0, 0,
        )
        + data
    )  # fmt: skip
    img = mm.decode_bmp(raw)
    assert (img["width"], img["height"], img["channels"]) == (width, height, 3)
    assert img["pixels"] == _reference_decode_bmp(raw)


@pytest.mark.parametrize("width", range(1, 8))
def test_bmp_encoder_matches_per_pixel_reference(width):
    rng = random.Random(width)
    pixels = bytes(rng.randrange(256) for _ in range(width * 5 + 2))  # trailing bytes unused
    enc = mm.encode_bmp_gray(pixels, width, 5)
    assert enc == _reference_encode_bmp_gray(pixels, width, 5)
    assert _reference_decode_bmp(enc) == bytes(b for b in pixels[: width * 5] for _ in range(3))


@pytest.mark.parametrize("n_frames", [0, -4, 2, 6, 10])
def test_audio_fingerprint_rejects_widths_not_multiple_of_4(spark, n_frames):
    """The fingerprint is ``n_frames/4`` hex chars: any other n_frames
    gives a hex width the oracle's lpad cuts differently (6 frames: Python
    "3f" vs DuckDB "3"), and 0 divides by zero in the worker."""
    docs = spark.createDataFrame([(1, "x" * 64)], "doc_id long, text string")
    with pytest.raises(ValueError, match="multiple of 4"):
        mm.audio_energy_fingerprint(docs, n_frames=n_frames)


def test_resize_empty_payload_matches_oracle(spark):
    """An empty document has side 0 and no pixels: the entry must emit the
    oracle's row (the md5 of the empty string), not fail the task."""
    import duckdb

    docs = spark.createDataFrame([(7, "")], "doc_id long, text string")
    got = [tuple(r) for r in mm.resize_payload_grid(mm.attach_binary_payload(docs)).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 7::BIGINT AS doc_id, '' AS text")
    want = con.execute(mm.resize_payload_grid_oracle_sql()).fetchall()
    con.close()
    assert got == want == [(7, 0, 8, 8, "d41d8cd98f00b204e9800998ecf8427e")]


class _CaptureMap:
    """Stands in for a DataFrame: keeps the function handed to mapInPandas."""

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):  # noqa: N802 — DataFrame's name
        self.fn = fn
        return self


_SHIP_PROG = """
import pickle, sys
repo = sys.argv[3]
sys.path = [p for p in sys.path if p not in ("", ".", repo)]
try:
    import tesseract_spark
except ModuleNotFoundError:
    pass
else:
    raise SystemExit("tesseract_spark is importable: the check proves nothing")
import pandas as pd
import pyspark.cloudpickle as cp
with open(sys.argv[1], "rb") as f:
    d = pickle.load(f)
fn = cp.loads(d["fn"])
out = pd.concat(list(fn(iter([d["batch"]]))), ignore_index=True)
with open(sys.argv[2], "wb") as f:
    pickle.dump(out, f)
"""


@pytest.mark.parametrize(
    "entry",
    [
        lambda docs: mm.decoded_image_features(docs),  # BMP
        lambda docs: mm.audio_energy_fingerprint(docs),  # WAV
        lambda docs: mm.video_mp4_samples(docs),  # MP4
    ],
    ids=["bmp", "wav", "mp4"],
)
def test_codec_closures_ship_by_value(spark, tmp_path, entry):
    """The batch functions run where the repo is not importable: the codec
    modules they call travel inside the pickle. Output equals the
    in-process output on the same two-row batch."""
    from pyspark import cloudpickle

    cap = _CaptureMap()
    entry(cap)
    batch = pd.DataFrame(
        {"doc_id": [7, 9], "payload": [bytes(range(40, 120)), bytes(range(255, 95, -1))]}
    )
    expected = pd.concat(list(cap.fn(iter([batch]))), ignore_index=True)
    assert len(expected) == 2
    src, dst = tmp_path / "in.pkl", tmp_path / "out.pkl"
    src.write_bytes(pickle.dumps({"fn": cloudpickle.dumps(cap.fn), "batch": batch}))
    r = subprocess.run(
        [sys.executable, "-c", _SHIP_PROG, str(src), str(dst), REPO],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        timeout=120,
    )
    assert r.returncode == 0, r.stderr
    pd.testing.assert_frame_equal(pickle.loads(dst.read_bytes()), expected)

