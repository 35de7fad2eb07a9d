"""Uncompressed media codecs (stdlib + numpy): BMP, PPM/PGM and PCM WAV,
plus the lowercase-hex md5 every multimodal fixture hashes with.

- BMP: 24-bit bottom-up grayscale encoder; decoder for uncompressed
  24/32-bit BI_RGB files in either row order (numpy stride walk, row
  flip, BGR(A) -> RGB). Core headers, compressed and sub-24-bit files
  raise ``NotImplementedError``.
- PPM/PGM: binary P6/P5 decoder, maxval <= 255; 16-bit PPM raises
  ``NotImplementedError``.
- WAV: 8-bit mono PCM writer and a ``wave``-based reader.

Split out of ``operators/multimodal.py`` (which re-exports the public
names) so Spark closures can register THIS module with cloudpickle's
pickle-by-value: executors need no repo PYTHONPATH, the same shipping
contract as ``operators/png.py``, ``jpeg.py`` and ``mp4.py``.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave

import numpy as np


def md5_hex(data: bytes) -> str:
    """md5 of the LOWERCASE HEX of ``data`` (not of the raw bytes): the
    hash every multimodal entry emits. It is engine-portable for every
    byte value: DuckDB's md5 takes VARCHAR only, and an arbitrary decoded
    stream need not be valid UTF-8, so the oracles hash the hex text."""
    return hashlib.md5(data.hex().encode()).hexdigest()


def encode_bmp_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Build a real 24-bit uncompressed bottom-up BMP from a grayscale byte
    grid (row-major, top-down input; R=G=B=byte). Rows are 4-byte padded per
    the format. Inverse of :func:`decode_bmp` — used to manufacture genuine
    BMP payloads from testdata bytes."""
    assert len(pixels) >= width * height
    stride = (width * 3 + 3) & ~3
    gray = np.frombuffer(pixels, np.uint8, count=width * height).reshape(height, width)
    rows = np.zeros((height, stride), np.uint8)
    rows[:, : width * 3] = np.repeat(gray[::-1], 3, axis=1)  # bottom-up storage
    data = rows.tobytes()
    # 14-byte file header + 40-byte BITMAPINFOHEADER
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + data


def decode_bmp(payload: bytes) -> dict:
    """Parse an uncompressed 24/32-bit BI_RGB BMP: validates the headers,
    honors the row stride and bottom-up/top-down orientation, swaps BGR(A) to
    a top-down row-major RGB stream."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_off,) = struct.unpack_from("<I", payload, 10)
    dib_size, width, height_raw = struct.unpack_from("<Iii", payload, 14)
    if dib_size < 40:
        raise NotImplementedError(f"BITMAPCOREHEADER (size {dib_size}) unsupported")
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if compression != 0:
        raise NotImplementedError(f"compressed BMP (method {compression}) unsupported")
    if bpp not in (24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP unsupported (24/32 only)")
    height, bottom_up = abs(height_raw), height_raw > 0
    n_ch = bpp // 8
    if width < 0:
        raise ValueError(f"negative BMP width {width}")
    stride = (width * n_ch + 3) & ~3
    if len(payload) < pixel_off + stride * height:
        raise ValueError(
            f"truncated BMP: {len(payload)} bytes < "
            f"{pixel_off + stride * height} required by header dims"
        )
    rows = np.frombuffer(payload, np.uint8, count=stride * height, offset=pixel_off)
    px = rows.reshape(height, stride)[:, : width * n_ch].reshape(height, width, n_ch)
    rgb = px[::-1, :, 2::-1] if bottom_up else px[:, :, 2::-1]  # BGR(A) -> RGB
    return {"width": width, "height": height, "channels": 3, "pixels": rgb.tobytes()}


def decode_ppm(payload: bytes) -> dict:
    """Parse binary PPM (P6, RGB) / PGM (P5, gray) with maxval <= 255."""
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    # header: magic, whitespace/comment-separated width, height, maxval
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while payload[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM unsupported")
    if width < 0 or height < 0:
        raise ValueError(f"negative PPM dimensions {width}x{height}")
    n_ch = 3 if magic == b"P6" else 1
    raw = payload[pos : pos + width * height * n_ch]
    if len(raw) < width * height * n_ch:
        raise ValueError(
            f"truncated PPM: {len(raw)} data bytes < {width * height * n_ch} "
            "required by header dims"
        )
    pixels = raw if n_ch == 3 else b"".join(bytes((b, b, b)) for b in raw)
    return {"width": width, "height": height, "channels": 3, "pixels": pixels}


def encode_wav_mono8(pcm: bytes) -> bytes:
    """Write 8-bit mono PCM samples at 8 kHz as a genuine RIFF/WAVE file
    through the stdlib ``wave`` writer."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(pcm)
    return buf.getvalue()


def decode_wav(payload: bytes) -> dict:
    """Parse PCM WAV via the stdlib ``wave`` module. Hostile chunk
    structures make ``wave``/``chunk`` raise bare RuntimeError/OSError
    (chunk.py seek guards); normalize those to ValueError so callers see
    one bounded corrupt-input exception family (codec fuzz contract)."""
    try:
        with wave.open(io.BytesIO(payload)) as w:
            return {
                "sample_rate": w.getframerate(),
                "n_channels": w.getnchannels(),
                "sample_width": w.getsampwidth(),
                "n_frames": w.getnframes(),
                "pcm": w.readframes(w.getnframes()),
            }
    except (RuntimeError, OSError) as e:
        raise ValueError(f"corrupt WAV chunk structure: {e!r}") from e
