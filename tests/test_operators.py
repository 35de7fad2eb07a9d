"""Behavioral tests for the LLM-pipeline operators (properties the SQL oracle
can't express: streaming execution, ANN recall, plumbing shapes)."""

from __future__ import annotations

import pytest


def test_streaming_windowed_agg_matches_batch(spark, sf_dir):
    """The SAME windowed plan through a real Structured Streaming query must
    equal the batch run (exact columns; approx_users sketch included since both
    paths use the same sketch)."""
    from tesseract_spark.streaming import events as ev

    stream_df = ev.run_streaming_demo(spark, sf_dir, query_name="t_ev_rollup")
    batch_df = ev.windowed_agg(
        ev._normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    )
    s = {tuple(r) for r in stream_df.collect()}
    b = {tuple(r) for r in batch_df.collect()}
    assert s == b and len(s) > 0


def test_streaming_sessionize_matches_batch(spark, sf_dir):
    """Native session_window through a real streaming query must equal the
    batch lag-gap algorithm (same boundary semantics: gap >= threshold splits)."""
    from tesseract_spark.streaming import sessions as sess

    stream_rows = {
        tuple(r)
        for r in sess.streaming_sessionize(spark, sf_dir, query_name="t_sess").collect()
    }
    batch_rows = {tuple(r) for r in sess.batch_sessionize(spark, sf_dir).collect()}
    assert stream_rows == batch_rows and len(batch_rows) > 0


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    """LSH ANN must return genuine bucket-mates ranked identically to exact
    cosine within the candidate set, with reasonable recall vs brute force."""
    from tesseract_spark.operators import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = similarity.brute_force_topk(embs, qids, k=5)
    approx = similarity.ann_lsh_topk(embs, qids, k=5)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_rows = approx.collect()
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert len(approx_rows) > 0
    # approx results are a subset of the corpus scored exactly — every returned
    # cos_sim must match the exact score for that pair
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(embs, qids, k=10**6).collect()
    }
    for r in approx_rows:
        assert abs(exact_scores[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9
    # recall floor: 4 tables × 6 planes over 10 labeled clusters should catch
    # most true top-5 neighbors in at least one table
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"suspiciously low LSH recall: {recall}"


def test_resolve_duplicate_clusters(spark):
    from pyspark.sql import functions as F

    from tesseract_spark.operators.dedup import resolve_duplicate_clusters

    # two clusters {1,2,3} (transitively) and {7,9}; 5 is a singleton
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    corpus = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], "id long")
    out = {
        r.doc_id: r.canonical_id
        for r in resolve_duplicate_clusters(pairs, corpus).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}

    # end-to-end: minhash candidates → clusters over real documents
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from tesseract_spark.operators.dedup import minhash_lsh_pairs

    cand = minhash_lsh_pairs(docs)
    resolved = resolve_duplicate_clusters(
        cand, docs.select(F.col("doc_id").alias("id"))
    )
    assert resolved.count() == docs.count()
    survivors = resolved.filter(F.col("doc_id") == F.col("canonical_id")).count()
    assert survivors < docs.count()  # some docs folded into clusters


def test_minhash_lsh_finds_near_dups(spark, sf_dir):
    """Candidate pairs from banded MinHash must overlap the exact
    high-Jaccard pairs (prefix-near-dup groups exist in testdata)."""
    from tesseract_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    cand = dedup.minhash_lsh_pairs(docs)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    cand_pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    if exact_pairs:
        recall = len(exact_pairs & cand_pairs) / len(exact_pairs)
        assert recall >= 0.5, f"minhash missed too many true near-dups: {recall}"


def test_text_analysis_empty_edge(spark):
    """Empty/whitespace docs must not error (ANSI off → NULL ratios, zero
    token counts), matching DuckDB's x/0 → NULL."""
    from tesseract_spark.operators.text import analyze_documents

    edge = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "the the the")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in analyze_documents(edge).collect()}
    assert rows[1].n_tokens == 0 and rows[1].punct_ratio is None
    assert rows[2].n_tokens == 0
    assert rows[3].n_tokens == 3 and rows[3].stopword_ratio == 1.0


def test_streaming_ingest_to_cube(spark, sf_dir, tmp_path):
    """End-to-end streaming warehouse: stream events into a parquet sink, lay
    the events cube over the sink, and run an OLAP query — results must equal
    the same cube query over the raw source."""
    import os

    from tesseract_spark.plans.builder import PlanBuilder
    from tesseract_spark.query.model import Query
    from tesseract_spark.sources.registry import TableRegistry
    from tesseract_spark.streaming import ingest
    from tesseract_spark.streaming.events import _normalize_ts

    src = tmp_path / "src"
    src.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", src / "events.parquet")
    sink = str(tmp_path / "sink")
    ingest.ingest_events(spark, str(src), sink, str(tmp_path / "ckpt"))

    reg = TableRegistry(spark)
    reg.register("events_ingested", spark.read.parquet(sink))
    b = PlanBuilder(spark, ingest.events_cube_schema(), reg)
    q = Query.from_params(
        {
            "drilldowns": ["Event Type.Event Type"],
            "measures": ["Events", "Total Value", "Users"],
        }
    )
    got = {r["Event Type"]: (r["Events"], r["Total Value"], r["Users"])
           for r in b.dataframe("events_cube", q).collect()}

    raw = _normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    import pyspark.sql.functions as F

    expect = {
        r["event_type"]: (r["n"], r["v"], r["u"])
        for r in raw.groupBy("event_type")
        .agg(
            F.count("event_id").alias("n"),
            F.sum("value").alias("v"),
            F.count_distinct("user_id").alias("u"),
        )
        .collect()
    }
    assert got == expect and len(got) >= 3


def test_multimodal_plumbing_batch_shape(spark, sf_dir):
    """mapInPandas runs batched (not row-at-a-time); decode_media still
    honestly refuses codec-requiring formats."""
    from tesseract_spark.operators import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = multimodal.multimodal_features(docs)
    row = feats.orderBy("doc_id").first()
    assert row.n_bytes > 0 and len(row.sha256_8) == 8
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG\r\n", "image")


def test_decode_bmp_round_trip_and_variants():
    """Real BMP decode: encode→decode inverts (incl. widths that force row
    padding), top-down negative-height files parse, BGR order is honored."""
    import struct

    from tesseract_spark.operators import multimodal as mm

    # width 5 -> stride 16 with 1 padding byte per row
    pixels = bytes(range(5 * 3))
    img = mm.decode_media(mm.encode_bmp_gray(pixels, 5, 3), "image")
    assert (img["width"], img["height"], img["channels"]) == (5, 3, 3)
    assert img["pixels"] == b"".join(bytes((b, b, b)) for b in pixels)

    # hand-built top-down (negative height) 1x2 24-bit BMP with distinct BGR
    data = bytes((255, 0, 0)) + b"\x00" + bytes((0, 0, 255)) + b"\x00"  # blue px, red px
    raw = (
        struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, -2, 1, 24, 0, len(data), 0, 0, 0, 0)
        + data
    )
    img = mm.decode_media(raw, "image")
    # row 0 is the FIRST stored row (top-down), BGR(255,0,0) -> RGB(0,0,255)
    assert img["pixels"] == bytes((0, 0, 255)) + bytes((255, 0, 0))

    with pytest.raises(NotImplementedError):
        mm.decode_bmp(raw[:30] + struct.pack("<I", 1) + raw[34:])  # RLE8


def test_decode_ppm_and_wav():
    import io
    import wave

    from tesseract_spark.operators import multimodal as mm

    ppm = b"P6\n# comment\n2 2\n255\n" + bytes(range(12))
    img = mm.decode_media(ppm, "image")
    assert (img["width"], img["height"]) == (2, 2)
    assert img["pixels"] == bytes(range(12))
    pgm = b"P5\n2 1\n255\n" + bytes((7, 9))
    assert mm.decode_media(pgm, "image")["pixels"] == bytes((7, 7, 7, 9, 9, 9))

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x01\x02\x03\x04")
    audio = mm.decode_media(buf.getvalue(), "audio")
    assert audio["sample_rate"] == 8000 and audio["n_frames"] == 2
    assert audio["pcm"] == b"\x01\x02\x03\x04"


def test_decoded_image_features_matches_module_decoder(spark, sf_dir):
    """The Spark entry's self-contained closure must agree with the public
    module-level encode/decode pair (guards the deliberate duplication), and
    the md5 must pin the tripled-byte top-down stream."""
    import hashlib

    from tesseract_spark.operators import multimodal as mm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    got = {r.doc_id: r for r in mm.decoded_image_features(docs).collect()}
    for src in docs.select("doc_id", "text").collect():
        payload = src.text.encode()
        h = len(payload) // 16
        if h == 0:
            assert src.doc_id not in got
            continue
        img = mm.decode_media(mm.encode_bmp_gray(payload[: 16 * h], 16, h), "image")
        r = got[src.doc_id]
        assert (r.width, r.height) == (img["width"], img["height"])
        # portable lowercase-hex md5 (round 7): hash of the hex text, not raw bytes
        assert r.pixels_md5 == hashlib.md5(img["pixels"].hex().encode()).hexdigest()


def test_png_round_trip_every_filter():
    """PNG encode→decode inverts for each scanline filter type alone AND for
    the cycling encoder (every filter on the same image), on data crafted to
    stress each predictor; corrupt CRC and unsupported variants fail loudly."""
    import struct
    import zlib

    from tesseract_spark.operators import multimodal as mm

    # gradient + noise pattern: left/up/avg/paeth predictors all differ
    w, h = 7, 10
    pixels = bytes(((x * 37 + y * 101 + (x * y) % 13) % 256) for y in range(h) for x in range(w))

    # cycling encoder exercises filters 0..4 across rows
    png = mm.encode_png_gray(pixels, w, h, filter_cycle=True)
    img = mm.decode_media(png, "image")
    assert (img["width"], img["height"], img["channels"]) == (w, h, 3)
    assert img["pixels"] == b"".join(bytes((b, b, b)) for b in pixels)

    # each filter type alone: hand-build single-filter PNGs via the module
    # primitives to pin each reconstruction function independently
    def chunk(ctype, data):
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", zlib.crc32(ctype + data) & 0xFFFFFFFF
        )

    for ft in range(5):
        raw = bytearray()
        prior = bytes(w)
        for y in range(h):
            row = pixels[y * w : (y + 1) * w]
            raw.append(ft)
            for x in range(w):
                left = row[x - 1] if x else 0
                up = prior[x]
                ul = prior[x - 1] if x else 0
                pred = (
                    0 if ft == 0 else left if ft == 1 else up if ft == 2
                    else (left + up) >> 1 if ft == 3 else mm._paeth(left, up, ul)
                )
                raw.append((row[x] - pred) & 0xFF)
            prior = row
        png1 = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        assert mm.decode_png(png1)["pixels"] == b"".join(
            bytes((b, b, b)) for b in pixels
        ), f"filter {ft} reconstruction broken"

    # RGB (color type 2) decodes without tripling
    rgb = bytes(range(2 * 1 * 3))
    raw = b"\x00" + rgb[:6]
    png_rgb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert mm.decode_png(png_rgb)["pixels"] == rgb[:6]

    # corrupt CRC fails loudly
    bad = bytearray(png)
    bad[-5] ^= 0xFF  # inside IEND CRC
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(bad))
    # 16-bit decodes since late r14 (top-byte preview mapping); the
    # remaining deliberate boundary is sub-8-bit grayscale
    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\xAB\xCD"))
        + chunk(b"IEND", b"")
    )
    assert mm.decode_png(png16)["pixels"] == b"\xab\xab\xab"
    # sub-8-bit grayscale decodes since r15 (the last PNG layout): a 4-bit
    # row packing samples 0x0, 0x0 scales by 17 to two black pixels
    png_g4 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 4, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x0f"))  # samples 0x0, 0xF
        + chunk(b"IEND", b"")
    )
    assert mm.decode_png(png_g4)["pixels"] == b"\x00\x00\x00\xff\xff\xff"


def test_image_ahash_near_dup_pairs_matches_bruteforce_oracle(spark, duck, sf_dir):
    """Banded hamming-LSH candidate generation must find EXACTLY the pairs
    the brute-force all-distinct-hash scan finds (8x8-bit banding is
    exact-recall at hamming <= 7), on the real corpus."""
    from tesseract_spark.operators.multimodal import (
        image_ahash_near_dup_pairs,
        image_ahash_near_dup_pairs_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        (r.hash_a, r.hash_b, r.hamming, r.n_images_a, r.n_images_b)
        for r in image_ahash_near_dup_pairs(docs).collect()
    )
    want = sorted(map(tuple, duck.execute(image_ahash_near_dup_pairs_oracle_sql()).fetchall()))
    assert got == want


def test_image_ahash_near_dup_planted_perturbation(spark):
    """An image with a handful of strongly perturbed pixels must surface as
    a NEAR-dup pair (small positive hamming) while an unrelated image must
    not; exact duplicates (hamming 0) are excluded — they belong to the
    groups operator."""
    from tesseract_spark.operators.multimodal import (
        image_ahash,
        image_ahash_near_dup_pairs,
    )

    # ASCII-safe pixel values (<128) so the operator's UTF-8 encode is 1:1
    # with the intended byte grid. 16x32 -> 8x8 blocks of 2x4 pixels each;
    # base is a hard left/right split (left blocks far BELOW the mean,
    # right far ABOVE), so exactly the perturbed block flips.
    w = 16
    base = bytes((10 if x < 8 else 110) for y in range(32) for x in range(w))
    pert = bytearray(base)
    for y in range(4):  # block (0,0) only: rows 0-3, cols 0-1
        for x in range(2):
            pert[y * w + x] = 125
    noise = bytes((10 if (x + y) % 2 == 0 else 110) for y in range(32) for x in range(w))
    docs = spark.createDataFrame(
        [
            (1, base.decode("ascii")),
            (2, bytes(pert).decode("ascii")),
            (3, base.decode("ascii")),  # exact dup of 1 -> hamming 0, excluded
            (4, noise.decode("ascii")),
        ],
        "doc_id long, text string",
    )
    hashes = {r.doc_id: r.ahash for r in image_ahash(docs, w).collect()}
    assert hashes[1] == hashes[3] and hashes[1] != hashes[2]

    pairs = {
        (r.hash_a, r.hash_b): r.hamming
        for r in image_ahash_near_dup_pairs(docs, w, max_hamming=7).collect()
    }
    near = tuple(sorted((hashes[1], hashes[2])))
    assert near in pairs and pairs[near] == 1  # exactly the perturbed block
    for (a, b) in pairs:
        assert hashes[4] not in (a, b), "unrelated image matched as near-dup"


def test_audio_fp_near_dup_pairs_matches_bruteforce_oracle(spark, duck, sf_dir):
    """The audio analog of the image near-dup banding: banded candidates
    over distinct fingerprints must equal the brute-force scan exactly."""
    from tesseract_spark.operators.multimodal import (
        audio_fp_near_dup_pairs,
        audio_fp_near_dup_pairs_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        (r.fp_a, r.fp_b, r.hamming, r.n_clips_a, r.n_clips_b)
        for r in audio_fp_near_dup_pairs(docs).collect()
    )
    want = sorted(
        map(tuple, duck.execute(audio_fp_near_dup_pairs_oracle_sql()).fetchall())
    )
    assert got == want


def test_audio_fp_near_dup_planted_envelope_shift(spark):
    """A clip whose loudness envelope differs in exactly one frame must
    surface at hamming 1; quiet-vs-loud alternation must not match."""
    from tesseract_spark.operators.multimodal import (
        audio_energy_fingerprint,
        audio_fp_near_dup_pairs,
    )

    nf = 32
    frame = 8  # bytes per frame
    # base: loud in even frames (value far from 128 -> high energy), quiet
    # in odd ones (128 -> zero energy); ASCII-safe values
    def clip(loud_frames):
        out = bytearray()
        for f in range(nf):
            out += bytes([40 if f in loud_frames else 127] * frame)
        return bytes(out).decode("ascii")

    loud = {f for f in range(nf) if f % 2 == 0}
    base = clip(loud)
    shifted = clip((loud - {0}) | {1})  # frame 0 quiet, frame 1 loud
    docs = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    fps = {r.doc_id: r.audio_fp for r in audio_energy_fingerprint(docs, nf).collect()}
    assert fps[1] != fps[2]
    pairs = {
        (r.fp_a, r.fp_b): r.hamming
        for r in audio_fp_near_dup_pairs(docs, nf, max_hamming=3).collect()
    }
    key = tuple(sorted((fps[1], fps[2])))
    assert key in pairs and pairs[key] == 2  # two frame bits moved


def test_audio_fp_near_dup_wide_fingerprint_no_overflow(spark):
    """n_frames=64 makes the fingerprint 16 hex chars; a single BIGINT
    parse of it overflows past 2^63 to NULL and silently drops true pairs
    (ADVICE r7). With the chunked XOR the planted 2-bit pair must survive —
    including a fingerprint whose TOP bit is set (the overflow trigger)."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.multimodal import (
        audio_energy_fingerprint,
        audio_fp_near_dup_pairs,
    )

    nf = 64
    frame = 8

    def clip(loud_frames):
        out = bytearray()
        for f in range(nf):
            out += bytes([40 if f in loud_frames else 127] * frame)
        return bytes(out).decode("ascii")

    # odd frames loud → frame 63 sets the fingerprint MSB → value >= 2^63
    loud = {f for f in range(nf) if f % 2 == 1}
    base = clip(loud)
    shifted = clip((loud - {3}) | {2})
    docs = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    fps = {r.doc_id: r.audio_fp for r in audio_energy_fingerprint(docs, nf).collect()}
    assert len(fps[1]) == 16 and int(fps[1], 16) >= 2**63  # overflow regime
    pairs = {
        (r.fp_a, r.fp_b): r.hamming
        for r in audio_fp_near_dup_pairs(docs, nf, max_hamming=3).collect()
    }
    key = tuple(sorted((fps[1], fps[2])))
    assert key in pairs and pairs[key] == 2


def test_bmp_wav_decoders_reject_malformed_inputs():
    """The BMP and WAV decoders must also fail loudly on corrupt
    containers: truncated pixel data reads what exists (bounded), but wrong
    magic, unsupported bit depths, and non-RIFF payloads raise."""
    import struct

    from tesseract_spark.operators import multimodal as mm

    # wrong magic
    with pytest.raises(ValueError, match="not a BMP"):
        mm.decode_bmp(b"XX" + b"\x00" * 60)
    # 8-bit palette BMP unsupported (honest boundary)
    hdr = (
        struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, 4, 0, 0, 0, 0)
        + b"\x00\x00\x00\x00"
    )
    with pytest.raises(NotImplementedError, match="8-bit"):
        mm.decode_bmp(hdr)
    # BITMAPCOREHEADER (dib size < 40)
    core = struct.pack("<2sIHHI", b"BM", 26, 0, 0, 26) + struct.pack(
        "<IHHHH", 12, 1, 1, 1, 24
    )
    with pytest.raises(NotImplementedError, match="BITMAPCOREHEADER"):
        mm.decode_bmp(core)
    # WAV: non-RIFF payload through decode_media hits the honest NIE fence
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"\x00\x01\x02\x03" * 4, "audio")


def test_png_decoder_rejects_malformed_inputs():
    """Corrupt containers must fail LOUDLY (ValueError /
    NotImplementedError), never return garbage pixels: truncated IDAT,
    IDAT length mismatch, missing IHDR, invalid filter byte, bad zlib
    stream."""
    import struct
    import zlib

    from tesseract_spark.operators import multimodal as mm

    def chunk(ctype, data):
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", zlib.crc32(ctype + data) & 0xFFFFFFFF
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))

    # IDAT holds too few scanline bytes (length mismatch after inflate)
    short = sig + ihdr + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02")) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="length mismatch"):
        mm.decode_png(short)

    # invalid scanline filter type 9
    bad_filter = sig + ihdr + chunk(
        b"IDAT", zlib.compress(b"\x09\x01\x02" + b"\x00\x03\x04")
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="filter 9"):
        mm.decode_png(bad_filter)

    # IDAT not valid zlib
    with pytest.raises(Exception):
        mm.decode_png(sig + ihdr + chunk(b"IDAT", b"notzlib") + chunk(b"IEND", b""))

    # missing IHDR entirely
    with pytest.raises(ValueError, match="IHDR"):
        mm.decode_png(sig + chunk(b"IEND", b""))

    # not a PNG at all
    with pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png(b"GIF89a....")


def test_png_round_trip_fuzz():
    """Property fuzz: encode→decode is the identity for arbitrary byte
    grids over a spread of widths/heights (both filter modes), including
    degenerate 1-pixel and 1-row/1-column shapes."""
    import random

    from tesseract_spark.operators import multimodal as mm

    rng = random.Random(0x5EED)
    shapes = [(1, 1), (1, 7), (7, 1), (2, 2), (5, 3), (16, 11), (33, 4)]
    for w, h in shapes:
        for cycle in (False, True):
            pixels = bytes(rng.randrange(256) for _ in range(w * h))
            img = mm.decode_png(mm.encode_png_gray(pixels, w, h, filter_cycle=cycle))
            assert (img["width"], img["height"]) == (w, h)
            assert img["pixels"] == b"".join(bytes((b, b, b)) for b in pixels), (
                f"round-trip broken at {w}x{h} cycle={cycle}"
            )


def test_decoded_png_features_matches_module_decoder(spark, sf_dir):
    """The PNG Spark entry's self-contained closure must agree with the
    module-level encode_png_gray/decode_png pair, and the round-trip must be
    the identity (so the md5 equals the BMP entry's for the same doc)."""
    import hashlib

    from tesseract_spark.operators import multimodal as mm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    got = {r.doc_id: r for r in mm.decoded_png_features(docs).collect()}
    for src in docs.select("doc_id", "text").collect():
        payload = src.text.encode()
        h = len(payload) // 16
        if h == 0:
            assert src.doc_id not in got
            continue
        img = mm.decode_media(mm.encode_png_gray(payload[: 16 * h], 16, h), "image")
        r = got[src.doc_id]
        assert (r.width, r.height) == (img["width"], img["height"])
        assert r.pixels_md5 == hashlib.md5(img["pixels"].hex().encode()).hexdigest()


def test_minhash_lsh_oversize_bucket_star_expansion(spark):
    """A degenerate bucket (every doc identical) above max_bucket must expand
    linearly (star pairs) instead of O(c²), and clustering must be unchanged."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.dedup import minhash_lsh_pairs, resolve_duplicate_clusters

    n = 2000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page body repeated verbatim everywhere").alias(
            "text"
        ),
    )
    pairs = minhash_lsh_pairs(docs, max_bucket=64)
    # star expansion: every member paired with the bucket min (id 0)
    assert pairs.count() == n - 1
    assert pairs.filter(F.col("id_a") != 0).count() == 0
    resolved = resolve_duplicate_clusters(pairs)
    assert resolved.filter(F.col("canonical_id") != 0).count() == 0
    assert resolved.count() == n

    # below the cap the same corpus produces the full quadratic pair set
    small = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("identical tiny doc").alias("text")
    )
    full = minhash_lsh_pairs(small, max_bucket=64)
    assert full.count() == 10 * 9 // 2

    # structural buffer bound (VERDICT r7 #4): the only set-collecting
    # aggregate in the plan must sit ABOVE the <= max_bucket size filter, so
    # its per-key buffer can never exceed max_bucket; the star branch is
    # windowed count/min + filter — no collection anywhere
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("collect_set") >= 1
    seg = plan[: plan.index("collect_set")]  # operators ABOVE feed the agg
    assert "__n" in plan  # size annotation present
    # the collect_set subtree filters on (__n <= 64); the star subtree on
    # (__n > 64) with no collect_set below it
    import re

    assert re.search(r"__n#\d+L? <= 64", plan), plan[:2000]
    assert re.search(r"__n#\d+L? > 64", plan)


def test_minhash_lsh_million_member_bucket_capped_heap():
    """VERDICT r7 #4 'done' gate: a planted 10⁶-member degenerate bucket
    must pass in a SUBPROCESS JVM capped at 512m driver/executor memory —
    the shape that OOMs if any per-key aggregation buffer scales with
    bucket size. Runs in its own process because local-mode heap size is
    fixed at JVM launch."""
    import pathlib
    import subprocess
    import sys
    import textwrap

    _repo_root = pathlib.Path(__file__).resolve().parents[1]
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, %r)
        from pyspark.sql import SparkSession, functions as F
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.driver.memory", "512m")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        from tesseract_spark.operators.dedup import minhash_lsh_pairs
        n = 1_000_000
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.lit("the same boilerplate page body repeated everywhere").alias("text"),
        )
        pairs = minhash_lsh_pairs(docs, max_bucket=64)
        assert pairs.count() == n - 1
        assert pairs.filter(F.col("id_a") != 0).count() == 0
        print("CAPPED-HEAP-OK")
        """
    ) % str(_repo_root)
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert "CAPPED-HEAP-OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_components_distributed_matches_union_find(spark):
    """The iterative label-propagation path must produce the identical mapping
    as the driver-side union-find, including on a long path graph (worst case
    for propagation depth)."""
    from tesseract_spark.operators.dedup import resolve_duplicate_clusters

    # chain 0-1-2-...-29 (diameter 29), plus a star and singleton-free corpus
    chain = [(i, i + 1) for i in range(29)]
    star = [(100, x) for x in (101, 105, 103)]
    cross = [(200, 300), (250, 300), (200, 400)]
    pairs = spark.createDataFrame(chain + star + cross, "id_a long, id_b long")
    a = {
        (r.doc_id, r.canonical_id)
        for r in resolve_duplicate_clusters(pairs, distributed=False).collect()
    }
    b = {
        (r.doc_id, r.canonical_id)
        for r in resolve_duplicate_clusters(pairs, distributed=True).collect()
    }
    assert a == b
    assert {(i, 0) for i in range(30)} <= a

    # threshold autoswitch: tiny edge_threshold forces the distributed path
    c = {
        (r.doc_id, r.canonical_id)
        for r in resolve_duplicate_clusters(pairs, edge_threshold=2).collect()
    }
    assert c == a


def test_ngram_jaccard_corpus_guard(spark, sf_dir):
    """The quadratic verification path must refuse oversized corpora unless
    explicitly overridden."""
    import pytest as _pytest

    from tesseract_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _pytest.raises(ValueError, match="max_docs"):
        ngram_jaccard_pairs(docs, max_docs=10)
    # explicit override and under-limit both run
    assert ngram_jaccard_pairs(docs.limit(5), max_docs=10).count() >= 0
    assert ngram_jaccard_pairs(docs.limit(5), max_docs=None).count() >= 0


def test_ivf_topk_recall_and_exact_scores(spark, sf_dir):
    """IVF candidates are scored exactly (scores must match brute force for the
    same pair) and probing 2 of 8 lists must retain reasonable recall."""
    from tesseract_spark.operators import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    ivf = similarity.ivf_topk(embs, qids, k=5).collect()
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(embs, qids, k=10**6).collect()
    }
    for r in ivf:
        assert abs(exact[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9
    true_top = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(embs, qids, k=5).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(true_top & got) / len(true_top)
    assert recall >= 0.3, f"suspiciously low IVF recall: {recall}"
    # probing ALL lists must recover the exact top-k (IVF exactness limit)
    full = similarity.ivf_topk(embs, qids, k=5, n_centroids=8, nprobe=8)
    got_full = {(r.query_id, r.neighbor_id) for r in full.collect()}
    assert got_full == true_top


def test_ivf_sampled_training(spark, sf_dir):
    """Above train_max_rows the Lloyd loop trains on a deterministic hash
    sample: results stay valid (k exact-scored neighbors per query) and
    partitioning-independent; below the threshold results are identical to
    unsampled training (the default path every oracle run takes)."""
    from tesseract_spark.operators import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2]
    key = lambda rows: sorted((r.query_id, r.neighbor_id, r.cos_sim) for r in rows)  # noqa: E731

    # corpus < threshold -> sample is a no-op: bit-identical to disabled
    base = key(similarity.ivf_topk(embs, qids, k=5, train_max_rows=None).collect())
    assert key(similarity.ivf_topk(embs, qids, k=5).collect()) == base

    # force sampling: still k neighbors per query, exact scores, and the
    # hash-bucket sample is partitioning-independent
    sampled = key(similarity.ivf_topk(embs, qids, k=5, train_max_rows=100).collect())
    assert len(sampled) == 3 * 5
    resh = key(
        similarity.ivf_topk(
            embs.repartition(7), qids, k=5, train_max_rows=100
        ).collect()
    )
    assert resh == sampled
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(embs, qids, k=10**6).collect()
    }
    for q, nb, cs in sampled:
        assert abs(exact[(q, nb)] - cs) < 1e-9


def test_pq_topk_exact_scores_recall_and_limit(spark, sf_dir):
    """PQ candidates are rescored exactly (scores match brute force for the
    same pair); default rerank keeps reasonable recall; and rerank >= corpus
    size degrades PQ to exact top-k (the candidate set is everything, so the
    exact rescore fully recovers brute force — the PQ exactness limit)."""
    from tesseract_spark.operators import pq, similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    res = pq.pq_topk(embs, qids, k=5).collect()
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(embs, qids, k=10**6).collect()
    }
    for r in res:
        assert abs(exact[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9
    true_top = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(embs, qids, k=5).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in res}
    recall = len(true_top & got) / len(true_top)
    assert recall >= 0.3, f"suspiciously low PQ recall: {recall}"
    n = embs.count()
    full = {
        (r.query_id, r.neighbor_id)
        for r in pq.pq_topk(embs, qids, k=5, rerank=n).collect()
    }
    assert full == true_top


def test_pq_encode_codes_are_codebook_members(spark, sf_dir):
    """Every corpus row encodes to exactly m codes, each a cid of its
    subspace's codebook — and the codes table is the ONLY thing the ADC scan
    reads, so this is the compression contract (m longs per vector)."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import pq

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = embs.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    m, n_codes, dim = 4, 16, 64
    books = pq.pq_codebooks(vecs, m, n_codes, dim)
    codes = pq.pq_encode(vecs, books, dim)
    rows = codes.collect()
    assert len(rows) == embs.count()
    allowed = [
        {r.cid for r in b.select("cid").collect()} for b in books
    ]
    for r in rows[:50]:
        assert len(r.codes) == m
        for j, c in enumerate(r.codes):
            assert c in allowed[j]


def test_pq_partitioning_independent(spark, sf_dir):
    """The per-batch partial top-rerank inside the ADC scan must not change
    the global result: repartitioning the corpus gives identical output (a
    batch's partial top-rerank is a superset-of-survivors selection)."""
    from tesseract_spark.operators import pq

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2]
    key = lambda rows: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in rows
    )
    base = key(pq.pq_topk(embs, qids, k=5).collect())
    resh = key(pq.pq_topk(embs.repartition(7), qids, k=5).collect())
    assert resh == base and len(base) == 3 * 5


def test_pq_empty_and_validation(spark, sf_dir):
    """Empty corpus yields an empty typed result (no raise — the ADVICE r9
    empty-slice contract); dim not divisible by m raises loudly."""
    import pytest as _pytest

    from tesseract_spark.operators import pq

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    empty = embs.where("vec_id < 0")
    out = pq.pq_topk(empty, [0, 1])
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    with _pytest.raises(ValueError):
        pq.pq_codebooks(
            embs.selectExpr("vec_id AS id", "embedding AS vec"), m=5, dim=64
        )


def test_stateful_user_stats_stream_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState per-user running stats: the final streaming state
    must equal the one-groupBy batch computation."""
    import os

    from tesseract_spark.streaming import state as st
    from tesseract_spark.streaming.events import read_events

    src = tmp_path / "src"
    src.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", src / "events.parquet")

    streamed = {
        r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
        for r in st.user_stats_streaming(spark, str(src)).collect()
    }
    batch = {
        r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
        for r in st.user_stats_batch(read_events(spark, sf_dir)).collect()
    }
    assert set(streamed) == set(batch)
    for uid, (n, total, last) in batch.items():
        sn, stotal, slast = streamed[uid]
        assert sn == n and slast == last
        assert abs(stotal - total) < 1e-9


def _protobuf_runtime_shim() -> "str | None":
    """Path to a google.protobuf runtime when the interpreter lacks one, or
    "" when it imports as-is, or None when none is usable. The container has
    no pip-installed protobuf, but a modern runtime (6.x) ships inside the
    preinstalled Cloud SDK; validated in a CLEAN subprocess (the shim must
    satisfy StateMessage_pb2's runtime_version import, not just exist)."""
    import importlib.util
    import os
    import subprocess
    import sys

    if importlib.util.find_spec("google") is not None:
        try:
            if importlib.util.find_spec("google.protobuf") is not None:
                return ""
        except ModuleNotFoundError:
            pass
    candidates = ["/usr/lib/google-cloud-sdk/platform/google_appengine"]
    for c in candidates:
        if not os.path.isdir(os.path.join(c, "google", "protobuf")):
            continue
        probe = subprocess.run(
            [
                sys.executable,
                "-c",
                "import google.protobuf, google.protobuf.runtime_version",
            ],
            env={**os.environ, "PYTHONPATH": c},
            capture_output=True,
            timeout=60,
        )
        if probe.returncode == 0:
            return c
    return None


def test_stateful_tws_matches_batch(spark, sf_dir, tmp_path):
    """Spark 4 transformWithStateInPandas (typed ValueState, RocksDB store):
    the same per-user stats through the successor API must also equal the
    batch groupBy. The TWS runtime speaks protobuf to the JVM state server;
    where the interpreter lacks google.protobuf the equivalence runs in a
    SUBPROCESS with a validated on-disk runtime on PYTHONPATH (set before
    the JVM starts so Python workers inherit it — VERDICT r10 'next round'
    #5, the suite's one environment skip)."""
    import os
    import subprocess
    import sys

    shim = _protobuf_runtime_shim()
    if shim is None:
        pytest.skip("no usable google.protobuf runtime on this machine")

    src = tmp_path / "src_tws"
    src.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", src / "events.parquet")

    if shim == "":
        from tesseract_spark.streaming import state as st
        from tesseract_spark.streaming.events import read_events

        streamed = {
            r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
            for r in st.user_stats_streaming_tws(spark, str(src)).collect()
        }
        batch = {
            r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
            for r in st.user_stats_batch(read_events(spark, sf_dir)).collect()
        }
        assert set(streamed) == set(batch)
        for uid, (n, total, last) in batch.items():
            sn, stotal, slast = streamed[uid]
            assert sn == n and slast == last
            assert abs(stotal - total) < 1e-9
        return

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "tws_equiv.py"
    script.write_text(
        f"""
import sys
from tesseract_spark.session import get_spark
from tesseract_spark.streaming import state as st
from tesseract_spark.streaming.events import read_events

spark = get_spark("tws_subprocess")
streamed = {{
    r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
    for r in st.user_stats_streaming_tws(spark, {str(src)!r}).collect()
}}
batch = {{
    r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
    for r in st.user_stats_batch(read_events(spark, {sf_dir!r})).collect()
}}
assert set(streamed) == set(batch), (len(streamed), len(batch))
for uid, (n, total, last) in batch.items():
    sn, stotal, slast = streamed[uid]
    assert sn == n and slast == last, (uid, sn, n, slast, last)
    assert abs(stotal - total) < 1e-9, (uid, stotal, total)
print("TWS_EQUIV_OK", len(batch))
"""
    )
    env = {**os.environ, "PYTHONPATH": f"{repo}{os.pathsep}{shim}"}
    env["SPARK_DRIVER_MEMORY"] = "4g"  # second JVM beside the suite session
    # the shim runtime (6.32.0-dev) is one minor behind StateMessage_pb2's
    # gencode (6.33.0); protobuf's own escape hatch accepts the gap — the
    # wire format is stable across it (cross-version-runtime-guarantee)
    env["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    run = subprocess.run(
        [sys.executable, str(script)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, f"stdout:\n{run.stdout}\nstderr:\n{run.stderr[-4000:]}"
    assert "TWS_EQUIV_OK" in run.stdout


def test_asof_join_semantics(spark):
    """Inclusive at-or-before match, NULL when no prior right row, resets per
    key."""
    import datetime as dt

    from tesseract_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2020, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, t(5), 50.0), (1, t(10), 100.0), (2, t(3), 30.0)],
        "user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(1, t(5), 1.0), (1, t(7), 2.0), (3, t(1), 9.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {
        (r.user_id, r.ts): (r.ts_asof, r.value_asof)
        for r in asof_join(left, right, on=["user_id"]).collect()
    }
    assert out[(1, t(5))] == (t(5), 1.0)  # inclusive: right at the same ts wins
    assert out[(1, t(10))] == (t(7), 2.0)  # latest at-or-before
    assert out[(2, t(3))] == (None, None)  # no right rows for key 2


def test_range_join_boundaries(spark):
    """Inclusive [ts-w, ts] window; bucket decomposition must not lose
    matches that straddle a bucket edge."""
    import datetime as dt

    from tesseract_spark.operators.rangejoin import range_join

    t = lambda s: dt.datetime(2020, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(1, t(100)), (2, t(100))], "user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        # for user 1 (window 10s → [90, 100]): 89 out, 90 in (lower edge),
        # 95 in (crosses bucket 8→9 boundary for left bucket 10), 100 in
        # (upper edge), 101 out; user 2 has no rows in-window
        [(1, t(89)), (1, t(90)), (1, t(95)), (1, t(100)), (1, t(101)), (2, t(50))],
        "user_id long, ts timestamp",
    )
    out = range_join(left, right, ["user_id"], 10)
    got = sorted((r.user_id, r.ts_r.second) for r in out.collect())
    assert got == [(1, 30), (1, 35), (1, 40)]  # seconds 90,95,100 → .second


def test_deterministic_split_stability(spark):
    """Split assignment is a pure function of (seed, id): repartitioning must
    not change membership, and fractions must land near the weights."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.sampling import deterministic_split

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in deterministic_split(df, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in deterministic_split(df.repartition(7), "doc_id").collect()
    }
    assert a == b
    n = len(a)
    frac_train = sum(1 for v in a.values() if v == "train") / n
    frac_val = sum(1 for v in a.values() if v == "val") / n
    assert abs(frac_train - 0.8) < 0.03 and abs(frac_val - 0.1) < 0.02


def test_sample_per_group_exact_k_and_stable(spark):
    from tesseract_spark.operators.sampling import sample_per_group

    df = (
        spark.range(0, 300)
        .withColumnRenamed("id", "doc_id")
        .selectExpr("doc_id", "doc_id % 3 AS g")
    )
    s1 = sample_per_group(df, ["g"], 7, id_col="doc_id")
    s2 = sample_per_group(df.repartition(5), ["g"], 7, id_col="doc_id")
    rows1 = sorted((r.g, r.doc_id) for r in s1.collect())
    rows2 = sorted((r.g, r.doc_id) for r in s2.collect())
    assert rows1 == rows2
    from collections import Counter

    assert Counter(g for g, _ in rows1) == {0: 7, 1: 7, 2: 7}


def test_repetition_score_semantics(spark):
    from tesseract_spark.operators.text import repetition_scores

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # 7 3-grams, 3 distinct → 4/7 dup
            (2, "one two three four five"),  # all distinct → 0
            (3, "xx"),  # shorter than n → 0 by convention
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.rep_3gram for r in repetition_scores(df).collect()}
    assert abs(out[1] - 4 / 7) < 1e-12
    assert out[2] == 0.0 and out[3] == 0.0


def test_streaming_dedup_exactly_once(spark, sf_dir):
    """A stream delivering every event twice must come out exactly-once:
    equal to the batch distinct of a single copy."""
    from tesseract_spark.streaming.dedup import streaming_dedup_demo
    from tesseract_spark.streaming.events import read_events

    deduped = streaming_dedup_demo(spark, sf_dir, query_name="t_dedup_stream")
    batch = read_events(spark, sf_dir)
    assert deduped.count() == batch.count()
    assert deduped.select("event_id").distinct().count() == batch.count()


def test_rollup_sink_partition_pruning(spark, sf_dir, tmp_path):
    """Materialized rollup reads must prune partition directories on a
    partition-column filter, and round-trip the data."""
    from pyspark.sql import functions as F

    from tesseract_spark.catalog import ENTRIES
    from tesseract_spark.sources.rollup_sink import read_rollup, write_rollup

    agg = ENTRIES["q_agg_year"].spark_fn(spark, sf_dir)
    path = str(tmp_path / "rollup_year")
    write_rollup(agg, path, ["Year"])

    back = read_rollup(spark, path)
    assert {tuple(sorted(r.asDict().items())) for r in back.collect()} == {
        tuple(sorted(r.asDict().items())) for r in agg.collect()
    }

    one_year = back.filter(F.col("Year") == 1995)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "Year" in plan.split("PartitionFilters")[1][:120]
    assert one_year.count() == 1


def test_incremental_rollup_upsert_matches_batch(spark, sf_dir, tmp_path):
    """Streaming foreachBatch upsert into the partitioned rollup must equal
    the batch windowed aggregate, and reads must partition-prune by date."""
    import os

    from pyspark.sql import functions as F

    from tesseract_spark.sources.rollup_sink import read_rollup
    from tesseract_spark.streaming import events as ev
    from tesseract_spark.streaming.ingest import incremental_rollup

    src = tmp_path / "src"
    src.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", src / "events.parquet")
    rollup = str(tmp_path / "rollup")
    incremental_rollup(spark, str(src), rollup, str(tmp_path / "ckpt"))

    got = read_rollup(spark, rollup).drop("window_date")
    want = ev.windowed_agg(ev.read_events(spark, sf_dir))
    g = {tuple(sorted(r.asDict().items())) for r in got.collect()}
    w = {tuple(sorted(r.asDict().items())) for r in want.collect()}
    assert g == w and len(g) > 0

    one_day = read_rollup(spark, rollup).filter(F.col("window_date") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert one_day.count() > 0


def test_ivf_index_bit_equal_to_in_memory_and_prunes(spark, sf_dir, tmp_path):
    """The persistent IVF index must return EXACTLY what the in-memory
    ivf_topk computes (same trained centroids + assignments, serialized and
    served back), and the probed-list scan must statically partition-prune
    on cid (PartitionFilters in the plan) — VERDICT r6 #5."""
    from tesseract_spark.operators import ann_index, similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    want = sorted(map(tuple, similarity.ivf_topk(embs, qids).collect()))

    path = str(tmp_path / "ivf")
    ann_index.build_ivf_index(embs, path)
    got_df = ann_index.query_ivf_index(spark, path, qids)
    assert sorted(map(tuple, got_df.collect())) == want

    # the scan the query path builds must carry the cid partition filter
    pruned = ann_index.pruned_lists_scan(spark, path, [1, 3])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters")[1][:160]
    # and prune for real: only the two probed directories' rows survive
    assert set(r["cid"] for r in pruned.select("cid").distinct().collect()) <= {1, 3}

    # the query-VECTOR lookup must be pruned too (ADVICE r7): the id_index
    # scan carries an id_bucket partition filter, so looking up a query
    # batch never touches the full corpus
    from pyspark.sql import functions as F

    buckets = sorted({q % ann_index.N_ID_BUCKETS for q in qids})
    idx_scan = spark.read.parquet(f"{path}/id_index").filter(
        F.col("id_bucket").isin(buckets) & F.col("id").isin(qids)
    )
    idx_plan = idx_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in idx_plan
    assert "id_bucket" in idx_plan.split("PartitionFilters")[1][:200]


def test_ivfpq_index_serves_prunes_and_column_prunes(spark, sf_dir, tmp_path):
    """IVF-PQ serving: querying with an indexed row's own vector returns
    that row at rank 1 / cos 1.0; the probed codes scan statically
    partition-prunes on cid AND column-prunes to (id, codes) — the vec
    column must NOT be in the ADC scan's ReadSchema (the PQ memory story is
    a physical property of the plan, not a convention)."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    ann_index.build_ivfpq_index(embs, path)

    v0 = [float(x) for x in embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    res = ann_index.query_ivfpq_index(spark, path, [(100, v0)], k=3).collect()
    by_rank = {r.rank: r for r in res}
    assert by_rank[1].neighbor_id == 0 and by_rank[1].cos_sim == 1.0

    codes_scan = (
        spark.read.parquet(f"{path}/lists")
        .filter(F.col("cid").isin([0, 1]))
        .select("id", "codes", "cid")
    )
    plan = codes_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters")[1][:160]
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "codes" in read_schema and "vec" not in read_schema


def test_ivfpq_rerank_limit_degrades_to_ivf(spark, sf_dir, tmp_path):
    """With rerank >= every probed list's size the ADC stage keeps ALL
    probed candidates, so exact rescore makes IVF-PQ bit-equal to the plain
    IVF tier at the same nprobe (the PQ exactness limit); default rerank
    must retain reasonable recall against that."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvecs = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in embs.filter(F.col("vec_id").isin([1, 3, 5]))
        .select("vec_id", "embedding")
        .collect()
    ]
    corpus = embs.filter(F.col("vec_id") % 2 == 0)
    pq_path = str(tmp_path / "ivfpq")
    ivf_path = str(tmp_path / "ivf")
    ann_index.build_ivfpq_index(corpus, pq_path)
    ann_index.build_ivf_index(corpus, ivf_path)

    want = sorted(
        map(
            tuple,
            ann_index.query_ivf_index_with_vectors(spark, ivf_path, qvecs).collect(),
        )
    )
    full = sorted(
        map(
            tuple,
            ann_index.query_ivfpq_index(
                spark, pq_path, qvecs, rerank=10**6
            ).collect(),
        )
    )
    assert full == want and len(want) == 3 * 5

    got = {
        (r.query_id, r.neighbor_id)
        for r in ann_index.query_ivfpq_index(spark, pq_path, qvecs).collect()
    }
    want_pairs = {(q, n) for q, n, _, _ in want}
    recall = len(got & want_pairs) / len(want_pairs)
    assert recall >= 0.3, f"suspiciously low IVF-PQ recall vs IVF: {recall}"


def test_ivfpq_streaming_ingest_matches_batch_and_survives_replay(
    spark, sf_dir, tmp_path
):
    """Streaming embedding arrivals folded into a built IVF-PQ index must
    serve exactly what a batch append of the same rows serves, and
    re-running the stream with a FRESH checkpoint (full replay) must not
    double-append — the file ledger, not the checkpoint, is the
    exactly-once boundary."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index
    from tesseract_spark.streaming.ingest import ivfpq_ingest_stream

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = embs.filter(F.col("vec_id") < 300)
    arrivals = embs.filter(F.col("vec_id") >= 300)
    qvecs = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in embs.filter(F.col("vec_id").isin([5, 350]))
        .select("vec_id", "embedding")
        .collect()
    ]

    src = str(tmp_path / "src")
    os.makedirs(src)
    arrivals.coalesce(2).write.mode("overwrite").parquet(src)

    stream_path = str(tmp_path / "ivfpq_stream")
    ann_index.build_ivfpq_index(base, stream_path)
    ivfpq_ingest_stream(
        spark, stream_path, src, str(tmp_path / "ckpt1"), embs.schema
    )
    got = sorted(
        map(tuple, ann_index.query_ivfpq_index(spark, stream_path, qvecs).collect())
    )

    batch_path = str(tmp_path / "ivfpq_batch")
    ann_index.build_ivfpq_index(base, batch_path)
    ann_index.append_to_ivfpq_index(spark.read.parquet(src), batch_path)
    want = sorted(
        map(tuple, ann_index.query_ivfpq_index(spark, batch_path, qvecs).collect())
    )
    assert got == want and len(got) == 2 * 5

    # full replay with a regenerated checkpoint: ledger must no-op it
    shutil.rmtree(str(tmp_path / "ckpt1"))
    ivfpq_ingest_stream(
        spark, stream_path, src, str(tmp_path / "ckpt2"), embs.schema
    )
    again = sorted(
        map(tuple, ann_index.query_ivfpq_index(spark, stream_path, qvecs).collect())
    )
    assert again == want


def test_ivfpq_incremental_append_equals_frozen_rebuild(spark, sf_dir, tmp_path):
    """Appending a batch to an IVF-PQ index (frozen centroids AND frozen
    codebooks, no retrain) must serve exactly what an index built over the
    union corpus with the SAME quantizers would serve."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = embs.filter(F.col("vec_id") % 2 == 0)
    new = embs.filter(F.col("vec_id") % 2 == 1)
    qvecs = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in embs.filter(F.col("vec_id").isin([1, 4, 7]))
        .select("vec_id", "embedding")
        .collect()
    ]

    path = str(tmp_path / "ivfpq_inc")
    ann_index.build_ivfpq_index(old, path)
    ann_index.append_to_ivfpq_index(new, path)
    got = sorted(
        map(tuple, ann_index.query_ivfpq_index(spark, path, qvecs).collect())
    )

    # frozen-quantizer reference: union corpus re-encoded with the STORED
    # centroids/codebooks (append over an empty-lists copy of the metadata)
    ref_path = str(tmp_path / "ivfpq_ref")
    spark.read.parquet(f"{path}/centroids").write.parquet(f"{ref_path}/centroids")
    spark.read.parquet(f"{path}/codebooks").write.parquet(f"{ref_path}/codebooks")
    ann_index.append_to_ivfpq_index(embs, ref_path)
    want = sorted(
        map(tuple, ann_index.query_ivfpq_index(spark, ref_path, qvecs).collect())
    )
    assert got == want and len(got) == 3 * 5


def test_ivfpq_residual_append_equals_frozen_rebuild(spark, sf_dir, tmp_path):
    """Residual (IVFADC) mirror of the frozen-rebuild contract: an appended
    batch is coarse-assigned AND residual-encoded against the frozen
    quantizers (the meta flag routes the append), so append ≡ re-encode of
    the union corpus with the same centroids/codebooks."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = embs.filter(F.col("vec_id") % 2 == 0)
    new = embs.filter(F.col("vec_id") % 2 == 1)
    qvecs = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in embs.filter(F.col("vec_id").isin([1, 4, 7]))
        .select("vec_id", "embedding")
        .collect()
    ]

    path = str(tmp_path / "ivfpq_res_inc")
    ann_index.build_ivfpq_index(old, path, residual=True)
    ann_index.append_to_ivfpq_index(new, path)
    got = sorted(
        map(tuple, ann_index.query_ivfpq_index(spark, path, qvecs).collect())
    )

    ref_path = str(tmp_path / "ivfpq_res_ref")
    for part in ("centroids", "codebooks", "meta"):
        spark.read.parquet(f"{path}/{part}").write.parquet(f"{ref_path}/{part}")
    ann_index.append_to_ivfpq_index(embs, ref_path)
    want = sorted(
        map(tuple, ann_index.query_ivfpq_index(spark, ref_path, qvecs).collect())
    )
    assert got == want and len(got) == 3 * 5


def test_ivfpq_residual_reconstructs_better_and_serves_self(
    spark, sf_dir, tmp_path
):
    """The IVFADC accuracy claim, pinned: with the same code budget,
    quantizing the residual reconstructs the corpus at LEAST as well as
    quantizing the raw vector (the residual's energy is what the coarse
    tier didn't explain — Jégou et al. TPAMI 2011 §IV), measured as mean
    squared reconstruction error over the stored lists. Serving sanity:
    a query with an indexed row's own vector returns that row at rank 1 /
    cos 1.0; an index whose meta table is missing (pre-flag layout) is
    treated as plain."""
    import shutil

    import numpy as np
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plain_path = str(tmp_path / "plain")
    res_path = str(tmp_path / "res")
    ann_index.build_ivfpq_index(embs, plain_path)
    ann_index.build_ivfpq_index(embs, res_path, residual=True)
    assert not ann_index._read_ivfpq_meta(spark, plain_path)
    assert ann_index._read_ivfpq_meta(spark, res_path)

    def mse(path, residual):
        cents = {
            r.cid: np.array(r.cvec)
            for r in spark.read.parquet(f"{path}/centroids").collect()
        }
        books: dict[int, dict] = {}
        for r in spark.read.parquet(f"{path}/codebooks").collect():
            books.setdefault(r.j, {})[r.cid] = np.array(r.cvec)
        m = 1 + max(books)
        errs = []
        for r in spark.read.parquet(f"{path}/lists").collect():
            rec = np.concatenate([books[j][r.codes[j]] for j in range(m)])
            if residual:
                rec = cents[r.cid] + rec
            errs.append(((np.array(r.vec) - rec) ** 2).mean())
        return float(np.mean(errs))

    assert mse(res_path, True) <= mse(plain_path, False)

    v0 = [
        float(x)
        for x in embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    by_rank = {
        r.rank: r
        for r in ann_index.query_ivfpq_index(spark, res_path, [(100, v0)], k=3).collect()
    }
    assert by_rank[1].neighbor_id == 0 and by_rank[1].cos_sim == 1.0

    # pre-meta layout: missing meta table reads as plain, not an error
    shutil.rmtree(f"{plain_path}/meta")
    assert not ann_index._read_ivfpq_meta(spark, plain_path)
    got = ann_index.query_ivfpq_index(spark, plain_path, [(100, v0)], k=3).collect()
    assert {r.rank: r.neighbor_id for r in got}[1] == 0


def test_ivf_index_incremental_append_equals_frozen_rebuild(spark, sf_dir, tmp_path):
    """Appending a batch to an existing index (frozen centroids, no
    retrain) must serve exactly what an index whose LISTS were assigned
    over the union corpus with the SAME centroids would serve — and must
    not rewrite existing list files."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index
    from tesseract_spark.operators.similarity import _assign

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = embs.filter(F.col("vec_id") % 2 == 0)
    new = embs.filter(F.col("vec_id") % 2 == 1)
    qids = [0, 2, 5, 9]

    path = str(tmp_path / "ivf_inc")
    ann_index.build_ivf_index(old, path)
    ann_index.append_to_ivf_index(new, path)
    got = sorted(map(tuple, ann_index.query_ivf_index(spark, path, qids).collect()))

    # frozen-centroid reference: same stored centroids, union assignment
    cents = spark.read.parquet(f"{path}/centroids")
    union_vecs = embs.select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    ref_path = str(tmp_path / "ivf_ref")
    cents.write.parquet(f"{ref_path}/centroids")
    _assign(union_vecs, cents).write.partitionBy("cid").parquet(f"{ref_path}/lists")
    ann_index._write_id_index(spark, ref_path)  # hand-rolled index: add the lookup map
    want = sorted(map(tuple, ann_index.query_ivf_index(spark, ref_path, qids).collect()))
    assert got == want and len(got) > 0


def test_ivf_index_query_with_external_vectors(spark, sf_dir, tmp_path):
    """Arbitrary-vector serving: querying the index with an INDEXED row's
    own vector must return that row at rank 1 (cos 1.0) plus the same
    neighbor tail the id-based path finds; a vector absent from the index
    still gets a full top-k."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_ext")
    ann_index.build_ivf_index(embs, path)

    v0 = [float(x) for x in embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    perturbed = [x + 0.001 for x in v0]
    out = ann_index.query_ivf_index_with_vectors(
        spark, path, [(100_000, v0), (100_001, perturbed)], k=4
    )
    rows = {(r.query_id, r.rank): (r.neighbor_id, r.cos_sim) for r in out.collect()}
    assert rows[(100_000, 1)] == (0, 1.0)  # self-match at rank 1
    assert rows[(100_001, 1)][0] == 0  # near-copy still resolves to vec 0

    # the neighbor tail after the self-match equals the id-based serving path
    id_path = {
        r.rank: r.neighbor_id
        for r in ann_index.query_ivf_index(spark, path, [0], k=3).collect()
    }
    ext_tail = [rows[(100_000, r)][0] for r in (2, 3, 4)]
    assert ext_tail == [id_path[1], id_path[2], id_path[3]]


def test_ivf_index_streaming_append_ingest(spark, sf_dir, tmp_path):
    """The append path must absorb a micro-batched vector STREAM
    (foreachBatch → append_to_ivf_index) and serve the same answers as a
    single batch append of the whole feed — the unbounded-ingest shape."""
    import os

    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = embs.filter(F.col("vec_id") % 2 == 0)
    new = embs.filter(F.col("vec_id") % 2 == 1)
    qids = [0, 2, 5, 9]

    src = str(tmp_path / "vec_stream")
    os.makedirs(src)
    new.repartition(3).write.mode("overwrite").parquet(src)

    stream_path = str(tmp_path / "ivf_stream")
    ann_index.build_ivf_index(old, stream_path)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(
        lambda batch_df, _id: ann_index.append_to_ivf_index(batch_df, stream_path)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_path = str(tmp_path / "ivf_batch")
    ann_index.build_ivf_index(old, batch_path)
    ann_index.append_to_ivf_index(new, batch_path)

    got = sorted(map(tuple, ann_index.query_ivf_index(spark, stream_path, qids).collect()))
    want = sorted(map(tuple, ann_index.query_ivf_index(spark, batch_path, qids).collect()))
    assert got == want and len(got) > 0


def test_feature_hash_embed_matches_duckdb(spark, duck, sf_dir):
    """The signed feature-hash embedding must match the SQL mirror
    bit-for-bit (integer counts cast to double) for every document."""
    from tesseract_spark.operators.similarity import (
        feature_hash_embed,
        feature_hash_embed_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r.id: list(r.vec) for r in feature_hash_embed(docs, dim=16).collect()}
    want = {
        r[0]: list(r[1])
        for r in duck.execute(feature_hash_embed_oracle_sql(16)).fetchall()
    }
    assert got == want and len(got) == docs.count()


def test_chunk_embed_index_query_composition(spark, sf_dir, tmp_path):
    """End-to-end interop: chunk documents -> feature-hash embed the chunks
    -> build the persistent IVF index -> query with an external vector. The
    query vector is a chunk's own embedding, so it must come back at
    rank 1 with cosine 1.0 — proving the text stack feeds the vector stack
    with no impedance mismatch."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index
    from tesseract_spark.operators.packing import chunk_documents
    from tesseract_spark.operators.similarity import feature_hash_embed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    c = 128
    chunks = chunk_documents(docs, chunk_tokens=c)
    # reconstruct each chunk's text window (same tokenization) keyed by the
    # chunk ids chunk_documents emitted — the realistic pipeline join
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
    )
    chunk_texts = chunks.join(toks, "doc_id").select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("doc_id"),
        F.array_join(
            F.slice(F.col("ws"), F.col("chunk_id") * c + 1, c), " "
        ).alias("text"),
    )
    embs = feature_hash_embed(chunk_texts, dim=32)

    path = str(tmp_path / "chunk_ivf")
    ann_index.build_ivf_index(embs, path, id_col="id", vec_col="vec")
    probe = embs.limit(1).collect()[0]
    out = ann_index.query_ivf_index_with_vectors(
        spark, path, [(999_999, list(probe.vec))], k=3
    ).collect()
    by_rank = {r.rank: (r.neighbor_id, r.cos_sim) for r in out}
    assert by_rank[1] == (probe.id, 1.0)


def test_hard_negative_band_matches_duckdb(spark, duck, sf_dir):
    """Band-restricted neighbor mining must match the SQL mirror exactly,
    and every returned similarity must sit inside [lo, hi) strictly below
    the near-dup zone; results must be disjoint from the top-k positives
    whenever those score above hi."""
    from tesseract_spark.operators.similarity import (
        brute_force_topk,
        hard_negative_band,
        hard_negative_band_oracle_sql,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    lo, hi = 0.15, 0.3
    got_rows = hard_negative_band(embs, qids, lo, hi, k=5).collect()
    got = sorted((r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in got_rows)
    want = sorted(
        map(
            tuple,
            duck.execute(hard_negative_band_oracle_sql(qids, lo, hi, 5)).fetchall(),
        )
    )
    assert got == want and len(got) > 0
    assert all(lo <= r.cos_sim < hi for r in got_rows)

    positives = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(embs, qids, k=5).collect()
        if r.cos_sim >= hi
    }
    negatives = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert positives.isdisjoint(negatives)


def test_curriculum_order_matches_duckdb(spark, duck, sf_dir):
    """Bucket assignment (exact-quantile thresholds) and the deterministic
    order hash must match the SQL mirror; bucket sizes are near-equal
    (equi-depth); descending flips tiers without changing membership."""
    from collections import Counter

    from tesseract_spark.operators.sampling import (
        curriculum_order,
        curriculum_order_oracle_sql,
    )
    from tesseract_spark.operators.text import quality_score_col

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.length("text").alias("score")
    )
    got = sorted(
        (r.doc_id, r.bucket, r.order_hash)
        for r in curriculum_order(docs, "score").collect()
    )
    duck.execute(
        "CREATE OR REPLACE VIEW _curr AS "
        "SELECT doc_id, length(text) AS score FROM documents"
    )
    want = sorted(
        map(
            tuple,
            duck.execute(
                curriculum_order_oracle_sql("_curr", "score", ["doc_id"])
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 500

    sizes = Counter(b for _, b, _ in got)
    assert set(sizes) == {0, 1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 50  # equi-depth-ish

    desc = {
        r.doc_id: r.bucket
        for r in curriculum_order(docs, "score", ascending=False).collect()
    }
    asc = {d: b for d, b, _ in got}
    assert all(desc[d] == 3 - asc[d] for d in asc)


def test_curriculum_order_threshold_ties(spark, duck):
    """When a quantile threshold lands EXACTLY on a data value (integral
    rank — the risky boundary), the >= rule must put tied rows in the
    higher bucket identically on both engines."""
    from tesseract_spark.operators.sampling import (
        curriculum_order,
        curriculum_order_oracle_sql,
    )

    # 5 values, n_buckets=4: thresholds at h = p*(n-1) ∈ {1, 2, 3} — all
    # integral ranks, every threshold EQUALS a data value (20/30/40)
    rows = [(i, float(v)) for i, v in enumerate([10, 20, 30, 40, 50])]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    got = sorted(
        (r.doc_id, r.bucket, r.order_hash)
        for r in curriculum_order(df, "score").collect()
    )
    duck.execute("DROP TABLE IF EXISTS _ties")
    duck.execute("CREATE TABLE _ties (doc_id BIGINT, score DOUBLE)")
    duck.executemany("INSERT INTO _ties VALUES (?, ?)", rows)
    want = sorted(
        map(
            tuple,
            duck.execute(
                curriculum_order_oracle_sql("_ties", "score", ["doc_id"])
            ).fetchall(),
        )
    )
    assert got == want
    # tied values (20/30/40 == thresholds) land in the HIGHER bucket
    buckets = {d: b for d, b, _ in got}
    assert buckets == {0: 0, 1: 1, 2: 2, 3: 3, 4: 3}


def test_minhash_against_index_cross_pairs_only(spark, sf_dir):
    """Screening a new batch against an index must return exactly the
    cross-side subset of the full-corpus verified pairs — no new-new, no
    index-index — with every new_id from the batch and every index_id from
    the corpus; the verified-pairs oracle already pins the pair values."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.dedup import (
        minhash_against_index,
        minhash_verified_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    got = sorted(
        (r.new_id, r.index_id, r.jaccard)
        for r in minhash_against_index(new, index).collect()
    )
    assert len(got) > 0
    assert all(n % 2 == 1 and i % 2 == 0 for n, i, _ in got)

    full = minhash_verified_pairs(docs).collect()
    want = sorted(
        (
            (r.id_a, r.id_b, r.jaccard)
            if r.id_a % 2 == 1
            else (r.id_b, r.id_a, r.jaccard)
        )
        for r in full
        if (r.id_a % 2) != (r.id_b % 2)
    )
    assert got == want


def test_minhash_against_index_matches_duckdb(spark, duck, sf_dir):
    """The direct SQL mirror (verified-pairs oracle over the tagged union,
    cross-side filter) must match the operator bit-for-bit."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.dedup import (
        minhash_against_index,
        minhash_against_index_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    got = sorted(
        (r.new_id, r.index_id, r.jaccard)
        for r in minhash_against_index(new, index).collect()
    )
    want = sorted(
        map(
            tuple,
            duck.execute(
                minhash_against_index_oracle_sql(
                    "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0",
                    "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1",
                )
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0


def test_dedup_lines_across_docs_matches_duckdb(spark, duck, sf_dir):
    """Cross-doc exact-line dedup must match the SQL mirror on the corpus
    (single-line docs: exact text dups lose their line to the smallest doc
    id), and on a synthetic multi-page corpus must strip the repeated
    footer from every page but the first."""
    from tesseract_spark.operators.dedup import (
        dedup_lines_across_docs,
        dedup_lines_across_docs_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(map(tuple, dedup_lines_across_docs(docs).collect()))
    want = sorted(
        map(tuple, duck.execute(dedup_lines_across_docs_oracle_sql()).fetchall())
    )
    assert got == want and len(got) > 0

    footer = "copyright 2024 example corp all rights reserved"
    pages = [
        (1, "unique first page content\n" + footer),
        (2, "second page says other things\n" + footer),
        (3, "third page has its own words\n" + footer),
    ]
    out = {
        r.doc_id: r
        for r in dedup_lines_across_docs(
            spark.createDataFrame(pages, "doc_id long, text string")
        ).collect()
    }
    assert out[1].n_kept == 2 and footer in out[1].clean_text
    for pid in (2, 3):
        assert out[pid].n_kept == 1 and footer not in out[pid].clean_text


def test_best_in_cluster_quality_survivor(spark, duck, sf_dir):
    """Quality-aware survivor selection: the kept member per cluster is the
    highest-scoring one (min-id on ties, so pure dups degrade to the
    canonical min-id behavior); full oracle parity on the corpus via the
    recursive-closure clusters + SQL quality mirror."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.dedup import (
        best_in_cluster,
        best_in_cluster_oracle_sql,
        closure_oracle_sql,
        minhash_lsh_pairs,
        resolve_duplicate_clusters,
    )
    from tesseract_spark.operators.text import quality_score_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs)
    ids = docs.select(F.col("doc_id").alias("id"))
    clusters = resolve_duplicate_clusters(pairs, corpus_ids=ids)
    quality = docs.select(
        "doc_id", F.round(quality_score_col(F.col("text")), 6).alias("score")
    )
    got = sorted(
        (r.doc_id, r.canonical_id, r.score, r.n_members)
        for r in best_in_cluster(clusters, quality).collect()
    )

    from tesseract_spark.operators.dedup import cluster_oracle_sql
    from tesseract_spark.operators.text import _sql_quality_fragments

    q_sql, _ = _sql_quality_fragments("text")
    want = sorted(
        map(
            tuple,
            duck.execute(
                best_in_cluster_oracle_sql(
                    cluster_oracle_sql(),
                    f"SELECT doc_id, round({q_sql}, 6) AS score FROM documents",
                )
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0

    # synthetic: higher-quality member wins even with a larger id
    cl = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "doc_id long, canonical_id long"
    )
    sc = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5)], "doc_id long, score double"
    )
    out = {r.canonical_id: (r.doc_id, r.n_members) for r in best_in_cluster(cl, sc).collect()}
    assert out == {1: (2, 2), 3: (3, 1)}


def test_minhash_verified_pairs_consistent(spark, sf_dir):
    """Verified pairs must be a subset of the LSH candidates, and every
    reported jaccard must equal the full inverted-index computation's value
    for that pair."""
    from tesseract_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_verified_pairs(docs, threshold=0.2).collect()
    }
    cand = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert set(verified) <= cand
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    for pair, j in verified.items():
        assert full[pair] == j


def test_decontamination_semantics(spark):
    """Probe overlap flags a doc; disjoint vocabulary stays clean; hit count
    equals the number of distinct shared 5-grams."""
    from tesseract_spark.operators.decontaminate import flag_contaminated

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en"),  # contains probe
            (2, "one two three four five six", "en"),  # disjoint
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        r.doc_id: (r.n_probe_ngrams, r.contaminated)
        for r in flag_contaminated(docs, ["alpha beta gamma delta epsilon"]).collect()
    }
    assert out[1] == (1, True)
    assert out[2] == (0, False)


def test_cms_stream_merge_matches_batch(spark, sf_dir, tmp_path):
    """Mergeability proof in streaming: per-microbatch CMS counter matrices
    merged cell-wise (sum) must equal the one-shot batch sketch — counters
    are additive, which is the property that lets a 100 TB pipeline keep a
    running frequency sketch over an unbounded stream."""
    import os

    from pyspark.sql import functions as F

    from tesseract_spark.operators.sketch import cms_build

    src = str(tmp_path / "src")
    os.makedirs(src)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_suppkey")
    # split into 3 files so the file stream produces multiple batches
    li.repartition(3).write.mode("overwrite").parquet(src)

    merged: dict = {}

    def upsert(batch_df, batch_id):
        for r in cms_build(batch_df, "l_suppkey", d=3, w=64).collect():
            merged[(r.i, r.j)] = merged.get((r.i, r.j), 0) + r.c

    stream = spark.readStream.schema("l_suppkey long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = {
        (r.i, r.j): r.c for r in cms_build(li, "l_suppkey", d=3, w=64).collect()
    }
    assert merged == batch


def test_hll_registers_merge_and_estimate(spark, sf_dir):
    """HLL invariants: registers of a union equal the element-wise max of
    the halves' registers (mergeability), and the estimate reconstructed
    offline from the integer output lands within the sketch's error regime
    (~1.04/sqrt(m) std; assert 5 sigma)."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.sketch import hll_registers, hll_sketch_summary

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey")
    half_a = li.where(F.col("l_orderkey") % 2 == 0)
    half_b = li.where(F.col("l_orderkey") % 2 == 1)

    def regdict(df):
        return {r.j: r.r for r in hll_registers(df, "l_orderkey").collect()}

    whole, ra, rb = regdict(li), regdict(half_a), regdict(half_b)
    merged = {
        j: max(ra.get(j, 0), rb.get(j, 0)) for j in set(ra) | set(rb)
    }
    assert whole == merged

    row = hll_sketch_summary(li, "l_orderkey").collect()[0]
    m = row.m
    z = row.harmonic_scaled / float(1 << 48)
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / z
    if est < 2.5 * m and row.n_zero_registers > 0:  # small-range correction
        import math

        est = m * math.log(m / row.n_zero_registers)
    rel_err = abs(est - row.n_exact) / row.n_exact
    assert rel_err < 5 * 1.04 / m**0.5, (est, row.n_exact, rel_err)


def test_cms_join_size_bounds(spark, sf_dir):
    """The inner-product estimate must never underestimate the true join
    cardinality, and with a collision-free width (w >> distinct keys) it
    must equal it exactly."""
    from tesseract_spark.operators.sketch import cms_join_size_estimate

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    true_n = li.join(su, li.l_suppkey == su.s_suppkey).count()

    r = cms_join_size_estimate(li, "l_suppkey", su, "s_suppkey").collect()[0]
    assert r.true_join_rows == true_n
    assert r.cms_join_rows >= true_n
    assert r.overestimate == r.cms_join_rows - true_n

    wide = cms_join_size_estimate(
        li, "l_suppkey", su, "s_suppkey", d=2, w=1 << 16
    ).collect()[0]
    assert wide.cms_join_rows == true_n, "collision-free width must be exact"

    tiny = cms_join_size_estimate(li, "l_suppkey", su, "s_suppkey", d=2, w=4).collect()[0]
    assert tiny.cms_join_rows >= true_n


def test_hll_stream_merge_matches_batch(spark, sf_dir, tmp_path):
    """Streaming mergeability for HLL: per-microbatch register tables merged
    by element-wise MAX must equal the one-shot batch registers — bounded
    distinct-count state over an unbounded stream."""
    import os

    from tesseract_spark.operators.sketch import hll_registers

    src = str(tmp_path / "src")
    os.makedirs(src)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey")
    li.repartition(3).write.mode("overwrite").parquet(src)

    merged: dict = {}

    def upsert(batch_df, batch_id):
        for r in hll_registers(batch_df, "l_orderkey", p=8).collect():
            merged[r.j] = max(merged.get(r.j, 0), r.r)

    stream = spark.readStream.schema("l_orderkey long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = {r.j: r.r for r in hll_registers(li, "l_orderkey", p=8).collect()}
    assert merged == batch


def test_cms_never_underestimates(spark, sf_dir):
    """CMS guarantee: estimate >= true count for EVERY key (not just top-k),
    and the counter matrix total mass equals d x rows; a tiny w forces
    collisions and must still never underestimate."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.sketch import cms_build, cms_estimate_heavy_hitters

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = cms_estimate_heavy_hitters(li, "l_suppkey", top_k=50).toPandas()
    assert (out.cms_n >= out.true_n).all()
    assert (out.overestimate >= 0).all()

    n_rows = li.count()
    d, w = 3, 8  # saturated: heavy collisions guaranteed
    mass = cms_build(li, "l_suppkey", d=d, w=w).agg(F.sum("c")).collect()[0][0]
    assert mass == d * n_rows
    tiny = cms_estimate_heavy_hitters(li, "l_suppkey", d=d, w=w, top_k=50).toPandas()
    assert (tiny.cms_n >= tiny.true_n).all()
    assert tiny.overestimate.sum() > 0, "w=8 over ~100s of keys must collide"


def test_bloom_superset_fuzz(spark):
    """Property-fuzz the no-false-negative guarantee on adversarial corpora:
    random word-soup docs, probes drawn from the corpus itself, tiny filter
    widths forcing collisions — every exact hit must survive the Bloom tier."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tesseract_spark.operators.decontaminate import (
        bloom_decontaminate,
        flag_contaminated,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    doc = st.lists(st.sampled_from(words), min_size=1, max_size=12).map(" ".join)

    @settings(max_examples=8, deadline=None)
    @given(
        texts=st.lists(doc, min_size=2, max_size=6),
        m_bits=st.sampled_from([64, 256, 1 << 12]),
        n=st.integers(1, 3),
    )
    def check(texts, m_bits, n):
        docs = spark.createDataFrame(
            [(i, t, "en") for i, t in enumerate(texts)],
            "doc_id long, text string, lang string",
        )
        probes = texts[:1]
        exact = {
            r.doc_id: r.n_probe_ngrams
            for r in flag_contaminated(docs, probes, n=n).collect()
        }
        bloom = {
            r.doc_id: r.n_bf_hits
            for r in bloom_decontaminate(docs, probes, n=n, m_bits=m_bits).collect()
        }
        for d, n_exact in exact.items():
            assert bloom[d] >= n_exact

    check()


def test_hamilton_allocation_fuzz():
    """Property-fuzz the stratified allocation arithmetic through the SQL
    oracle (DuckDB-only — both engines share the identical integer math, and
    the Spark side is already pinned bit-equal by the oracle-parity test):
    for random stratum sizes and totals, seats sum EXACTLY to
    min(total_n, N), every stratum gets within 1 seat of its exact
    proportional share, and no stratum exceeds its size."""
    import duckdb

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tesseract_spark.operators.sampling import stratified_sample_oracle_sql

    @settings(max_examples=25, deadline=None)
    @given(
        sizes=st.lists(st.integers(1, 500), min_size=1, max_size=12),
        total_n=st.integers(1, 800),
    )
    def check(sizes, total_n):
        con = duckdb.connect()
        rows = ", ".join(
            f"({g}, {i})" for g, n in enumerate(sizes) for i in range(n)
        )
        con.execute(
            f"CREATE TABLE docs(source INTEGER, doc_id INTEGER);"
            f"INSERT INTO docs VALUES {rows}"
        )
        sql = stratified_sample_oracle_sql(
            total_n, table="docs", group_col="source", id_expr="doc_id"
        )
        out = con.execute(sql).fetchall()
        N = sum(sizes)
        targets = {r[0]: r[2] for r in out}
        assert sum(targets.values()) == min(total_n, N)
        for r in out:
            src, n_docs, n_target, n_sampled = r[0], r[1], r[2], r[3]
            assert n_target <= n_docs
            assert n_sampled == n_target
            if total_n <= N:
                exact = total_n * n_docs / N
                assert abs(n_target - exact) < 1.0 + 1e-9

    check()


def test_cosine_udf_bit_equals_hof_fold(spark, sf_dir):
    """The vectorized cumsum cosine must be BIT-identical to the sequential
    aggregate-HOF fold (which the DuckDB oracles mirror) on real embedding
    pairs — any pairwise-summation shortcut would drift ulps and break the
    zero-tolerance oracle gate."""
    import struct

    from pyspark.sql import functions as F

    from tesseract_spark.operators.similarity import cosine_col, cosine_pairs_udf

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    a = embs.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = embs.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("ia") < F.col("ib"))
    cos = cosine_pairs_udf()
    out = pairs.select(
        cosine_col(F.col("va"), F.col("vb")).alias("hof"),
        cos(F.col("va"), F.col("vb")).alias("vec"),
    ).collect()
    assert len(out) > 1000
    for r in out:
        assert struct.pack("<d", r.hof) == struct.pack("<d", r.vec), (r.hof, r.vec)


def test_projection_preserves_neighborhoods(spark):
    """JL sanity on PLANTED structure (the sf embeddings are near-uniform, so
    their pairwise distances concentrate and rank order is noise): three
    well-separated clusters in 64-dim must stay separated after the 64→8
    projection — every intra-cluster distance below every inter-cluster one."""
    import itertools

    from tesseract_spark.operators.similarity import project_embeddings

    def splitmix(x):
        x = (x * 0x9E3779B97F4A7C15 + 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        return (x >> 11) / 2**53

    centers = [[10.0 * splitmix(c * 64 + i) - 5.0 for i in range(64)] for c in range(3)]
    rows, vid = [], 0
    members: dict[int, int] = {}
    for c, ctr in enumerate(centers):
        for m in range(5):
            noise = [0.05 * (splitmix(1000 + vid * 64 + i) - 0.5) for i in range(64)]
            rows.append((vid, [x + n for x, n in zip(ctr, noise)]))
            members[vid] = c
            vid += 1
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    proj = {
        r.vec_id: [r[f"p{j}"] for j in range(8)]
        for r in project_embeddings(embs).collect()
    }

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    intra = [
        d2(proj[a], proj[b])
        for a, b in itertools.combinations(proj, 2)
        if members[a] == members[b]
    ]
    inter = [
        d2(proj[a], proj[b])
        for a, b in itertools.combinations(proj, 2)
        if members[a] != members[b]
    ]
    assert max(intra) < min(inter), (
        f"projection destroyed cluster structure: max intra {max(intra):.3f} "
        f">= min inter {min(inter):.3f}"
    )


def test_stratified_sample_exact_allocation(spark, sf_dir):
    """sum(n_target) == total_n exactly (the Hamilton-allocation property a
    rate filter can't give); n_sampled == n_target per stratum; allocation is
    proportional within 1 seat; selection is stable across partitionings."""
    from tesseract_spark.operators.sampling import stratified_sample_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample_exact(docs, total_n=97).toPandas()
    assert out.n_target.sum() == 97
    assert (out.n_sampled == out.n_target).all()
    N = out.n_docs.sum()
    for r in out.itertuples():
        exact = 97 * r.n_docs / N
        assert abs(r.n_target - exact) < 1, (r.source, r.n_target, exact)

    repartitioned = stratified_sample_exact(docs.repartition(7), total_n=97).toPandas()
    a = out.sort_values("source", ignore_index=True)
    b = repartitioned.sort_values("source", ignore_index=True)
    assert a.equals(b), "selection must not depend on partitioning"


def test_semantic_dedup_invariants(spark, sf_dir):
    """One row per vector; the smallest id of every cluster is always kept;
    every dropped vector really has a kept-or-dropped smaller-id neighbor in
    its cluster above the threshold (greedy rule), and ivf assignment reuse
    means cluster ids are a subset of the seed vec_ids."""
    from tesseract_spark.operators import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.semantic_dedup(embs, threshold=0.35).toPandas()
    assert len(out) == embs.count()
    assert out.groupby("cid").vec_id.min().isin(out[out.kept].vec_id).all()
    assert set(out.cid) <= set(out.vec_id)  # cluster labels are seed vec_ids
    dropped = out[~out.kept]
    if len(dropped):
        # verify a sample of dropped rows against an exact within-cluster scan
        import pandas as pd

        vecs = {r.vec_id: r.embedding for r in embs.collect()}
        by_cluster = out.groupby("cid").vec_id.apply(list).to_dict()

        def cos(a, b):
            num = sum(x * y for x, y in zip(a, b))
            den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
            return round(num / den, 6)

        for r in dropped.head(5).itertuples():
            peers = [i for i in by_cluster[r.cid] if i < r.vec_id]
            assert any(cos(vecs[i], vecs[r.vec_id]) >= 0.35 for i in peers), (
                f"vec {r.vec_id} dropped without a smaller-id near-dup"
            )


def test_bloom_decontaminate_no_false_negatives(spark, sf_dir):
    """The Bloom tier must flag a SUPERSET of the exact semi-join's hits
    (no false negatives by construction), with per-doc BF hit counts >= the
    exact distinct-probe-shingle counts; an adversarially tiny filter
    (m=64 bits, saturated) must flag everything — FPs, never FNs."""
    from tesseract_spark.operators.decontaminate import (
        bloom_decontaminate,
        flag_contaminated,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probes = [r.text for r in docs.orderBy("doc_id").limit(2).collect()]
    exact = {
        r.doc_id: r.n_probe_ngrams
        for r in flag_contaminated(docs, probes).collect()
    }
    bloom = {
        r.doc_id: r.n_bf_hits for r in bloom_decontaminate(docs, probes).collect()
    }
    assert set(bloom) == set(exact)
    for d, n_exact in exact.items():
        assert bloom[d] >= n_exact, f"doc {d}: BF dropped an exact hit"

    saturated = bloom_decontaminate(docs, probes, m_bits=64, k=2)
    assert saturated.where("NOT flagged").count() == 0


def test_excise_contaminated_lines_matches_duckdb(spark, duck, sf_dir):
    """Surgical line excision must match the SQL mirror on the corpus, and
    on a synthetic page must drop exactly the quoting line while keeping
    the rest of the document."""
    from tesseract_spark.operators.decontaminate import (
        excise_contaminated_lines,
        excise_contaminated_lines_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probes = [r.text for r in docs.orderBy("doc_id").limit(2).collect()]
    got = sorted(map(tuple, excise_contaminated_lines(docs, probes).collect()))
    lits = ", ".join("('" + t.replace("'", "''") + "')" for t in probes)
    want = sorted(
        map(
            tuple,
            duck.execute(
                excise_contaminated_lines_oracle_sql(probes_sql=f"VALUES {lits}")
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0
    # the probe documents themselves lose their (only) line
    excised = {r[0]: r for r in got}
    probe_ids = [r.doc_id for r in docs.orderBy("doc_id").limit(2).collect()]
    for pid in probe_ids:
        assert excised[pid][2] == 0 and excised[pid][3] == ""

    bench = "alpha beta gamma delta epsilon zeta"
    page = "\n".join(
        [
            "an innocent first line of prose here",
            f"quoting the eval set: {bench} verbatim",
            "and an innocent closing line too",
        ]
    )
    out = excise_contaminated_lines(
        spark.createDataFrame([(1, page)], "doc_id long, text string"),
        [bench],
    ).collect()[0]
    assert (out.n_lines, out.n_kept) == (3, 2)
    assert "eval set" not in out.clean_text
    assert out.clean_text.count("\n") == 1


def test_ngram_overlap_fraction_grades_partial_overlap(spark):
    """The graded metric must separate a wholesale benchmark copy
    (overlap=100%) from a document quoting one benchmark sentence (partial)
    from a clean document (0), with exact integer-ppm arithmetic and the
    threshold flag applied to the ppm value."""
    from tesseract_spark.operators.decontaminate import ngram_overlap_fraction

    bench = "alpha beta gamma delta epsilon zeta"  # 2 distinct 5-grams
    docs = spark.createDataFrame(
        [
            (1, bench),  # full copy: both 5-grams hit -> 1_000_000 ppm
            # quotes the first benchmark 5-gram, then diverges: the doc has
            # 5 distinct 5-grams, exactly 1 in the benchmark -> 200_000 ppm
            (2, "alpha beta gamma delta epsilon one two three four"),
            (3, "totally unrelated text with no benchmark words at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_overlap_fraction(docs, [bench], threshold_ppm=500_000).collect()}
    assert (out[1].n_ngrams, out[1].n_overlap, out[1].overlap_ppm, out[1].flagged) == (2, 2, 1_000_000, True)
    assert (out[2].n_ngrams, out[2].n_overlap, out[2].overlap_ppm, out[2].flagged) == (5, 1, 200_000, False)
    assert (out[3].n_overlap, out[3].overlap_ppm, out[3].flagged) == (0, 0, False)


def test_subsample_by_group_deterministic_rates(spark):
    from tesseract_spark.operators.sampling import subsample_by_group

    df = spark.range(0, 6000).selectExpr(
        "id AS doc_id", "concat('s', id % 3) AS source"
    )
    kept = subsample_by_group(df, {"s0": 0.5, "s1": 0.1})
    counts = {r.source: r.n for r in kept.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert abs(counts["s0"] / 2000 - 0.5) < 0.05
    assert abs(counts["s1"] / 2000 - 0.1) < 0.03
    assert counts["s2"] == 2000  # default rate 1.0 keeps everything
    again = {r.source: r.n for r in subsample_by_group(df.repartition(7), {"s0": 0.5, "s1": 0.1}).groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert again == counts


def test_frame_sampling_and_resize_shapes(spark):
    """Frame sampling drops trailing partials and empty docs; resize performs
    exact nearest-neighbor index math (checked against an independent
    reference computation)."""
    import hashlib

    from tesseract_spark.operators.multimodal import (
        resize_payload_grid,
        sample_frames,
    )

    payload_a = bytes(range(256))  # 4 frames of 64 → sampled idx 0
    payload_b = b"x" * 63  # shorter than one frame → no rows
    df = spark.createDataFrame(
        [(1, payload_a, "video"), (2, payload_b, "video")],
        "doc_id long, payload binary, modality string",
    )
    frames = sample_frames(df)
    rows = [(r.doc_id, r.frame_idx, r.n_frames) for r in frames.collect()]
    assert rows == [(1, 0, 4)]

    # 16x16 grid downsampled to 8x8: pixel (i,j) = byte[(i*16//8)*16 + j*16//8]
    grid = bytes(range(256))
    rdf = spark.createDataFrame(
        [(1, grid, "image")], "doc_id long, payload binary, modality string"
    )
    out = resize_payload_grid(rdf).collect()[0]
    want = bytes(
        grid[(i * 16 // 8) * 16 + (j * 16 // 8)] for i in range(8) for j in range(8)
    )
    assert out.side == 16
    # lowercase-hex md5 (round 7): hash of the hex text, not raw bytes
    assert out.pixels_md5 == hashlib.md5(want.hex().encode()).hexdigest()


def test_rolling_fingerprint_order_sensitive(spark):
    """Same tokens, different order → different rolling fingerprint (unlike
    the sorted-token md5 fingerprint); identical docs agree."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.text import (
        fingerprint_col,
        rolling_fingerprint_col,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.rfp, r.fp)
        for r in df.select(
            "doc_id",
            rolling_fingerprint_col(F.col("text")).alias("rfp"),
            fingerprint_col(F.col("text")).alias("fp"),
        ).collect()
    }
    assert rows[1][0] == rows[3][0] != rows[2][0]
    assert rows[1][1] == rows[2][1]  # sorted-token fp is order-insensitive


def test_asof_bucketed_matches_plain(spark, sf_dir):
    """The hot-key-safe bucketed as-of must produce exactly the plain
    as-of's result on real event data, including matches that reach across
    bucket boundaries (tiny bucket width forces cross-bucket carries)."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.asof import asof_join, asof_join_bucketed
    from tesseract_spark.streaming.events import read_events

    ev = read_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")

    plain = {
        (r.user_id, r.ts): (r.ts_asof, r.value_asof)
        for r in asof_join(purchases, clicks, on=["user_id"]).collect()
    }
    for width in ["2 hours", "3 days"]:
        bucketed = {
            (r.user_id, r.ts): (r.ts_asof, r.value_asof)
            for r in asof_join_bucketed(
                purchases, clicks, on=["user_id"], bucket=width
            ).collect()
        }
        assert bucketed == plain and len(plain) > 0


def test_stream_interval_join_matches_batch_range_join(spark, sf_dir):
    """A real stream-stream interval join (watermarked both sides) must emit
    exactly the batch bucketed range join's pairs."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.rangejoin import range_join
    from tesseract_spark.streaming.events import read_events
    from tesseract_spark.streaming.joins import stream_interval_join_demo

    streamed = {
        (r.l_event_id, r.r_ts, r.r_value)
        for r in stream_interval_join_demo(spark, sf_dir, query_name="t_ssj").collect()
    }
    ev = read_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    batch = {
        (r.event_id, r.ts_r, r.value_r)
        for r in range_join(purchases, clicks, ["user_id"], 3600).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Stream-static broadcast enrichment must equal the batch join."""
    from pyspark.sql import functions as F

    from tesseract_spark.streaming.events import read_events
    from tesseract_spark.streaming.joins import stream_static_enrich_demo

    streamed = {
        (r.event_id, r.user_mean_value)
        for r in stream_static_enrich_demo(spark, sf_dir, query_name="t_enrich").collect()
    }
    ev = read_events(spark, sf_dir)
    profile = ev.groupBy("user_id").agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count("value")
        ).alias("user_mean_value")
    )
    batch = {
        (r.event_id, r.user_mean_value)
        for r in ev.join(profile, "user_id", "left").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_pack_sequences_invariants(spark, sf_dir):
    """Greedy packing: bins never overflow capacity (except single over-long
    docs), bin ids are contiguous per shard, every doc assigned exactly once,
    and the assignment is partitioning-independent."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cap = 256
    packed = pack_sequences(docs, capacity=cap)
    rows = packed.collect()
    assert len(rows) == docs.count()

    fills = (
        packed.groupBy("shard", "bin_id")
        .agg(F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in fills:
        assert r.fill <= cap or r.n == 1, f"overfull multi-doc bin: {r}"
    per_shard = {}
    for r in rows:
        per_shard.setdefault(r.shard, set()).add(r.bin_id)
    for shard, bins in per_shard.items():
        assert bins == set(range(1, len(bins) + 1)), f"gap in shard {shard}"

    repart = pack_sequences(docs.repartition(13), capacity=cap)
    assert {tuple(r) for r in repart.collect()} == {tuple(r) for r in rows}


def test_redact_pii_semantics(spark):
    """Redaction masks every seeded PII instance and counts match."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.redact import (
        PII_RULES,
        redact_documents,
        redacted_col,
        with_synthetic_pii,
    )

    docs = spark.createDataFrame(
        [(0, "plain words only"), (7, "reach me at bob@corp.io or 10.1.2.3")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_documents(with_synthetic_pii(docs)).collect()}
    # every doc got the synthetic footer → at least one of each category
    assert out[0].n_email >= 1 and out[0].n_phone >= 1 and out[0].n_ip >= 1
    # doc 7 has one extra organic email + ip
    assert out[7].n_email == 2 and out[7].n_ip == 2

    redacted = redact_documents(with_synthetic_pii(docs))
    # no rule pattern survives in the redacted text
    full = with_synthetic_pii(docs).select(
        "doc_id",
        *[
            F.size(
                F.regexp_extract_all(redacted_col(F.col("text")), F.lit(pat), 0)
            ).alias(f"left_{name}")
            for name, pat, _ in PII_RULES
        ],
    ).collect()
    for r in full:
        assert r.left_email == 0 and r.left_phone == 0 and r.left_ip == 0


def test_epoch_shuffle_permutation_and_reseed(spark):
    """(shard, pos) is a proper permutation; re-seeding re-deals it;
    assignment is partitioning-independent."""
    from tesseract_spark.operators.sampling import epoch_shuffle

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    e0 = epoch_shuffle(df, n_shards=4, seed="epoch-0").collect()
    assert len(e0) == 300
    by_shard = {}
    for r in e0:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(4))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    e1 = {r.doc_id: (r.shard, r.pos) for r in epoch_shuffle(df, n_shards=4, seed="epoch-1").collect()}
    m0 = {r.doc_id: (r.shard, r.pos) for r in e0}
    assert any(m0[d] != e1[d] for d in m0), "re-seed did not re-deal"

    stable = {
        r.doc_id: (r.shard, r.pos)
        for r in epoch_shuffle(df.repartition(7), n_shards=4, seed="epoch-0").collect()
    }
    assert stable == m0


def test_chunk_documents_reassembly(spark):
    """Chunks tile the token stream: full chunks of c, remainder last, and
    the concatenation of chunk windows equals the original token list."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "one"), (3, "")],
        "doc_id long, text string",
    )
    rows = sorted(
        chunk_documents(docs, chunk_tokens=4).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.n_tokens)
    assert by_doc[1] == [4, 4, 2]
    assert by_doc[2] == [1]
    assert by_doc[3] == [1]  # empty doc → one empty-string token chunk
    # every non-final chunk is full
    for doc, sizes in by_doc.items():
        assert all(s == 4 for s in sizes[:-1]) or doc in (2, 3)


def test_dedup_against_index_semantics(spark):
    """Docs matching the index are dups; within-batch dups keep first id;
    novel docs are kept."""
    from tesseract_spark.operators.dedup import dedup_against_index
    from tesseract_spark.operators.text import fingerprint_col
    from pyspark.sql import functions as F

    index_docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")], "doc_id long, text string"
    )
    new_b = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),   # dup of index doc 1
            (11, "zeta eta"),           # novel
            (12, "zeta eta"),           # within-batch dup of 11
            (13, "theta iota"),         # novel
        ],
        "doc_id long, text string",
    )
    idx = index_docs.select(fingerprint_col(F.col("text")).alias("fingerprint"))
    out = {r.doc_id: r.is_dup for r in dedup_against_index(new_b, idx).collect()}
    assert out == {10: True, 11: False, 12: True, 13: False}


def test_pagerank_star_hub_ranks_highest(spark):
    """On a star graph the hub must out-rank every leaf, leaves tie exactly
    (integer arithmetic ⇒ exact equality), and the result is
    partitioning-independent."""
    from tesseract_spark.operators.graph import pagerank_fixed

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "id_a long, id_b long"
    )
    ranks = {r.doc_id: r.pr_scaled for r in pagerank_fixed(star).collect()}
    hub, leaves = ranks[0], [ranks[i] for i in range(1, 9)]
    assert all(hub > lv for lv in leaves)
    assert len(set(leaves)) == 1  # exact tie, not float-near
    again = {
        r.doc_id: r.pr_scaled
        for r in pagerank_fixed(star.repartition(5)).collect()
    }
    assert again == ranks


def test_repeated_spans_detects_planted_passage(spark):
    """Content-defined anchoring: a shared passage containing an anchored
    window start must collide across its copies at ARBITRARY (different,
    non-congruent) embedding offsets — the property a fixed-stride grid
    lacks; unique text must produce no spans."""
    import hashlib
    import random

    from tesseract_spark.operators.dedup import repeated_spans

    def has_anchor(passage: str, window=64, every=8, probe=8) -> bool:
        return any(
            int(hashlib.md5(passage[i : i + probe].encode()).hexdigest()[:10], 16)
            % every
            == 0
            for i in range(len(passage) - window + 1)
        )

    alphabet = "abcdefghijklmnopqrstuvwxyz "
    for seed in range(100):  # find a passage with an in-window anchor
        rng = random.Random(seed)
        uniq = lambda n: "".join(rng.choice(alphabet) for _ in range(n))  # noqa: E731
        passage = uniq(96)
        if has_anchor(passage):
            break
    assert has_anchor(passage), "no anchored seed found in 100 tries"

    docs = spark.createDataFrame(
        [
            (0, uniq(13) + passage + uniq(40)),  # offsets 13 vs 57: not
            (1, uniq(57) + passage + uniq(5)),   # congruent mod any stride
            (2, uniq(300)),
            (3, uniq(300)),
        ],
        "doc_id long, text string",
    )
    hits = repeated_spans(docs).collect()
    assert len(hits) >= 1
    assert all(r.n_docs == 2 and r.first_doc == 0 for r in hits)

    lone = repeated_spans(docs.filter("doc_id >= 2")).collect()
    assert lone == []


def test_temperature_mixture_rebalances(spark):
    """sqrt-temperature weighting: the dominant source is cut hardest, small
    sources keep (near) everything, kept counts track rate*n, and the result
    is partitioning-independent."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.sampling import temperature_mixture

    docs = (
        spark.range(10_000).select(F.col("id").alias("doc_id"),
                                   F.lit("big").alias("source"))
        .unionByName(
            spark.range(10_000, 10_400).select(
                F.col("id").alias("doc_id"), F.lit("small").alias("source"))
        )
    )
    rows = {r.source: r for r in temperature_mixture(docs, target_total=2000).collect()}
    big, small = rows["big"], rows["small"]
    # sqrt weighting: w_big=100, w_small=20, sw=120 → rates 1/6 vs 5/6 —
    # the 25:1 corpus imbalance compresses to 5:1 in sampling rate
    assert abs(big.rate - 2000 * 100 / (120 * 10_000)) < 1e-12
    assert abs(small.rate - 2000 * 20 / (120 * 400)) < 1e-12
    assert big.rate < small.rate < 1.0
    # hash-threshold keep-rate concentrates tightly around rate * n
    assert abs(big.n_kept - big.rate * big.n_docs) < 4 * (big.n_docs ** 0.5)
    assert abs(small.n_kept - small.rate * small.n_docs) < 4 * (small.n_docs ** 0.5)
    again = {
        r.source: r.n_kept
        for r in temperature_mixture(docs.repartition(7), target_total=2000).collect()
    }
    assert again == {s: r.n_kept for s, r in rows.items()}


def test_weighted_sample_prefers_heavy_rows(spark):
    """Priority sampling: within one group, the inclusion rate of weight-10
    rows must far exceed weight-1 rows; output is exactly k per group and
    partitioning-independent; non-positive weights are excluded."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.sampling import weighted_sample_per_group

    # 500 light rows (w=1) + 100 heavy rows (w=10) in one group
    docs = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.lit("g").alias("source"),
        F.when(F.col("id") < 100, F.lit(10)).otherwise(F.lit(1)).alias("w"),
    )
    got = weighted_sample_per_group(docs, ["source"], 50, "w").collect()
    assert len(got) == 50
    heavy = sum(1 for r in got if r.doc_id < 100)
    # heavy rows are 1/6 of the pool but ~10x likelier per row; expected
    # heavy share ~2/3 — require a clear majority (p(<25 | correct) ~ 1e-5)
    assert heavy >= 25, f"heavy rows under-sampled: {heavy}/50"
    again = weighted_sample_per_group(docs.repartition(7), ["source"], 50, "w").collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in got}

    with_bad = docs.withColumn(
        "w", F.when(F.col("doc_id") >= 590, F.lit(None)).otherwise(F.col("w"))
    )
    kept = weighted_sample_per_group(with_bad, ["source"], 1000, "w").collect()
    assert {r.doc_id for r in kept} == set(range(590))


# ---------- ADVICE r5: NULL-input hardening ----------


def test_profile_drift_matches_duckdb(spark, duck, sf_dir):
    """The drift report between two snapshot views (full corpus vs a
    filtered 'next ingest') must match the SQL mirror, flag the columns
    that genuinely changed, and stay quiet on identical snapshots."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.profile import (
        profile_drift,
        profile_drift_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half = docs.filter(F.col("doc_id") < 250)
    cols = ["doc_id", "source", "lang"]
    got = sorted(map(tuple, profile_drift(docs, half, cols).collect()))
    duck.execute(
        "CREATE OR REPLACE VIEW _dr_half AS SELECT * FROM documents WHERE doc_id < 250"
    )
    want = sorted(
        map(
            tuple,
            duck.execute(
                profile_drift_oracle_sql("documents", "_dr_half", cols)
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 3
    by_col = {r[0]: r for r in got}
    assert by_col["doc_id"][-1]  # max doc_id changed -> drifted
    # identical snapshots: nothing drifts
    same = profile_drift(docs, docs, cols).collect()
    assert all(not r.drifted for r in same)


def test_key_skew_profile_null_keys(spark, duck):
    """NULL keys are profiled under the '(null)' sentinel, identically in
    operator and oracle — the raw key-ASC tiebreak orders NULLs FIRST in
    Spark but LAST in DuckDB, so a NULL at a top-k tie boundary diverged."""
    from tesseract_spark.operators.profile import (
        key_skew_profile,
        key_skew_profile_oracle_sql,
    )

    df = spark.createDataFrame(
        [("a",)] * 5 + [(None,)] * 5 + [("b",)] * 3, "k string"
    )
    got = {
        (r["key"], r["is_null"]): (r["rank"], r["n_rows"])
        for r in key_skew_profile(df, "k", top_k=2).collect()
    }
    # NULL ties with 'a' at 5 rows; sentinel '(null)' sorts before 'a'
    assert got == {("(null)", True): (1, 5), ("a", False): (2, 5)}

    duck.execute("CREATE OR REPLACE TABLE _skewt AS SELECT * FROM (VALUES " +
                 ", ".join(["('a')"] * 5 + ["(NULL)"] * 5 + ["('b')"] * 3) + ") t(k)")
    want = {
        (r[1], r[2]): (r[0], r[3])
        for r in duck.execute(
            key_skew_profile_oracle_sql("_skewt", "k", top_k=2)
        ).fetchall()
    }
    assert want == got


def test_key_skew_profile_null_vs_literal_sentinel(spark, duck):
    """A genuine string key '(null)' must NOT merge with NULL keys: the
    is_null flag disambiguates, so the two produce separate profile rows
    with separate counts (ADVICE r6)."""
    from tesseract_spark.operators.profile import (
        key_skew_profile,
        key_skew_profile_oracle_sql,
    )

    df = spark.createDataFrame(
        [("(null)",)] * 4 + [(None,)] * 3 + [("x",)] * 2, "k string"
    )
    got = {
        (r["key"], r["is_null"]): (r["rank"], r["n_rows"], r["share_ppm"])
        for r in key_skew_profile(df, "k", top_k=3).collect()
    }
    assert got == {
        ("(null)", False): (1, 4, 4 * 1_000_000 // 9),
        ("(null)", True): (2, 3, 3 * 1_000_000 // 9),
        ("x", False): (3, 2, 2 * 1_000_000 // 9),
    }

    duck.execute(
        "CREATE OR REPLACE TABLE _skewc AS SELECT * FROM (VALUES "
        + ", ".join(["('(null)')"] * 4 + ["(NULL)"] * 3 + ["('x')"] * 2)
        + ") t(k)"
    )
    want = {
        (r[1], r[2]): (r[0], r[3], r[4])
        for r in duck.execute(
            key_skew_profile_oracle_sql("_skewc", "k", top_k=3)
        ).fetchall()
    }
    assert want == got


def test_stratified_sample_null_group_excluded(spark):
    """A NULL stratum must not receive a Hamilton allocation it can never
    fill (its rows are unreachable through the non-null-safe joins): NULL
    groups are excluded up front, and every returned stratum fills its
    target exactly."""
    from tesseract_spark.operators.sampling import stratified_sample_exact

    rows = [(f"d{i}", "s1") for i in range(40)] + [
        (f"e{i}", "s2") for i in range(20)
    ] + [(f"n{i}", None) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    out = stratified_sample_exact(df, total_n=30).collect()
    got = {r["source"]: r for r in out}
    assert set(got) == {"s1", "s2"}  # no NULL stratum
    # allocation over the 60 non-null rows only: 30*40/60=20, 30*20/60=10
    assert got["s1"]["n_target"] == 20 and got["s1"]["n_sampled"] == 20
    assert got["s2"]["n_target"] == 10 and got["s2"]["n_sampled"] == 10


def test_cosine_pairs_udf_null_propagation(spark):
    """NULL vectors propagate to NULL scores (the expression form's
    semantics) instead of crashing the batch; non-null rows are bit-equal
    to the all-valid fast path."""
    from tesseract_spark.operators.similarity import (
        cosine_pairs_udf,
        sq_dist_pairs_udf,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, None, [1.0, 0.0]),
            (3, [0.0, 2.0], None),
            (4, [1.0, 1.0], [1.0, 0.0]),
        ],
        "id int, a array<double>, b array<double>",
    )
    cos, d2 = cosine_pairs_udf(), sq_dist_pairs_udf()
    out = {
        r["id"]: (r["c"], r["d"])
        for r in df.select(
            "id", cos("a", "b").alias("c"), d2("a", "b").alias("d")
        ).collect()
    }
    assert out[2] == (None, None) and out[3] == (None, None)
    assert out[1] == (1.0, 0.0)
    import math

    assert math.isclose(out[4][0], 1.0 / math.sqrt(2.0))
    assert out[4][1] == 1.0


# ---------- round 6: bigram-LM scoring ----------


def test_bigram_lm_matches_duckdb(spark, duck, sf_dir):
    """Integer-exact bit parity with the DuckDB mirror on real documents."""
    from tesseract_spark.operators.lm import bigram_lm_oracle_sql, bigram_lm_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_lik_ppb"])
        for r in bigram_lm_score(docs).collect()
    }
    want = {
        r[0]: (r[1], r[2])
        for r in duck.execute(bigram_lm_oracle_sql()).fetchall()
    }
    assert got == want and len(got) > 0


def test_bigram_lm_edge_docs(spark):
    """Sub-2-token docs score NULL with n_bigrams=0; unseen bigrams get the
    smoothed floor instead of erroring; in-domain text outscores anomalous."""
    from tesseract_spark.operators.lm import bigram_lm_score

    corpus = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the rug"),
            (3, "the dog sat on the mat"),
            (4, "one"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_score(corpus).collect()}
    assert len(out) == 5
    assert out[4]["n_bigrams"] == 0 and out[4]["avg_lik_ppb"] is None
    assert out[5]["n_bigrams"] == 0 and out[5]["avg_lik_ppb"] is None
    assert out[1]["n_bigrams"] == 5

    # score an out-of-domain doc under the trained model: every bigram
    # unseen -> floor likelihood, strictly below any in-domain doc
    ood = spark.createDataFrame(
        [(9, "zq xw vv uu tt ss")], "doc_id long, text string"
    )
    scored = {
        r["doc_id"]: r["avg_lik_ppb"]
        for r in bigram_lm_score(ood, train_df=corpus).collect()
    }
    in_domain = min(
        v["avg_lik_ppb"] for k, v in out.items() if v["avg_lik_ppb"] is not None
    )
    assert scored[9] is not None and scored[9] < in_domain


# ---------- round 6: DSIR importance weighting ----------


def test_dsir_matches_duckdb(spark, duck, sf_dir):
    from pyspark.sql import functions as F

    from tesseract_spark.operators.dsir import (
        dsir_importance,
        dsir_importance_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: (r["is_target"], r["n_features"], r["importance_ppb"], r["selected"])
        for r in dsir_importance(
            docs, F.col("lang") == F.lit("en"), top_k=20
        ).collect()
    }
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in duck.execute(
            dsir_importance_oracle_sql("lang = 'en'", top_k=20)
        ).fetchall()
    }
    assert got == want and len(got) > 0
    assert sum(1 for v in got.values() if v[3]) == 20
    assert not any(v[0] and v[3] for v in got.values()), "targets never selected"


def test_dsir_prefers_target_like_docs(spark):
    """Docs sharing the target's bigrams outrank disjoint-vocabulary docs."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.dsir import dsir_importance

    rows = (
        [(i, "alpha beta gamma delta", "tgt") for i in range(10)]
        + [(100, "alpha beta gamma delta", "raw")]
        + [(101, "omega psi chi phi", "raw")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, kind string")
    out = {
        r["doc_id"]: r
        for r in dsir_importance(
            df, F.col("kind") == F.lit("tgt"), top_k=1
        ).collect()
    }
    assert out[100]["importance_ppb"] > out[101]["importance_ppb"]
    assert out[100]["selected"] and not out[101]["selected"]
    assert not out[0]["selected"]


# ---------- round 6: token-budget mixture planning ----------


def test_token_budget_matches_duckdb(spark, duck, sf_dir):
    from tesseract_spark.operators.budget import (
        plan_token_budget,
        plan_token_budget_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {"src0": 5, "src1": 3, "src2": 2, "src7": 1, "absent": 9}
    got = {
        r["source"]: tuple(r)[1:]
        for r in plan_token_budget(docs, weights, 7_777).collect()
    }
    want = {
        r[0]: tuple(r)[1:]
        for r in duck.execute(
            plan_token_budget_oracle_sql(weights, 7_777)
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_token_budget_hamilton_properties(spark):
    """sum(target) == budget exactly; absent-source weights reallocate;
    zero-weight sources are inventoried but excluded; epochs_ppk expresses
    up-sampling (>1000 = repeats)."""
    from tesseract_spark.operators.budget import plan_token_budget

    rows = (
        [(f"a{i}", "small", "x y z") for i in range(2)]       # 6 tokens
        + [(f"b{i}", "big", "t " * 50) for i in range(10)]     # 500 tokens
        + [(f"c{i}", "unweighted", "u v") for i in range(3)]   # 4 tokens
    )
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    out = {r["source"]: r for r in plan_token_budget(
        df, {"small": 1, "big": 1, "ghost": 8}, 100
    ).collect()}
    assert set(out) == {"small", "big", "unweighted"}
    assert sum(r["target_tokens"] for r in out.values()) == 100
    assert out["unweighted"]["target_tokens"] == 0
    assert out["small"]["target_tokens"] == 50  # equal weights, ghost dropped
    assert out["small"]["epochs_ppk"] == 50 * 1000 // 6  # heavy up-sampling
    assert out["big"]["rate_ppm"] == 50 * 1_000_000 // 500  # subsample


def test_apply_token_budget_matches_duckdb(spark, duck, sf_dir):
    """The materialized mixture (epoch replication + keyed-hash partial
    subsample) must match the SQL mirror row-for-row."""
    from tesseract_spark.operators.budget import (
        apply_token_budget,
        apply_token_budget_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {"src1": 3, "src5": 5, "src9": 2}
    got = sorted(
        (r.doc_id, r.source, r.epoch)
        for r in apply_token_budget(docs, weights, 200_000).collect()
    )
    want = sorted(
        map(tuple, duck.execute(apply_token_budget_oracle_sql(weights, 200_000)).fetchall())
    )
    assert got == want and len(got) > 0


def test_apply_token_budget_epoch_semantics(spark):
    """An under-supplied source must emit full epoch copies (every doc at
    epochs 0..full-1) plus a hash-subsampled partial epoch; an over-supplied
    source only subsamples epoch 0; expected kept tokens track the Hamilton
    targets."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.budget import (
        apply_token_budget,
        plan_token_budget,
    )

    rows = (
        [(i, "small", "a b c d") for i in range(5)]          # 20 tokens
        + [(100 + i, "big", "t " * 40) for i in range(50)]    # 2000 tokens
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    weights = {"small": 1, "big": 1}
    budget = 400  # 200 per source: small repeats 10x, big subsamples 10%
    plan = {r["source"]: r for r in plan_token_budget(df, weights, budget).collect()}
    assert plan["small"]["epochs_ppk"] == 200 * 1000 // 20  # 10 epochs
    out = apply_token_budget(df, weights, budget).collect()

    small = [(r.doc_id, r.epoch) for r in out if r.source == "small"]
    # full epochs 0..9 present for every small doc (rate 10.0 exactly ->
    # partial epoch keeps nothing at ppm 0)
    for d in range(5):
        for e in range(10):
            assert (d, e) in small
    assert all(e < 10 for _, e in small)

    big = [(r.doc_id, r.epoch) for r in out if r.source == "big"]
    assert all(e == 0 for _, e in big)  # subsample only, no repeats
    # ~10% keep rate on 50 docs: deterministic, bounded well away from all/none
    assert 1 <= len(big) <= 15


def test_gopher_quality_flags_matches_duckdb(spark, duck, sf_dir):
    """Per-rule flags and the composite keep must match the SQL mirror
    exactly on the corpus, and hand-built rule violations must trip exactly
    their own flag."""
    from tesseract_spark.operators.text import (
        gopher_quality_flags,
        gopher_quality_flags_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(map(tuple, gopher_quality_flags(docs).collect()))
    want = sorted(
        map(tuple, duck.execute(gopher_quality_flags_oracle_sql()).fetchall())
    )
    assert got == want and len(got) > 0

    cases = spark.createDataFrame(
        [
            (1, "the quick brown fox " * 20),  # passes everything
            (2, "word " * 10),  # too few words
            (3, ("the of " + "# " * 20) * 10),  # symbol ratio trips
            (4, ("the of " + "12345 " * 20) * 10),  # alpha-word rule trips
            (5, "zzz " * 60),  # no stop-words
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_flags(cases).collect()}
    assert out[1].keep
    assert not out[2].ok_word_count and not out[2].keep
    assert not out[3].ok_symbol_ratio and not out[3].keep
    assert not out[4].ok_alpha_words and not out[4].keep
    assert not out[5].ok_stopwords and not out[5].keep


def test_c4_line_filter_matches_duckdb(spark, duck, sf_dir):
    """Line-level C4 cleaning must match the SQL mirror on the corpus, and
    on a multi-line synthetic page must keep exactly the prose lines:
    punctuation-terminated, long enough, no blocked phrases."""
    from tesseract_spark.operators.text import (
        c4_line_filter,
        c4_line_filter_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(map(tuple, c4_line_filter(docs).collect()))
    want = sorted(map(tuple, duck.execute(c4_line_filter_oracle_sql()).fetchall()))
    assert got == want and len(got) > 0

    page = "\n".join(
        [
            "Home | About | Contact",               # no terminal punctuation
            "This is a real paragraph of text.",    # keep
            "Enable JavaScript to continue.",       # blocked phrase
            "Ok.",                                  # too few words
            "Another good sentence stays here!",    # keep
            "if (x) { return; }",                   # blocked '{'
        ]
    )
    out = c4_line_filter(
        spark.createDataFrame([(1, page)], "doc_id long, text string")
    ).collect()[0]
    assert (out.n_lines, out.n_kept) == (6, 2)
    assert out.clean_text == (
        "This is a real paragraph of text.\nAnother good sentence stays here!"
    )


def test_winnowing_fingerprints_match_duckdb_and_guarantee(spark, duck, sf_dir):
    """Winnowing must match the SQL mirror exactly on the corpus, and must
    honor the published guarantee: documents sharing a substring of length
    >= w + k - 1 share at least one fingerprint HASH, while positions are
    offset-shifted (the local-fingerprint property)."""
    from tesseract_spark.operators.text import (
        winnowing_fingerprints,
        winnowing_fingerprints_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    got = sorted(
        (r.doc_id, r.pos, r.fp) for r in winnowing_fingerprints(docs).collect()
    )
    duck.execute(
        "CREATE OR REPLACE VIEW _win100 AS SELECT * FROM documents "
        "ORDER BY doc_id LIMIT 100"
    )
    want = sorted(
        map(
            tuple,
            duck.execute(winnowing_fingerprints_oracle_sql("_win100")).fetchall(),
        )
    )
    assert got == want and len(got) > 0

    # guarantee: k=8, w=4 -> any shared substring of length >= 11 shares a hash
    shared = "the quick brown fox jumps over the lazy dog"
    a = "PREFIX AAAA " + shared + " SUFFIX BBBB"
    b = "totally different opening words here " + shared
    c = "no overlap with anything interesting at all whatsoever zzz"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    fps = {}
    for r in winnowing_fingerprints(df).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "shared passage produced no common fingerprint"
    assert not (fps[1] & fps[3] and fps[2] & fps[3])


def test_winnowing_shared_passages_matches_duckdb(spark, duck, sf_dir):
    """The passage-level pair report must match the SQL mirror, and a
    planted shared paragraph must pair its two hosts (and only them) with
    positive shared-fingerprint count."""
    from tesseract_spark.operators.text import (
        winnowing_shared_passages,
        winnowing_shared_passages_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    got = sorted(
        (r.id_a, r.id_b, r.n_shared)
        for r in winnowing_shared_passages(docs).collect()
    )
    duck.execute(
        "CREATE OR REPLACE VIEW _wsp100 AS SELECT * FROM documents "
        "ORDER BY doc_id LIMIT 100"
    )
    want = sorted(
        map(
            tuple,
            duck.execute(winnowing_shared_passages_oracle_sql("_wsp100")).fetchall(),
        )
    )
    assert got == want

    passage = "a fairly long shared paragraph about model training data"
    df = spark.createDataFrame(
        [
            (1, "doc one starts differently. " + passage),
            (2, passage + " and doc two trails off elsewhere"),
            (3, "completely unrelated content with nothing in common at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.n_shared for r in winnowing_shared_passages(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_round7_text_ops_unicode_parity_fuzz(spark, duck):
    """Cross-engine parity fuzz on hostile unicode corpora (accents, CJK,
    emoji, mixed punctuation, newlines): feature-hash embeddings, Gopher
    flags, and C4 line cleaning must agree with their DuckDB mirrors —
    pinning that the regex/tokenizer semantics both engines share hold
    beyond ASCII."""
    import random

    from tesseract_spark.operators.similarity import (
        feature_hash_embed,
        feature_hash_embed_oracle_sql,
    )
    from tesseract_spark.operators.text import (
        c4_line_filter,
        c4_line_filter_oracle_sql,
        gopher_quality_flags,
        gopher_quality_flags_oracle_sql,
    )

    rng = random.Random(0xC0FFEE)
    atoms = (
        "the of and fox café naïve 汉字 данные 🎉 x1 #tag … {brace} "
        "word. end! why? plain"
    ).split() + ["\n"]
    docs = []
    for did in range(40):
        n = rng.randrange(1, 120)
        docs.append((did, " ".join(rng.choice(atoms) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    duck.execute("DROP TABLE IF EXISTS _unifuzz")
    duck.execute("CREATE TABLE _unifuzz (doc_id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO _unifuzz VALUES (?, ?)", docs)

    got = {r.id: list(r.vec) for r in feature_hash_embed(df, dim=16).collect()}
    want = {
        r[0]: list(r[1])
        for r in duck.execute(
            feature_hash_embed_oracle_sql(16, table="_unifuzz")
        ).fetchall()
    }
    assert got == want

    g = sorted(map(tuple, gopher_quality_flags(df).collect()))
    w = sorted(
        map(
            tuple,
            duck.execute(gopher_quality_flags_oracle_sql(table="_unifuzz")).fetchall(),
        )
    )
    assert g == w

    g = sorted(map(tuple, c4_line_filter(df).collect()))
    w = sorted(
        map(tuple, duck.execute(c4_line_filter_oracle_sql(table="_unifuzz")).fetchall())
    )
    assert g == w


def test_round7_operators_partitioning_independent(spark, sf_dir):
    """The round-7 deterministic operators must return IDENTICAL results
    under adversarial repartitioning — the property that makes them safe at
    1000 executors: membership/scores derive from keyed hashes and exact
    integer math, never from task or partition state."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.budget import apply_token_budget
    from tesseract_spark.operators.decontaminate import ngram_overlap_fraction
    from tesseract_spark.operators.similarity import feature_hash_embed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probes = [r.text for r in docs.orderBy("doc_id").limit(2).collect()]
    variants = [docs, docs.repartition(7), docs.repartition(3, "source")]

    outs = [
        sorted(
            (r.doc_id, r.source, r.epoch)
            for r in apply_token_budget(v, {"src1": 1, "src2": 2}, 100_000).collect()
        )
        for v in variants
    ]
    assert outs[0] == outs[1] == outs[2] and len(outs[0]) > 0

    embeds = [
        {r.id: list(r.vec) for r in feature_hash_embed(v, dim=16).collect()}
        for v in variants
    ]
    assert embeds[0] == embeds[1] == embeds[2]

    overlaps = [
        sorted(
            (r.doc_id, r.overlap_ppm, r.flagged)
            for r in ngram_overlap_fraction(v, probes).collect()
        )
        for v in variants
    ]
    assert overlaps[0] == overlaps[1] == overlaps[2]


def test_apply_token_budget_random_recipes_fuzz(spark, duck, sf_dir):
    """Random (weights, budget) recipes: the materialized mixture must
    match DuckDB row-for-row and its per-source pass counts must bracket
    the plan's epoch arithmetic (full epochs ≤ passes per doc ≤ full+1)."""
    import random

    from tesseract_spark.operators.budget import (
        apply_token_budget,
        apply_token_budget_oracle_sql,
        plan_token_budget,
    )

    rng = random.Random(0xB00C)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sources = [f"src{i}" for i in range(20)]
    for trial in range(3):
        weights = {
            s: rng.randrange(1, 9)
            for s in rng.sample(sources, rng.randrange(2, 6))
        }
        budget = rng.randrange(10_000, 500_000)
        got = sorted(
            (r.doc_id, r.source, r.epoch)
            for r in apply_token_budget(docs, weights, budget).collect()
        )
        want = sorted(
            map(
                tuple,
                duck.execute(
                    apply_token_budget_oracle_sql(weights, budget)
                ).fetchall(),
            )
        )
        assert got == want, f"trial {trial}: weights={weights} budget={budget}"

        plan = {
            r["source"]: r
            for r in plan_token_budget(docs, weights, budget).collect()
        }
        per_doc: dict = {}
        for d, s, e in got:
            per_doc.setdefault((s, d), 0)
            per_doc[(s, d)] += 1
        for (s, d), passes in per_doc.items():
            full = plan[s]["epochs_ppk"] // 1000
            assert full <= passes <= full + 1, (
                f"{s}/{d}: {passes} passes vs {full} full epochs"
            )


def test_token_budget_no_weighted_source_raises(spark):
    """A recipe whose weighted sources are ALL absent from the corpus must
    fail loudly at execution time, not plan a zero-token mix (ADVICE r6)."""
    import pytest as _pytest

    from tesseract_spark.operators.budget import plan_token_budget

    df = spark.createDataFrame(
        [("d1", "present", "a b c")], "doc_id string, source string, text string"
    )
    plan = plan_token_budget(df, {"ghost": 1, "phantom": 2}, 1000)
    with _pytest.raises(Exception, match="no weighted source"):
        plan.collect()


# ---------- round 6: cross-document boilerplate fraction ----------


def test_boilerplate_matches_duckdb(spark, duck, sf_dir):
    from tesseract_spark.operators.dedup import (
        boilerplate_fraction,
        boilerplate_fraction_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_boilerplate"], r["boilerplate_ppm"])
        for r in boilerplate_fraction(docs).collect()
    }
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duck.execute(boilerplate_fraction_oracle_sql()).fetchall()
    }
    assert got == want and len(got) > 0


def test_boilerplate_flags_shared_template(spark):
    """A footer shared by several docs scores high for every carrier; a
    unique doc scores 0; exact duplicates hit 10^6."""
    from tesseract_spark.operators.dedup import boilerplate_fraction

    footer = "subscribe to our newsletter for updates every single day"
    rows = [
        (1, "alpha words one two three four five six " + footer),
        (2, "beta other seven eight nine ten eleven twelve " + footer),
        (3, "gamma text unique only here nothing shared at all today"),
        (4, "delta copy same doc body here exactly now"),
        (5, "delta copy same doc body here exactly now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in boilerplate_fraction(df).collect()}
    assert out[3]["boilerplate_ppm"] == 0
    assert out[4]["boilerplate_ppm"] == 1_000_000
    assert out[5]["boilerplate_ppm"] == 1_000_000
    assert out[1]["boilerplate_ppm"] > 0 and out[1]["boilerplate_ppm"] < 1_000_000
    assert out[1]["n_boilerplate"] > 0


# ---------- round 6: BM25 lexical retrieval ----------


def test_bm25_matches_duckdb(spark, duck, sf_dir):
    from tesseract_spark.operators.retrieval import bm25_topk, bm25_topk_oracle_sql

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = "table window spark batch merge"
    got = [
        (r["doc_id"], r["n_matched_terms"], r["score_ppm"])
        for r in bm25_topk(docs, q, k=12).collect()
    ]
    want = [tuple(r) for r in duck.execute(bm25_topk_oracle_sql(q, k=12)).fetchall()]
    assert got == want and len(got) == 12  # ORDER included in the assert


def test_bm25_ranking_semantics(spark):
    """More query-term hits rank higher; rare terms outweigh common ones;
    empty query raises."""
    import pytest as _pytest

    from tesseract_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "zebra apple apple apple"),      # rare term + repeats
        (2, "apple banana banana banana"),   # common terms only
        (3, "banana banana cherry cherry"),
        (4, "apple banana zebra cherry"),    # all four terms
        (5, "unrelated words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [r["doc_id"] for r in bm25_topk(df, "zebra apple banana cherry", k=5).collect()]
    assert out[0] == 4  # matches every term
    assert 5 not in out  # no matched terms -> absent
    scores = {r["doc_id"]: r["score_ppm"] for r in bm25_topk(df, "zebra", k=5).collect()}
    assert set(scores) == {1, 4}  # only zebra carriers
    with _pytest.raises(ValueError):
        bm25_topk(df, "   ")


def test_bigram_lm_counts_merge_across_stream(spark, sf_dir, tmp_path):
    """Mergeability proof for the LM trainer: per-microbatch bigram counts
    merged by key-wise sum must equal the one-shot batch counts (they are
    plain additive counters), so a 100 TB pipeline can keep a running LM
    over an unbounded stream and score against the merged table. Scoring
    with the merged counts is then bit-equal to batch training."""
    import os

    from pyspark.sql import functions as F

    from tesseract_spark.operators.lm import _doc_bigrams, bigram_lm_score

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.repartition(3).write.mode("overwrite").parquet(src)

    merged: dict = {}

    def upsert(batch_df, batch_id):
        rows = (
            _doc_bigrams(batch_df, "text", "doc_id")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c2"))
            .collect()
        )
        for r in rows:
            merged[(r.w1, r.w2)] = merged.get((r.w1, r.w2), 0) + r.c2

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = {
        (r.w1, r.w2): r.c2
        for r in _doc_bigrams(docs, "text", "doc_id")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .collect()
    }
    assert merged == batch

    # scoring against an externally-supplied (merged) count table == batch:
    # feed the merged counts back in as the train corpus via a rebuilt df
    # equivalence — here the train corpus IS the same docs, so it suffices
    # that counts matched; assert the end scores agree with themselves run
    # twice (determinism under re-partitioning)
    a = {r["doc_id"]: r["avg_lik_ppb"] for r in bigram_lm_score(docs).collect()}
    b = {
        r["doc_id"]: r["avg_lik_ppb"]
        for r in bigram_lm_score(docs.repartition(7)).collect()
    }
    assert a == b


# ---------- round 6: perceptual image-hash dedup ----------


def test_image_ahash_matches_duckdb(spark, duck, sf_dir):
    from tesseract_spark.operators.multimodal import (
        image_ahash_groups,
        image_ahash_groups_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["ahash"]: (r["n_images"], r["first_doc"])
        for r in image_ahash_groups(docs).collect()
    }
    want = {
        r[0]: (r[1], r[2])
        for r in duck.execute(image_ahash_groups_oracle_sql()).fetchall()
    }
    assert got == want and len(got) > 0


def test_image_ahash_perceptual_robustness(spark):
    """The point of aHash over an exact byte hash: small pixel perturbations
    that don't flip any block's above/below-mean relation keep the hash,
    while structurally different images differ. Exact duplicates collide."""
    from tesseract_spark.operators.multimodal import image_ahash

    base = ("a" * 128 + "z" * 128) * 4  # strong light/dark block structure
    # perturb one char within the dark half by 1 code point — block means
    # barely move, no bit flips
    near = base[:200] + "y" + base[201:]
    different = ("az" * 128) * 4  # fine-grained alternation — flat blocks
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, different)],
        "doc_id long, text string",
    )
    h = {r["doc_id"]: r["ahash"] for r in image_ahash(df).collect()}
    assert h[1] == h[2]  # exact duplicate
    assert h[1] == h[3]  # near-duplicate collides (perceptual)
    assert h[1] != h[4]  # different structure separates


# ---------- round 6: audio energy fingerprint ----------


def test_audio_fingerprint_matches_duckdb(spark, duck, sf_dir):
    from tesseract_spark.operators.multimodal import (
        audio_energy_fingerprint,
        audio_energy_fingerprint_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_samples"], r["audio_fp"])
        for r in audio_energy_fingerprint(docs).collect()
    }
    want = {
        r[0]: (r[1], r[2])
        for r in duck.execute(audio_energy_fingerprint_oracle_sql()).fetchall()
    }
    assert got == want and len(got) > 0


def test_audio_fingerprint_envelope_semantics(spark):
    """Identical clips collide; a loudness-envelope-preserving perturbation
    collides; a reshaped envelope separates."""
    from tesseract_spark.operators.multimodal import audio_energy_fingerprint

    # 8-bit PCM centers at 128: ' ' (32) is far off-center = HIGH energy,
    # '~' (126) is near-silence = LOW energy
    high, low = " " * 64, "~" * 64
    a = (high + low) * 4
    b = a[:10] + "}" + a[11:]  # one near-silent sample nudged, envelope intact
    c = (low + high) * 4       # inverted envelope
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, b), (4, c)], "doc_id long, text string"
    )
    fp = {r["doc_id"]: r["audio_fp"] for r in audio_energy_fingerprint(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] == fp[3]
    assert fp[1] != fp[4]


# ---------- round 6: int8-quantized ANN ----------


def test_ann_int8_matches_duckdb(spark, duck, sf_dir):
    from tesseract_spark.operators.similarity import (
        ann_int8_topk,
        ann_int8_topk_oracle_sql,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2]
    got = [
        (r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
        for r in ann_int8_topk(embs, qids, k=4)
        .orderBy("query_id", "rank")
        .collect()
    ]
    want = [
        (r[0], r[3], r[1], r[2])
        for r in duck.execute(
            "SELECT * FROM (" + ann_int8_topk_oracle_sql(qids, k=4) + ") ORDER BY query_id, rank"
        ).fetchall()
    ]
    assert got == want and len(got) == 12


def test_ann_int8_recall_vs_exact(spark, sf_dir):
    """Quantization to int8 with a 4x rescore pool must recover most of the
    exact top-k (the rescore is exact, so errors only come from coarse-tier
    misses); on clearly separated clusters the top-1 is always exact."""
    from tesseract_spark.operators.similarity import ann_int8_topk, brute_force_topk

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 7, 21, 33]
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_int8_topk(embs, qids, k=5).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(embs, qids, k=5).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8

    # planted separated clusters: int8 coarse tier must keep the true top-1
    base = [[10.0] + [0.0] * 7, [0.0] * 4 + [10.0] * 4, [-10.0] + [0.0] * 7]
    rows = []
    for cid, c in enumerate(base):
        for j in range(4):
            v = list(c)
            v[(j + 1) % 8] += 0.25 * (j + 1)
            rows.append((cid * 10 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["query_id"]: r["neighbor_id"]
        for r in ann_int8_topk(df, [0, 10, 20], k=1, rescore_factor=2).collect()
    }
    exact1 = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(df, [0, 10, 20], k=1).collect()
    }
    assert out == exact1


def test_bloom_decontaminate_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The Bloom gate is join-free on the hot path (fixed 8KiB literal bit
    array + per-doc count), so it runs unchanged under Structured Streaming
    — the shape that lets decontamination screen an unbounded ingest stream.
    Stream output (union over micro-batches) must equal the batch result."""
    import os

    from tesseract_spark.operators.decontaminate import bloom_decontaminate

    src = str(tmp_path / "bloom_src")
    os.makedirs(src)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    docs.repartition(3).write.mode("overwrite").parquet(src)
    probes = [r["text"] for r in docs.orderBy("doc_id").limit(3).collect()]

    collected: dict = {}

    def sink(batch_df, batch_id):
        for r in bloom_decontaminate(batch_df, probes).collect():
            collected[r["doc_id"]] = (r["n_bf_hits"], r["flagged"])

    stream = spark.readStream.schema("doc_id long, text string, lang string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = {
        r["doc_id"]: (r["n_bf_hits"], r["flagged"])
        for r in bloom_decontaminate(docs, probes).collect()
    }
    assert collected == batch
    assert any(v[1] for v in batch.values())  # the probe docs themselves flag


def test_ngram_overlap_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The graded overlap metric is per-document independent (fixed probe
    set, broadcast join, per-doc aggregation), so foreachBatch over
    micro-batches must reproduce the batch result exactly — the shape that
    lets the graded gate screen an ingest stream like the Bloom tier."""
    import os

    from tesseract_spark.operators.decontaminate import ngram_overlap_fraction

    src = str(tmp_path / "ngram_src")
    os.makedirs(src)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    probes = [r["text"] for r in docs.orderBy("doc_id").limit(2).collect()]

    collected: dict = {}

    def sink(batch_df, batch_id):
        for r in ngram_overlap_fraction(batch_df, probes).collect():
            collected[r["doc_id"]] = (r["n_ngrams"], r["n_overlap"], r["overlap_ppm"], r["flagged"])

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = {
        r["doc_id"]: (r["n_ngrams"], r["n_overlap"], r["overlap_ppm"], r["flagged"])
        for r in ngram_overlap_fraction(docs, probes).collect()
    }
    assert collected == batch
    assert any(v[3] for v in batch.values())  # the probe docs themselves flag


def test_classifier_separates_planted_corpora(spark):
    """Clearly-separable seeds: positive docs use one vocabulary, negatives
    another — the trained gate must keep positives, drop negatives, give
    mixed docs an intermediate score, and score unseen-vocabulary docs at
    the exact uninformative prior."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.classifier import (
        PRIOR_PPM,
        classifier_quality_gate,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta", 1),
            (2, "beta gamma alpha gamma", 1),
            (3, "zork quux blort zork quux", 0),
            (4, "quux blort zork blort", 0),
            (5, "alpha beta zork quux", 0),  # mixed text, negative label
            (6, "nebula nebula nebula", 0),  # vocabulary unseen positives
            (7, "   ", 0),  # empty after trim
        ],
        "doc_id long, text string, label int",
    )
    out = {
        r.doc_id: r
        for r in classifier_quality_gate(
            docs, F.col("label") == 1, n_buckets=64
        ).collect()
    }
    assert out[1].keep and out[2].keep
    assert not out[3].keep and not out[4].keep
    # mixed doc sits strictly between the pure corpora
    assert out[3].score_ppm < out[5].score_ppm < out[1].score_ppm
    # doc 6's tokens hash to buckets only it trained (all-negative evidence)
    assert out[6].score_ppm < PRIOR_PPM
    # empty doc: no tokens, NULL score, never kept
    assert out[7].n_tokens == 0 and out[7].score_ppm is None and not out[7].keep


def test_classifier_unseen_tokens_score_exact_prior(spark):
    """Scoring a corpus disjoint from the seed vocabulary must yield exactly
    the Laplace prior (500000 ppm) for every token — the model contributes
    nothing it never saw."""
    from tesseract_spark.operators.classifier import (
        PRIOR_PPM,
        score_token_classifier,
        train_token_classifier,
    )

    seeds = spark.createDataFrame(
        [(1, "good fine great", 1), (2, "bad awful poor", 0)],
        "doc_id long, text string, label int",
    )
    model = train_token_classifier(seeds, n_buckets=4096)
    other = spark.createDataFrame(
        [(10, "gggg hhhh jjjj")], "doc_id long, text string"
    )
    row = score_token_classifier(other, model, n_buckets=4096).collect()[0]
    assert row.score_ppm == PRIOR_PPM


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every candidate pair must land in one split, transitively through
    chains — and the planted chain must demonstrate the leak the plain
    per-doc split would have allowed (members that hash apart)."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.sampling import (
        leakage_safe_split,
        split_col,
    )

    n = 500
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(n)],
                                 "doc_id long, text string")
    # chains of near-dups: (0,1),(1,2), (10,11),(11,12), ... every 10th id
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, n - 2, 10)]
        + [(i + 1, i + 2) for i in range(0, n - 2, 10)],
        "id_a long, id_b long",
    )
    out = leakage_safe_split(docs, pairs)
    rows = out.collect()
    assert len(rows) == n  # whole-corpus coverage, singletons included
    split_of = {r.doc_id: r.split for r in rows}
    for a, b in [(p.id_a, p.id_b) for p in pairs.collect()]:
        assert split_of[a] == split_of[b]
        # transitivity through the chain
    for i in range(0, n - 2, 10):
        assert split_of[i] == split_of[i + 2]
    # the naive per-doc hash split WOULD have straddled at least one pair
    naive = {
        r.doc_id: r.naive
        for r in docs.select(
            "doc_id", split_col(F.col("doc_id")).alias("naive")
        ).collect()
    }
    assert any(
        naive[i] != naive[i + 1] or naive[i + 1] != naive[i + 2]
        for i in range(0, n - 2, 10)
    )
    # split fractions are sane (train is the 0.8 bucket)
    from collections import Counter

    c = Counter(split_of.values())
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_hybrid_rrf_matches_python_fusion_of_the_two_legs(spark, sf_dir):
    """The fused top-k must equal reciprocal-rank fusion computed in plain
    Python from the two legs' OWN outputs (independent re-derivation), and
    a document present in both legs must beat every single-leg document
    whose best rank is not better."""
    from tesseract_spark.operators.retrieval import bm25_topk, hybrid_rrf_topk
    from tesseract_spark.operators.similarity import brute_force_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    Q = "table window spark batch merge"
    k, k_leg, rrf_k = 15, 50, 60

    lex_rows = bm25_topk(docs, Q, k=k_leg).collect()  # already score-ordered
    lex_rank = {
        r.doc_id: i + 1
        for i, r in enumerate(
            sorted(lex_rows, key=lambda r: (-r.score_ppm, r.doc_id))
        )
    }
    sem_rank = {
        r.neighbor_id: r.rank
        for r in brute_force_topk(embs, [3], k=k_leg).collect()
    }
    expect = {}
    for d in set(lex_rank) | set(sem_rank):
        s = 0
        if d in lex_rank:
            s += 1_000_000 // (rrf_k + lex_rank[d])
        if d in sem_rank:
            s += 1_000_000 // (rrf_k + sem_rank[d])
        expect[d] = s
    want = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    got = hybrid_rrf_topk(docs, embs, Q, 3, k=k, k_lex=k_leg, k_sem=k_leg).collect()
    assert [(r.doc_id, r.rrf_ppm) for r in got] == want
    # any doc in BOTH legs beats a doc whose single leg rank is no better
    both = [r for r in got if r.rank_lex is not None and r.rank_sem is not None]
    single = [r for r in got if (r.rank_lex is None) != (r.rank_sem is None)]
    for b in both:
        for s in single:
            if min(x for x in (s.rank_lex, s.rank_sem) if x is not None) >= min(
                b.rank_lex, b.rank_sem
            ):
                assert b.rrf_ppm > s.rrf_ppm


def test_classifier_merge_equals_union_training(spark):
    """Incremental-training invariant: merging per-batch models must equal
    training on the union corpus bit-for-bit (counts are mergeable; purity
    is derived from counts)."""
    from tesseract_spark.operators.classifier import (
        merge_token_classifiers,
        train_token_classifier,
    )

    a = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} alpha", i % 2) for i in range(40)],
        "doc_id long, text string, label int",
    )
    b = spark.createDataFrame(
        [(100 + i, f"tok{i % 5} beta beta", (i + 1) % 2) for i in range(30)],
        "doc_id long, text string, label int",
    )
    merged = merge_token_classifiers(
        [train_token_classifier(a, n_buckets=128),
         train_token_classifier(b, n_buckets=128)]
    )
    union = train_token_classifier(a.unionByName(b), n_buckets=128)
    m = {tuple(r) for r in merged.collect()}
    u = {tuple(r) for r in union.collect()}
    assert m == u and len(m) > 0


def test_classifier_scoring_streaming_matches_batch(spark, tmp_path):
    """Scoring with a pre-trained model under Structured Streaming
    (foreachBatch over a file stream) must equal the batch run — the gate
    slots into an ingest pipeline unchanged."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.classifier import (
        score_token_classifier,
        train_token_classifier,
    )

    docs = spark.createDataFrame(
        [(i, ("good fine " if i % 2 else "bad awful ") * (1 + i % 3))
         for i in range(50)],
        "doc_id long, text string",
    )
    seeds = docs.withColumn("label", (F.col("doc_id") % 2).cast("int"))
    model = train_token_classifier(seeds, n_buckets=256)

    src = str(tmp_path / "docs_in")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    got = []
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, _eid: got.extend(
                score_token_classifier(bdf, model, n_buckets=256).collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = score_token_classifier(docs, model, n_buckets=256).collect()
    assert {tuple(r) for r in got} == {tuple(r) for r in batch} and len(got) == 50


def test_bpe_training_hand_checked_merges(spark):
    """Tiny corpus with a known pair structure: 'ab' dominates, then 'abc'."""
    from tesseract_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame(
        [(1, "abc abc abc abd"), (2, "abc abd xy")],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=3)
    # 'a b' appears in every word occurrence (6): clear first merge; then
    # 'ab c' (4 occurrences) beats 'ab d' (2) and 'x y' (1)
    assert merges[0] == ("a", "b")
    assert merges[1] == ("ab", "c")
    assert merges[2] == ("ab", "d")


def test_bpe_spark_pipeline_matches_pure_python_reference(spark, sf_dir):
    """Train+encode through Spark (explode/groupBy + pandas_udf) must equal
    an INDEPENDENT pure-Python implementation over the collected corpus —
    the oracle tier for this inherently iterative operator."""
    from collections import Counter

    from tesseract_spark.operators.bpe import (
        bpe_tokenize,
        encode_word,
        train_bpe,
        train_bpe_from_freqs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    rows = [(r.doc_id, r.text) for r in docs.collect()]

    # pure-Python training: same tokenizer, same cap ordering
    c: Counter = Counter()
    for _, t in rows:
        c.update((t or "").lower().split())
    freqs = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:100_000]
    want_merges = train_bpe_from_freqs(freqs, 60)

    got_merges = train_bpe(docs, n_merges=60)
    assert got_merges == want_merges

    ranks = {p: i for i, p in enumerate(got_merges)}
    want = {
        d: [s for w in (t or "").lower().split() for s in encode_word(w, ranks)]
        for d, t in rows
    }
    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe_tokenize(docs, got_merges).collect()
    }
    assert got == want
    # lossless within words: concatenating a word's symbols restores it
    for d, t in rows[:20]:
        toks = got[d]
        assert "".join(toks) == "".join((t or "").lower().split())


def test_bpe_encoding_reproduces_training_segmentation(spark):
    """A training word, encoded with all merges available, segments exactly
    as the training loop left it (the classic BPE consistency property) —
    here 'abcabc' fully collapses to one symbol."""
    from tesseract_spark.operators.bpe import encode_word, train_bpe

    docs = spark.createDataFrame(
        [(1, "abcabc abcabc abcabc")], "doc_id long, text string"
    )
    merges = train_bpe(docs, n_merges=10)
    ranks = {p: i for i, p in enumerate(merges)}
    assert encode_word("abcabc", ranks) == ("abcabc",)
    # unseen word degrades gracefully to known pieces + single chars
    assert "".join(encode_word("abcz", ranks)) == "abcz"


def test_bpe_token_lengths_feed_sequence_packing(spark, sf_dir):
    """End-to-end composition: pack under the TRAINED tokenizer's lengths
    (bpe_tokenize → pack_sequences(n_tokens_col=...)). Bin fills respect
    capacity with the BPE lengths, and every document lands in exactly one
    bin."""
    from tesseract_spark.operators.bpe import bpe_tokenize, train_bpe
    from tesseract_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    merges = train_bpe(docs, n_merges=80)
    toks = bpe_tokenize(docs, merges)
    packed = pack_sequences(
        docs.join(toks.select("doc_id", "n_bpe_tokens"), "doc_id"),
        capacity=512,
        n_shards=4,
        n_tokens_col="n_bpe_tokens",
    )
    rows = packed.collect()
    assert len(rows) == 200 and len({r.doc_id for r in rows}) == 200
    # n_tokens in the output ARE the BPE lengths
    want = {r.doc_id: r.n_bpe_tokens for r in toks.collect()}
    assert all(r.n_tokens == want[r.doc_id] for r in rows)
    # greedy fill: re-walk each shard in doc_id order and check bins match
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in sorted(rows, key=lambda r: r.doc_id):
        by_shard[r.shard].append(r)
    for shard_rows in by_shard.values():
        bin_id, fill = 0, 513
        for r in shard_rows:
            if fill + r.n_tokens > 512:
                bin_id += 1
                fill = r.n_tokens
            else:
                fill += r.n_tokens
            assert r.bin_id == bin_id


def test_curation_v2_pipeline_composes_new_tiers(spark, sf_dir):
    """Round-8 tiers compose end-to-end: heuristic gate → trained
    classifier gate → near-dup clusters → leakage-safe split → BPE token
    accounting → packing of the train split. Checks the invariants each
    stage must hand the next (no dropped/duplicated docs, split
    consistency inside clusters, bins under capacity)."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import dedup
    from tesseract_spark.operators.bpe import bpe_tokenize, train_bpe
    from tesseract_spark.operators.classifier import classifier_quality_gate
    from tesseract_spark.operators.packing import pack_sequences
    from tesseract_spark.operators.sampling import leakage_safe_split
    from tesseract_spark.operators.text import gopher_quality_flags

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    # stage 1: heuristic gate (permissive thresholds for the tiny corpus)
    flags = gopher_quality_flags(docs, min_words=5, min_stop_hits=0)
    survivors = docs.join(
        flags.filter("keep").select("doc_id"), "doc_id", "semi"
    )
    n_surv = survivors.count()
    assert 0 < n_surv <= n_docs

    # stage 2: trained classifier scores (keep above corpus-median score)
    scored = classifier_quality_gate(
        survivors, F.col("lang") == "en", threshold_ppm=0
    )
    assert scored.count() == n_surv

    # stage 3+4: clusters + leakage-safe split over the survivors
    pairs = dedup.minhash_lsh_pairs(survivors)
    split = leakage_safe_split(survivors, pairs)
    assert split.count() == n_surv
    by_doc = {r.doc_id: (r.canonical_id, r.split) for r in split.collect()}
    for p in pairs.collect():
        assert by_doc[p.id_a][1] == by_doc[p.id_b][1]

    # stage 5: BPE lengths for the train split, packed under capacity
    train_ids = {d for d, (_, s) in by_doc.items() if s == "train"}
    train_docs = survivors.filter(F.col("doc_id").isin(list(train_ids)))
    merges = train_bpe(train_docs, n_merges=60)
    toks = bpe_tokenize(train_docs, merges)
    packed = pack_sequences(
        train_docs.join(toks.select("doc_id", "n_bpe_tokens"), "doc_id"),
        capacity=1024,
        n_shards=4,
        n_tokens_col="n_bpe_tokens",
    )
    rows = packed.collect()
    assert {r.doc_id for r in rows} == train_ids
    from collections import defaultdict

    fill = defaultdict(int)
    for r in rows:
        if r.n_tokens <= 1024:  # oversize docs get a bin alone by contract
            fill[(r.shard, r.bin_id)] += r.n_tokens
    assert all(v <= 1024 for v in fill.values())


def test_classifier_threshold_calibration_hits_keep_rate(spark, sf_dir):
    """calibrate_threshold keeps ~the requested fraction (exact up to score
    ties) and composes with score_token_classifier's threshold_ppm."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.classifier import (
        calibrate_threshold,
        classifier_quality_gate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = classifier_quality_gate(docs, F.col("lang") == "en")
    n = scored.where("score_ppm is not null").count()
    thr = calibrate_threshold(scored, keep_rate=0.3)
    kept = scored.where(F.col("score_ppm") >= thr).count()
    # exact quantile: kept mass is the requested 30% up to tie granularity
    assert kept <= int(n * 0.3) + 1
    assert kept >= int(n * 0.3) - max(1, n // 20)
    # the calibrated threshold drives the gate directly
    gated = classifier_quality_gate(
        docs, F.col("lang") == "en", threshold_ppm=thr
    )
    assert gated.where("keep").count() == kept


def test_classifier_unicode_parity_fuzz(spark, duck):
    """Classifier train→score parity fuzz on hostile unicode (accents, CJK,
    cyrillic, emoji, newlines): the md5-bucket tokenizer semantics must
    agree with the DuckDB mirror beyond ASCII, including the label plumbing
    through the seed CTE."""
    import random

    from pyspark.sql import functions as F

    from tesseract_spark.operators.classifier import (
        classifier_gate_oracle_sql,
        classifier_quality_gate,
    )

    rng = random.Random(0xBEEF)
    atoms = (
        "the of and fox café naïve 汉字 данные 🎉 x1 #tag … {brace} "
        "word. end! why? plain"
    ).split() + ["\n"]
    docs = []
    for did in range(50):
        n = rng.randrange(0, 80)
        docs.append((did, " ".join(rng.choice(atoms) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    duck.execute("DROP TABLE IF EXISTS _clfuzz")
    duck.execute("CREATE TABLE _clfuzz (doc_id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO _clfuzz VALUES (?, ?)", docs)

    got = {
        r.doc_id: (r.n_tokens, r.score_ppm, r.keep)
        for r in classifier_quality_gate(
            df, F.col("doc_id") % 3 == 0, n_buckets=512
        ).collect()
    }
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duck.execute(
            classifier_gate_oracle_sql(
                "doc_id % 3 = 0", table="_clfuzz", n_buckets=512
            )
        ).fetchall()
    }
    assert got == want and len(got) == 50


def test_leakage_safe_split_degenerates_to_plain_split_without_pairs(spark):
    """With an empty pair set every document is its own cluster, so the
    leakage-safe split must equal deterministic_split exactly (same seed,
    same hash, same members)."""
    from tesseract_spark.operators.sampling import (
        deterministic_split,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(300)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r.doc_id: (r.canonical_id, r.split)
        for r in leakage_safe_split(docs, pairs).collect()
    }
    want = {
        r.doc_id: r.split for r in deterministic_split(docs).collect()
    }
    assert len(got) == 300
    assert all(c == d and s == want[d] for d, (c, s) in got.items())


def test_bpe_apply_streaming_matches_batch(spark, tmp_path):
    """bpe_tokenize with a pre-trained merge list under Structured Streaming
    (foreachBatch) equals the batch run — the tokenizer slots into an
    ingest pipeline like the classifier gate does."""
    from tesseract_spark.operators.bpe import bpe_tokenize, train_bpe

    docs = spark.createDataFrame(
        [(i, f"abcabc abd{i % 5} xyz" * (1 + i % 3)) for i in range(40)],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=30)
    src = str(tmp_path / "bpe_in")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    got = []
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, _eid: got.extend(
                (r.doc_id, tuple(r.bpe_tokens))
                for r in bpe_tokenize(bdf, merges).collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "bpe_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = {
        (r.doc_id, tuple(r.bpe_tokens))
        for r in bpe_tokenize(docs, merges).collect()
    }
    assert set(got) == batch and len(got) == 40


def test_hll_grouped_registers_match_duckdb_mirror(spark, sf_dir, duck):
    """The sketch tier's register construction is bit-equal cross-engine
    per GROUP (the flat hll_sketch entry proved the ungrouped form) —
    readying a driver-gated grouped entry."""
    from tesseract_spark.operators.sketch import (
        hll_grouped_oracle_sql,
        hll_grouped_registers,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        (r.g, r.j): r.r
        for r in hll_grouped_registers(
            li.withColumnRenamed("l_returnflag", "g"), ["g"], "l_partkey", 8
        ).collect()
    }
    want = {
        (r[0], r[1]): r[2]
        for r in duck.execute(
            hll_grouped_oracle_sql("lineitem", "l_returnflag", "l_partkey", 8)
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_heavy_hitters_truncation_brackets_and_exact_case(spark):
    """The frequent-members summary contract on a hand-built corpus:
    (a) a truncated grain keeps its top-capacity members by (cnt DESC,
    member ASC) and records the smallest kept count as its floor;
    (b) the merged serve brackets every member's true coarse count —
    est_cnt ≤ true ≤ max_cnt — with est_cnt exact for members no grain
    dropped; (c) with capacity ≥ every grain's distinct members the serve
    IS the exact top-k (floors all zero); (d) increments that arrive as
    new fine grains (day 2 beside day 1) fold in without touching day 1's
    summary rows — the aggnav-style refresh shape."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.sketch import (
        heavy_hitters_rollup,
        merge_heavy_hitters,
    )

    # g=x day=1: a×5 b×3 c×2 d×1 ; g=x day=2: c×4 e×1 ; g=y day=1: a×2
    rows = (
        [("x", 1, "a")] * 5 + [("x", 1, "b")] * 3 + [("x", 1, "c")] * 2
        + [("x", 1, "d")] + [("x", 2, "c")] * 4 + [("x", 2, "e")]
        + [("y", 1, "a")] * 2
    )
    df = spark.createDataFrame(rows, "g string, day int, member string")
    roll = heavy_hitters_rollup(df, ["g", "day"], "member", capacity=2)
    summ = {(r.g, r.day, r.member): (r.cnt, r.floor) for r in roll.collect()}
    # (x,1) truncates to a:5, b:3 with floor 3; (x,2) keeps both, floor 0
    assert summ == {
        ("x", 1, "a"): (5, 3),
        ("x", 1, "b"): (3, 3),
        ("x", 2, "c"): (4, 0),
        ("x", 2, "e"): (1, 0),
        ("y", 1, "a"): (2, 0),
    }
    served = {
        (r.g, r.member): (r.est_cnt, r.max_cnt)
        for r in merge_heavy_hitters(roll, ["g"], ["g", "day"], k=10).collect()
    }
    true = {
        (r.g, r.member): r.c
        for r in df.groupBy("g", "member").agg(F.count("*").alias("c")).collect()
    }
    for key, (lo, hi) in served.items():
        assert lo <= true[key] <= hi, (key, lo, true[key], hi)
    # c was dropped by (x,1) whose floor is 3: bracket [4, 7], true 6
    assert served[("x", "c")] == (4, 7)
    # a is absent only from (x,2), whose floor is 0 (no truncation there) —
    # so its absence is PROOF of count 0 and the bracket collapses: exact
    assert served[("x", "a")] == (5, 5) and true[("x", "a")] == 5

    # exact case: capacity ≥ per-grain distincts ⇒ floors 0, serve == truth
    roll_big = heavy_hitters_rollup(df, ["g", "day"], "member", capacity=100)
    exact = {
        (r.g, r.member): (r.est_cnt, r.max_cnt)
        for r in merge_heavy_hitters(
            roll_big, ["g"], ["g", "day"], k=10
        ).collect()
    }
    assert exact == {k: (v, v) for k, v in true.items()}

    # increment = new fine grain: day-2 summary computed alone equals the
    # day-2 rows of the full rollup (day 1 rows untouched by construction)
    inc = heavy_hitters_rollup(
        df.filter("day = 2"), ["g", "day"], "member", capacity=2
    )
    assert {
        (r.g, r.day, r.member): (r.cnt, r.floor) for r in inc.collect()
    } == {k: v for k, v in summ.items() if k[1] == 2}


def test_classifier_external_seed_holdout(spark, sf_dir):
    """Holdout discipline: train on one slice, score a DISJOINT slice —
    scores are well-formed, keep flags consistent with the threshold, and
    the scoring slice never influences the model (scoring twice with the
    same model is identical)."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.classifier import (
        score_token_classifier,
        train_token_classifier,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seeds = docs.filter("doc_id % 2 = 0").withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    holdout = docs.filter("doc_id % 2 = 1")
    model = train_token_classifier(seeds)
    s1 = {tuple(r) for r in score_token_classifier(holdout, model).collect()}
    s2 = {tuple(r) for r in score_token_classifier(holdout, model).collect()}
    assert s1 == s2 and len(s1) == holdout.count()
    for r in s1:
        doc_id, n_tokens, score, keep = r
        assert (keep is True) == (score is not None and score >= 500_000)


def test_snapshot_diff_classifies_every_transition(spark):
    """added / removed / changed / unchanged all classified correctly, and
    the output covers exactly the union of ids."""
    from tesseract_spark.operators.profile import snapshot_docs_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B!"), (4, "d"), (5, "e")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in snapshot_docs_diff(old, new).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",
        5: "added",
    }


def test_cosine_near_dup_blocked_matches_allpairs(spark):
    """The blocked applyInPandas form must emit EXACTLY the all-pairs set —
    regardless of how many blocks a bucket splits into (VERDICT r8 wrong #3
    rewrite: block partitioning + matmul margin prefilter + exact rescore
    must be invisible in the output)."""
    import math

    from tesseract_spark.operators.similarity import cosine_near_dup_pairs

    dim = 8
    # deterministic small corpus with planted near-parallel groups
    vecs = []
    for i in range(60):
        base = [(((i % 5) * 31 + j * 7) % 13) - 6.0 for j in range(dim)]
        base[i % dim] += (i % 3) * 0.05  # slight perturbations inside groups
        vecs.append((i, [float(v) for v in base]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    rows = df.collect()
    fv = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    # brute-force expectation ignores bucketing: restrict to same-bucket pairs
    # by comparing against the single-block run instead (bucket logic shared)
    one_block = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in cosine_near_dup_pairs(
            df, threshold=0.9, dim=dim, planes=3, target_block=1_000_000
        ).collect()
    }
    assert one_block, "planted groups must produce near-dup pairs"
    for tb in (1, 2, 7):
        blocked = {
            (r.id_a, r.id_b, r.cos_sim)
            for r in cosine_near_dup_pairs(
                df, threshold=0.9, dim=dim, planes=3, target_block=tb
            ).collect()
        }
        assert blocked == one_block, f"target_block={tb} changed the pair set"
    # sanity: emitted cosines agree with plain python within float noise
    for a, b, c in one_block:
        assert abs(cos(fv[a], fv[b]) - c) < 1e-5


def test_cosine_near_dup_mega_bucket_star(spark):
    """Buckets above max_bucket must switch to hub (min-id) star expansion:
    linear output, no member-member pairs — the degenerate-bucket bound
    (mirrors minhash_lsh_pairs' cap)."""
    from tesseract_spark.operators.similarity import cosine_near_dup_pairs

    dim = 4
    n = 120
    # identical vectors: one bucket, every pair cos=1.0
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    star = cosine_near_dup_pairs(
        df, threshold=0.95, dim=dim, planes=2, max_bucket=50, target_block=16
    ).collect()
    assert len(star) == n - 1  # hub pairs only — linear, not O(n^2)
    assert all(r.id_a == 0 and r.cos_sim == 1.0 for r in star)
    assert {r.id_b for r in star} == set(range(1, n))
    # under the cap the same corpus produces the full quadratic set
    full = cosine_near_dup_pairs(
        df, threshold=0.95, dim=dim, planes=2, max_bucket=10_000, target_block=16
    )
    assert full.count() == n * (n - 1) // 2


def test_assign_empty_centroid_set_returns_empty_not_raises(spark):
    """ADVICE r9: an empty or all-NULL-vector corpus trains zero centroids;
    _assign (and its train_kmeans / semantic_dedup consumers) must produce
    an EMPTY (id, vec, cid) result — the pre-r9 lazy-crossJoin behavior —
    not raise, because empty slices/increments are a legitimate pipeline
    state."""
    from tesseract_spark.operators.similarity import _assign, train_kmeans

    empty = spark.createDataFrame([], "id long, vec array<double>")
    cents = train_kmeans(empty.withColumnRenamed("id", "id"), n_centroids=4)
    assert cents.count() == 0
    assigned = _assign(empty, cents)
    assert assigned.columns == ["id", "vec", "cid"]
    assert assigned.count() == 0
    # all-NULL vectors behave the same as empty
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "id long, vec array<double>"
    )
    assert _assign(nulls, train_kmeans(nulls, n_centroids=2)).count() == 0


def test_cosine_near_dup_zero_norm_vectors_excluded_in_both_tiers(spark):
    """ADVICE r9: zero-norm vectors have an undefined (NaN) cosine. The
    blocked tier's numpy prefilter dropped them while the star tier's
    Spark-side round(NaN) >= threshold KEPT them (NaN sorts above every
    value) — the upfront zero-norm filter must make both tiers agree that
    an undefined similarity is never a near-dup."""
    from tesseract_spark.operators.similarity import cosine_near_dup_pairs

    dim = 4
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(12)] + [
        (100, [0.0] * dim),
        (101, [0.0] * dim),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # blocked tier (everything under max_bucket)
    blocked = cosine_near_dup_pairs(
        df, threshold=0.95, dim=dim, planes=2, max_bucket=1000, target_block=4
    ).collect()
    # star tier (duplicate bucket over the cap)
    star = cosine_near_dup_pairs(
        df, threshold=0.95, dim=dim, planes=2, max_bucket=5, target_block=4
    ).collect()
    for got in (blocked, star):
        ids = {r.id_a for r in got} | {r.id_b for r in got}
        assert 100 not in ids and 101 not in ids, "zero-norm vector paired"
        assert got, "the identical-vector group must still pair"


def test_bpe_merges_table_is_the_trained_list(spark, sf_dir):
    """merges_table (the q_bpe_merges driver artifact) must be exactly the
    trained merge list in rank order, with token = left||right."""
    from tesseract_spark.operators.bpe import merges_table, train_bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs, n_merges=25)
    rows = merges_table(spark, merges).orderBy("rank").collect()
    assert [(r.left, r.right) for r in rows] == merges
    assert all(r.token == r.left + r.right for r in rows)
    assert [r.rank for r in rows] == list(range(len(merges)))


def test_binned_quantiles_exact_when_bins_are_values(spark):
    """With every distinct value its own bin boundary, the rollup estimate
    IS quantile_cont — bit-equal to the exact distributed fold (the
    estimate's only error source is within-bin interpolation)."""
    from tesseract_spark.operators.quantiles import exact_quantiles
    from tesseract_spark.operators.sketch import (
        binned_quantile_rollup,
        binned_quantiles,
    )

    df = spark.createDataFrame(
        [("g", float(x)) for x in [1, 2, 2, 3, 5, 8, 13, 21]]
        + [("h", float(x)) for x in [4, 4, 4, 10]],
        "g string, v double",
    )
    bounds = [1.0, 2.0, 3.0, 4.0, 5.0, 8.0, 10.0, 13.0, 21.0]
    probs = [0.0, 0.25, 0.5, 0.9, 1.0]
    names = ["p0", "p25", "p50", "p90", "p100"]
    est = sorted(
        tuple(r)
        for r in binned_quantiles(
            binned_quantile_rollup(df, ["g"], "v", bounds), ["g"], probs, names
        ).collect()
    )
    exact = sorted(
        tuple(r) for r in exact_quantiles(df, ["g"], "v", probs, names).collect()
    )
    assert est == exact


def test_binned_quantiles_merge_is_exact_and_error_bounded(spark, sf_dir):
    """Rollups of disjoint slices merge into EXACTLY the direct rollup
    (sum/min/max mergeability), and estimates stay within one bin width of
    the exact quantiles — the contract that makes this the incremental
    dashboard tier."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators.quantiles import exact_quantiles
    from tesseract_spark.operators.sketch import (
        binned_quantile_rollup,
        binned_quantiles,
        merge_binned_rollups,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v"))
    )
    bounds = [float(b) for b in range(10_000, 110_000, 10_000)]
    full = binned_quantile_rollup(rows, ["g"], "v", bounds)
    parts = binned_quantile_rollup(
        rows.filter(F.col("v") < 50_000), ["g"], "v", bounds
    ).unionByName(
        binned_quantile_rollup(rows.filter(F.col("v") >= 50_000), ["g"], "v", bounds)
    )
    merged = merge_binned_rollups(parts, ["g"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )

    est = {
        r.g: (r.p50, r.p90)
        for r in binned_quantiles(full, ["g"], [0.5, 0.9], ["p50", "p90"]).collect()
    }
    exact = {
        r.g: (r.p50, r.p90)
        for r in exact_quantiles(rows, ["g"], "v", [0.5, 0.9], ["p50", "p90"]).collect()
    }
    bin_width = 10_000
    for g, (p50, p90) in est.items():
        assert abs(p50 - exact[g][0]) <= bin_width
        assert abs(p90 - exact[g][1]) <= bin_width


def test_heavy_hitters_streaming_refresh_recounts_and_replays(spark, tmp_path):
    """Streaming arrivals folded into the heavy-hitters summary store must
    equal the batch rollup over all data EVEN WHEN A GRAIN'S ROWS SPAN
    MICRO-BATCHES (per-grain summaries are truncated counts — not mergeable
    within a grain — so the stream recounts touched grains from the full
    raw store instead of unioning per-batch summaries), and a full replay
    with a fresh checkpoint must change nothing (the recount is idempotent
    — this stream is the ledger-free member of the ingest family)."""
    import shutil

    from pyspark.sql import functions as F

    from tesseract_spark.operators.sketch import (
        heavy_hitters_rollup,
        merge_heavy_hitters,
    )
    from tesseract_spark.streaming.ingest import heavy_hitters_refresh_stream

    src = str(tmp_path / "raw")
    summ = str(tmp_path / "summ")
    ckpt = str(tmp_path / "ckpt")
    schema = "g string, day int, member string"
    batch1 = [("x", 1, m) for m in ["a"] * 3 + ["b"] * 2 + ["c"]]
    batch2 = [("x", 1, m) for m in ["c"] * 4 + ["d"]] + [("y", 1, "a")]

    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
    heavy_hitters_refresh_stream(
        spark, summ, src, ckpt, schema, ["g", "day"], "member", capacity=2
    )
    # second arrival SPLITS grain (x, 1) across batches and adds (y, 1)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    heavy_hitters_refresh_stream(
        spark, summ, src, ckpt, schema, ["g", "day"], "member", capacity=2
    )

    full = spark.createDataFrame(batch1 + batch2, schema)
    want_roll = {
        (r.g, r.day, r.member): (r.cnt, r.floor)
        for r in heavy_hitters_rollup(full, ["g", "day"], "member", 2).collect()
    }
    got_roll = {
        (r.g, r.day, r.member): (r.cnt, r.floor)
        for r in spark.read.parquet(summ).collect()
    }
    assert got_roll == want_roll and ("x", 1, "c") in got_roll  # c won after recount

    want_serve = sorted(
        map(
            tuple,
            merge_heavy_hitters(
                heavy_hitters_rollup(full, ["g", "day"], "member", 2),
                ["g"],
                ["g", "day"],
                k=3,
            ).collect(),
        )
    )
    got_serve = sorted(
        map(
            tuple,
            merge_heavy_hitters(
                spark.read.parquet(summ), ["g"], ["g", "day"], k=3
            ).collect(),
        )
    )
    assert got_serve == want_serve

    # fresh checkpoint → full replay: recount is idempotent, nothing changes
    shutil.rmtree(ckpt)
    heavy_hitters_refresh_stream(
        spark, summ, src, str(tmp_path / "ckpt2"), schema, ["g", "day"], "member", capacity=2
    )
    again = {
        (r.g, r.day, r.member): (r.cnt, r.floor)
        for r in spark.read.parquet(summ).collect()
    }
    assert again == want_roll


def test_ivfpq_filtered_serving_competes_only_among_matches(spark, sf_dir, tmp_path):
    """Filtered ANN: the `allowed` semi-join applies BEFORE the ADC
    ranking, so (a) every served neighbor satisfies the filter, (b) with a
    filter admitting everything the serve is bit-equal to the unfiltered
    path, and (c) a selective filter still fills k from deeper candidates
    rather than post-filtering the unfiltered top-k (the under-fill bug the
    scan-side join exists to prevent)."""
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_filt")
    ann_index.build_ivfpq_index(embs, path)
    qvecs = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in embs.filter(F.col("vec_id").isin([1, 2, 3]))
        .select("vec_id", "embedding")
        .collect()
    ]

    allowed = embs.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("id")
    )
    got = ann_index.query_ivfpq_index(
        spark, path, qvecs, k=3, rerank=10**6, allowed=allowed
    ).collect()
    assert all(r.neighbor_id % 3 == 0 for r in got)
    assert len(got) == 3 * 3  # k filled for every query

    everything = embs.select(F.col("vec_id").alias("id"))
    all_rows = sorted(
        map(
            tuple,
            ann_index.query_ivfpq_index(
                spark, path, qvecs, k=3, allowed=everything
            ).collect(),
        )
    )
    plain = sorted(
        map(tuple, ann_index.query_ivfpq_index(spark, path, qvecs, k=3).collect())
    )
    assert all_rows == plain

    # scan-side filtering beats post-filtering: with rerank = ∞ the filtered
    # top-k per query is exactly the best k ALLOWED rows of the probed
    # lists, which post-filtering plain top-k (mostly % 3 != 0 rows) cannot
    # reproduce when fewer than k of the plain winners match
    plain_pairs = {(r.query_id, r.neighbor_id) for r in ann_index.query_ivfpq_index(
        spark, path, qvecs, k=3, rerank=10**6).collect()}
    got_pairs = {(r.query_id, r.neighbor_id) for r in got}
    assert got_pairs - plain_pairs, "filter admitted only plain winners — test data degenerate"


def test_zorder_layout_prunes_both_columns_and_preserves_content(
    spark, sf_dir, tmp_path
):
    """Z-order clustering: (a) the written dataset is content-identical to
    the input; (b) a selective range cut on the SECOND clustering column
    prunes row groups that a lexicographic (first-column) sort cannot (the
    whole point of multi-dimensional clustering); (c) the first column
    still prunes under Z-order. Asserted on parquet footer min/max stats —
    the thing predicate pushdown actually reads — not on timings."""
    from pyspark.sql import functions as F

    from tesseract_spark.sources.layout import (
        rowgroup_pruning_stats,
        zorder_write,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    nat = str(tmp_path / "nat")
    zo = str(tmp_path / "zo")
    li.repartitionByRange(8, "l_partkey").sortWithinPartitions(
        "l_partkey"
    ).write.parquet(nat)
    zorder_write(li, ["l_partkey", "l_suppkey"], zo, n_files=8)

    a = li.selectExpr("hash(*) h").agg(F.sum("h"), F.count("*")).collect()[0]
    b = (
        spark.read.parquet(zo)
        .selectExpr("hash(*) h")
        .agg(F.sum("h"), F.count("*"))
        .collect()[0]
    )
    assert tuple(a) == tuple(b)

    mx = li.agg(F.max("l_suppkey")).collect()[0][0]
    lo, hi = 1, max(1, mx // 20)  # ~5% selective range on the 2nd column
    n_hit, n_tot = rowgroup_pruning_stats(nat, "l_suppkey", lo, hi)
    z_hit, z_tot = rowgroup_pruning_stats(zo, "l_suppkey", lo, hi)
    assert z_hit / z_tot < n_hit / n_tot, (
        f"zorder read {z_hit}/{z_tot} row groups on the 2nd column, "
        f"first-column sort read {n_hit}/{n_tot} — no pruning win"
    )
    mxp = li.agg(F.max("l_partkey")).collect()[0][0]
    p_hit, p_tot = rowgroup_pruning_stats(zo, "l_partkey", 1, max(1, mxp // 20))
    assert p_hit < p_tot, "zorder lost first-column pruning entirely"


def test_compact_partitions_preserves_values_and_reduces_files(spark, tmp_path):
    """Micro-batch-shaped appends (many small files per partition dir)
    compact to ~target-row files with identical content; partition columns
    survive the dynamic overwrite round-trip."""
    import glob

    from pyspark.sql import functions as F

    from tesseract_spark.sources.layout import compact_partitions

    src = str(tmp_path / "parts")
    base = spark.range(4000).select(
        F.col("id"), (F.col("id") % 2).alias("pk")
    )
    for _ in range(4):  # 4 "micro-batches" × 8 tasks = 64 shards
        base.repartition(8).write.mode("append").partitionBy("pk").parquet(src)

    before_files = len(glob.glob(f"{src}/pk=*/*.parquet"))
    before = (
        spark.read.parquet(src)
        .selectExpr("hash(id, pk) h")
        .agg(F.sum("h"), F.count("*"))
        .collect()[0]
    )
    compact_partitions(spark, src, ["pk"], target_rows=1_000_000)
    after_files = len(glob.glob(f"{src}/pk=*/*.parquet"))
    after = (
        spark.read.parquet(src)
        .selectExpr("hash(id, pk) h")
        .agg(F.sum("h"), F.count("*"))
        .collect()[0]
    )
    assert tuple(before) == tuple(after)
    assert after_files < before_files


def test_ivfpq_empty_corpus_index_is_loud_on_append_graceful_on_query(
    spark, tmp_path
):
    """An index built over an empty corpus has no trained quantizers:
    appending through it must raise a CLEAR error (silently dropping the
    batch loses data; crashing in max() over an empty sequence is
    diagnosable by nobody), while querying returns an empty result with
    the serving schema (the pq-module empty-tolerance contract)."""
    import pytest as _pytest

    from tesseract_spark.operators import ann_index

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "empty_ix")
    ann_index.build_ivfpq_index(empty, path)

    got = ann_index.query_ivfpq_index(spark, path, [(1, [0.0] * 64)], k=3)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [
        "query_id",
        "neighbor_id",
        "cos_sim",
        "rank",
    ]

    batch = spark.createDataFrame(
        [(1, [0.5] * 64)], "vec_id bigint, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="no trained quantizers"):
        ann_index.append_to_ivfpq_index(batch, path)


def test_compact_partitions_boolean_and_null_partition_values(spark, tmp_path):
    """The bucket-count map must key by the ENGINE's rendering of the
    partition values: boolean partitions ('true' vs Python 'True') and
    NULL partitions previously missed every lookup, bucketing NOTHING and
    silently collapsing a partition to one file regardless of target."""
    import glob

    from pyspark.sql import functions as F

    from tesseract_spark.sources.layout import compact_partitions

    src = str(tmp_path / "boolparts")
    base = spark.range(3000).select(
        "id",
        F.when(F.col("id") % 3 == 0, True)
        .when(F.col("id") % 3 == 1, False)
        .otherwise(F.lit(None))
        .alias("flag"),
    )
    for _ in range(3):
        base.repartition(6).write.mode("append").partitionBy("flag").parquet(src)

    before = (
        spark.read.parquet(src)
        .selectExpr("hash(id, flag) h")
        .agg(F.sum("h"), F.count("*"))
        .collect()[0]
    )
    # target small enough that each 3,000-row partition needs 2 files —
    # the old str(value) keying yielded pmod(NULL) → every partition ONE file
    compact_partitions(spark, src, ["flag"], target_rows=2000)
    after = (
        spark.read.parquet(src)
        .selectExpr("hash(id, flag) h")
        .agg(F.sum("h"), F.count("*"))
        .collect()[0]
    )
    assert tuple(before) == tuple(after)
    for d in glob.glob(f"{src}/flag=*"):
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 2, (d, len(files))


def test_kmeans_oracle_null_seed_parity(spark):
    """A NULL-embedding row with the SMALLEST id must not become a k-means
    seed in either engine: train_kmeans filters NULL vectors (ADVICE r9)
    and the SQL mirror's ``v`` CTE now carries the same ``IS NOT NULL``
    filter. Regression: the mirror seeded the NULL row and every
    k-means-family oracle diverged on corpora with NULL embeddings."""
    import duckdb

    from tesseract_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_oracle_sql,
    )

    rows = [(0, None)] + [
        (i, [float((i * 7 + j * 3) % 11) for j in range(8)])
        for i in range(1, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = sorted(
        map(
            tuple,
            ivf_topk(df, [1, 2], k=3, n_centroids=4, nprobe=2).collect(),
        )
    )

    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, {'NULL' if v is None else '[' + ', '.join(map(str, v)) + ']'})"
        for i, v in rows
    )
    con.execute(
        f"CREATE TABLE embeddings AS SELECT * FROM (VALUES {vals}) "
        "t(vec_id, embedding)"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            ivf_topk_oracle_sql([1, 2], k=3, n_centroids=4, nprobe=2, dim=8)
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_zorder_timestamp_column_clusters_and_preserves(spark, sf_dir, tmp_path):
    """The docstring's 'numeric/date columns' claim, exercised on a real
    TIMESTAMP clustering column (events.ts × user_id): content preserved,
    and a one-day time-slice cut prunes row groups while user_id retains
    pruning too — the time+entity cut is THE events-table access path."""
    from pyspark.sql import functions as F

    from tesseract_spark.sources.layout import (
        rowgroup_pruning_stats,
        zorder_write,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    zo = str(tmp_path / "ev_zo")
    zorder_write(ev, ["ts", "user_id"], zo, n_files=8)

    a = ev.selectExpr("hash(*) h").agg(F.sum("h"), F.count("*")).collect()[0]
    b = (
        spark.read.parquet(zo)
        .selectExpr("hash(*) h")
        .agg(F.sum("h"), F.count("*"))
        .collect()[0]
    )
    assert tuple(a) == tuple(b)

    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 20  # ~5% time slice
    t_hit, t_tot = rowgroup_pruning_stats(zo, "ts", lo, mid)
    assert t_hit < t_tot, f"no timestamp pruning: {t_hit}/{t_tot}"
    mxu = ev.agg(F.max("user_id")).collect()[0][0]
    u_hit, u_tot = rowgroup_pruning_stats(zo, "user_id", 1, max(1, mxu // 20))
    assert u_hit < u_tot, f"no user_id pruning: {u_hit}/{u_tot}"


def test_ivfpq_filtered_parity_across_filters_and_probes(spark, sf_dir, tmp_path):
    """Filtered serving across several (filter, nprobe) combinations: every
    neighbor matches the filter, ranks are dense from 1, and the filtered
    result at rerank=∞ equals brute-force cosine over the allowed rows of
    the probed lists (recomputed independently from the index files)."""
    import numpy as np
    from pyspark.sql import functions as F

    from tesseract_spark.operators import ann_index

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ixf")
    ann_index.build_ivfpq_index(embs, path)
    qvecs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in embs.filter(F.col("vec_id").isin([2, 5]))
        .select("vec_id", "embedding")
        .collect()
    ]
    lists = spark.read.parquet(f"{path}/lists").collect()
    cents = sorted(
        spark.read.parquet(f"{path}/centroids").collect(), key=lambda r: r.cid
    )

    for mod, nprobe in [(2, 1), (3, 2), (5, 3)]:
        allowed = embs.filter(F.col("vec_id") % mod == 0).select(
            F.col("vec_id").alias("id")
        )
        got = ann_index.query_ivfpq_index(
            spark, path, qvecs, k=4, nprobe=nprobe, rerank=10**6, allowed=allowed
        ).collect()
        by_q: dict = {}
        for r in got:
            assert r.neighbor_id % mod == 0
            by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos_sim))
        for qid, qv in qvecs:
            q = np.array(qv)
            # independent probe: nprobe nearest coarse centroids by (d2, cid)
            d2 = [
                (float(q @ q - 2 * (q @ np.array(c.cvec)) + np.array(c.cvec) @ np.array(c.cvec)), c.cid)
                for c in cents
            ]
            probed = {cid for _, cid in sorted(d2)[:nprobe]}
            cand = [
                r for r in lists if r.cid in probed and r.id % mod == 0
            ]
            cos = sorted(
                (
                    (
                        -round(
                            float(q @ np.array(r.vec))
                            / (np.linalg.norm(q) * np.linalg.norm(np.array(r.vec))),
                            6,
                        ),
                        r.id,
                    )
                    for r in cand
                ),
            )[:4]
            want = [(i + 1, nid, -neg) for i, (neg, nid) in enumerate(cos)]
            assert sorted(by_q.get(qid, [])) == want, (qid, mod, nprobe)


def test_compact_bucket_routing_deterministic_and_broadcast_joined(
    spark, tmp_path
):
    """ADVICE r10 items 3+4: the compaction bucket key must be a
    deterministic content hash (the job overwrites its own input, so a
    nondeterministic key duplicates/drops rows on task retry), and the
    per-partition size table must ride a broadcast join, not a create_map
    literal whose expression count grows with partition cardinality."""
    from pyspark.sql import functions as F

    from tesseract_spark.sources.layout import _bucketed

    src = str(tmp_path / "parts")
    (
        spark.range(3000)
        .select(F.col("id"), (F.col("id") % 7).alias("pk"))
        .write.mode("overwrite")
        .partitionBy("pk")
        .parquet(src)
    )
    df = spark.read.parquet(src)
    out1, total1 = _bucketed(df, ["pk"], target_rows=500)
    out2, total2 = _bucketed(df, ["pk"], target_rows=500)
    assert total1 == total2
    # identical routing across independent evaluations == retry-safe
    r1 = {(r.id, r.pk): r["__b"] for r in out1.collect()}
    r2 = {(r.id, r.pk): r["__b"] for r in out2.collect()}
    assert r1 == r2 and len(r1) == 3000
    plan = out1._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "xxhash64" in plan.lower()


def test_ingest_ledger_missing_is_empty_but_read_failure_raises(
    spark, tmp_path
):
    """ADVICE r10 item 1: only PATH_NOT_FOUND may mean 'first batch';
    any other ledger-read failure must raise, because demoting it to an
    empty applied-set re-applies every file in the batch (double-counted
    sums / phantom ANN neighbors) with no error."""
    import pytest as _pytest

    from tesseract_spark.streaming.ingest import _read_applied_ledger

    missing = str(tmp_path / "no_such_ledger")
    assert _read_applied_ledger(spark, missing) == set()

    corrupt = tmp_path / "ledger"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"this is not parquet")
    with _pytest.raises(Exception) as ei:
        _read_applied_ledger(spark, str(corrupt))
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_ivfpq_residual_build_interrupted_before_lists_is_loud(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r10 item 2, hardened twice (r11 review, ADVICE r11):
    overwrite builds stage into {path}.staging.<uuid> and rename at the
    end, so an interrupted build can never leave a half-written index at
    path — a crashed FRESH build leaves nothing (loud missing path), a
    crashed residual REBUILD over an existing plain index leaves the old
    index fully intact and still serving (in-place write ordering alone
    could pair new meta with old lists: silent wrong-distance corruption),
    and a crashed build removes its own staging dir (uuid-keyed, so
    concurrent same-path builds can't rmtree each other's staging)."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from tesseract_spark.operators import ann_index
    from tesseract_spark.operators.ann_index import _read_ivfpq_meta

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(64)
    path = str(tmp_path / "ivfpq_partial")

    orig = DataFrameWriter.parquet

    def boom(self, p, *a, **k):
        if p.endswith("/lists"):
            raise RuntimeError("injected crash before lists write")
        return orig(self, p, *a, **k)

    # 1) crashed FRESH build: nothing may exist at path afterwards
    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        ann_index.build_ivfpq_index(embs, path, residual=True)
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)
    assert not os.path.exists(path), "crashed fresh build left a partial index"
    leftovers = [
        n for n in os.listdir(tmp_path) if ".staging." in n
    ]
    assert not leftovers, f"crashed build orphaned staging dirs: {leftovers}"
    v = [0.0] * 64
    with _pytest.raises(Exception):
        ann_index.query_ivfpq_index(spark, path, [(1, v)], k=1).collect()

    # 2) crashed residual REBUILD over an existing plain index: the old
    # index must survive untouched and still serve as plain
    ann_index.build_ivfpq_index(embs, path)
    v0 = [float(x) for x in embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    before = ann_index.query_ivfpq_index(spark, path, [(9, v0)], k=3).collect()
    assert before and before[0].neighbor_id == 0  # self at rank 1
    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        ann_index.build_ivfpq_index(embs, path, residual=True)
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)
    assert _read_ivfpq_meta(spark, path) is False, "old plain meta must survive"
    after = ann_index.query_ivfpq_index(spark, path, [(9, v0)], k=3).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]

    # 3) a clean residual rebuild then succeeds and flips the meta flag
    ann_index.build_ivfpq_index(embs, path, residual=True)
    assert _read_ivfpq_meta(spark, path) is True
    assert ann_index.query_ivfpq_index(spark, path, [(9, v0)], k=1).collect()[0].neighbor_id == 0


def test_png_palette_rgba_round_trips():
    """r14 layouts (VERDICT r13 'missing' #1): indexed-color with PLTE +
    tRNS, sub-byte depths, RGBA and gray+alpha plane splits — each decode
    is an exact byte function of the encoder input."""
    from tesseract_spark.operators import multimodal as mm

    pal = [((i * 7 + 13) % 256, (i * 5 + 3) % 256, i) for i in range(256)]
    trans = bytes((i * 7 + 5) % 256 for i in range(128))
    idx = bytes((i * 37) % 256 for i in range(16 * 20))
    d = mm.decode_png(mm.encode_png_palette(idx, 16, 20, pal, trans=trans))
    assert d["pixels"] == b"".join(bytes(pal[i]) for i in idx)
    assert d["alpha"] == bytes(trans[i] if i < 128 else 255 for i in idx)
    # no tRNS -> opaque source, no alpha plane
    assert mm.decode_png(mm.encode_png_palette(idx, 16, 20, pal))["alpha"] is None
    # sub-byte depths with a non-byte-aligned width (pad bits exercised)
    for depth in (4, 2, 1):
        n = 1 << depth
        ind = bytes(i % n for i in range(13 * 7))
        got = mm.decode_png(mm.encode_png_palette(ind, 13, 7, pal[:n], depth=depth))
        assert got["pixels"] == b"".join(bytes(pal[i]) for i in ind), depth
    # RGBA: plane split
    rgba = bytes((i * 11 + 3) % 256 for i in range(8 * 6 * 4))
    d = mm.decode_png(mm.encode_png_rgba(rgba, 8, 6))
    assert d["pixels"] == b"".join(rgba[k * 4 : k * 4 + 3] for k in range(48))
    assert d["alpha"] == bytes(rgba[k * 4 + 3] for k in range(48))
    # gray+alpha: gray tripled, alpha split
    ga = bytes((i * 13 + 1) % 256 for i in range(10 * 5 * 2))
    d = mm.decode_png(mm.encode_png_gray_alpha(ga, 10, 5))
    assert d["pixels"] == b"".join(bytes((ga[2 * k],) * 3) for k in range(50))
    assert d["alpha"] == bytes(ga[2 * k + 1] for k in range(50))


def test_png_sub8bit_grayscale_round_trips():
    """r15 (VERDICT r14 'missing' #1 — the LAST PNG layout): grayscale at
    1/2/4-bit depth decodes with the exact 255/(2^d-1) sample scaling
    (255/85/17), in both interlace modes, at non-byte-aligned widths (pad
    bits exercised), with the §11.3.2 color key compared against the RAW
    stored sample."""
    import struct as s

    from tesseract_spark.operators import multimodal as mm
    from tesseract_spark.operators import png as p

    for depth, scale in ((1, 255), (2, 85), (4, 17)):
        n = 1 << depth
        # width 13 is not byte-aligned at any sub-byte depth
        samples = bytes((x * 3 + y * 5) % n for y in range(7) for x in range(13))
        for interlace in (False, True):
            d = mm.decode_png(
                mm.encode_png_gray(samples, 13, 7, depth=depth, interlace=interlace)
            )
            assert d["pixels"] == b"".join(
                bytes((v * scale,) * 3) for v in samples
            ), (depth, interlace)
            assert d["alpha"] is None
    # color key on 4-bit gray: raw sample 7 (not its scaled value) is the key
    samples = bytes((x + y) % 16 for y in range(3) for x in range(5))
    raw = p._png_filter_stream(
        [p._pack_indices(samples[y * 5 : (y + 1) * 5], 5, 4) for y in range(3)],
        1,
        False,
    )
    d = mm.decode_png(
        p._png_assemble(5, 3, 4, 0, raw, [(b"tRNS", s.pack(">H", 7))])
    )
    assert d["alpha"] == bytes(0 if v == 7 else 255 for v in samples)
    assert d["pixels"] == b"".join(bytes((v * 17,) * 3) for v in samples)
    # encoder validates the sample range at encode time
    with pytest.raises(ValueError, match="exceeds 2-bit depth"):
        mm.encode_png_gray(bytes([4]), 1, 1, depth=2)


def test_png_palette_hostile_inputs():
    import struct as s
    import zlib

    from tesseract_spark.operators import multimodal as mm

    pal = [(i, i, i) for i in range(4)]
    # encoder rejects out-of-palette indices at ENCODE time (r14 review:
    # it must not emit a PNG its own decoder rejects)
    with pytest.raises(ValueError, match="exceeds the 3-entry palette"):
        mm.encode_png_palette(bytes([3]) * 4, 2, 2, pal[:3])
    # ...and the DECODER still rejects a hostile file whose PLTE was
    # shrunk after encoding (index past the palette must raise, not read
    # out of bounds)
    enc = bytearray(mm.encode_png_palette(bytes([3]) * 4, 2, 2, pal))
    i = bytes(enc).index(b"PLTE") - 4
    (ln,) = s.unpack_from(">I", enc, i)
    assert ln == 12
    plte_data = bytes(enc[i + 8 : i + 8 + 9])  # keep 3 of 4 entries
    shrunk = (
        bytes(enc[:i])
        + mm._png_chunk(b"PLTE", plte_data)
        + bytes(enc[i + 8 + 12 + 4 :])
    )
    with pytest.raises(ValueError, match="palette index"):
        mm.decode_png(shrunk)
    # palette PNG without PLTE
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = mm._png_chunk(b"IHDR", s.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
    idat = mm._png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
    iend = mm._png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="missing PLTE"):
        mm.decode_png(sig + ihdr + idat + iend)
    # tRNS longer than the palette
    with pytest.raises(ValueError, match="tRNS longer"):
        mm.decode_png(
            mm.encode_png_palette(bytes(4), 2, 2, pal, trans=bytes(5))
        )
    # zlib geometry bomb: huge IHDR, tiny IDAT — rejected BEFORE inflating
    bomb_ihdr = mm._png_chunk(b"IHDR", s.pack(">IIBBBBB", 60000, 60000, 8, 0, 0, 0, 0))
    bomb = sig + bomb_ihdr + mm._png_chunk(b"IDAT", zlib.compress(bytes(100))) + iend
    with pytest.raises(ValueError, match="implausible"):
        mm.decode_png(bomb)


def test_png_color_key_transparency():
    """§11.3.2: tRNS on gray/RGB frames is a COLOR KEY (r14 review — was
    silently dropped); matching pixels get alpha 0, all others 255."""
    import struct as s
    import zlib

    from tesseract_spark.operators import multimodal as mm
    from tesseract_spark.operators import png as p

    # grayscale with key 7
    px = bytes([7, 8, 9, 7])
    raw = p._png_filter_stream([px[:2], px[2:]], 1, False)
    enc = p._png_assemble(2, 2, 8, 0, raw, [(b"tRNS", s.pack(">H", 7))])
    d = mm.decode_png(enc)
    assert d["alpha"] == bytes([0, 255, 255, 0])
    assert d["pixels"] == b"".join(bytes((g,) * 3) for g in px)
    # RGB with key (1, 2, 3)
    rgb = bytes([1, 2, 3, 9, 9, 9])
    raw = p._png_filter_stream([rgb], 3, False)
    enc = p._png_assemble(2, 1, 8, 2, raw, [(b"tRNS", s.pack(">HHH", 1, 2, 3))])
    d = mm.decode_png(enc)
    assert d["alpha"] == bytes([0, 255]) and d["pixels"] == rgb
    # malformed key lengths and tRNS on alpha-bearing types raise
    raw = p._png_filter_stream([bytes(2)], 1, False)
    with pytest.raises(ValueError, match="2 bytes"):
        mm.decode_png(p._png_assemble(2, 1, 8, 0, raw, [(b"tRNS", b"\x00")]))
    raw4 = p._png_filter_stream([bytes(4)], 2, False)
    with pytest.raises(ValueError, match="invalid on color type"):
        mm.decode_png(p._png_assemble(2, 1, 8, 4, raw4, [(b"tRNS", s.pack(">H", 0))]))


def test_png_palette_fixture_width_validation():
    """The RGBA sub-image of the palette fixture requires width % 4 == 0
    (oracle alignment — r14 review)."""
    from tesseract_spark.operators import multimodal as mm

    with pytest.raises(ValueError, match="multiple of 4"):
        mm.decoded_png_palette_features(None, width=10)
    with pytest.raises(ValueError, match="multiple of 4"):
        mm.decoded_png_palette_features(None, width=2)


def test_png_adam7_interlace_round_trips():
    """Adam7 (§8.2, late r14): every layout round-trips through the
    interlaced storage identically to the non-interlaced decode — passes
    are filtered as independent sub-images, empty passes contribute no
    scanlines (exercised by the odd/small geometries)."""
    from tesseract_spark.operators import png as p

    pal = [((i * 7 + 13) % 256, (i * 5 + 3) % 256, i) for i in range(256)]
    for w, h in [(1, 1), (2, 3), (7, 5), (8, 8), (13, 11), (3, 9)]:
        px = bytes((i * 37 + w) % 256 for i in range(w * h * 4))
        g = px[: w * h]
        assert (
            p.decode_png(p.encode_png_gray(g, w, h, interlace=True))["pixels"]
            == p.decode_png(p.encode_png_gray(g, w, h))["pixels"]
        ), (w, h, "gray")
        d_il = p.decode_png(
            p.encode_png_palette(g, w, h, pal, trans=bytes(range(128)), interlace=True)
        )
        d_ni = p.decode_png(
            p.encode_png_palette(g, w, h, pal, trans=bytes(range(128)))
        )
        assert (d_il["pixels"], d_il["alpha"]) == (d_ni["pixels"], d_ni["alpha"])
        for depth in (4, 2, 1):
            n = 1 << depth
            ind = bytes(i % n for i in range(w * h))
            assert (
                p.decode_png(
                    p.encode_png_palette(ind, w, h, pal[:n], depth=depth, interlace=True)
                )["pixels"]
                == b"".join(bytes(pal[i]) for i in ind)
            ), (w, h, depth)
        d = p.decode_png(p.encode_png_rgba(px, w, h, interlace=True))
        assert d["pixels"] == b"".join(px[k * 4 : k * 4 + 3] for k in range(w * h))
        assert d["alpha"] == bytes(px[k * 4 + 3] for k in range(w * h))


def test_png_16bit_depth_and_color_key():
    """16-bit samples (late r14): top-byte preview mapping onto the uint8
    RGB contract; tRNS color keys compare the FULL 16-bit value."""
    import struct as s

    from tesseract_spark.operators import png as p

    g16 = bytes((i * 31 + 5) % 256 for i in range(6 * 4 * 2))
    for il in (False, True):
        d = p.decode_png(p.encode_png_gray(g16, 6, 4, depth=16, interlace=il))
        assert d["pixels"] == b"".join(bytes((v,) * 3) for v in g16[0::2]), il
    # color key: 0x1299 shares the top byte with the 0x1234 key but must
    # stay opaque — the comparison is on the full sample
    samples = s.pack(">HHHH", 0x1234, 0x1299, 0x1234, 0xFFFF)
    raw = p._png_filter_stream([samples[:4], samples[4:]], 2, False)
    enc = p._png_assemble(2, 2, 16, 0, raw, [(b"tRNS", s.pack(">H", 0x1234))])
    d = p.decode_png(enc)
    assert d["alpha"] == bytes([0, 255, 0, 255])
    # sub-8-bit gray decodes since r15 (no PNG layout boundaries remain);
    # an IHDR depth outside the §11.2.2 grid still raises
    with pytest.raises(ValueError, match="invalid for grayscale"):
        p.decode_png(p._png_assemble(2, 1, 3, 0, b"\x00\x00"))
    with pytest.raises(ValueError, match="interlace method"):
        p.decode_png(p._png_assemble(2, 1, 8, 0, b"\x00\x00\x00", interlace=2))


def test_staged_stream_dirs_are_removed(spark, sf_dir, tmp_path, monkeypatch):
    """The demo drivers stage events.parquet into a temp dir for the file
    stream; the dir (and its symlinks, never their target) must be gone
    once the driver returns."""
    import os
    import tempfile

    from tesseract_spark.streaming.dedup import streaming_dedup_demo
    from tesseract_spark.streaming.events import run_streaming_demo

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert run_streaming_demo(spark, sf_dir, query_name="t_stage_ev").count() > 0
    assert streaming_dedup_demo(spark, sf_dir, query_name="t_stage_dd").count() > 0
    assert list(tmp_path.iterdir()) == []
    assert os.path.isfile(f"{sf_dir}/events.parquet")


def test_local_input_bytes_walks_partition_dirs(tmp_path):
    """ADVICE: a hive-partitioned local table summed to 0 bytes, so _embs
    skipped its spread. Partition subdirectories count; ``_``/``.``-prefixed
    entries are skipped at every level."""
    from tesseract_spark.catalog import _local_input_bytes

    t = tmp_path / "t"
    (t / "k=1").mkdir(parents=True)
    (t / "k=1" / "part.parquet").write_bytes(b"x" * 100)
    (t / "k=1" / ".part.parquet.crc").write_bytes(b"c" * 7)
    (t / "k=2" / "j=a").mkdir(parents=True)
    (t / "k=2" / "j=a" / "part.parquet").write_bytes(b"y" * 50)
    (t / "_temporary" / "0").mkdir(parents=True)
    (t / "_temporary" / "0" / "part.parquet").write_bytes(b"z" * 1000)
    (t / "_SUCCESS").write_bytes(b"")
    (t / "flat.parquet").write_bytes(b"f" * 3)
    assert _local_input_bytes(str(t)) == 153
    assert _local_input_bytes(str(t / "flat.parquet")) == 3


def test_py4j_nodelay_patch_is_noop_without_clientserver_internals(monkeypatch):
    """With py4j's ClientServerConnection lacking connect_to_java_server and
    a session lacking ``_sc``, the NODELAY patch returns quietly and marks
    nothing as patched."""
    from py4j import clientserver

    from tesseract_spark import session

    class StubConnection:
        pass

    class FakeSession:
        pass

    monkeypatch.setattr(clientserver, "ClientServerConnection", StubConnection)
    fake = FakeSession()
    session._enable_py4j_nodelay()
    session._nodelay_existing(fake)
    assert not hasattr(StubConnection, "_tsk_nodelay")
    assert not hasattr(fake, "_tsk_nodelay")
