"""Text analysis, dedup, similarity, multimodal — behavior tests
(the oracle parity suite covers cross-engine value equality)."""

import math
import os

import pytest
from pyspark.sql import functions as F

from hobbes_spark.functions import dedup as DD
from hobbes_spark.functions import multimodal as MM
from hobbes_spark.functions import similarity as SIM
from hobbes_spark.functions import text as TX


def test_lang_id_on_real_sentences(spark):
    rows = [
        (1, "the cat is on the mat and the dog sleeps"),
        (2, "der Hund ist nicht da und die Katze schläft"),
        (3, "le chat est sur la table et les chiens dorment"),
        (4, "el perro y los gatos es una casa que tiene luz"),
        (5, "你好世界 这是一个测试"),
        (6, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r["id"]: r["lang"] for r in df.select("id", TX.lang_id("t").alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh", 6: "und"}


def test_lang_id_ngram_29_languages(spark):
    """The char-trigram profile classifier (round 12) labels every
    sentence of the oracle fixture with its TRUE language — the
    quality pin the engine-vs-engine gate cannot give (both engines
    agreeing on a wrong label would still MATCH)."""
    from hobbes_spark.queries import _LANG_FIXTURE_TEXTS

    want = ["en", "de", "fr", "es", "pt", "it", "nl", "sv", "da", "nb",
            "fi", "pl", "cs", "ro", "hu", "tr", "id", "vi", "ru", "uk",
            "el", "ar", "he", "hi", "th", "ja", "zh",
            "ko", "und", "und"]
    assert len(want) == len(_LANG_FIXTURE_TEXTS)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_LANG_FIXTURE_TEXTS)],
        "id long, t string")
    got = [r["lang"] for r in
           df.select("id", TX.lang_id_ngram("t").alias("lang"))
             .orderBy("id").collect()]
    assert got == want, list(zip(got, want))
    # ≥15 distinct languages is the verdict's floor; we pin 28
    assert len(set(want) - {"und"}) >= 15


def test_lang_id_ngram_fallback_agrees_with_stopword_argmax(spark):
    """Zero-profile-score inputs fall back to the OLD heuristic —
    byte-for-byte (including 'und' for NULL and gibberish)."""
    rows = [(1, "zzz qqq xxx"), (2, None), (3, "12345 67890"), (4, "")]
    df = spark.createDataFrame(rows, "id long, t string")
    got = df.select(
        TX.lang_id_ngram("t").alias("a"), TX.lang_id("t").alias("b")
    ).collect()
    for r in got:
        assert r["a"] == r["b"]


def test_lang_ngram_profiles_shape():
    from hobbes_spark.functions.text import LANG_SEEDS, lang_ngram_profiles

    prof = lang_ngram_profiles()
    assert set(prof) == set(LANG_SEEDS) and len(prof) >= 20
    for lang, grams in prof.items():
        assert 0 < len(grams) <= 100
        assert all(len(g) == 3 for g in grams)
        assert len(set(grams)) == len(grams)


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42"), (2, ""), (3, "   ")], "id long, t string")
    out = {
        r["id"]: (r["tc"], r["wc"], r["q"])
        for r in df.select(
            "id",
            TX.token_count("t").alias("tc"),
            TX.wordlike_token_count("t").alias("wc"),
            F.round(TX.quality_score("t"), 3).alias("q"),
        ).collect()
    }
    assert out[1][0] == 3
    assert out[1][1] == 5  # Hello , world ! 42
    assert out[2] == (0, 0, pytest.approx(0.2))  # only the (1-punct) term
    assert 0.0 <= out[1][2] <= 1.0


def test_exact_dedup_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " HELLO   WORLD  "), (4, "different")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in DD.exact_dedup(df, "doc_id", "text").collect())
    assert kept == [1, 4]


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = DD.minhash_pairs(docs, "doc_id", "text", num_hashes=32, bands=16, threshold=0.6)
    got = pairs.collect()
    assert len(got) > 0  # the generator plants near-duplicates
    # estimates are sane and ordered pairs
    for r in got:
        assert r["id_a"] < r["id_b"]
        assert 0.6 <= r["est_jaccard"] <= 1.0


def test_minhash_estimate_tracks_true_jaccard(spark):
    a = " ".join(f"w{i}" for i in range(50))
    b = " ".join(f"w{i}" for i in range(40)) + " " + " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame([(1, a), (2, b)], "id long, t string")
    pairs = DD.minhash_pairs(df, "id", "t", num_hashes=64, bands=32, threshold=0.1).collect()
    assert len(pairs) == 1
    # true shingle jaccard ≈ 38/58 ≈ 0.655; 64 hashes → estimate within ~0.2
    assert pairs[0]["est_jaccard"] == pytest.approx(0.655, abs=0.2)


def test_lsh_candidate_stats_counts_without_pairs(spark, sf_dir):
    """The count-only probe's Σ k·(k−1)/2 must equal the number of
    distinct candidate pairs the full self-join would enumerate,
    counted per band (before the cross-band dedup)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = DD.minhash_signatures_df(docs, "doc_id", "text", 32).localCheckpoint()
    stats = {r["band"]: r for r in DD.lsh_candidate_stats(sigs, 32, 16).collect()}
    assert set(stats) <= set(range(16))
    banded = DD.banded_signatures(sigs, 32, 16)
    full = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.band").alias("band"))
        .count()
        .collect()
    )
    enumerated = {r["band"]: r["count"] for r in full}
    for band, row in stats.items():
        assert row["candidate_pairs"] == enumerated.get(band, 0)
        assert row["max_bucket"] >= 1 and row["n_buckets"] >= 1


def test_minhash_star_edges_same_components_as_pairs(spark, sf_dir):
    """Star edges (k−1 per bucket) must produce EXACTLY the clusters
    the all-pairs listing yields at threshold 0 — identical transitive
    closure at linear output volume."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = DD.minhash_signatures_df(docs, "doc_id", "text", 32).localCheckpoint()
    star = DD.minhash_star_edges(sigs, 32, 16)
    star_rows = star.collect()
    pairs = DD.minhash_pairs_from_signatures(sigs, 32, 16, threshold=0.0)

    def comps(edges):
        got = DD.connected_components(edges.select("id_a", "id_b")).collect()
        by_comp = {}
        for r in got:
            by_comp.setdefault(r["comp"], set()).add(r["id"])
        return {frozenset(v) for v in by_comp.values()}

    assert comps(star) == comps(pairs)
    # linear output bound: every member contributes <= bands edges,
    # and the hub is always the smaller endpoint
    for r in star_rows:
        assert r["id_a"] < r["id_b"]
    n_members = len({r["id_b"] for r in star_rows})
    assert len(star_rows) <= 16 * max(n_members, 1)


def test_star_edges_linear_on_pathological_duplicates(spark):
    """The worst case for pair listing: N identical documents form ONE
    bucket per band, so all-pairs emits N(N-1)/2 rows while star edges
    emit exactly N-1 — and lsh_candidate_stats prices that join without
    running it (max_bucket = N, candidate_pairs = N(N-1)/2 per band).
    This is the documented reason clustering at 100 TB feeds
    connected_components from star edges, never from the clique."""
    n = 400
    df = spark.createDataFrame(
        [(i, "the exact same document text repeated verbatim") for i in range(n)],
        "doc_id long, text string",
    )
    sigs = DD.minhash_signatures_df(df, "doc_id", "text", 16).localCheckpoint()
    stats = DD.lsh_candidate_stats(sigs, 16, 8).collect()
    assert len(stats) == 8
    for r in stats:
        assert r["n_buckets"] == 1 and r["max_bucket"] == n
        assert r["candidate_pairs"] == n * (n - 1) // 2
    star = DD.minhash_star_edges(sigs, 16, 8).collect()
    assert len(star) == n - 1  # hub 0 -> each other doc, once
    assert all(r["id_a"] == 0 for r in star)
    comp = DD.connected_components(
        DD.minhash_star_edges(sigs, 16, 8)
    ).collect()
    assert len({r["comp"] for r in comp}) == 1 and len(comp) == n


def test_simhash_close_for_near_dups(spark):
    base = " ".join(f"w{i}" for i in range(100))
    near = base.replace("w50", "zz")
    far = " ".join(f"y{i}" for i in range(100))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, t string")
    got = {r["id"]: r["sh"] for r in df.select("id", DD.simhash60("t").alias("sh")).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(got[1], got[2]) < hamming(got[1], got[3])
    assert hamming(got[1], got[2]) <= 10


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, q, k=5)
    approx = SIM.lsh_bucket_topk(emb, q, k=5, planes=3, probe_radius=1)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4  # approximate by design; sanity floor


def test_cosine_topk_self_similarity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0)
    out = SIM.cosine_topk(emb, q, k=3, include_self=True).collect()
    assert out[0]["neighbor_id"] == 0  # self is rank 1
    assert out[0]["cos"] == pytest.approx(1.0)


def test_multimodal_decode_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    media = MM.as_media(docs, "doc_id", "text", "text/plain")
    assert [f.name for f in media.schema.fields] == ["media_id", "content", "mime", "meta"]
    out = MM.decode_image_meta(media).collect()
    assert len(out) == 50
    for r in out:
        assert r["decoder"] in ("pil", "fake-stub")
        assert r["n_bytes"] > 0
        assert len(r["sha256"]) == 64
        assert 16 <= r["width"] <= 255 and 16 <= r["height"] <= 255
    # deterministic: same input → same fake dims
    again = MM.decode_image_meta(media).collect()
    assert {(r["media_id"], r["width"], r["height"]) for r in out} == {
        (r["media_id"], r["width"], r["height"]) for r in again
    }


def test_frame_sample_plan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    media = MM.as_media(docs, "doc_id", "text", "video/fake")
    plan = MM.frame_sample_plan(media, every_n=2, max_frames=4)
    rows = plan.collect()
    assert len(rows) <= 5 * 4
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["media_id"], []).append(r["frame_index"])
    for idxs in per_doc.values():
        assert idxs == sorted(idxs)
        assert all(i % 2 == 0 for i in idxs)


def _png(width, height, pixels, color_type=0, filters=None):
    """Minimal valid PNG encoder for decoder tests: 8-bit, chosen color
    type, one chosen filter per scanline (forward-filtered here so the
    decoder must reverse it)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytes(stride)
    for r in range(height):
        line = bytes(pixels[r * stride : (r + 1) * stride])
        f = filters[r]
        raw.append(f)
        for k in range(stride):
            a = line[k - channels] if k >= channels else 0
            c = prev[k]
            d = prev[k - channels] if k >= channels else 0
            if f == 0:
                raw.append(line[k])
            elif f == 1:
                raw.append((line[k] - a) & 0xFF)
            elif f == 2:
                raw.append((line[k] - c) & 0xFF)
            elif f == 3:
                raw.append((line[k] - (a + c) // 2) & 0xFF)
            else:  # paeth
                p = a + c - d
                pa, pb, pc = abs(p - a), abs(p - c), abs(p - d)
                pred = a if pa <= pb and pa <= pc else (c if pb <= pc else d)
                raw.append((line[k] - pred) & 0xFF)
        prev = line

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_pixels_png_all_filters():
    """The pure-Python PNG decoder reverses every scanline filter type
    and handles gray / RGB / RGBA / gray+alpha pixels."""
    from hobbes_spark.functions.multimodal import decode_pixels

    pix = [(r * 8 + c * 29) % 256 for r in range(5) for c in range(4)]
    for filters in ([0] * 5, [1] * 5, [2] * 5, [3] * 5, [4] * 5, [0, 1, 2, 3, 4]):
        got = decode_pixels(_png(4, 5, pix, color_type=0, filters=filters))
        assert got == (4, 5, pix), f"filters={filters}"
    # RGB: luma recombination (ITU-R 601 integer)
    rgb = []
    for v in pix:
        rgb += [v, (v * 3) % 256, (v * 7) % 256]
    w, h, gray = decode_pixels(_png(4, 5, rgb, color_type=2, filters=[4] * 5))
    expect = [
        (299 * rgb[3 * i] + 587 * rgb[3 * i + 1] + 114 * rgb[3 * i + 2]) // 1000
        for i in range(20)
    ]
    assert (w, h) == (4, 5) and gray == expect
    # gray+alpha and RGBA: alpha ignored, gray/luma from color channels
    ga = [b for v in pix for b in (v, 128)]
    assert decode_pixels(_png(4, 5, ga, color_type=4)) == (4, 5, pix)
    rgba = []
    for v in pix:
        rgba += [v, v, v, 200]
    assert decode_pixels(_png(4, 5, rgba, color_type=6)) == (4, 5, pix)
    # non-PNG and truncated payloads refuse rather than garble
    assert decode_pixels(b"not an image") is None
    assert decode_pixels(_png(4, 5, pix)[:30]) is None


def test_decode_pixels_bmp_variants():
    """BMP: encode_bmp_gray round-trips (top-down), bottom-up 24-bit
    rows re-order correctly, 8-bit palette resolves through the BGRA
    table, and compressed/odd payloads refuse."""
    import struct

    from hobbes_spark.functions.multimodal import decode_pixels, encode_bmp_gray

    pix = [(r * 40 + c * 13) % 256 for r in range(3) for c in range(5)]
    assert decode_pixels(encode_bmp_gray(5, 3, pix)) == (5, 3, pix)

    # bottom-up (positive height): rows stored last-first, 1 pad byte
    row_bytes = (5 * 3 + 3) & ~3
    body = bytearray()
    for r in reversed(range(3)):
        for c in range(5):
            v = pix[r * 5 + c]
            body += bytes((v, v, v))
        body += b"\x00" * (row_bytes - 15)
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 5, 3, 1, 24, 0, len(body), 0, 0, 0, 0
    )
    assert decode_pixels(hdr + bytes(body)) == (5, 3, pix)

    # 8-bit paletted, top-down: index i -> gray 255-i via the palette
    pal = b"".join(bytes((255 - i, 255 - i, 255 - i, 0)) for i in range(256))
    idx_rows = bytearray()
    for r in range(2):
        # width 4 at 8bpp: the 4-byte stride is already 4-aligned, no pad
        idx_rows += bytes([pix[r * 5 + c] for c in range(4)])
    hdr8 = b"BM" + struct.pack("<IHHI", 54 + 1024 + len(idx_rows), 0, 0, 54 + 1024) \
        + struct.pack("<IiiHHIIiiII", 40, 4, -2, 1, 8, 0, len(idx_rows), 0, 0, 0, 0)
    w, h, gray = decode_pixels(hdr8 + pal + bytes(idx_rows))
    assert (w, h) == (4, 2)
    assert gray == [255 - pix[r * 5 + c] for r in range(2) for c in range(4)]

    # compressed (BI_RLE8) refuses
    rle = bytearray(encode_bmp_gray(5, 3, pix))
    rle[30] = 1
    assert decode_pixels(bytes(rle)) is None


class _JBits:
    """Test-side JPEG bit writer: collects (value, n_bits), pads the
    tail with 1s (spec padding), applies 0xFF00 byte stuffing."""

    def __init__(self):
        self.bits: list[int] = []

    def put(self, value: int, n: int):
        for k in range(n - 1, -1, -1):
            self.bits.append((value >> k) & 1)
        return self

    def tobytes(self) -> bytes:
        bits = self.bits + [1] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for b in bits[i : i + 8]:
                byte = (byte << 1) | b
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
        return bytes(out)


def _jpeg(w, h, components, entropy=None, quant=None, scan_components=None,
          scans=None, dri=0):
    """Hand-assemble a baseline JFIF stream: all-1s (or given) quant
    table, CUSTOM tiny Huffman tables designed by hand so the test's
    bit strings are derivable on paper without any shared encoder
    code —
      DC: '0' -> category 6, '10' -> category 0
      AC: '0' -> EOB,        '10' -> (run 0, size 4)
    components = [(id, samp_byte)], entropy = bytes.
    ``scan_components`` (ids) overrides the SOS component list, for
    building a single NON-interleaved scan (ns < nc).
    ``scans = [(ids, entropy), ...]`` builds a MULTI-SCAN file (one SOS
    + entropy segment per entry, spec A.2.2 per-component layout);
    ``dri`` emits a DRI restart-interval segment."""
    import struct

    quant = quant or [1] * 64
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(quant)
    sof = struct.pack(">BHHB", 8, h, w, len(components))
    for cid, samp in components:
        sof += bytes((cid, samp, 0))
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    dc_counts = bytes([1, 1] + [0] * 14)
    ac_counts = bytes([1, 1] + [0] * 14)
    dht = b"\x00" + dc_counts + bytes([6, 0]) + b"\x10" + ac_counts + bytes([0x00, 0x04])
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    if scans is None:
        scan_ids = (
            [cid for cid, _ in components] if scan_components is None
            else list(scan_components)
        )
        scans = [(scan_ids, entropy)]
    for scan_ids, scan_entropy in scans:
        sos = bytes([len(scan_ids)])
        for cid in scan_ids:
            sos += bytes((cid, 0x00))
        sos += bytes((0, 63, 0))
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        out += scan_entropy
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_pixels_jpeg_dc_only_hand_derived():
    """Baseline JPEG truth pin, no PIL anywhere: an 8x8 grayscale
    stream whose only coefficient is DC diff 48 (category 6) with an
    all-1s quant table. By hand: coefficient 48, DC-only IDCT gives
    48/8 = 6 on every pixel, +128 level shift = 134 everywhere. The
    entropy bits are derivable on paper from the custom tables:
    '0'(cat6) '110000'(48) '0'(EOB) = 0x60."""
    from hobbes_spark.functions.multimodal import decode_pixels

    payload = _jpeg(8, 8, [(1, 0x11)], _JBits().put(0b01100000, 8).tobytes())
    assert decode_pixels(payload) == (8, 8, [134] * 64)


def test_decode_pixels_jpeg_single_ac_hand_derived():
    """One AC coefficient: DC diff 0, then (run 0, size 4) value 12 at
    zigzag index 1 = (u=0, v=1) — a horizontal cosine. By hand each row
    is 128 + (12/(4*sqrt(2)))*cos((2x+1)*pi/16) for x=0..7, rounded:
    [130, 130, 129, 128, 128, 127, 126, 126]. A transposed IDCT or a
    row/column-major mixup produces the column-varying image instead
    and fails here."""
    from hobbes_spark.functions.multimodal import decode_pixels

    bits = _JBits()
    bits.put(0b10, 2)        # DC: category 0, diff 0
    bits.put(0b10, 2)        # AC: (0, 4)
    bits.put(12, 4)          # value 12
    bits.put(0b0, 1)         # EOB
    got = decode_pixels(_jpeg(8, 8, [(1, 0x11)], bits.tobytes()))
    assert got is not None
    w, h, gray = got
    row = [130, 130, 129, 128, 128, 127, 126, 126]
    assert (w, h) == (8, 8)
    assert gray == row * 8


def test_decode_pixels_jpeg_420_quadrants():
    """YCbCr 4:2:0: the MCU carries four Y blocks (2x2) plus one Cb and
    one Cr block whose coefficients must be entropy-consumed but never
    rendered. DC-only Y blocks at 48, 16, -16, -48 (diffs 48, -32 x3,
    all category 6, DPCM chained) give hand-derived quadrant levels
    134 / 130 / 126 / 122 in raster block order TL, TR, BL, BR."""
    from hobbes_spark.functions.multimodal import decode_pixels

    bits = _JBits()
    bits.put(0b0, 1).put(48, 6).put(0b0, 1)          # Y1: DC 48
    for _ in range(3):                               # Y2..Y4: diff -32
        bits.put(0b0, 1).put(-32 + 63, 6).put(0b0, 1)
    for _ in range(2):                               # Cb, Cr: DC diff 0
        bits.put(0b10, 2).put(0b0, 1)
    comps = [(1, 0x22), (2, 0x11), (3, 0x11)]
    got = decode_pixels(_jpeg(16, 16, comps, bits.tobytes()))
    assert got is not None
    w, h, gray = got
    assert (w, h) == (16, 16)
    levels = {(0, 0): 134, (0, 1): 130, (1, 0): 126, (1, 1): 122}
    for y in range(16):
        for x in range(16):
            assert gray[y * 16 + x] == levels[(y // 8, x // 8)], (x, y)


def test_decode_pixels_jpeg_refuses_out_of_scope():
    """Progressive (SOF2) refuses; truncations and mutations of a valid
    baseline stream refuse or stay well-formed — executor batches never
    die on one bad image (the PNG/BMP robustness contract extended to
    the JPEG branch)."""
    from hobbes_spark.functions.multimodal import decode_pixels

    valid = _jpeg(8, 8, [(1, 0x11)], _JBits().put(0b01100000, 8).tobytes())
    progressive = bytearray(valid)
    progressive[progressive.index(b"\xff\xc0") + 1] = 0xC2
    assert decode_pixels(bytes(progressive)) is None

    for cut in range(len(valid)):
        got = decode_pixels(valid[:cut])
        if got is not None:
            w, h, gray = got
            assert w > 0 and h > 0 and len(gray) == w * h
    for off in range(2, len(valid)):
        for m in (0x00, 0xFF, valid[off] ^ 0x55):
            got = decode_pixels(valid[:off] + bytes([m]) + valid[off + 1 :])
            if got is not None:
                w, h, gray = got
                assert w > 0 and h > 0 and len(gray) == w * h
                assert all(0 <= v <= 255 for v in gray)


def _quadrant_y_bits():
    """Y entropy for the 16x16 quadrant image: DC-only blocks at
    48, 16, -16, -48 (diffs 48, -32 x3, all category 6, DPCM chained)
    -> hand-derived quadrant levels 134/130/126/122 in raster block
    order TL, TR, BL, BR. Identical bits serve the interleaved MCU walk
    (Y blocks cycle TL,TR,BL,BR inside the one MCU) and the
    non-interleaved scan (raster over the 2x2 component grid) — the two
    layouts coincide exactly for this geometry, which is what makes the
    equality assertion a layout pin."""
    bits = _JBits()
    bits.put(0b0, 1).put(48, 6).put(0b0, 1)          # Y TL: DC 48
    for _ in range(3):                               # diffs -32 (cat 6)
        bits.put(0b0, 1).put(-32 + 63, 6).put(0b0, 1)
    return bits


def test_decode_pixels_jpeg_noninterleaved_scans_hand_derived():
    """Legal baseline per-component scans (ns < nc, spec A.2.2 —
    round-8 left these refusing; r8 verdict item 3): a 3-SCAN 4:2:0
    YCbCr file (Y scan, then Cb, then Cr, each its own SOS) decodes to
    the SAME hand-derived quadrant image as its single-interleaved-scan
    twin. The chroma scans carry DC-0 blocks the decoder must skip
    without entropy-decoding (scans are DC-independent)."""
    from hobbes_spark.functions.multimodal import decode_pixels

    comps = [(1, 0x22), (2, 0x11), (3, 0x11)]
    dc0 = _JBits().put(0b10, 2).put(0b0, 1).tobytes()  # one DC-0 block
    multi = _jpeg(16, 16, comps, scans=[
        ([1], _quadrant_y_bits().tobytes()), ([2], dc0), ([3], dc0),
    ])
    got = decode_pixels(multi)
    assert got is not None
    w, h, gray = got
    assert (w, h) == (16, 16)
    levels = {(0, 0): 134, (0, 1): 130, (1, 0): 126, (1, 1): 122}
    for y in range(16):
        for x in range(16):
            assert gray[y * 16 + x] == levels[(y // 8, x // 8)], (x, y)

    # chroma scans FIRST: the decoder must entropy-skip unknown-length
    # scan data (stuffed 0xFF00s and all) to reach the luma scan
    chroma_first = _jpeg(16, 16, comps, scans=[
        ([2], dc0), ([3], dc0), ([1], _quadrant_y_bits().tobytes()),
    ])
    assert decode_pixels(chroma_first) == got

    # a {Cb,Cr} interleaved chroma scan plus a separate Y scan: the
    # multi-component luma-less scan is skipped the same way
    cbcr = _JBits()
    for _ in range(2):
        cbcr.put(0b10, 2).put(0b0, 1)
    mixed = _jpeg(16, 16, comps, scans=[
        ([1], _quadrant_y_bits().tobytes()), ([2, 3], cbcr.tobytes()),
    ])
    assert decode_pixels(mixed) == got

    # interleaved twin, byte-different stream, pixel-identical result
    inter_bits = _JBits()
    inter_bits.put(0b0, 1).put(48, 6).put(0b0, 1)
    for _ in range(3):
        inter_bits.put(0b0, 1).put(-32 + 63, 6).put(0b0, 1)
    for _ in range(2):
        inter_bits.put(0b10, 2).put(0b0, 1)
    assert decode_pixels(_jpeg(16, 16, comps, inter_bits.tobytes())) == got


def test_decode_pixels_jpeg_single_component_sampled():
    """A single-component frame with 2x2 declared sampling: per spec a
    one-component scan is ALWAYS non-interleaved (one data unit per
    MCU), so the sampling factors are layout-irrelevant and the file
    decodes as a plain 2x2 block grid (round 8 refused this)."""
    from hobbes_spark.functions.multimodal import decode_pixels

    payload = _jpeg(16, 16, [(1, 0x22)], _quadrant_y_bits().tobytes())
    got = decode_pixels(payload)
    assert got is not None
    w, h, gray = got
    assert (w, h) == (16, 16)
    levels = {(0, 0): 134, (0, 1): 130, (1, 0): 126, (1, 1): 122}
    for y in range(16):
        for x in range(16):
            assert gray[y * 16 + x] == levels[(y // 8, x // 8)], (x, y)

    # control: the degenerate 1-component 1x1 case still decodes
    ok = _jpeg(8, 8, [(1, 0x11)], _JBits().put(0b01100000, 8).tobytes())
    assert decode_pixels(ok) == (8, 8, [134] * 64)


def test_decode_pixels_jpeg_noninterleaved_restart_interval():
    """Restart intervals in a NON-interleaved scan count data units
    (not interleaved MCUs): DRI=2 on the 2x2 Y grid puts one RST0
    after the top row and resets the DC predictor, so the bottom row's
    diffs restart from 0. Hand-derived: 48, -32 | RST | 48, -32 ->
    values 48, 16, 48, 16 -> quadrants 134/130 over 134/130."""
    from hobbes_spark.functions.multimodal import decode_pixels

    row = _JBits()
    row.put(0b0, 1).put(48, 6).put(0b0, 1)
    row.put(0b0, 1).put(-32 + 63, 6).put(0b0, 1)
    dc0 = _JBits().put(0b10, 2).put(0b0, 1).tobytes()
    entropy = row.tobytes() + b"\xff\xd0" + row.tobytes()
    payload = _jpeg(16, 16, [(1, 0x22), (2, 0x11), (3, 0x11)], dri=2,
                    scans=[([1], entropy), ([2], dc0), ([3], dc0)])
    got = decode_pixels(payload)
    assert got is not None
    w, h, gray = got
    assert (w, h) == (16, 16)
    for y in range(16):
        for x in range(16):
            assert gray[y * 16 + x] == (134 if x < 8 else 130), (x, y)


def test_decode_pixels_jpeg_refuses_partial_interleaved_luma_scan():
    """A partial interleaved scan INCLUDING luma (1 < ns < nc, e.g.
    SOS={Y,Cb} of a Y/Cb/Cr frame) stays out of scope: refuse (None),
    never wrong pixels."""
    from hobbes_spark.functions.multimodal import decode_pixels

    comps = [(1, 0x22), (2, 0x11), (3, 0x11)]
    bits = _quadrant_y_bits().put(0b10, 2).put(0b0, 1)
    payload = _jpeg(16, 16, comps, bits.tobytes(), scan_components=[1, 2])
    assert decode_pixels(payload) is None


def test_decode_pixels_never_raises_on_garbage():
    """Robustness: corrupt/truncated/mutated payloads refuse with None
    (or decode to a well-formed tuple) — an executor batch must never
    die on one bad image. Deterministic corpus: every truncation of a
    valid PNG/BMP, single-byte mutations at every offset, and seeded
    pseudo-random blobs behind each magic prefix."""
    import random

    from hobbes_spark.functions.multimodal import decode_pixels, encode_bmp_gray

    pix = [(i * 7) % 256 for i in range(24)]
    valid = [_png(6, 4, pix), encode_bmp_gray(6, 4, pix)]

    def check(payload):
        got = decode_pixels(payload)
        if got is not None:
            w, h, gray = got
            assert w > 0 and h > 0 and len(gray) == w * h
            assert all(0 <= v <= 255 for v in gray)

    for v in valid:
        for cut in range(len(v)):
            check(v[:cut])
        for off in range(len(v)):
            for b in (0x00, 0xFF, v[off] ^ 0x55):
                check(v[:off] + bytes([b]) + v[off + 1 :])
    rng = random.Random(6)
    for prefix in (b"\x89PNG\r\n\x1a\n", b"BM", b""):
        for _ in range(200):
            check(prefix + rng.randbytes(rng.randrange(0, 200)))

    # allocation bombs: a crafted IHDR declaring 2^40 pixels refuses;
    # a zip-bomb IDAT is capped at the declared geometry, decoding the
    # 4x4 it claims and never materializing the 100 MB tail
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    magic = b"\x89PNG\r\n\x1a\n"
    huge = struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 0, 0, 0, 0)
    assert decode_pixels(
        magic + chunk(b"IHDR", huge)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 64)) + chunk(b"IEND", b"")
    ) is None
    small = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = magic + chunk(b"IHDR", small) + chunk(
        b"IDAT", zlib.compress(b"\x00" * (100 * 1024 * 1024), 9)
    ) + chunk(b"IEND", b"")
    assert decode_pixels(bomb) == (4, 4, [0] * 16)


def test_ahash_decodes_real_pixels(spark):
    """aHash on a REAL PNG/BMP equals the hash of its known pixel
    values — the decode rung is real, not the raw-bytes stub (round 6);
    a 16x16 image box-averages down to the 8x8 thumbnail first."""
    from hobbes_spark.functions.multimodal import (
        ahash_images, decode_pixels, encode_bmp_gray,
    )

    pix8 = [(i * 4) % 256 for i in range(64)]
    png8 = _png(8, 8, pix8)
    bmp8 = encode_bmp_gray(8, 8, pix8)
    # 16x16 whose 2x2 boxes average to pix8 exactly (all 4 equal)
    pix16 = [pix8[(r // 2) * 8 + (c // 2)] for r in range(16) for c in range(16)]
    png16 = _png(16, 16, pix16)
    df = spark.createDataFrame(
        [(1, bytearray(png8)), (2, bytearray(bmp8)), (3, bytearray(png16))],
        "media_id long, content binary",
    )
    got = {r["media_id"]: r["phash"] for r in ahash_images(df).collect()}
    want = _ahash_py(pix8)
    assert got == {1: want, 2: want, 3: want}
    # sanity: the stub would have hashed the FILE HEADER bytes instead
    assert _ahash_py(list(png8[:64])) != want
    # and the BMP container round-trips its pixels bit-exactly
    assert decode_pixels(bmp8) == (8, 8, pix8)


def test_resize_images_pure_decoder_rung(spark):
    """Without PIL, a decodable payload takes the pure PNG/BMP rung:
    real box-resampled pixels re-encoded as image/bmp (not the
    sha256 fake)."""
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present: the pure rung is shadowed by PIL")
    except ImportError:
        pass
    from hobbes_spark.functions.multimodal import decode_pixels

    pix = [(r + c * 16) % 256 for r in range(16) for c in range(16)]
    df = spark.createDataFrame(
        [(1, bytearray(_png(16, 16, pix))), (2, bytearray(b"not an image"))],
        "media_id long, content binary",
    )
    out = {r["media_id"]: r for r in MM.resize_images(df, 4, 4).collect()}
    assert out[1]["mime"] == "image/bmp"
    w, h, gray = decode_pixels(bytes(out[1]["content"]))
    assert (w, h) == (4, 4)
    from hobbes_spark.functions.multimodal import _box_resample

    assert gray == _box_resample(16, 16, pix, 4, 4)
    assert out[2]["mime"].endswith(";fake-resize")  # undecodable → fake rung


def test_header_dims_real_formats(spark):
    """Real header parsing (no codec libs): handcrafted PNG/GIF/BMP/JPEG
    byte headers decode to their true dimensions through the full
    mapInPandas path."""
    import struct

    from hobbes_spark.functions.multimodal import decode_image_meta

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x06" + b"\x00" * 20)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 20
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 256, -128) + b"\x00" * 20
    # APP0 len 16 = 2 length bytes + 14 payload; SOF0 len 17 = 2 + 15
    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 1080, 1920) + b"\x03" + b"\x00" * 9)
    junk = b"not an image at all"

    rows = [(1, png, "image/png"), (2, gif, "image/gif"),
            (3, bmp, "image/bmp"), (4, jpeg, "image/jpeg"),
            (5, junk, "application/octet-stream")]
    media = spark.createDataFrame(
        rows, "media_id long, content binary, mime string"
    ).withColumn("meta", __import__("pyspark.sql.functions", fromlist=["F"]).create_map())
    out = {r["media_id"]: r for r in decode_image_meta(media).collect()}

    assert (out[1]["width"], out[1]["height"], out[1]["decoder"]) == (640, 480, "headers")
    assert (out[2]["width"], out[2]["height"], out[2]["decoder"]) == (320, 200, "headers")
    assert (out[3]["width"], out[3]["height"], out[3]["decoder"]) == (256, 128, "headers")
    assert (out[4]["width"], out[4]["height"], out[4]["decoder"]) == (1920, 1080, "headers")
    # unknown bytes fall through to the clearly-marked fake
    assert out[5]["decoder"] == "fake-stub"


def test_header_dims_webp_all_three_layouts():
    """WebP header dims (round 10): lossy VP8 (dims after the 0x9D012A
    start code), lossless VP8L (14+14 packed bits), extended VP8X
    (24-bit LE canvas dims) — all hand-packed; corrupt start codes and
    truncations refuse."""
    import struct

    from hobbes_spark.functions.multimodal import header_dims

    def riff(fourcc, payload):
        chunk = fourcc + struct.pack("<I", len(payload)) + payload
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    vp8 = riff(b"VP8 ", b"\x00\x00\x00" + b"\x9d\x01\x2a"
               + struct.pack("<HH", 550, 368) + bytes(8))
    assert header_dims(vp8) == (550, 368)
    # VP8L: w-1=31, h-1=15 packed LSB-first into 14+14 bits
    bits = 31 | (15 << 14)
    vp8l = riff(b"VP8L", b"\x2f" + struct.pack("<I", bits) + bytes(8))
    assert header_dims(vp8l) == (32, 16)
    vp8x = riff(b"VP8X", bytes(4)
                + (1919).to_bytes(3, "little") + (1079).to_bytes(3, "little")
                + bytes(4))
    assert header_dims(vp8x) == (1920, 1080)
    # corrupt VP8 start code / VP8L signature / truncation refuse
    bad = riff(b"VP8 ", b"\x00\x00\x00" + b"\x9d\x01\x2b"
               + struct.pack("<HH", 5, 5) + bytes(8))
    assert header_dims(bad) is None
    badl = riff(b"VP8L", b"\x2e" + struct.pack("<I", bits) + bytes(8))
    assert header_dims(badl) is None
    assert header_dims(vp8[:20]) is None
    assert header_dims(b"RIFF\x00\x00\x00\x00WAVE" + bytes(20)) is None


def test_strip_jpeg_metadata_byte_exact(spark):
    """The privacy scrub (r12): metadata segments drop, everything
    else — JFIF, ICC APP2, tables, restart markers, entropy data —
    passes through byte-exact; the expected output is reconstructed
    INDEPENDENTLY segment-by-segment."""
    import struct

    from hobbes_spark.functions.multimodal import (
        exif_orientation,
        strip_image_metadata,
        strip_jpeg_metadata,
    )

    def seg(m, p):
        return bytes([0xFF, m]) + struct.pack(">H", len(p) + 2) + p

    exif = (b"Exif\x00\x00II" + struct.pack("<HI H HHI H 2s I",
            42, 8, 1, 0x0112, 3, 1, 6, b"\x00\x00", 0))
    keep = (seg(0xE0, b"JFIF\x00") + seg(0xE2, b"ICC_PROFILE\x00rest")
            + seg(0xDB, b"\x00" + bytes(64)))
    tail = seg(0xDA, b"\x01\x00\x00") + b"\x12\xff\xd0\x34" + b"\xff\xd9"
    src = (b"\xff\xd8" + seg(0xE1, exif) + keep
           + seg(0xED, b"Photoshop 3.0\x00caption") + seg(0xFE, b"note")
           + tail)
    want = b"\xff\xd8" + keep + tail
    got = strip_jpeg_metadata(src)
    assert got == want
    assert exif_orientation(src) == 6 and exif_orientation(got) is None
    # refusals: non-JPEG and broken pre-scan structure
    assert strip_jpeg_metadata(b"plain") is None
    assert strip_jpeg_metadata(src[:7]) is None
    for off in range(2, len(src) - len(tail)):
        out = strip_jpeg_metadata(src[:off])  # truncations never raise
        assert out is None or out[:2] == b"\xff\xd8"
    # DataFrame surface: JPEG scrubbed, PNG text chunks dropped,
    # unknown kinds pass through visibly unscrubbed, NULLs stay NULL
    import zlib

    def chunk(t, p):
        return (struct.pack(">I", len(p)) + t + p
                + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF))

    png_core = (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)))
    png = (png_core + chunk(b"tEXt", b"Author\x00name")
           + chunk(b"IDAT", b"x") + chunk(b"IEND", b""))
    png_want = png_core + chunk(b"IDAT", b"x") + chunk(b"IEND", b"")
    media = spark.createDataFrame(
        [(1, bytearray(src)), (2, bytearray(png)),
         (3, bytearray(b"GIF89a" + bytes(8))), (4, None)],
        "media_id long, content binary")
    out = {r["media_id"]: r.asDict()
           for r in strip_image_metadata(media).collect()}
    assert bytes(out[1]["content"]) == want and out[1]["scrubbed"] is True
    assert bytes(out[2]["content"]) == png_want and out[2]["scrubbed"] is True
    assert out[3]["scrubbed"] is False
    assert bytes(out[3]["content"]) == b"GIF89a" + bytes(8)
    assert out[4]["content"] is None and out[4]["scrubbed"] is None


def test_exif_orientation_both_byte_orders():
    """EXIF orientation (round 10): APP1/TIFF IFD0 walk in both byte
    orders; missing segment/tag, bad magic, out-of-range values and
    arbitrary corruption all yield None, never an exception."""
    from hobbes_spark.functions.multimodal import exif_orientation

    def exif(order, orient, tag=0x0112, typ=3):
        bo = "little" if order == b"II" else "big"
        tiff = (order + (42).to_bytes(2, bo) + (8).to_bytes(4, bo)
                + (1).to_bytes(2, bo)
                + tag.to_bytes(2, bo) + typ.to_bytes(2, bo)
                + (1).to_bytes(4, bo)
                + orient.to_bytes(2, bo) + b"\x00\x00"
                + (0).to_bytes(4, bo))
        p = b"Exif\x00\x00" + tiff
        return (b"\xff\xd8\xff\xe1" + (len(p) + 2).to_bytes(2, "big")
                + p + b"\xff\xd9")

    assert exif_orientation(exif(b"II", 6)) == 6
    assert exif_orientation(exif(b"MM", 3)) == 3
    assert exif_orientation(exif(b"II", 9)) is None   # out of range
    assert exif_orientation(exif(b"II", 6, tag=0x0110)) is None  # no tag
    assert exif_orientation(exif(b"II", 6, typ=4)) is None  # wrong type
    assert exif_orientation(b"\xff\xd8\xff\xd9") is None  # no APP1
    assert exif_orientation(b"") is None
    valid = exif(b"MM", 5)
    for cut in range(len(valid)):
        r = exif_orientation(valid[:cut])
        assert r is None or 1 <= r <= 8
    for off in range(len(valid)):
        for m in (0x00, 0xFF, valid[off] ^ 0x55):
            r = exif_orientation(valid[:off] + bytes([m]) + valid[off + 1:])
            assert r is None or 1 <= r <= 8


def test_header_dims_tiff_and_avif():
    """TIFF IFD0 dims in both byte orders; AVIF/HEIC dims from the
    meta/iprp/ipco/ispe box chain (round 10 — header_dims now covers
    every image container a web crawl serves)."""
    from hobbes_spark.functions.multimodal import header_dims

    def tiff(order, w, h):
        bo = "little" if order == b"II" else "big"
        entries = [
            (0x0100, 3, w),  # ImageWidth, SHORT
            (0x0101, 4, h),  # ImageLength, LONG
        ]
        ifd = len(entries).to_bytes(2, bo)
        for tag, typ, v in entries:
            val = (v.to_bytes(2, bo) + b"\x00\x00") if typ == 3 else v.to_bytes(4, bo)
            ifd += tag.to_bytes(2, bo) + typ.to_bytes(2, bo) + (1).to_bytes(4, bo) + val
        ifd += (0).to_bytes(4, bo)
        hdr = (b"II*\x00" if order == b"II" else b"MM\x00*") + (8).to_bytes(4, bo)
        return hdr + ifd

    assert header_dims(tiff(b"II", 800, 600)) == (800, 600)
    assert header_dims(tiff(b"MM", 123, 45)) == (123, 45)
    assert header_dims(b"II*\x00\x08\x00\x00") is None  # truncated

    def box(t, payload):
        return (len(payload) + 8).to_bytes(4, "big") + t + payload

    ispe = box(b"ispe", bytes(4) + (1280).to_bytes(4, "big")
               + (720).to_bytes(4, "big"))
    avif = (box(b"ftyp", b"avif" + bytes(4) + b"avifmif1")
            + box(b"meta", bytes(4)
                  + box(b"iprp", box(b"ipco", ispe)))
            + box(b"mdat", bytes(8)))
    assert header_dims(avif) == (1280, 720)
    heic = avif.replace(b"avif", b"heic", 1)
    assert header_dims(heic) == (1280, 720)
    # video MP4 brand is NOT an image: falls through to None here
    mp4ish = (box(b"ftyp", b"isom" + bytes(4) + b"isom")
              + box(b"mdat", bytes(8)))
    assert header_dims(mp4ish) is None
    for cut in range(len(avif)):
        r = header_dims(avif[:cut])
        assert r is None or isinstance(r, tuple)


def test_header_dims_adversarial_payloads():
    """Crafted headers must never violate the int32 schema or crash."""
    import struct

    from hobbes_spark.functions.multimodal import header_dims

    # PNG with unsigned width 2^31 -> rejected, not returned
    bad_png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
               + struct.pack(">II", 0x80000000, 10) + b"\x00" * 10)
    assert header_dims(bad_png) is None
    # BM-prefixed non-image with negative width
    bad_bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", -5, 10) + b"\x00" * 10
    assert header_dims(bad_bmp) is None
    # JPEG with fill bytes between segments still parses
    import struct as st
    jpeg = (b"\xff\xd8" + b"\xff"  # fill byte
            + b"\xff\xc0" + st.pack(">H", 17) + b"\x08"
            + st.pack(">HH", 10, 20) + b"\x03" + b"\x00" * 9)
    assert header_dims(jpeg) == (20, 10)
    # SOF dims ending exactly at buffer end (off-by-one bound)
    jpeg2 = b"\xff\xd8" + b"\xff\xc0" + st.pack(">H", 8) + b"\x08" + st.pack(">HH", 4, 6)
    assert header_dims(jpeg2) == (6, 4)
    assert header_dims(b"") is None


def test_exact_dedup_null_text_passthrough(spark):
    """Distinct rows with NULL text are not duplicates of each other."""
    from hobbes_spark.functions.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")], "id long, text string"
    )
    out = exact_dedup(df, "id", "text")
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]


def test_exact_dedup_null_id_rows_survive_intact(spark):
    """A NULL-text row with a NULL id must pass through UNCHANGED (its
    singleton group gets a constant non-null min_by ordering key — raw
    min_by over an all-NULL ordering would null out every column), and
    within a duplicate group rows that HAVE an id beat NULL-id rows."""
    from hobbes_spark.functions.dedup import exact_dedup

    df = spark.createDataFrame(
        [(None, None, "keepme"), (None, "b", "x"), (3, "b", "y"), (5, None, "solo")],
        "id long, text string, tag string",
    )
    got = {(r.id, r.text, r.tag) for r in exact_dedup(df, "id", "text").collect()}
    assert got == {(None, None, "keepme"), (3, "b", "y"), (5, None, "solo")}


def test_embedding_neardup_exact_known_pairs(spark):
    # two near-parallel vectors, one orthogonal: exactly one pair >= 0.9
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cos"] for r in
           DD.embedding_neardup_exact(df, threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] > 0.99


def test_embedding_neardup_lsh_full_recall_on_exact_dups(spark, sf_dir):
    # identical vectors share every LSH band -> recall 1.0 by construction;
    # positive scaling must not change bucket or cosine
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.unionByName(scaled)
    n = emb.count()
    got = DD.embedding_neardup_lsh(corpus, threshold=0.99, bands=4, rows_per_band=4).collect()
    found = {(r["id_a"], r["id_b"]) for r in got}
    expected = {(r["vec_id"], r["vec_id"] + 10_000) for r in emb.collect()}
    assert expected <= found, f"missed {len(expected - found)} of {n} exact dups"
    for r in got:
        assert r["cos"] >= 0.99


def test_embedding_neardup_lsh_agrees_with_exact(spark):
    # planted clusters: LSH candidates reranked exactly must be a subset
    # of the exact pairs at the same threshold, with decent recall
    import random

    rnd = random.Random(7)
    rows = []
    vid = 0
    for cluster in range(8):
        center = [rnd.gauss(0, 1) for _ in range(16)]
        for _ in range(4):
            rows.append((vid, [x + rnd.gauss(0, 0.02) for x in center]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    exact = {(r["id_a"], r["id_b"]) for r in
             DD.embedding_neardup_exact(df, threshold=0.98).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           DD.embedding_neardup_lsh(df, threshold=0.98, bands=8, rows_per_band=2).collect()}
    assert lsh <= exact
    assert len(exact) > 0
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} too low"


def test_winnow_shared_substring_guarantee(spark):
    # winnowing guarantee: a shared substring of length >= w + k - 1
    # (here 4 + 5 - 1 = 8) yields at least one shared fingerprint
    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAAA " + shared + " BBBB"),
        (2, "xyzzy plugh " + shared + " quux"),
        (3, "completely different content with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: set(r["fps"]) for r in
           TX.winnow_fingerprints(df, "text").collect()}
    assert out[1] & out[2], "docs sharing a long substring must share a fingerprint"
    assert not (out[1] & out[3]) or len(out[1] & out[3]) < len(out[1] & out[2])


def test_winnow_short_docs(spark):
    rows = [
        (1, "abcd"),        # shorter than k=5: no grams, no fingerprints
        (2, "abcdef"),      # 2 grams < w windows: global min kept
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r["fps"] for r in TX.winnow_fingerprints(df, "text").collect()}
    assert out[1] == []
    assert len(out[2]) == 1
    assert out[3] == [] and out[4] == []


def test_winnow_fingerprints_deterministic_and_sorted(spark):
    df = spark.createDataFrame([(1, "some reasonably long text for hashing")],
                               "doc_id bigint, text string")
    a = TX.winnow_fingerprints(df, "text").collect()[0]["fps"]
    b = TX.winnow_fingerprints(df, "text").collect()[0]["fps"]
    assert a == b and a == sorted(set(a)) and len(a) > 0


def test_connected_components_chains_and_triangles(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22), (None, 5)],
        "id_a bigint, id_b bigint",
    )
    got = {r["id"]: r["comp"] for r in DD.connected_components(edges).collect()}
    # NULL-endpoint edges are dropped; 5 never appears
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_path_converges(spark):
    # a 12-node path needs multiple propagation rounds (diameter 11)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "id_a bigint, id_b bigint"
    )
    got = {r["id"]: r["comp"] for r in DD.connected_components(edges).collect()}
    assert set(got.values()) == {100} and len(got) == 12


def test_hash_sample_stable_and_nested(spark, sf_dir):
    from hobbes_spark.functions import sampling as SP

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s10 = {r["doc_id"] for r in SP.hash_sample(docs, "doc_id", 0.10).collect()}
    s25 = {r["doc_id"] for r in SP.hash_sample(docs, "doc_id", 0.25).collect()}
    again = {r["doc_id"] for r in
             SP.hash_sample(docs.repartition(7), "doc_id", 0.10).collect()}
    assert s10 == again          # stable under repartitioning
    assert s10 <= s25            # nested across fractions
    n = docs.count()
    assert 0.05 * n <= len(s10) <= 0.15 * n
    # a different salt draws an (almost surely) different sample
    salted = {r["doc_id"] for r in SP.hash_sample(docs, "doc_id", 0.10, salt="v2").collect()}
    assert salted != s10


def test_weighted_mixture_and_validation(spark, sf_dir):
    from hobbes_spark.functions import sampling as SP

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wiki = docs.filter("source LIKE 'src_0%'")
    web = docs.filter("source NOT LIKE 'src_0%'")
    mix = SP.weighted_mixture({"wiki": wiki, "web": web}, "doc_id",
                              {"wiki": 1.0, "web": 0.2})
    n_wiki, n_web = wiki.count(), web.count()
    got = mix.count()
    assert n_wiki + 0.1 * n_web <= got <= n_wiki + 0.35 * n_web
    with pytest.raises(KeyError):
        SP.weighted_mixture({"wiki": wiki}, "doc_id", {"nope": 0.5})
    with pytest.raises(ValueError):
        SP.hash_sample(docs, "doc_id", 1.5)


def test_resize_images_plumbing(spark, sf_dir):
    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(8)
    media = MM.as_media(docs, "doc_id", "text", "image/fake")
    out = MM.resize_images(media, width=32, height=16).collect()
    assert len(out) == 8
    for r in out:
        assert r["width"] == 32 and r["height"] == 16
        if have_pil:
            # real decoder path: text payloads are not decodable images
            assert r["content"] is None
        else:
            # fake path: deterministic byte budget
            assert r["content"] is not None and len(r["content"]) == 32 * 16 * 3
    # deterministic across runs either way
    again = MM.resize_images(media, width=32, height=16).collect()
    norm = lambda rows: {
        r["media_id"]: (None if r["content"] is None else bytes(r["content"]))
        for r in rows
    }
    assert norm(out) == norm(again)
    with pytest.raises(ValueError):
        MM.resize_images(media, width=0)


def test_extract_features_feeds_similarity(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(12)
    media = MM.as_media(docs, "doc_id", "text", "image/fake")
    feats = MM.extract_features(media, dim=16)
    rows = feats.collect()
    assert all(len(r["embedding"]) == 16 for r in rows)
    assert all(-1.0 <= v <= 1.0 for r in rows for v in r["embedding"])
    # the output shape plugs straight into the ANN/near-dup operators
    corpus = feats.select(F.col("media_id").alias("vec_id"), "embedding")
    from hobbes_spark.functions.similarity import cosine_topk

    topk = cosine_topk(corpus, corpus.limit(2), k=3).collect()
    assert len(topk) > 0 and all(r["rank"] <= 3 for r in topk)


def test_connected_components_raises_when_unconverged(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        DD.connected_components(chain, max_iterations=5)
    got = {r["comp"] for r in DD.connected_components(chain, max_iterations=30).collect()}
    assert got == {0}


def test_hash_sample_null_keys_not_silently_dropped(spark):
    from hobbes_spark.functions import sampling as SP

    df = spark.createDataFrame(
        [(1,), (2,), (None,), (None,)], "k bigint"
    )
    # a 100% sample must keep NULL-key rows
    assert SP.hash_sample(df, "k", 1.0).count() == 4
    # NULL keys travel together: either both present or both absent
    n_null = SP.hash_sample(df, "k", 0.5).filter("k IS NULL").count()
    assert n_null in (0, 2)


def test_format_date_weekday_dotnet_numbering(spark):
    """2024-01-07 was a Sunday -> .NET DayOfWeek 0 (reference surfaces
    DateTime.DayOfWeek); Saturday 2024-01-06 -> 6."""
    from hobbes_spark import expressions as E

    df = spark.createDataFrame([("2024-01-07",), ("2024-01-06",)], "d string")
    got = {
        r["d"]: r["wd"]
        for r in df.select(
            "d", E.format_date(F.to_date("d"), "weekday").alias("wd")
        ).collect()
    }
    assert got == {"2024-01-07": 0, "2024-01-06": 6}


# ------------------------- tfidf / classifier / epoch shuffle ---------- #


def test_tfidf_top_terms_tiny_corpus(spark):
    import math

    from hobbes_spark.functions.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "")],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(df, top=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # empty doc contributes no terms but still counts toward N
    assert 3 not in by_doc
    n = 3
    idf = lambda d: math.log((n + 1) / (d + 1)) + 1
    d1 = {r["term"]: r for r in by_doc[1]}
    assert d1["apple"]["tf"] == 2 and d1["apple"]["df_t"] == 1
    assert d1["apple"]["tfidf"] == pytest.approx(2 * idf(1))
    assert d1["banana"]["df_t"] == 2
    assert d1["banana"]["tfidf"] == pytest.approx(1 * idf(2))
    # rank 1 in doc 1 is the rarer, repeated term
    assert [r["term"] for r in sorted(by_doc[1], key=lambda r: r["rank"])] == [
        "apple", "banana",
    ]


def test_linear_text_scores_pooling_and_empty_docs(spark):
    import math

    from hobbes_spark.functions.classify import (
        feature_bucket,
        linear_text_scores,
        pseudo_weights,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    w = pseudo_weights(spark, 64)
    out = {r["doc_id"]: r for r in linear_text_scores(df, "text", w, dim=64).collect()}
    assert set(out) == {1, 2, 3}
    # empty/NULL docs: zero tokens, logit = bias = 0, score = 0.5
    for d in (2, 3):
        assert out[d]["n_tokens"] == 0
        assert out[d]["logit"] == 0.0
        assert out[d]["score"] == pytest.approx(0.5)
    # doc 1: mean of the three token-bucket weights, sigmoid applied
    wmap = {r["bucket"]: r["weight"] for r in w.collect()}
    toks = ["alpha", "beta", "alpha"]
    buckets = [
        r["b"]
        for r in spark.createDataFrame([(t,) for t in toks], "t string")
        .select(feature_bucket("t", 64).alias("b"))
        .collect()
    ]
    logit = sum(wmap[b] for b in buckets) / 3
    assert out[1]["n_tokens"] == 3
    assert out[1]["logit"] == pytest.approx(logit)
    assert out[1]["score"] == pytest.approx(1 / (1 + math.exp(-logit)))
    assert out[1]["label"] == (out[1]["score"] >= 0.5)


def test_epoch_shuffle_deterministic_and_epoch_dependent(spark):
    from hobbes_spark.functions.sampling import epoch_shuffle

    df = spark.range(200).withColumnRenamed("id", "k")
    o1 = [r["k"] for r in epoch_shuffle(df, "k", epoch=1).collect()]
    o1_again = [r["k"] for r in epoch_shuffle(df, "k", epoch=1).collect()]
    o2 = [r["k"] for r in epoch_shuffle(df, "k", epoch=2).collect()]
    assert o1 == o1_again  # reproducible
    assert sorted(o1) == list(range(200))  # a permutation
    assert o1 != o2  # epochs decorrelated
    assert o1 != list(range(200))  # actually shuffled


def test_minhash_incremental_equals_full_restricted(spark, sf_dir):
    """base-pairs ∪ incremental-pairs must be EXACTLY the full-corpus
    pair set (same params): incremental ingestion loses nothing and
    invents nothing."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(num_hashes=32, bands=16, threshold=0.5, hash_fn="xxhash64")
    full = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in DD.minhash_pairs(docs, "doc_id", "text", **kw).collect()
    }
    base = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    base_pairs = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in DD.minhash_pairs(base, "doc_id", "text", **kw).collect()
    }
    base_sigs = DD.minhash_signatures_df(base, "doc_id", "text", 32, "xxhash64", 3)
    inc = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in DD.minhash_incremental_pairs(
            new, base_sigs, "doc_id", "text", **kw
        ).collect()
    }
    assert base_pairs | inc == full
    assert base_pairs.isdisjoint(inc)  # increment never re-reports base pairs
    assert len(inc) > 0  # planted near-dups straddle the split


def test_minhash_incremental_broadcasts_new_side(spark, sf_dir):
    """The increment's banded rows must broadcast against the corpus
    bucket table — the base side streams with no shuffle for the join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_sigs = DD.minhash_signatures_df(
        docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", 32, "xxhash64", 3
    )
    out = DD.minhash_incremental_pairs(
        docs.filter(F.col("doc_id") % 2 == 1), base_sigs, "doc_id", "text",
        num_hashes=32, bands=16,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_top_fraction_by_exact_count_and_threshold(spark, sf_dir):
    """Per-group kept count must be ceil(frac*n); every kept score must
    be >= every dropped score within its group."""
    from hobbes_spark.functions.sampling import top_fraction_by

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", F.length("text").alias("score")
    )
    kept = top_fraction_by(docs, ["lang"], "score", 0.25, tiebreak=["doc_id"])
    kn = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    tn = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    import math

    assert kn == {lang: math.ceil(0.25 * n) for lang, n in tn.items() if math.ceil(0.25 * n)}
    mins = {r["lang"]: r["m"] for r in kept.groupBy("lang").agg(F.min("score").alias("m")).collect()}
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    dropped_max = {
        r["lang"]: r["m"]
        for r in docs.filter(~F.col("doc_id").isin(list(kept_ids)))
        .groupBy("lang").agg(F.max("score").alias("m")).collect()
    }
    for lang, mx in dropped_max.items():
        # kept min can EQUAL dropped max when ties straddle the cut —
        # the doc_id tiebreak decides which tied rows stay
        assert mins[lang] >= mx


class TestStarComponents:
    """connected_components_star must agree exactly with the
    propagation-based connected_components on every topology — including
    deep paths, where propagation needs diameter rounds and the star
    rewriting stays logarithmic (its reason to exist)."""

    def _both(self, spark, edges):
        from hobbes_spark.functions.dedup import (
            connected_components,
            connected_components_star,
        )

        e = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        a = sorted(
            (r.id, r.comp) for r in connected_components(e, max_iterations=500).collect()
        )
        b = sorted((r.id, r.comp) for r in connected_components_star(e).collect())
        return a, b

    def test_deep_path_graph(self, spark):
        a, b = self._both(spark, [(i, i + 1) for i in range(120)])
        assert a == b and len(a) == 121
        # one component, rooted at 0
        assert {c for _, c in b} == {0}

    def test_random_graph(self, spark):
        import random

        rnd = random.Random(11)
        a, b = self._both(
            spark, [(rnd.randrange(300), rnd.randrange(300)) for _ in range(250)]
        )
        assert a == b

    def test_self_loops_and_nulls(self, spark):
        a, b = self._both(spark, [(5, 1), (1, 5), (9, 9), (7, 8), (2, None)])
        assert a == b
        assert (9, 9) in b  # self-loop node is its own component

    def test_star_rounds_stay_logarithmic(self, spark):
        """A 120-hop path must converge well inside 30 star rounds
        (propagation would need 120) — the max_iterations default is the
        assertion: RuntimeError would fail this test."""
        from hobbes_spark.functions.dedup import connected_components_star

        e = spark.createDataFrame(
            [(i, i + 1) for i in range(120)], "id_a bigint, id_b bigint"
        )
        out = connected_components_star(e, max_iterations=15)
        assert out.count() == 121


class TestSemanticDedup:
    def test_keeps_one_representative_per_group(self, spark):
        from hobbes_spark.functions.dedup import semantic_dedup

        # 3 semantic groups (exact copies + a scaled copy, which shares
        # every hyperplane sign), one singleton, one NULL vector
        rows = [
            (1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [2.0, 0.0, 0.0]),
            (10, [0.0, 1.0, 0.0]), (11, [0.0, 1.0, 0.0]),
            (20, [0.0, 0.0, -1.0]),
            (30, None),
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        kept = sorted(r.vec_id for r in semantic_dedup(df).collect())
        assert kept == [1, 10, 20, 30]

    def test_survivors_plus_dropped_partition_corpus(self, spark, sf_dir):
        from hobbes_spark.functions.dedup import semantic_dedup
        from hobbes_spark.pipeline import Pipeline

        emb = Pipeline.table(spark, sf_dir, "embeddings").df.select(
            "vec_id", "embedding"
        )
        kept = semantic_dedup(emb)
        assert kept.count() <= emb.count()
        # survivors are unique ids drawn from the corpus
        assert kept.join(emb, "vec_id", "left_semi").count() == kept.count()


class TestHllSketches:
    """Mergeable HLL sketch state: the merge-of-parts must equal the
    sketch-of-whole exactly (that's what makes pre-aggregated sketch
    tables sound), and estimates must track exact distinct counts."""

    def test_merge_of_daily_equals_sketch_of_union(self, spark, sf_dir):
        from hobbes_spark.functions.sketches import (
            hll_group_sketches,
            hll_rollup_estimate,
        )
        from hobbes_spark.pipeline import Pipeline

        ev = Pipeline.table(spark, sf_dir, "events").df.withColumn(
            "d", F.to_date("ts")
        )
        daily = hll_group_sketches(ev, ["event_type", "d"], "user_id")
        merged = hll_rollup_estimate(daily, ["event_type"])
        direct = hll_rollup_estimate(
            hll_group_sketches(ev, ["event_type"], "user_id"), ["event_type"]
        )
        got = {r.event_type: r.approx_distinct for r in merged.collect()}
        want = {r.event_type: r.approx_distinct for r in direct.collect()}
        assert got == want  # identical estimates, not merely close

    def test_estimate_tracks_exact(self, spark, sf_dir):
        from hobbes_spark.functions.sketches import (
            hll_group_sketches,
            hll_rollup_estimate,
        )
        from hobbes_spark.pipeline import Pipeline

        ev = Pipeline.table(spark, sf_dir, "events").df
        est = {
            r.event_type: r.approx_distinct
            for r in hll_rollup_estimate(
                hll_group_sketches(ev, ["event_type"], "user_id"), ["event_type"]
            ).collect()
        }
        exact = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n"))
            .collect()
        }
        for k, n in exact.items():
            assert abs(est[k] - n) <= max(2, 0.05 * n), (k, est[k], n)

    def test_sketches_survive_parquet(self, spark, sf_dir, tmp_path):
        """The sketch table round-trips through parquet — it is the
        persistable materialized aggregate, not session state."""
        from hobbes_spark.functions.sketches import (
            hll_group_sketches,
            hll_rollup_estimate,
        )
        from hobbes_spark.pipeline import Pipeline

        ev = Pipeline.table(spark, sf_dir, "events").df
        hll_group_sketches(ev, ["event_type"], "user_id").write.parquet(
            str(tmp_path / "sk")
        )
        back = spark.read.parquet(str(tmp_path / "sk"))
        live = hll_rollup_estimate(
            hll_group_sketches(ev, ["event_type"], "user_id"), []
        ).collect()[0][0]
        stored = hll_rollup_estimate(back, []).collect()[0][0]
        assert stored == live


class TestHllRegisterTable:
    """Replayable register-table HLL twin: same mergeable-state
    contract as the DataSketches pair, plus both hash paths track
    exact counts (the md5 path is what the DuckDB gate replays)."""

    def test_merge_of_daily_equals_direct(self, spark, sf_dir):
        from hobbes_spark.functions.sketches import (
            hll_register_table,
            hll_table_rollup,
        )
        from hobbes_spark.pipeline import Pipeline

        ev = Pipeline.table(spark, sf_dir, "events").df.withColumn(
            "d", F.to_date("ts")
        )
        merged = hll_table_rollup(
            hll_register_table(ev, ["event_type", "d"], "user_id"), ["event_type"]
        )
        direct = hll_table_rollup(
            hll_register_table(ev, ["event_type"], "user_id"), ["event_type"]
        )
        got = {r.event_type: r.approx_distinct for r in merged.collect()}
        want = {r.event_type: r.approx_distinct for r in direct.collect()}
        assert got == want  # register MAX-merge is lossless

    @pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
    def test_estimate_tracks_exact(self, spark, sf_dir, hash_fn):
        from hobbes_spark.functions.sketches import (
            hll_register_table,
            hll_table_rollup,
        )
        from hobbes_spark.pipeline import Pipeline

        ev = Pipeline.table(spark, sf_dir, "events").df
        est = {
            r.event_type: r.approx_distinct
            for r in hll_table_rollup(
                hll_register_table(ev, ["event_type"], "user_id", hash_fn=hash_fn),
                ["event_type"],
            ).collect()
        }
        exact = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n"))
            .collect()
        }
        for k, n in exact.items():
            assert abs(est[k] - n) <= max(3, 0.06 * n), (k, est[k], n, hash_fn)

    def test_registers_survive_parquet(self, spark, sf_dir, tmp_path):
        from hobbes_spark.functions.sketches import (
            hll_register_table,
            hll_table_rollup,
        )
        from hobbes_spark.pipeline import Pipeline

        ev = Pipeline.table(spark, sf_dir, "events").df
        hll_register_table(ev, ["event_type"], "user_id").write.parquet(
            str(tmp_path / "regs")
        )
        back = spark.read.parquet(str(tmp_path / "regs"))
        live = hll_table_rollup(
            hll_register_table(ev, ["event_type"], "user_id"), []
        ).collect()[0][0]
        stored = hll_table_rollup(back, []).collect()[0][0]
        assert stored == live

    def test_null_values_carry_no_information(self, spark):
        from hobbes_spark.functions.sketches import (
            hll_register_table,
            hll_table_rollup,
        )

        df = spark.createDataFrame(
            [("a", 1), ("a", None), ("a", 2), ("b", None)],
            "k string, v int",
        )
        regs = hll_register_table(df, ["k"], "v")
        out = {r.k: r.approx_distinct for r in hll_table_rollup(regs, ["k"]).collect()}
        assert "b" not in out  # all-NULL group has no registers at all
        assert abs(out["a"] - 2) <= 1

    def test_global_rollup_of_empty_table_is_zero(self, spark):
        """by=[] over an empty register table must estimate 0 (all-zero
        registers → linear counting m·ln(m/m)), not NULL from the
        zero-row SUM."""
        from hobbes_spark.functions.sketches import (
            hll_register_table,
            hll_table_rollup,
        )

        df = spark.createDataFrame([("a", None)], "k string, v int")
        regs = hll_register_table(df, ["k"], "v")  # every value NULL → empty
        row = hll_table_rollup(regs, []).first()
        assert row.approx_distinct == 0.0


class TestThetaOverlap:
    def test_intersection_estimate_tracks_exact(self, spark, sf_dir):
        from hobbes_spark.functions.sketches import (
            theta_group_sketches,
            theta_overlap_estimate,
        )
        from hobbes_spark.pipeline import Pipeline

        ev = Pipeline.table(spark, sf_dir, "events").df.filter(
            F.col("event_type").isin("click", "purchase")
        )
        sk = theta_group_sketches(ev, ["event_type"], "user_id")
        est = theta_overlap_estimate(sk).collect()[0][0]
        a = {r.user_id for r in ev.filter("event_type = 'click'").select("user_id").distinct().collect()}
        b = {r.user_id for r in ev.filter("event_type = 'purchase'").select("user_id").distinct().collect()}
        exact = len(a & b)
        assert abs(est - exact) <= max(3, 0.08 * exact), (est, exact)


class TestGroupCentroids:
    def test_centroid_matches_manual_mean(self, spark):
        from hobbes_spark.functions.similarity import group_centroids

        rows = [
            ("a", [1.0, 2.0]), ("a", [3.0, 6.0]),
            ("b", [10.0, 0.0]),
            ("b", None),
        ]
        df = spark.createDataFrame(rows, "k string, embedding array<double>")
        got = {r.k: (r.centroid, r.n) for r in group_centroids(df, ["k"]).collect()}
        assert got["a"] == ([2.0, 4.0], 2)
        assert got["b"] == ([10.0, 0.0], 1)  # NULL vector excluded from n


class TestJaccardPrefixJoin:
    def test_equals_brute_force(self, spark):
        from hobbes_spark.functions.dedup import jaccard_join_prefix
        from hobbes_spark.functions.text import tokens

        rows = [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox leaps"),
            (3, "a completely different sentence here"),
            (4, "the quick brown fox jumps"),  # exact dup of 1
            (5, ""),                            # no tokens: never pairs
            (6, None),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in jaccard_join_prefix(df, "doc_id", "text", 0.6).collect()
        )
        t = df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(tokens(F.lower(F.col("text")))).alias("t"),
        ).filter(F.size("t") > 0)
        a, b = t.alias("a"), t.alias("b")
        inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t")))
        jac = inter / (F.size("a.t") + F.size("b.t") - inter).cast("double")
        exp = sorted(
            (r.id_a, r.id_b, round(r.j, 9))
            for r in a.join(b, F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    jac.alias("j"))
            .filter(F.col("j") >= 0.6)
            .collect()
        )
        assert got == exp
        assert (1, 4, 1.0) in got  # exact dup found at jaccard 1.0
        assert not any(5 in (p[0], p[1]) or 6 in (p[0], p[1]) for p in got)

    def test_threshold_validation(self, spark):
        import pytest as _pytest

        from hobbes_spark.functions.dedup import jaccard_join_prefix

        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        with _pytest.raises(ValueError):
            jaccard_join_prefix(df, "doc_id", "text", 0.0)

    def test_prefix_join_equals_brute_force_randomized(self, spark):
        """r14 randomized exactness pin: on random corpora with heavy
        overlap structure and boundary-prone set sizes, the prefix join
        must return EXACTLY the brute-force pair set at every threshold
        — any unsound candidate pruning (the length filter, or a future
        positional/suffix filter) fails here before it reaches the
        driver gate."""
        import random

        from hobbes_spark.functions.dedup import jaccard_join_prefix
        from hobbes_spark.functions.text import tokens

        rnd = random.Random(14)
        vocab = [f"w{i}" for i in range(40)]
        rows = []
        for doc in range(60):
            # skewed sizes incl. tiny sets, duplicated docs, shared cores
            k = rnd.choice([1, 2, 3, 4, 5, 8, 9, 10, 11, 20])
            core = rnd.sample(vocab, k)
            rows.append((doc, " ".join(core)))
            if rnd.random() < 0.3:  # a near-duplicate: drop/add one token
                twin = list(core)
                if len(twin) > 1 and rnd.random() < 0.5:
                    twin.pop(rnd.randrange(len(twin)))
                else:
                    twin.append(rnd.choice(vocab))
                rows.append((1000 + doc, " ".join(twin)))
        df = spark.createDataFrame(rows, "doc_id bigint, text string")

        t = df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(tokens(F.lower(F.col("text")))).alias("t"),
        ).filter(F.size("t") > 0)
        a, b = t.alias("a"), t.alias("b")
        inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t")))
        jac = inter / (F.size("a.t") + F.size("b.t") - inter).cast("double")
        brute = (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                jac.alias("j"),
            )
            .collect()
        )
        for threshold in (0.5, 0.55, 0.6, 0.75, 0.9, 1.0):
            got = sorted(
                (r.id_a, r.id_b, round(r.jaccard, 9))
                for r in jaccard_join_prefix(
                    df, "doc_id", "text", threshold
                ).collect()
            )
            exp = sorted(
                (r.id_a, r.id_b, round(r.j, 9))
                for r in brute
                if r.j >= threshold
            )
            assert got == exp, f"threshold {threshold}: {got} != {exp}"


class TestCountMinSketch:
    def test_merge_of_shards_equals_direct_build(self, spark, sf_dir):
        """cms_merge(shard sketches) must be cell-identical to sketching
        the union directly — the build-small-merge-later contract."""
        from hobbes_spark.functions.sketches import cms_build, cms_merge
        from hobbes_spark.functions.text import tokens
        from hobbes_spark.pipeline import Pipeline

        docs = Pipeline.table(spark, sf_dir, "documents").df
        terms = docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("t")
        )
        a = cms_build(terms.filter(F.col("doc_id") % 2 == 0), "t", width=512)
        b = cms_build(terms.filter(F.col("doc_id") % 2 == 1), "t", width=512)
        merged = {(r.d, r.pos): r.cnt for r in cms_merge(a, b).collect()}
        direct = {(r.d, r.pos): r.cnt for r in cms_build(terms, "t", width=512).collect()}
        assert merged == direct and len(direct) > 0

    def test_estimate_bounds_and_absent_items(self, spark, sf_dir):
        """CMS law: true <= estimate <= true + total/width-ish overcount;
        an item never sketched estimates as >= 0 (its cells may collide)."""
        from hobbes_spark.functions.sketches import cms_build, cms_estimate
        from hobbes_spark.functions.text import tokens
        from hobbes_spark.pipeline import Pipeline

        docs = Pipeline.table(spark, sf_dir, "documents").df
        terms = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
        n_total = terms.count()
        sketch = cms_build(terms, "t", depth=4, width=1024)
        est = {r.t: r.est_count for r in cms_estimate(terms, sketch, "t", width=1024).collect()}
        true = {r.t: r["cnt"] for r in terms.groupBy("t").agg(F.count("*").alias("cnt")).collect()}
        assert set(est) == set(true)
        slack = 3 * math.e * n_total / 1024  # 3x the 1-delta bound: no flakes
        for t, tv in true.items():
            assert tv <= est[t] <= tv + slack
        ghost = spark.createDataFrame([("zzz-never-seen-term",)], "t string")
        g = cms_estimate(ghost, sketch, "t", width=1024).collect()[0]
        assert g.est_count >= 0

    def test_md5_and_xxhash_paths_agree_on_clear_winners(self, spark):
        """Both hash families must rank an unambiguous frequency skew
        identically (collision layouts differ, ordering must not)."""
        from hobbes_spark.functions.sketches import cms_top_items

        rows = [("a",)] * 100 + [("b",)] * 50 + [("c",)] * 10 + [("d",)] * 1
        df = spark.createDataFrame(rows, "t string")
        for fn in ("xxhash64", "md5"):
            got = [(r.t, r.est_count) for r in cms_top_items(df, "t", k=3, hash_fn=fn).collect()]
            assert [t for t, _ in got] == ["a", "b", "c"]
            assert got[0][1] >= 100 and got[1][1] >= 50

    def test_sketch_is_bounded(self, spark, sf_dir):
        from hobbes_spark.functions.sketches import cms_build
        from hobbes_spark.functions.text import tokens
        from hobbes_spark.pipeline import Pipeline

        docs = Pipeline.table(spark, sf_dir, "documents").df
        terms = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
        assert cms_build(terms, "t", depth=4, width=256).count() <= 4 * 256


class TestGroupSampleAndQuantize:
    def test_group_sample_exact_k_deterministic(self, spark, sf_dir):
        from hobbes_spark.functions.sampling import group_sample
        from hobbes_spark.pipeline import Pipeline

        docs = Pipeline.table(spark, sf_dir, "documents").df.select("doc_id", "source")
        a = group_sample(docs, ["source"], "doc_id", k=3)
        counts = {r.source: r["n"] for r in a.groupBy("source").agg(F.count("*").alias("n")).collect()}
        full = {r.source: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
        for s, n in counts.items():
            assert n == min(3, full[s])
        # deterministic across runs; different seed redraws
        ids = lambda df: sorted(r.doc_id for r in df.collect())
        assert ids(a) == ids(group_sample(docs, ["source"], "doc_id", k=3))
        assert ids(a) != ids(group_sample(docs, ["source"], "doc_id", k=3, seed=7))

    def test_group_sample_window_group_limit_plan(self, spark, sf_dir):
        """rank<=k windows must compile to WindowGroupLimit (map-side
        k-per-key before the shuffle)."""
        from hobbes_spark.functions.sampling import group_sample
        from hobbes_spark.pipeline import Pipeline

        docs = Pipeline.table(spark, sf_dir, "documents").df.select("doc_id", "source")
        plan = group_sample(docs, ["source"], "doc_id", 3)._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan

    def test_quantize_roundtrip_error_bound(self, spark, sf_dir):
        """|v - q*scale| <= scale/2 per component (plus float read
        noise); zero and NULL vectors well-defined."""
        from hobbes_spark.functions.similarity import dequantized, quantize_embeddings
        from hobbes_spark.pipeline import Pipeline

        emb = Pipeline.table(spark, sf_dir, "embeddings").df
        qd = quantize_embeddings(emb.filter(F.col("embedding").isNotNull()))
        v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        err = F.zip_with(v, dequantized("q8", "scale"), lambda x, y: F.abs(x - y))
        row = qd.select(
            F.max(F.array_max(err) / F.col("scale")).alias("worst_ratio"),
            F.min(F.array_min(F.col("q8"))).alias("qmin"),
            F.max(F.array_max(F.col("q8"))).alias("qmax"),
        ).collect()[0]
        assert row.worst_ratio <= 0.5 + 1e-9
        assert -127 <= row.qmin and row.qmax <= 127
        edge = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, None)], "vec_id bigint, embedding array<float>"
        )
        got = {r.vec_id: (r.scale, r.q8) for r in quantize_embeddings(edge).collect()}
        assert got[1] == (0.0, [0, 0]) and got[2] == (None, None)


def test_profile_columns_exact_and_approx(spark):
    from hobbes_spark.functions.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b"), (4, "b")],
        "k bigint, s string",
    )
    exact = {r["col_name"]: r for r in profile_columns(df, exact=True).collect()}
    assert exact["k"]["n_rows"] == 5 and exact["k"]["n_nulls"] == 0
    assert exact["k"]["n_distinct"] == 4
    assert exact["s"]["n_nulls"] == 1 and exact["s"]["n_distinct"] == 2
    # approx path: same schema, plausible estimates (exact at this size)
    approx = {r["col_name"]: r for r in profile_columns(df).collect()}
    assert approx["k"]["n_distinct"] == 4 and approx["s"]["n_distinct"] == 2
    # unknown columns fail loudly, not silently profile nothing
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown columns"):
        profile_columns(df, ["nope"])


def test_profile_approx_has_no_expand(spark, sf_dir):
    """The approx path must stay a plain partial/final aggregate — the
    Expand operator (one input copy per distinct column) is exactly what
    it exists to avoid."""
    from hobbes_spark.functions.profile import profile_columns

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = (
        profile_columns(li, ["l_returnflag", "l_partkey", "l_quantity"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in plan
    assert "partial_approx_count_distinct" in plan


# ------------------------- BM25 retrieval --------------------------- #

def test_bm25_matches_brute_force(spark):
    import math
    from hobbes_spark.functions.text import bm25_topk

    corpus = [
        (1, "hash join hash probe build"),
        (2, "merge sort merge run"),
        (3, "window frame window window slide"),
        (4, "scan filter project"),          # no query terms
        (5, "hash merge window"),            # all three, short doc
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_terms"], r["score"])
           for r in bm25_topk(df, ["hash", "merge", "window"], top=10).collect()}

    # brute-force reference
    docs = {i: t.split() for i, t in corpus}
    N, avgdl = len(docs), sum(len(t) for t in docs.values()) / len(docs)
    dfreq = {q: sum(1 for t in docs.values() if q in t)
             for q in ["hash", "merge", "window"]}
    k1, b = 1.2, 0.75
    for i, toks in docs.items():
        terms = [q for q in dfreq if q in toks]
        if not terms:
            assert i not in got  # doc 4 never enters the posting list
            continue
        exp = sum(
            math.log((N - dfreq[q] + 0.5) / (dfreq[q] + 0.5) + 1.0)
            * toks.count(q) * (k1 + 1)
            / (toks.count(q) + k1 * (1 - b + b * len(toks) / avgdl))
            for q in terms
        )
        n, s = got[i]
        assert n == len(terms)
        assert abs(s - exp) < 1e-9, (i, s, exp)


def test_bm25_df_broadcast_no_global_sort(spark):
    from hobbes_spark.functions.text import bm25_topk

    df = spark.createDataFrame(
        [(i, "hash merge") for i in range(100)], "doc_id long, text string"
    )
    out = bm25_topk(df, ["hash", "merge"], top=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan          # df_t + corpus stats
    assert "TakeOrderedAndProject" in plan      # top-k, not a full Sort


# -------------------- perceptual-hash image dedup ------------------- #

def _ahash_py(pixels):
    mean = sum(pixels) / float(len(pixels))
    bits = 0
    for i, p in enumerate(pixels):
        if p > mean:
            bits |= 1 << i
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def test_ahash_known_vector_and_null_rules(spark):
    from hobbes_spark.functions.multimodal import ahash_images

    px_a = bytes((i * 4) % 256 for i in range(64))
    px_b = bytes([0] * 63 + [255])  # one bright pixel: only bit 63 set
    rows = [(1, px_a), (2, px_b), (3, b"short"), (4, None)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r["phash"] for r in ahash_images(df).collect()}
    assert got[1] == _ahash_py(list(px_a))
    assert got[2] == _ahash_py(list(px_b))
    assert got[2] < 0  # bit 63 wraps to the sign bit of the signed long
    assert got[3] is None and got[4] is None  # undecodable → NULL


def test_phash_near_pairs_pigeonhole_and_threshold(spark):
    from hobbes_spark.functions.multimodal import phash_near_pairs

    base = _ahash_py(list(bytes((i * 4) % 256 for i in range(64))))
    flip3 = base ^ 0b10110  # 3 bits in band 0 only
    spread = base ^ ((1 << 1) | (1 << 17) | (1 << 33) | (1 << 49))  # 1/band
    far = base ^ ((1 << 16) - 1) ^ (0xFF << 16)  # 24 bits flipped
    rows = [(1, base), (2, flip3), (3, spread), (4, far)]
    df = spark.createDataFrame(rows, "media_id long, phash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in phash_near_pairs(df, max_hamming=8).collect()}
    assert got[(1, 2)] == 3       # bands 1-3 untouched → guaranteed caught
    # 2 vs 3 (hamming 5) and 1 vs 3 (hamming 4) touch ALL four bands, so
    # the banded join legitimately misses them — the recall contract is
    # pigeonhole-exact only below 4 flips (bands=4), approximate above
    assert (2, 3) not in got
    assert (1, 3) not in got
    assert all(p != (1, 4) for p in got)  # hamming 24 > threshold


def test_phash_pairs_no_cartesian(spark):
    from hobbes_spark.functions.multimodal import phash_near_pairs

    df = spark.createDataFrame(
        [(i, i * 7919) for i in range(50)], "media_id long, phash long"
    )
    plan = phash_near_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_phash_bucket_cap_drops_skewed_bucket_only(spark):
    from hobbes_spark.functions.multimodal import phash_near_pairs

    # 6 identical hashes (one giant bucket per band) + 2 near twins
    rows = [(i, 0) for i in range(1, 7)] + [(10, 1 << 40), (11, (1 << 40) | 2)]
    df = spark.createDataFrame(rows, "media_id long, phash long")
    uncapped = phash_near_pairs(df, max_hamming=8)
    capped = phash_near_pairs(df, max_hamming=8, max_bucket=4)
    got_un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    got_cap = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (10, 11) in got_un and (10, 11) in got_cap  # small bucket survives
    assert sum(1 for a, b in got_un if a < 7 and b < 7) == 15  # all 6C2
    # the cap drops the 6-wide bucket from candidate generation entirely
    # (all four of its bands are equally overfull)
    assert not any(a < 7 and b < 7 for a, b in got_cap)


def test_winsorize_bounds_and_broadcast(spark):
    from hobbes_spark.functions.profile import winsorize

    rows = [("a", i, float(i)) for i in range(1, 101)] + [("b", 200, 7.0)]
    df = spark.createDataFrame(rows, "k string, id long, v double")
    out = winsorize(df, ["k"], "v", 0.05, 0.95)
    got = {r["id"]: r for r in out.collect()}
    # group a: P5 of 1..100 (interpolated) = 5.95, P95 = 95.05
    assert got[1]["clipped"] == pytest.approx(5.95)
    assert got[1]["was_clipped"] is True
    assert got[50]["clipped"] == 50.0 and got[50]["was_clipped"] is False
    assert got[100]["clipped"] == pytest.approx(95.05)
    # single-value group: bounds collapse to the value, nothing clips
    assert got[200]["clipped"] == 7.0 and got[200]["was_clipped"] is False
    plan = winsorize(df, ["k"], "v")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_vocabulary_overlap_counts(spark):
    from hobbes_spark.functions.text import vocabulary_overlap

    rows = [
        ("s1", "alpha beta gamma"),
        ("s1", "beta delta"),          # s1 vocab: alpha beta gamma delta
        ("s2", "beta gamma epsilon"),  # s2 vocab: beta gamma epsilon
        ("s3", "zeta"),                # disjoint
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {(r["src_a"], r["src_b"]): r for r in
           vocabulary_overlap(df, "source", "text").collect()}
    r12 = got[("s1", "s2")]
    assert (r12["n_common"], r12["n_a"], r12["n_b"]) == (2, 4, 3)
    assert r12["jaccard"] == pytest.approx(2 / 5)
    assert ("s1", "s3") not in got  # no shared term -> no row (jaccard 0)


def test_equi_depth_histogram_balanced_and_no_global_sort(spark):
    from hobbes_spark.functions.profile import equi_depth_histogram

    df = spark.createDataFrame([(float(i),) for i in range(1, 1001)], "v double")
    out = equi_depth_histogram(df, "v", buckets=10)
    rows = {r["bucket"]: r for r in out.collect()}
    assert set(rows) == set(range(1, 11))
    assert all(r["n"] == 100 for r in rows.values())  # uniform → equal depth
    # contiguous, ordered ranges
    for b in range(1, 10):
        assert rows[b]["hi"] <= rows[b + 1]["lo"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # no ntile window
    assert plan.count("Sort ") == 0  # no global sort anywhere


class TestKmvQuantileSketch:
    """Bottom-k-by-hash quantile sketch: exact mergeability (the state
    contract) + bounded rank error vs exact quantiles."""

    def test_merge_of_parts_equals_sketch_of_whole(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from hobbes_spark.functions.sketches import kmv_group_sketches, kmv_merge
        from hobbes_spark.pipeline import Pipeline

        ev = Pipeline.table(spark, sf_dir, "events").df.withColumn(
            "d", F.to_date("ts")
        )
        daily = kmv_group_sketches(ev, ["event_type", "d"], "event_id", "value", k=64)
        merged = kmv_merge(daily, ["event_type"], k=64)
        direct = kmv_group_sketches(ev, ["event_type"], "event_id", "value", k=64)
        a = {r.event_type: r.sketch for r in merged.collect()}
        b = {r.event_type: r.sketch for r in direct.collect()}
        assert a == b  # byte-identical state, not just close estimates

    def test_quantile_rank_error_bounded(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from hobbes_spark.functions.sketches import kmv_group_sketches, kmv_quantile
        from hobbes_spark.pipeline import Pipeline

        ev = Pipeline.table(spark, sf_dir, "events").df
        sk = kmv_group_sketches(ev, [], "event_id", "value", k=512)
        est = sk.select(
            kmv_quantile("sketch", 0.5).alias("p50"),
            kmv_quantile("sketch", 0.9).alias("p90"),
        ).first()
        vals = sorted(r.value for r in ev.select("value").collect() if r.value is not None)
        n = len(vals)

        def true_rank(v):
            import bisect

            return bisect.bisect_right(vals, v) / n

        # sampling rank error ~ sqrt(p(1-p)/k) ≈ 0.022 at k=512; 0.1 is >4σ
        assert abs(true_rank(est.p50) - 0.5) < 0.1
        assert abs(true_rank(est.p90) - 0.9) < 0.1

    def test_estimates_are_sampled_values(self, spark):
        from hobbes_spark.functions.sketches import kmv_group_sketches, kmv_quantile

        df = spark.range(1000).selectExpr("id", "cast(id as double) * 0.5 as v")
        sk = kmv_group_sketches(df, [], "id", "v", k=100)
        row = sk.select("sketch", kmv_quantile("sketch", 0.5).alias("p50")).first()
        assert row.p50 in [s.v for s in row.sketch]

    def test_null_ids_and_values_excluded(self, spark):
        from hobbes_spark.functions.sketches import kmv_group_sketches

        df = spark.createDataFrame(
            [(1, 1.0), (None, 2.0), (3, None), (4, 4.0)], "id long, v double"
        )
        sk = kmv_group_sketches(df, [], "id", "v", k=10).first()
        assert sorted(s.v for s in sk.sketch) == [1.0, 4.0]

    def test_validation(self, spark):
        import pytest as _pt
        from hobbes_spark.functions.sketches import kmv_group_sketches, kmv_quantile

        df = spark.range(5).selectExpr("id", "cast(id as double) as v")
        with _pt.raises(ValueError):
            kmv_group_sketches(df, [], "id", "v", hash_fn="sha9")
        with _pt.raises(ValueError):
            kmv_quantile("sketch", 0.0)

    def test_build_uses_window_group_limit(self, spark):
        # map-side bottom-k before the shuffle: the claim that shuffle
        # volume is O(groups*k), not O(rows)
        from hobbes_spark.functions.sketches import kmv_group_sketches

        df = spark.range(1000).selectExpr("id", "id % 4 as g", "cast(id as double) as v")
        plan = kmv_group_sketches(df, ["g"], "id", "v", k=64)._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan


# --------------------------------------------------------------------- #
# Review-hardening regressions (round 4, batch C)
# --------------------------------------------------------------------- #


def test_jaccard_prefix_exact_at_float_boundary(spark):
    """threshold*n landing just above an integer (100*0.55 ->
    55.000000000000004) must not shorten the prefix: the boundary pair
    with jaccard exactly at the threshold must surface."""
    from hobbes_spark.functions.dedup import jaccard_join_prefix

    a_toks = [f"w{i:03d}" for i in range(100)]
    b_toks = a_toks[45:]  # |b|=55, intersection 55, union 100 -> j=0.55
    df = spark.createDataFrame(
        [(1, " ".join(a_toks)), (2, " ".join(b_toks))], ["doc_id", "text"]
    )
    pairs = jaccard_join_prefix(df, "doc_id", "text", threshold=0.55).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_connected_components_empty_path_unpersists_cache(spark):
    """The empty-edge early return must release the persisted sym table
    — it is the COMMON path for clean corpora and used to leak one
    cached RDD per call. (The iterating path's localCheckpoint RDDs are
    a different mechanism: released by the ContextCleaner when the
    result drops, not assertable here.)"""
    from hobbes_spark.functions.dedup import connected_components

    spark.catalog.clearCache()
    # Compare RDD-id SETS, not counts: the ContextCleaner may release
    # other tests' cached RDDs asynchronously between the snapshots, so
    # an equality-of-counts assert is flaky under the full suite. The
    # leak this test pins is "new persisted RDDs survive the calls".
    def _ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = _ids()
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    for _ in range(3):
        connected_components(empty, "src", "dst").collect()
    assert _ids() - before == set()


def test_ahash_rejects_wide_n_pixels_and_bmp_core_header(spark):
    import struct

    from hobbes_spark.functions.multimodal import ahash_images, header_dims

    with pytest.raises(ValueError, match="n_pixels"):
        ahash_images(spark.createDataFrame([], "media_id long, content binary"),
                     n_pixels=128)
    # OS/2 core-header BMP: uint16 dims must parse, not fuse into int32
    core = (b"BM" + struct.pack("<IHHI", 26, 0, 0, 26)
            + struct.pack("<IHHHH", 12, 100, 100, 1, 24))
    assert header_dims(core) == (100, 100)


def test_frame_sample_plan_validates_params(spark):
    from hobbes_spark.functions.multimodal import frame_sample_plan

    media = spark.createDataFrame([(1, b"x" * 640)], "media_id long, content binary")
    with pytest.raises(ValueError, match="every_n"):
        frame_sample_plan(media, every_n=0)
    with pytest.raises(ValueError, match="max_frames"):
        frame_sample_plan(media, max_frames=0)


def test_winsorize_dot_path_value_col(spark):
    """A value_col with a dot in its FLAT name ('Iteration.Points', the
    uniform-cascade naming) must winsorize — every reference to it goes
    through the backtick-quoting helper, not bare F.col (which would
    misparse the dot as struct access)."""
    from hobbes_spark.functions.profile import winsorize

    rows = [("a", i, float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "k string, id long, v double").withColumnRenamed(
        "v", "Iteration.Points"
    )
    out = winsorize(df, ["k"], "Iteration.Points", 0.05, 0.95)
    got = {r["id"]: r for r in out.collect()}
    assert got[1]["clipped"] == pytest.approx(5.95)
    assert got[1]["was_clipped"] is True
    assert got[50]["was_clipped"] is False


def test_pq_encode_reconstruct_and_topk(spark):
    """PQ quantile codebooks (similarity.pq_*): nearest-code assignment
    with ties to the lowest index, exact reconstruction for on-codebook
    values, and ADC top-k that ranks the true nearest first on
    well-separated data."""
    from hobbes_spark.functions.similarity import (
        pq_adc_topk, pq_codebooks, pq_encode, pq_reconstruct,
    )

    # 1-D corpus spanning [0, 15]: 16-level quantile codebook over the
    # 16 distinct values lands one level per value -> exact codes
    rows = [(i, [float(i % 16), float((i * 7) % 16)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_codebooks(df, levels=16)
    assert len(books) == 2 and all(len(b) == 16 for b in books)
    assert books[0] == sorted(books[0])  # ascending levels
    enc = pq_encode(df, books)
    rec = enc.select(
        "vec_id", "embedding", pq_reconstruct("pq", books).alias("r")
    ).collect()
    for r in rec:
        # every component sits ON a codebook entry: reconstruction exact
        for orig, back in zip(r["embedding"], r["r"]):
            assert back == pytest.approx(float(orig), abs=1e-9)
    # ADC: the query equals vec 5's vector -> vec 5 at distance 0, rank 1
    q = df.filter(F.col("vec_id") == 5)
    top = pq_adc_topk(enc, q, books, k=3).collect()
    assert top[0]["neighbor_id"] == 5 and top[0]["dist"] == 0.0
    assert [t["rank"] for t in top] == [1, 2, 3]


def test_pq_tie_breaks_to_lowest_code(spark):
    """A value equidistant from two codebook entries must take the
    LOWER code (first-match array_position) — the determinism the
    oracle replays."""
    from hobbes_spark.functions.similarity import pq_encode

    df = spark.createDataFrame([(1, [5.0])], "vec_id long, embedding array<float>")
    # handcrafted codebook: 5.0 is equidistant from 4.0 and 6.0
    out = pq_encode(df, [[4.0, 6.0]]).first()["pq"]
    assert out == [0]


class TestNormalizeText:
    """C4/CCNet-style unicode normalization (text.normalize_text). The
    oracle gate pins the full chain byte-for-byte via md5; these pin
    the individual rule semantics readable-example by example."""

    def _norm(self, spark, s):
        from hobbes_spark.functions.text import normalize_text

        df = spark.createDataFrame([(s,)], "t string")
        return df.select(normalize_text("t").alias("c")).collect()[0]["c"]

    def test_quotes_dashes_ellipsis(self, spark):
        assert self._norm(spark, "“hi” ‘x’ – — …") == "\"hi\" 'x' - - ..."

    def test_line_endings_and_blank_runs(self, spark):
        assert self._norm(spark, "a\r\nb\rc\n\n\n\n\nd") == "a\nb\nc\n\nd"

    def test_spaces_zero_width_controls(self, spark):
        # NBSP + ideographic space -> space; zero-width and \x01 vanish
        # (joining their neighbors); tab runs collapse; space around
        # newline stripped
        assert self._norm(spark, "a b　c​d\x01e\t\tf \n g") == "a b cde f\ng"

    def test_null_propagates_and_idempotent(self, spark):
        from hobbes_spark.functions.text import normalize_text

        df = spark.createDataFrame([(None,), ("  x  ",)], "t string")
        out = df.select(normalize_text(normalize_text("t")).alias("c")).collect()
        got = [r["c"] for r in out]
        assert got[0] is None and got[1] == "x"

    def test_dedup_motivation_same_hash_after(self, spark):
        # the two visually-identical docs differ only in quote style and
        # NBSP: distinct before normalization, identical after
        a, b = "“Hello” world", '"Hello" world'
        assert a != b and self._norm(spark, a) == self._norm(spark, b)


class TestSystematicWeightedSample:
    """Token-weighted systematic resampling (sampling.
    systematic_weighted_sample): integer-exact pointer arithmetic."""

    def _docs(self, spark):
        rows = [(i, f"s{i % 3}", (i * 7) % 40 + 1) for i in range(120)]
        return spark.createDataFrame(rows, "doc_id bigint, source string, tok bigint")

    def test_exactly_k_draws_global_and_stratified(self, spark):
        from hobbes_spark.functions.sampling import systematic_weighted_sample

        got = systematic_weighted_sample(self._docs(spark), "doc_id", "tok", 17)
        assert sum(r["copies"] for r in got.collect()) == 17
        by = systematic_weighted_sample(
            self._docs(spark), "doc_id", "tok", 5, strata="source"
        )
        per = {}
        for r in by.collect():
            per[r["source"]] = per.get(r["source"], 0) + r["copies"]
        assert per == {"s0": 5, "s1": 5, "s2": 5}

    def test_deterministic_and_salt_decorrelates(self, spark):
        from hobbes_spark.functions.sampling import systematic_weighted_sample

        def ids(salt):
            return sorted(
                r["doc_id"]
                for r in systematic_weighted_sample(
                    self._docs(spark), "doc_id", "tok", 20, salt=salt
                ).collect()
            )

        assert ids("a") == ids("a")
        assert ids("a") != ids("b")

    def test_weight_proportional_inclusion(self, spark):
        """A document holding half the corpus weight must appear in
        every sample with k >= 2 (it spans >= one pointer gap), and a
        zero-weight doc never appears."""
        from hobbes_spark.functions.sampling import systematic_weighted_sample

        df = spark.createDataFrame(
            [(1, 1000), (2, 0)] + [(i, 10) for i in range(3, 103)],
            "doc_id bigint, tok bigint",
        )
        got = {r["doc_id"]: r["copies"] for r in systematic_weighted_sample(
            df, "doc_id", "tok", 10
        ).collect()}
        assert got.get(1, 0) >= 4  # half the weight line -> ~k/2 draws
        assert 2 not in got
        assert sum(got.values()) == 10

    def test_rejects_null_negative_and_float_weights(self, spark):
        from hobbes_spark.functions.sampling import systematic_weighted_sample

        bad = spark.createDataFrame(
            [(1, 5), (2, None)], "doc_id bigint, tok bigint"
        )
        with pytest.raises(Exception, match="NULL or negative"):
            systematic_weighted_sample(bad, "doc_id", "tok", 3).collect()
        neg = spark.createDataFrame([(1, 5), (2, -1)], "doc_id bigint, tok bigint")
        with pytest.raises(Exception, match="NULL or negative"):
            systematic_weighted_sample(neg, "doc_id", "tok", 3).collect()
        flo = spark.createDataFrame([(1, 5.0)], "doc_id bigint, tok double")
        with pytest.raises(ValueError, match="integer column"):
            systematic_weighted_sample(flo, "doc_id", "tok", 3)

    def test_all_zero_weight_stratum_draws_nothing(self, spark):
        from hobbes_spark.functions.sampling import systematic_weighted_sample

        df = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "z", 0), (4, "z", 0)],
            "doc_id bigint, source string, tok bigint",
        )
        got = systematic_weighted_sample(df, "doc_id", "tok", 4, strata="source")
        rows = got.collect()
        assert all(r["source"] == "a" for r in rows)
        assert sum(r["copies"] for r in rows) == 4

    def test_matches_single_window_reference(self, spark):
        """The sharded two-pass prefix scan must select exactly what the
        shards=1 single-window plan selects."""
        from hobbes_spark.functions.sampling import systematic_weighted_sample

        docs = self._docs(spark).repartition(8)
        a = systematic_weighted_sample(docs, "doc_id", "tok", 23, shards=8)
        b = systematic_weighted_sample(docs, "doc_id", "tok", 23, shards=1)
        snap = lambda d: sorted((r["doc_id"], r["copies"]) for r in d.collect())
        assert snap(a) == snap(b)


class TestRidgeFit:
    """Closed-form ridge probe (classify.ridge_gram/ridge_fit/
    ridge_score): exact-integer sufficient statistics + driver solve."""

    def test_recovers_known_linear_relation(self, spark):
        """y = 3*x0 + 2*x1 exactly, lambda ~ 0: the fit must recover the
        coefficients to rounding precision."""
        from hobbes_spark.functions.classify import ridge_fit

        rows = [(i, (i * 3) % 7, 3 * i + 2 * ((i * 3) % 7)) for i in range(1, 30)]
        df = spark.createDataFrame(rows, "x0 bigint, x1 bigint, y bigint")
        w = ridge_fit(df, ["x0", "x1"], "y", l2=1e-9)
        assert w[0] == pytest.approx(3.0, abs=1e-4)
        assert w[1] == pytest.approx(2.0, abs=1e-4)

    def test_gram_is_one_row_exact(self, spark):
        from hobbes_spark.functions.classify import ridge_gram

        df = spark.createDataFrame(
            [(2, 0, 4), (0, 1, 1), (0, 1, 1), (0, 0, 7)],
            "x0 bigint, x1 bigint, y bigint",
        )
        row = ridge_gram(df, ["x0", "x1"], "y").collect()
        assert len(row) == 1
        r = row[0]
        assert (r["n"], r["g_0_0"], r["g_0_1"], r["g_1_1"]) == (4, 4, 0, 2)
        assert (r["b_0"], r["b_1"]) == (8, 2)

    def test_rejects_float_features(self, spark):
        from hobbes_spark.functions.classify import ridge_gram

        df = spark.createDataFrame([(1.0, 2)], "x0 double, y bigint")
        with pytest.raises(ValueError, match="integer column"):
            ridge_gram(df, ["x0"], "y")

    def test_gram_rejects_nulls_in_plan(self, spark):
        """A NULL feature/label would make the sufficient statistics
        mutually inconsistent (each sum skips NULLs independently while
        n counts all rows) — the plan must raise, not fit a Gram matrix
        corresponding to no actual dataset."""
        from hobbes_spark.functions.classify import ridge_gram

        df = spark.createDataFrame(
            [(1, 2, 3), (None, 1, 1)], "x0 bigint, x1 bigint, y bigint"
        )
        with pytest.raises(Exception, match="ridge_gram: NULL in column 'x0'"):
            ridge_gram(df, ["x0", "x1"], "y").collect()
        df2 = spark.createDataFrame(
            [(1, 2, 3), (2, 1, None)], "x0 bigint, x1 bigint, y bigint"
        )
        with pytest.raises(Exception, match="ridge_gram: NULL in column 'y'"):
            ridge_gram(df2, ["x0", "x1"], "y").collect()

    def test_fit_empty_input_is_loud(self, spark):
        """Empty input yields NULL sums; without the guard the fit dies
        on float(None) deep in the Gram loop."""
        from hobbes_spark.functions.classify import ridge_fit

        df = spark.createDataFrame([], "x0 bigint, y bigint")
        with pytest.raises(ValueError, match="nothing to fit"):
            ridge_fit(df, ["x0"], "y")

    def test_fit_singular_gram_names_the_problem(self, spark):
        """l2=0 with linearly dependent features (x1 = 2*x0) leaves a
        singular normal-equation system: the error must say so instead
        of surfacing a raw numpy LinAlgError."""
        from hobbes_spark.functions.classify import ridge_fit

        rows = [(i, 2 * i, 5 * i) for i in range(1, 10)]
        df = spark.createDataFrame(rows, "x0 bigint, x1 bigint, y bigint")
        with pytest.raises(ValueError, match="singular"):
            ridge_fit(df, ["x0", "x1"], "y", l2=0.0)
        # with regularization the same data fits fine
        assert len(ridge_fit(df, ["x0", "x1"], "y", l2=1.0)) == 2

    def test_score_is_shuffle_free_dot_product(self, spark):
        from hobbes_spark.functions.classify import ridge_score

        df = spark.createDataFrame([(2, 3), (5, 1)], "x0 bigint, x1 bigint")
        got = {(r["x0"], r["x1"]): r["score"] for r in ridge_score(
            df, ["x0", "x1"], [1.5, -0.5]
        ).collect()}
        assert got[(2, 3)] == pytest.approx(1.5)
        assert got[(5, 1)] == pytest.approx(7.0)
        plan = ridge_score(df, ["x0", "x1"], [1.5, -0.5])._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange" not in plan  # map-only


def test_minhash_fixture_literals_rederive():
    """Guard the round-8 MinHash/LSH truth-pin literals against typos:
    re-derive the whole chain (shingles -> seed-prefixed md5 -> min over
    hex -> bands -> buckets -> pairs -> star edges) in straight-line
    Python (hashlib — independent of Spark's JVM md5 and of DuckDB) and
    compare with the frozen literals in the two catalog oracles.  If an
    algorithmic bug existed in BOTH engines, this third implementation
    is the one that would catch it."""
    import hashlib
    import itertools

    from hobbes_spark.queries import (
        _MINHASH_FIXTURE_DOCS,
        _MINHASH_FIXTURE_SIGS,
    )

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()

    def shingles(t, k=3):
        w = t.lower().split()
        return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]

    sigs = {}
    for d, t in _MINHASH_FIXTURE_DOCS:
        sh = shingles(t)
        if sh:
            sigs[d] = tuple(
                min(md5(f"{i}|" + s) for s in sh) for i in range(4)
            )
    assert sigs == _MINHASH_FIXTURE_SIGS  # doc 7 absent on both sides

    buckets: dict = {}
    for d, s in sorted(sigs.items()):
        for b in range(2):
            buckets.setdefault((b, s[2 * b : 2 * b + 2]), []).append(d)
    pairs, edges = set(), set()
    for (_, _), members in buckets.items():
        if len(members) < 2:
            continue
        hub = min(members)
        pairs.update(itertools.combinations(sorted(members), 2))
        edges.update((hub, m) for m in members if m != hub)
    agree = {
        (a, b): sum(x == y for x, y in zip(sigs[a], sigs[b]))
        for a, b in pairs
    }
    assert sorted(edges) == [(1, 2), (1, 3), (1, 4)]
    assert agree == {
        (1, 2): 4, (1, 3): 4, (2, 3): 4,
        (1, 4): 3, (2, 4): 3, (3, 4): 3,
    }
    # the banding negative: 5-6 agree on two slots yet are no candidate
    assert sum(x == y for x, y in zip(sigs[5], sigs[6])) == 2
    assert (5, 6) not in pairs


class TestDriverCollectGuardrails:
    """Round-8 item 7: every deliberately driver-sized collect validates
    its size bound and fails loudly BEFORE collecting, so a miscalled
    operator errors instead of OOMing a driver at 100 TB."""

    def test_bloom_build_caps_num_bits(self, spark):
        from hobbes_spark.operators.bloom import bloom_build

        keys = spark.range(10).select(F.col("id").alias("k"))
        with pytest.raises(ValueError, match="2\\^28 driver bitmap cap"):
            bloom_build(keys, "k", num_bits=1 << 29)
        # at the cap boundary the build itself is legal (not executed
        # here — plan construction alone must not raise)
        bloom_build(keys, "k", num_bits=1 << 20)

    def test_learn_bpe_rejects_unbounded_vocab(self, spark):
        from hobbes_spark.functions.bpe import learn_bpe

        wf = spark.range(50).select(
            F.concat(F.lit("w"), F.col("id")).alias("word"),
            F.lit(5).cast("bigint").alias("freq"),
        )
        with pytest.raises(ValueError, match="more than max_vocab=10"):
            learn_bpe(wf, num_merges=3, max_vocab=10)
        # bounded input trains fine under the same cap
        assert learn_bpe(wf.limit(8), num_merges=2, max_vocab=10).count() > 0

    def test_learn_unigram_rejects_unbounded_vocab(self, spark):
        from hobbes_spark.functions.unigram import learn_unigram_lm

        wf = spark.range(50).select(
            F.concat(F.lit("w"), F.col("id")).alias("word"),
            F.lit(5).cast("bigint").alias("freq"),
        )
        with pytest.raises(ValueError, match="more than max_vocab=10"):
            learn_unigram_lm(wf, vocab_size=30, max_vocab=10)
        assert learn_unigram_lm(wf.limit(8), vocab_size=30, max_vocab=10).count() > 0

    def test_plane_weight_matrix_caps_size(self, spark):
        from hobbes_spark.functions.similarity import plane_weight_matrix

        with pytest.raises(ValueError, match="2\\^22 literal-matrix cap"):
            plane_weight_matrix(spark, planes=1 << 12, dim=1 << 12)
        w = plane_weight_matrix(spark, planes=2, dim=4)
        assert len(w) == 2 and len(w[0]) == 4

    def test_pq_codebooks_caps_size(self, spark):
        from hobbes_spark.functions.similarity import pq_codebooks

        emb = spark.createDataFrame(
            [([float(i), float(i + 1)],) for i in range(8)],
            "embedding array<double>",
        )
        with pytest.raises(ValueError, match="2\\^22 driver codebook cap"):
            pq_codebooks(emb, levels=1 << 22)
        assert len(pq_codebooks(emb, levels=4)) == 2


def test_ann_lsh_fixture_literals_rederive():
    """Guard the round-8 ANN truth-pin literals: re-derive signs,
    buckets, probes, candidates, cosines and ranks in straight-line
    Python (no Spark, no DuckDB) and compare with the frozen oracle
    rows of `ann_lsh_fixture_exact`."""
    import math

    W = [[1.0, 1.0], [1.0, -1.0]]
    vecs = {1: (3, 1), 2: (1, 2), 3: (-1, -3), 4: (2, 2), 5: (-2, 1)}

    def bucket(v):
        return sum(
            (1 if sum(w * x for w, x in zip(row, v)) >= 0 else 0) << p
            for p, row in enumerate(W)
        )

    buckets = {i: bucket(v) for i, v in vecs.items()}
    assert buckets == {1: 3, 2: 1, 3: 2, 4: 3, 5: 0}

    def cos6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return math.floor(d / n * 1e6 + 0.5) / 1e6

    expect = []
    for q in (1, 5):
        probes = {buckets[q], buckets[q] ^ 1, buckets[q] ^ 2}
        cands = [i for i, b in buckets.items() if b in probes and i != q]
        ranked = sorted(
            ((cos6(vecs[q], vecs[i]), i) for i in cands),
            key=lambda t: (-t[0], t[1]),
        )[:2]
        expect += [(q, i, c, r + 1) for r, (c, i) in enumerate(ranked)]
    assert expect == [
        (1, 4, 0.894427, 1), (1, 2, 0.707107, 2),
        (5, 2, 0.0, 1), (5, 3, -0.141421, 2),
    ]


def test_spark_xxhash64_matches_reference(spark):
    """Spark's ``xxhash64`` pinned against the pure-Python reference
    XXH64 (tests/xxh64_ref.py — third implementation, public spec):
    long/int primitive fast paths, strings on both sides of the 32-byte
    stripe boundary, and two-arg seed chaining. This is the pin that
    lets xxhash64-based operators carry frozen-literal oracles."""
    from tests.xxh64_ref import hash_bytes, hash_int, hash_long, signed

    df = spark.range(1)
    val = lambda e: df.select(e.alias("h")).first()["h"]
    for v in [0, 1, -1, 42, 123456789, -987654321012345, 2**62]:
        assert val(F.xxhash64(F.lit(v).cast("bigint"))) == signed(hash_long(v)), v
    for v in [0, 7, -3, 2**31 - 1]:
        assert val(F.xxhash64(F.lit(v).cast("int"))) == signed(hash_int(v)), v
    for t in ["", "a", "hello", "ab cd", "x" * 31, "y" * 32, "z" * 67,
              "ünïcodé tęxt"]:
        assert val(F.xxhash64(F.lit(t))) == signed(hash_bytes(t.encode())), t
    a, b = 1234567, -9876543
    assert val(
        F.xxhash64(F.lit(a).cast("bigint"), F.lit(b).cast("bigint"))
    ) == signed(hash_long(b, hash_long(a) & ((1 << 64) - 1)))
    # NULL child leaves the running seed unchanged (Spark contract)
    assert val(F.xxhash64(F.lit(None).cast("bigint"))) == 42


def test_minhash_xxhash_signature_matches_reference(spark):
    """The df-path xxhash64 MinHash signature pinned value-for-value
    against the reference replay in tests/xxh64_ref.py — token hashing,
    window chaining (including the per-zip re-seeding), the INT fast
    path of the seed index, signed min, and the sub-k-words drop."""
    from hobbes_spark.functions.dedup import minhash_signatures_df
    from tests.xxh64_ref import minhash_signature

    texts = {
        1: "red fox jumps high today",
        2: "red fox jumps high today",
        3: "blue bird sings very sweetly",
        4: "one two",                       # < k words: no row
        5: "A B C d e",                     # case folding
    }
    df = spark.createDataFrame(list(texts.items()), "id bigint, text string")
    got = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures_df(df, "id", "text", num_hashes=4).collect()
    }
    want = {
        d: minhash_signature(t)
        for d, t in texts.items()
        if minhash_signature(t) is not None
    }
    assert got == want
    assert 4 not in got


def test_minhash_xxhash_fixture_literals_rederive():
    """Guard the frozen xxhash64-signature literals in
    `minhash_xxhash_fixture_exact` against typos: re-derive them with
    the reference implementation."""
    from hobbes_spark.queries import (
        _MINHASH_XXHASH_FIXTURE_DOCS,
        _MINHASH_XXHASH_FIXTURE_SIGS,
    )
    from tests.xxh64_ref import minhash_signature

    derived = {
        d: tuple(minhash_signature(t))
        for d, t in _MINHASH_XXHASH_FIXTURE_DOCS
        if minhash_signature(t) is not None
    }
    assert derived == _MINHASH_XXHASH_FIXTURE_SIGS


def test_plane_weight_matrix_matches_reference(spark):
    """The production ANN hyperplane matrix (xxhash64-parity signs)
    re-derived with the pure-Python reference XXH64: w[p][i] = +1 iff
    the chained hash of the two INT indices is odd. With this, every
    stage of the xxhash64 ANN path has an independent twin."""
    from hobbes_spark.functions.similarity import plane_weight_matrix
    from tests.xxh64_ref import hash_int

    M = (1 << 64) - 1
    W = plane_weight_matrix(spark, 4, 6)
    ref = [
        [1.0 if (hash_int(i, hash_int(p) & M) & 1) == 1 else -1.0
         for i in range(6)]
        for p in range(4)
    ]
    assert W == ref


class TestLeakageSafeSplit:
    """Cluster-level train/val/test assignment: the eval-hygiene split."""

    def test_same_cluster_same_split_and_rough_proportions(self, spark):
        from hobbes_spark.functions.sampling import leakage_safe_split

        # 2000 clusters x 2 member docs each
        df = spark.range(4000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("c"), (F.col("id") % 2000)).alias("cluster"),
        )
        out = leakage_safe_split(
            df, "cluster", {"train": 0.8, "val": 0.1, "test": 0.1}
        )
        per_cluster = (
            out.groupBy("cluster")
            .agg(F.countDistinct("split").alias("k"))
            .agg(F.max("k").alias("m"))
            .first()["m"]
        )
        assert per_cluster == 1  # no cluster straddles a split
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert set(counts) == {"train", "val", "test"}
        assert 0.7 < counts["train"] / 4000 < 0.9
        assert counts["val"] % 2 == 0 and counts["test"] % 2 == 0

    def test_null_clusters_travel_together(self, spark):
        from hobbes_spark.functions.sampling import leakage_safe_split

        df = spark.createDataFrame(
            [(1, None), (2, None), (3, "x")], "doc_id long, cluster string"
        )
        out = leakage_safe_split(df, "cluster", {"a": 0.5, "b": 0.5})
        nulls = {r["split"] for r in out.filter(F.col("cluster").isNull()).collect()}
        assert len(nulls) == 1  # hash_bucket's NULL sentinel: one split

    def test_weight_validation(self, spark):
        from hobbes_spark.functions.sampling import leakage_safe_split

        df = spark.range(1).select(F.col("id").cast("string").alias("c"))
        import pytest as _pt

        with _pt.raises(ValueError, match="sum to 1"):
            leakage_safe_split(df, "c", {"a": 0.5, "b": 0.4})
        with _pt.raises(ValueError, match="> 0"):
            leakage_safe_split(df, "c", {"a": 1.5, "b": -0.5})
        with _pt.raises(ValueError, match="non-empty"):
            leakage_safe_split(df, "c", {})

    def test_assignment_is_shuffle_free(self, spark):
        from hobbes_spark.functions.sampling import leakage_safe_split

        df = spark.range(10).select(F.col("id").cast("string").alias("c"))
        out = leakage_safe_split(df, "c", {"a": 0.5, "b": 0.5})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # map-only at any scale

    def test_thresholds_exact_rational_contract(self, spark):
        """ADVICE r8: boundaries are floor(Σ Fraction(w_i) · 2^32) in
        exact rational arithmetic, so they cannot drift with float
        accumulation order — many tiny weights summing to the same
        prefix as one coarse weight must produce IDENTICAL boundary
        assignments, and the literal thresholds are pinned here as the
        cross-engine replay contract."""
        from fractions import Fraction

        from hobbes_spark.functions.sampling import leakage_safe_split

        df = spark.range(2000).select(F.col("id").cast("string").alias("c"))
        fine = {f"s{i}": 0.1 for i in range(9)}
        fine["last"] = 1.0 - sum(fine.values())
        coarse = {"head": 0.9, "last": fine["last"]}
        f = {r["c"]: r["split"] for r in
             leakage_safe_split(df, "c", fine).collect()}
        co = {r["c"]: r["split"] for r in
              leakage_safe_split(df, "c", coarse).collect()}
        # the 0.9 boundary is shared: "last" membership must coincide
        assert {k for k, v in f.items() if v == "last"} == \
               {k for k, v in co.items() if v == "last"}
        # pinned literal: the documented formula's value for 0.8 / 0.9
        assert int(Fraction(0.8) * (1 << 32)) == 3435973836
        assert int((Fraction(0.8) + Fraction(0.1)) * (1 << 32)) == 3865470566


class TestCanonicalUrl:
    """URL canonicalization contract, literal-pinned on the variants
    the DuckDB oracle replay could get wrong in the same way."""

    def _canon(self, spark, urls):
        from hobbes_spark.functions.web import canonical_url

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return [r["c"] for r in df.select(canonical_url("url").alias("c")).collect()]

    def test_hand_literal_variants(self, spark):
        got = self._canon(spark, [
            "HTTP://User:Pw@Site.Example.COM:80/Page/3?utm_source=x&b=2&a=1#frag",
            "https://site.example.com:443",
            "https://site.example.com:8443/A/B?z=1&fbclid=abc&y=2",
            "http://site.example.com:8080/",
            "https://Site.example.com/CasePreserved/Path%2Fx",
            "not a url",
            "ftp://Files.Example.com/Pub",
            "https://site.example.com/?utm_campaign=only&gclid=1",
        ])
        assert got == [
            # userinfo gone, scheme/host lowered, default port stripped,
            # tracking dropped, params sorted, fragment gone
            "http://site.example.com/Page/3?a=1&b=2",
            "https://site.example.com/",        # empty path -> '/'
            "https://site.example.com:8443/A/B?y=2&z=1",  # real port kept
            "http://site.example.com:8080/",
            "https://site.example.com/CasePreserved/Path%2Fx",  # path bytes kept
            None,                                # non-URL -> NULL
            "ftp://files.example.com/Pub",       # non-http scheme: no port rules
            "https://site.example.com/",         # all params tracking -> none
        ]

    def test_host_and_blocklist(self, spark):
        from hobbes_spark.functions.web import filter_blocked_hosts, url_host

        df = spark.createDataFrame(
            [(1, "https://A.Bad.com/x"), (2, "https://bad.com:8080/"),
             (3, "https://notbad.com/"), (4, "https://good.org/"),
             (5, "garbage")],
            "id long, url string",
        )
        hosts = {r["id"]: r["h"] for r in
                 df.select("id", url_host("url").alias("h")).collect()}
        assert hosts == {1: "a.bad.com", 2: "bad.com", 3: "notbad.com",
                         4: "good.org", 5: None}
        kept = {r["id"] for r in
                filter_blocked_hosts(df, "url", ["Bad.com"]).collect()}
        assert kept == {3, 4}  # subdomain + port variants blocked, 5 dropped
        kept2 = {r["id"] for r in
                 filter_blocked_hosts(df, "url", ["bad.com"],
                                      keep_non_urls=True).collect()}
        assert kept2 == {3, 4, 5}
        import pytest as _pt

        with _pt.raises(ValueError, match="non-empty"):
            filter_blocked_hosts(df, "url", [])

    def test_canonicalization_is_shuffle_free(self, spark):
        from hobbes_spark.functions.web import canonical_url

        df = spark.range(5).select(
            F.concat(F.lit("https://h"), F.col("id"), F.lit(".com/p")).alias("url")
        )
        out = df.select(canonical_url("url").alias("c"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "BatchEvalPython" not in plan

    def test_blocklist_large_list_path(self, spark):
        """> 64 domains switches to the suffix-array + hashed-InSet
        membership (ADVICE r8: a ~20k-term boolean tree can fall out of
        codegen); semantics identical to the small-list path."""
        from hobbes_spark.functions.web import filter_blocked_hosts

        df = spark.createDataFrame(
            [(1, "https://A.Bad.com/x"), (2, "https://bad.com:8080/"),
             (3, "https://notbad.com/"), (4, "https://good.org/"),
             (5, "garbage")],
            "id long, url string",
        )
        big = [f"filler{i}.net" for i in range(100)] + ["Bad.com"]
        kept = {r["id"] for r in filter_blocked_hosts(df, "url", big).collect()}
        assert kept == {3, 4}
        kept2 = {r["id"] for r in
                 filter_blocked_hosts(df, "url", big, keep_non_urls=True)
                 .collect()}
        assert kept2 == {3, 4, 5}
        # no per-domain EndsWith chain: one exists() over a hashed set
        plan = (
            filter_blocked_hosts(df, "url", big)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "EndsWith" not in plan and "exists" in plan.lower()
        assert not [l for l in plan.splitlines() if "Exchange" in l]  # map-only

    def test_blocklist_dataframe_path(self, spark):
        """filter_blocked_hosts_df: blocklist as a TABLE (the 100k+
        regime) — identical semantics to the expression paths, hash
        equi-join on the exploded host suffixes (never a nested loop),
        original columns untouched."""
        from hobbes_spark.functions.web import (
            filter_blocked_hosts,
            filter_blocked_hosts_df,
        )

        df = spark.createDataFrame(
            [(1, "https://A.Bad.com/x"), (2, "https://bad.com:8080/"),
             (3, "https://notbad.com/"), (4, "https://good.org/"),
             (5, "garbage")],
            "id long, url string",
        )
        bl = spark.createDataFrame(
            [("Bad.com",), ("  other.net ",), ("",)], "domain string"
        )
        out = filter_blocked_hosts_df(df, "url", bl)
        assert {r["id"] for r in out.collect()} == {3, 4}
        assert out.columns == ["id", "url"]
        kept2 = filter_blocked_hosts_df(df, "url", bl, keep_non_urls=True)
        assert {r["id"] for r in kept2.collect()} == {3, 4, 5}
        # same answer as the expression path on the same list
        expr = filter_blocked_hosts(df, "url", ["Bad.com", "other.net"])
        assert {r["id"] for r in expr.collect()} == {3, 4}
        import pytest as _pt

        with _pt.raises(ValueError, match="no column"):
            filter_blocked_hosts_df(df, "url", bl.withColumnRenamed(
                "domain", "d"))
        # ADVICE r9: a pre-existing '__host' column must fail loudly,
        # not be silently overwritten then dropped
        with _pt.raises(ValueError, match="__host"):
            filter_blocked_hosts_df(
                df.withColumn("__host", F.lit("keepme")), "url", bl)
        # join strategy: hash join on the suffix, never NestedLoop
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan


class TestFimTransform:
    """Fill-in-the-middle transform: lossless reordering, deterministic
    gate/cuts, NULL passthrough, plan posture."""

    def test_reconstruction_and_determinism(self, spark):
        from hobbes_spark.functions.sampling import fim_transform

        rows = [(i, f"document body number {i} with some length") for i in range(40)]
        rows += [(100, ""), (101, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = fim_transform(df, "doc_id", "text", rate=0.5).collect()
        n_fim = 0
        for r in out:
            if r["text"] is None:
                assert not r["is_fim"] and r["fim_text"] is None
                continue
            if not r["is_fim"]:
                assert r["fim_text"] == r["text"]
                continue
            n_fim += 1
            t = r["fim_text"]
            assert t.startswith("<PRE>")
            pre, rest = t[5:].split("<SUF>", 1)
            suf, mid = rest.split("<MID>", 1)
            # PSM reassembles losslessly to the original document
            assert pre + mid + suf == r["text"]
        assert 0 < n_fim < 41  # the gate really splits the corpus
        # same inputs -> byte-identical outputs (retry/epoch safety)
        again = fim_transform(df, "doc_id", "text", rate=0.5).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    def test_rate_bounds_and_plan(self, spark):
        import pytest as _pt

        from hobbes_spark.functions.sampling import fim_transform

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pt.raises(ValueError, match="rate"):
            fim_transform(df, "doc_id", "text", rate=1.5)
        plan = (
            fim_transform(df, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "BatchEvalPython" not in plan

    def test_span_corrupt_reconstruction(self, spark):
        """Span corruption: input + target splice back to the original
        document — sentinel k in the input is replaced by the text
        between sentinel k and k+1 in the target."""
        import re

        import pytest as _pt

        from hobbes_spark.functions.sampling import span_corrupt

        rows = [(i, f"span corruption document {i} body with length") for i in range(25)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = span_corrupt(df, "doc_id", "text", n_spans=2).collect()
        n_nonempty = 0
        for r in out:
            tgt = r["corrupt_target"]
            spans = re.split(r"<extra_id_\d>", tgt)[1:-1]
            assert len(spans) == 2
            n_nonempty += sum(1 for s_ in spans if s_)
            rebuilt = r["corrupt_input"]
            for k, s_ in enumerate(spans):
                rebuilt = rebuilt.replace(f"<extra_id_{k}>", s_, 1)
            assert rebuilt == r["text"]
        assert n_nonempty > 0  # cuts genuinely carve spans somewhere
        # deterministic across runs
        again = span_corrupt(df, "doc_id", "text", n_spans=2).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))
        with _pt.raises(ValueError, match="n_spans"):
            span_corrupt(df, "doc_id", "text", n_spans=0)
        plan = (
            span_corrupt(df, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestHtmlToText:
    """HTML -> text extraction (round 10): tag-structure semantics,
    entity ordering, and the no-shuffle/no-UDF plan posture."""

    def _x(self, spark, html):
        from hobbes_spark.functions.web import html_to_text

        df = spark.createDataFrame([(html,)], "raw string")
        return df.select(html_to_text("raw").alias("t")).first()["t"]

    def test_structure_and_entities(self, spark):
        html = ('<html><head><script>if (1 < 2) { x("</div>"); }</script>'
                '<style>p{}</style></head><body><!-- c -->'
                '<h1>A&nbsp;B</h1><p>one</p><p>two &lt;i&gt; '
                '&amp;lt;raw &#8212; it&#39;s</p>ta<span>i</span>l'
                '</body></html>')
        # script's quoted "</div>" must NOT produce a break: only the
        # real </script> ends the subtree; &amp;lt; stays literal &lt;
        # abutting block tags (</h1><p>) leave a blank line — the
        # paragraph-break convention downstream chunkers expect
        assert self._x(spark, html) == (
            "A B\n\none\n\ntwo <i> &lt;raw it's\nta i l"
        )

    def test_null_and_plain_text_passthrough(self, spark):
        from pyspark.sql import functions as F

        from hobbes_spark.functions.web import html_to_text

        df = spark.createDataFrame([(None,), ("no markup here",)],
                                   "raw string")
        got = [r["t"] for r in
               df.select(html_to_text("raw").alias("t")).collect()]
        assert got == [None, "no markup here"]
        plan = (
            df.select(html_to_text("raw").alias("t"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "BatchEvalPython" not in plan
        assert isinstance(F.lit(1), object)  # keep F import used

    def test_idempotent_on_own_output(self, spark):
        html = "<p>one &amp; two</p><div>three</div>"
        once = self._x(spark, html)
        # extracted text contains no tags; a second pass only re-runs
        # entity/whitespace rules, so text without '&'-escapes is fixed
        assert self._x(spark, once.replace("&", "and")) == \
            once.replace("&", "and")


class TestDecompressText:
    """Compressed-text ingestion (round 10): codec sniffing, bomb cap,
    truncation refusal, utf-8 replace decoding."""

    def test_all_codecs_and_refusals(self, spark):
        import bz2
        import gzip
        import lzma
        import zlib

        from hobbes_spark.functions.multimodal import decompress_text

        rows = [
            (1, bytearray(gzip.compress("gz tëxt".encode(), mtime=0))),
            (2, bytearray(zlib.compress(b"zlib text"))),
            (3, bytearray(bz2.compress(b"bz2 text"))),
            (4, bytearray(lzma.compress(b"xz text"))),
            (5, bytearray(b"plain, not compressed")),
            (6, bytearray(gzip.compress(b"cut", mtime=0))[:-3]),
            (7, None),
        ]
        media = spark.createDataFrame(rows, "media_id long, content binary")
        got = {r["media_id"]: r for r in decompress_text(media).collect()}
        assert set(got) == {1, 2, 3, 4}
        assert (got[1]["codec"], got[1]["text"]) == ("gzip", "gz tëxt")
        assert (got[2]["codec"], got[3]["codec"], got[4]["codec"]) == (
            "zlib", "bzip2", "xz")
        assert got[2]["n_bytes_raw"] == 9

    def test_bomb_cap_refuses(self):
        import zlib

        from hobbes_spark.functions.multimodal import sniff_decompress

        bomb = zlib.compress(b"\x00" * (1 << 20))  # 1 MiB of zeros
        assert sniff_decompress(bomb)[0] == "zlib"
        assert sniff_decompress(bomb, cap=1 << 10) is None  # over cap

    def test_invalid_bytes_replace_not_raise(self):
        import gzip

        from hobbes_spark.functions.multimodal import sniff_decompress

        blob = gzip.compress(b"\xff\xfe invalid utf8", mtime=0)
        codec, data = sniff_decompress(blob)
        assert codec == "gzip"
        # the DataFrame op decodes with errors='replace'
        assert "�" in data.decode("utf-8", errors="replace")

    def test_multi_member_streams(self):
        """r10 advisor note: gzip/bzip2/xz are multi-member formats —
        a WARC/WET shard is many independently-compressed members back
        to back, and stopping at the first member's eof silently
        truncates the shard to its first record."""
        import bz2
        import gzip
        import lzma

        from hobbes_spark.functions.multimodal import sniff_decompress

        b = gzip.compress(b"record one ", mtime=0) + gzip.compress(
            b"record two", mtime=0)
        assert sniff_decompress(b) == ("gzip", b"record one record two")
        assert sniff_decompress(
            bz2.compress(b"a ") + bz2.compress(b"b")) == ("bzip2", b"a b")
        assert sniff_decompress(
            lzma.compress(b"a ") + lzma.compress(b"b")) == ("xz", b"a b")
        # the cap is CUMULATIVE across members (a per-member cap would
        # re-open the bomb door member by member)
        member = gzip.compress(b"\x00" * 600, mtime=0)
        assert sniff_decompress(member * 3, cap=1000) is None
        # a truncated trailing member refuses the whole payload
        whole = gzip.compress(b"one", mtime=0) + gzip.compress(b"two", mtime=0)
        assert sniff_decompress(whole[:-4]) is None

    def test_zlib_trailing_garbage_refused(self):
        """zlib has no member concept: bytes after the checksum are
        corruption, not a second stream — refuse, don't drop."""
        import zlib

        from hobbes_spark.functions.multimodal import sniff_decompress

        ok = zlib.compress(b"payload")
        assert sniff_decompress(ok) == ("zlib", b"payload")
        assert sniff_decompress(ok + b"garbage") is None


def _zstd_store_frame(data: bytes, checksum=False, single=True,
                      rle=None) -> bytes:
    """Hand-build a store-mode zstd frame (RFC 8878): raw blocks (or
    one RLE block), single-segment or windowed, optional (zeroed)
    checksum trailer."""
    out = bytearray(b"\x28\xb5\x2f\xfd")
    n = len(data) if rle is None else rle[1]
    if single and n <= 255:
        fhd, fcs = 0x20, bytes([n])
    else:
        fhd, fcs = (1 << 6) | (0x20 if single else 0), (
            (n - 256).to_bytes(2, "little"))
    if checksum:
        fhd |= 0x04
    out.append(fhd)
    if not single:
        out.append(0x00)  # window descriptor
    out += fcs
    if rle is not None:
        out += ((n << 3) | (1 << 1) | 1).to_bytes(3, "little") + bytes([rle[0]])
    else:
        half = len(data) // 2
        out += ((half << 3) | 0).to_bytes(3, "little") + data[:half]
        rest = len(data) - half
        out += ((rest << 3) | 1).to_bytes(3, "little") + data[half:]
    if checksum:
        out += b"\x00\x00\x00\x00"
    return bytes(out)


class TestZstd:
    """zstd sniff-and-decompress (round 11, verdict item 2): the
    system libzstd via ctypes when loadable (full codec), the pure
    RFC 8878 frame walk (raw/RLE/skippable) when not.  Both paths are
    tested directly; frames are hand-built per the RFC and, where the
    environment ships the CLI, cross-validated against it."""

    def test_pure_store_frames(self):
        from hobbes_spark.functions.multimodal import _zstd_frames_pure

        cap = 1 << 20
        f = _zstd_store_frame(b"hello zstd store mode, longer than half")
        assert _zstd_frames_pure(f, cap) == b"hello zstd store mode, longer than half"
        # multi-frame concat + skippable frame between
        skip = b"\x5a\x2a\x4d\x18" + (3).to_bytes(4, "little") + b"pad"
        f2 = _zstd_store_frame(b"one ") + skip + _zstd_store_frame(b"two")
        assert _zstd_frames_pure(f2, cap) == b"one two"
        # RLE block
        assert _zstd_frames_pure(
            _zstd_store_frame(b"", rle=(0x41, 10)), cap) == b"A" * 10
        # non-single-segment (window descriptor present)
        big = bytes(range(256)) * 2
        assert _zstd_frames_pure(
            _zstd_store_frame(big, single=False), cap) == big

    def test_pure_refusals(self):
        from hobbes_spark.functions.multimodal import _zstd_frames_pure

        cap = 1 << 20
        f = _zstd_store_frame(b"hello truncated frame body")
        assert _zstd_frames_pure(f[:-3], cap) is None
        # declared frame-content-size disagrees with block sum
        bad = bytearray(f)
        bad[5] ^= 0x01
        assert _zstd_frames_pure(bytes(bad), cap) is None
        # reserved header bit set
        bad = bytearray(f)
        bad[4] |= 0x08
        assert _zstd_frames_pure(bytes(bad), cap) is None
        # checksum trailer declared but missing
        fc = _zstd_store_frame(b"x", checksum=True)
        assert _zstd_frames_pure(fc[:-4], cap) is None
        # RLE bomb past the cap (tiny input, huge declared output)
        assert _zstd_frames_pure(
            _zstd_store_frame(b"", rle=(0x42, 200)), 100) is None
        # entropy-coded block type refuses (no FSE/Huffman in pure)
        c = (b"\x28\xb5\x2f\xfd" + bytes([0x20, 4])
             + ((4 << 3) | (2 << 1) | 1).to_bytes(3, "little") + b"XXXX")
        assert _zstd_frames_pure(c, cap) is None

    def test_lib_path_against_cli(self):
        """When the environment ships libzstd + the CLI (this one
        does), the ctypes path must decode real entropy-coded frames,
        verify the xxh64 checksum, and agree with the pure path on
        store-mode frames."""
        import shutil
        import subprocess

        import pytest

        from hobbes_spark.functions.multimodal import (
            _load_zstd,
            _zstd_frames_pure,
            _zstd_lib_decompress,
            sniff_decompress,
        )

        lib = _load_zstd()
        if lib is None or shutil.which("zstd") is None:
            pytest.skip("no system libzstd/CLI")
        data = b"the quick brown fox jumps over the lazy dog " * 100
        blob = subprocess.run(["zstd", "-3", "-c"], input=data,
                              capture_output=True).stdout
        assert sniff_decompress(blob) == ("zstd", data)
        assert sniff_decompress(blob[:-4]) is None  # truncated
        bad = bytearray(blob)
        bad[-2] ^= 0xFF  # corrupt the xxh64 trailer
        assert sniff_decompress(bytes(bad)) is None
        assert sniff_decompress(blob, cap=100) is None  # bomb cap
        # both engines agree on a store frame
        f = _zstd_store_frame(b"store mode agreement")
        assert (_zstd_lib_decompress(lib, f, 1 << 20)
                == _zstd_frames_pure(f, 1 << 20)
                == b"store mode agreement")
        # the hand-built frame is real zstd: the CLI round-trips it
        out = subprocess.run(["zstd", "-d", "-c"], input=f,
                             capture_output=True).stdout
        assert out == b"store mode agreement"


class TestHtmlMeta:
    """HTML head-metadata extraction (round 11): one literal pin per
    rule class; the at-scale cross-engine agreement is the
    html_meta_docs oracle twin."""

    def _extract(self, spark, raw):
        from hobbes_spark.functions.web import html_meta

        df = spark.createDataFrame([(raw,)], "raw string")
        cols = html_meta("raw")
        return df.select(*[v.alias(k) for k, v in cols.items()]).first().asDict()

    def test_all_fields_both_attribute_orders(self, spark):
        got = self._extract(spark, (
            '<html lang="en-GB"><head><title> My  Page </title>'
            '<meta name="description" content="A test page">'
            '<meta content="OG Rev" property="og:title">'
            '<meta property="og:image" content="https://i.example/x.png">'
            '<link href="https://example.com/p" rel="canonical">'
            '</head><body>x</body></html>'))
        assert got == {
            "title": "My  Page", "meta_description": "A test page",
            "og_title": "OG Rev", "og_image": "https://i.example/x.png",
            "canonical": "https://example.com/p", "lang": "en-GB"}

    def test_case_insensitive_and_single_quotes(self, spark):
        got = self._extract(spark, (
            "<HTML LANG='fr'><HEAD><TITLE>Majuscules</TITLE>"
            "<META CONTENT='Desc' NAME='description'></HEAD></HTML>"))
        assert got["title"] == "Majuscules"
        assert got["meta_description"] == "Desc"
        assert got["lang"] == "fr"
        assert got["og_title"] is None

    def test_absent_and_empty_read_null(self, spark):
        got = self._extract(spark, "<html><body>no head</body></html>")
        assert all(v is None for v in got.values())
        got = self._extract(
            spark, '<html lang=""><head><title></title></head></html>')
        assert got["title"] is None and got["lang"] is None

    def test_group_count_uses_compiled_groups(self, spark, monkeypatch):
        """The group-2 coalesce must key off the COMPILED capture-group
        count, not a '('-census (r11 advisor): a rule with an escaped
        \\( and a '(' inside a character class still counts 2 groups
        and coalesces correctly."""
        import re

        from hobbes_spark.functions import web

        tricky = (r"""(?is)<meta\s[^>]*name\s*=\s*["']x\(y["'][^>]*"""
                  r"""content\s*=\s*["']([^"'()]*)["']|"""
                  r"""(?is)<meta\s[^>]*content\s*=\s*["']([^"'()]*)["']"""
                  r"""[^>]*name\s*=\s*["']x\(y["']""")
        assert re.compile(re.sub(r"\(\?[aiLmsux]+\)", "", tricky)).groups == 2
        monkeypatch.setattr(web, "HTML_META_RULES", (("xy", tricky),))
        df = spark.createDataFrame(
            [('<meta content="rev" name="x(y">',)], "raw string")
        got = df.select(
            web.html_meta("raw")["xy"].alias("xy")).first()["xy"]
        assert got == "rev"  # group-2 branch (reversed attribute order)


class TestOutlinks:
    def test_anchor_extraction(self, spark):
        from hobbes_spark.functions.web import outlinks

        html = ('<a href="https://a.example.com/x">1</a>'
                "<a class='c' href='http://b.co.uk/y?q=1'>2</a>"
                '<a href="/rel">3</a><a href="#frag">no</a>'
                '<link rel="stylesheet" href="https://cdn.example.net/a.css">'
                '<script src="https://cdn.example.net/a.js"></script>'
                '<A HREF="HTTPS://UPPER.COM/Z">4</A>')
        df = spark.createDataFrame([(html,)], "raw string")
        got = df.select(outlinks("raw").alias("l")).first()["l"]
        # fragment-only excluded; <link>/<script> are not outlinks
        assert got == ["https://a.example.com/x", "http://b.co.uk/y?q=1",
                       "/rel", "HTTPS://UPPER.COM/Z"]


class TestRobots:
    _ROBOTS = ("User-agent: indexbot\nDisallow: /\n\n"
               "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"
               "Disallow: /*.pdf$\nDisallow: /tmp\nDisallow:\n")

    def test_parse_group_selection(self):
        from hobbes_spark.functions.web import parse_robots

        star = parse_robots(self._ROBOTS)
        assert (False, "/private/") in star and (True, "/private/ok/") in star
        assert len(star) == 4  # the empty Disallow: is dropped
        # the longest matching UA token's group wins
        assert parse_robots(self._ROBOTS, "IndexBot/2.0") == [(False, "/")]
        # garbage never raises
        assert parse_robots("<<<not robots>>>") == []
        assert parse_robots("") == []

    def test_rfc_decision_classes(self, spark):
        from hobbes_spark.functions.web import parse_robots, robots_allowed

        rules = parse_robots(self._ROBOTS, agent="corpusbot")
        cases = {
            "https://e.com/public/p": True,    # no match -> allowed
            "https://e.com/private/x": False,  # prefix Disallow
            "https://e.com/private/ok/y": True,  # longer Allow wins
            "https://e.com/docs/f.pdf": False,   # '*...$' wildcard
            "https://e.com/docs/f.pdf?v=1": True,  # '$' anchor broken
            "https://e.com/tmpfile": False,    # bare prefix
            "https://e.com": True,             # empty path reads '/'
            "no scheme here": None,            # non-URL -> NULL
        }
        df = spark.createDataFrame([(u,) for u in cases], "url string")
        got = dict(
            df.select("url", robots_allowed("url", rules).alias("a")).collect()
        )
        assert got == cases

    def test_allow_wins_length_ties(self, spark):
        from hobbes_spark.functions.web import robots_allowed

        df = spark.createDataFrame([("https://e.com/p/x",)], "url string")
        rules = [(False, "/p/"), (True, "/p/")]
        assert df.select(
            robots_allowed("url", rules).alias("a")).first()["a"] is True

    def test_column_matches_python_twin(self, spark):
        """The Column CASE and the executor-side pure-Python matcher
        must agree on every (rules, path) pair — they are two engines
        of one spec, the PSL-replay discipline."""
        from hobbes_spark.functions.web import robots_allowed, robots_match

        rules = [(False, "/a"), (True, "/a/b"), (False, "/a/b/c"),
                 (False, "/*x$"), (True, "/p"), (False, "/p/q*r")]
        paths = ["/", "/a", "/a/", "/a/b", "/a/b/", "/a/b/c", "/a/b/cd",
                 "/zx", "/z/yx", "/xx?x", "/p", "/p/qzzr", "/p/q-r/s",
                 "/other", "/a/bx"]
        urls = [f"https://h.example{p}" for p in paths]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = [r["ok"] for r in
               df.select(robots_allowed("url", rules).alias("ok")).collect()]
        want = [robots_match(rules, p.split("#")[0]) for p in paths]
        assert got == want, list(zip(paths, got, want))

    def test_per_host_dataframe_variant(self, spark):
        from hobbes_spark.functions.web import robots_filter_df

        urls = spark.createDataFrame(
            [(1, "https://h0.example/private/x"),
             (2, "https://h0.example/ok"),
             (3, "https://h1.example/anything"),
             (4, "https://h1.example/ok/page"),
             (5, "https://norobots.example/a"),
             (6, "not a url"),
             (7, None)],
            "id long, url string")
        robots = spark.createDataFrame(
            [("h0.example", "User-agent: *\nDisallow: /private/\n"),
             ("h1.example", "User-agent: *\nDisallow: /\nAllow: /ok/\n")],
            "host string, robots_txt string")
        got = {r["id"]: r["allowed"]
               for r in robots_filter_df(urls, robots).collect()}
        assert got == {1: False, 2: True, 3: False, 4: True,
                       5: True, 6: None, 7: None}
        # '?' before any '/': both surfaces must read the path as
        # starting at the query (not chop at the first '/' INSIDE the
        # query — the old Python twin's rest.find('/') gave '/b' for
        # url 2, verdict False, diverging from the Column twin's True)
        from hobbes_spark.functions.web import parse_robots, robots_allowed

        qurls = spark.createDataFrame(
            [(1, "https://h1.example?a=/ok/x"),
             (2, "https://h1.example?a=/b"),
             (3, "https://h0.example?x=/private/p")],
            "id long, url string")
        qgot = {r["id"]: r["allowed"]
                for r in robots_filter_df(qurls, robots).collect()}
        h1 = parse_robots("User-agent: *\nDisallow: /\nAllow: /ok/\n")
        h0 = parse_robots("User-agent: *\nDisallow: /private/\n")
        col = {
            1: qurls.filter("id=1").select(
                robots_allowed("url", h1).alias("a")).first()["a"],
            2: qurls.filter("id=2").select(
                robots_allowed("url", h1).alias("a")).first()["a"],
            3: qurls.filter("id=3").select(
                robots_allowed("url", h0).alias("a")).first()["a"],
        }
        # '?a=…' paths match no '/'-anchored rule -> default allowed,
        # and the two surfaces AGREE on every row
        assert qgot == col == {1: True, 2: True, 3: True}
        # never silently destroy caller columns (r10 blocklist lesson)
        import pytest

        with pytest.raises(ValueError):
            robots_filter_df(urls.withColumn("__rf_host", urls.url), robots)

    def test_meta_robots_and_nofollow_outlinks(self, spark):
        from hobbes_spark.functions.web import (
            meta_robots,
            outlinks,
            outlinks_follow,
        )

        html = ('<html><head><meta name="robots" content="NOINDEX, nofollow">'
                "</head><body>"
                '<a href="https://a.example/1">k</a>'
                '<a rel="nofollow" href="https://b.example/2">n</a>'
                '<a rel="ugc nofollow sponsored" href="https://c.example/3">n</a>'
                '<a rel="author" href="https://d.example/4">k</a>'
                '<a href="#frag">skip</a></body></html>')
        plain = "<html><body><a href='https://e.example/5'>x</a></body></html>"
        none_page = ('<head><meta content="none" name="robots"></head>'
                     '<a href="https://f.example/6">x</a>')
        df = spark.createDataFrame(
            [(1, html), (2, plain), (3, none_page)], "id long, raw string")
        mr = meta_robots("raw")
        got = {r["id"]: r.asDict() for r in df.select(
            "id", mr["noindex"].alias("ni"), mr["nofollow"].alias("nf"),
            outlinks("raw").alias("all"),
            outlinks_follow("raw").alias("follow")).collect()}
        assert (got[1]["ni"], got[1]["nf"]) == (True, True)  # case-folded
        assert got[1]["all"] == ["https://a.example/1", "https://b.example/2",
                                 "https://c.example/3", "https://d.example/4"]
        assert got[1]["follow"] == ["https://a.example/1",
                                    "https://d.example/4"]
        assert (got[2]["ni"], got[2]["nf"]) == (False, False)  # absent = open
        assert got[2]["follow"] == ["https://e.example/5"]
        # 'none' = noindex,nofollow; reversed attribute order
        assert (got[3]["ni"], got[3]["nf"]) == (True, True)

    def test_crawl_delay_group_selection(self):
        from hobbes_spark.functions.web import robots_crawl_delay

        txt = ("User-agent: corpusbot\nCrawl-delay: 3.5\nDisallow: /x\n\n"
               "User-agent: *\nCrawl-delay: 1\n")
        assert robots_crawl_delay(txt, "corpusbot/2.0") == 3.5
        assert robots_crawl_delay(txt, "otherbot") == 1.0
        # specific group WITHOUT a delay falls back to '*'
        txt2 = ("User-agent: corpusbot\nDisallow: /x\n\n"
                "User-agent: *\nCrawl-delay: 2\n")
        assert robots_crawl_delay(txt2, "corpusbot") == 2.0
        assert robots_crawl_delay("User-agent: *\nDisallow: /\n") is None
        assert robots_crawl_delay("", "bot") is None
        assert robots_crawl_delay(
            "User-agent: *\nCrawl-delay: nonsense\n") is None
        assert robots_crawl_delay(
            "User-agent: *\nCrawl-delay: -5\n") is None

    def test_schedule_frontier_spacing(self, spark):
        from hobbes_spark.functions.web import schedule_frontier

        urls = spark.createDataFrame(
            [(i, f"https://h{i % 2}.example/p{i}") for i in range(6)],
            "id long, url string")
        delays = spark.createDataFrame(
            [("h0.example", 2.0)], "host string, crawl_delay double")
        got = schedule_frontier(urls, delays).collect()
        by_host = {}
        for r in got:
            host = r["url"].split("/")[2]
            by_host.setdefault(host, []).append(
                (r["fetch_offset_s"], r["host_delay_s"]))
        for host, rows in by_host.items():
            rows.sort()
            d = 2.0 if host == "h0.example" else 1.0  # default fills h1
            assert [o for o, _ in rows] == [k * d for k in range(len(rows))]
            assert all(hd == d for _, hd in rows)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            schedule_frontier(urls.withColumn("__sf_host", urls.url), delays)
        # r13 (ADVICE r12): OUTPUT columns are reserved too — never
        # silently overwrite a caller's host_delay_s / out_col
        with _pytest.raises(ValueError):
            schedule_frontier(
                urls.withColumn("host_delay_s", F.lit(0.0)), delays)
        with _pytest.raises(ValueError):
            schedule_frontier(
                urls.withColumn("fetch_offset_s", F.lit(0.0)), delays)

    def test_robots_sitemaps_discovery(self, spark):
        from hobbes_spark.functions.web import robots_sitemaps

        txt = ("User-agent: *\nDisallow: /x\n"
               "Sitemap: https://a.example/s.xml\n"
               "  sitemap:https://a.example/t.xml  \n"
               "# Sitemap: https://comment.example/no.xml\n"
               "notasitemap: https://a.example/u.xml\n")
        df = spark.createDataFrame([(1, txt), (2, None), (3, "no lines")],
                                   "id long, t string")
        got = {r["id"]: r["s"] for r in
               df.select("id", robots_sitemaps("t").alias("s")).collect()}
        assert got[1] == ["https://a.example/s.xml",
                          "https://a.example/t.xml"]
        assert got[2] == [] and got[3] == []

    def test_group_token_matching_is_one_directional(self):
        """RFC 9309 product-token matching: the GROUP token must be a
        substring of the agent — a group declared for a LONGER token
        ('corpusbot-news') must not capture agent 'corpusbot'."""
        from hobbes_spark.functions.web import parse_robots

        txt = ("User-agent: corpusbot-news\nDisallow: /\n\n"
               "User-agent: *\nDisallow: /tmp/\n")
        # the specific group does NOT apply to the shorter agent
        assert parse_robots(txt, "corpusbot") == [(False, "/tmp/")]
        # but DOES apply to agents carrying the full token
        assert parse_robots(txt, "corpusbot-news/2.1") == [(False, "/")]
        assert parse_robots(txt, "CorpusBot-News") == [(False, "/")]


class TestRegistrableDomain:
    """eTLD+1 extraction over the embedded PSL subset: one literal pin
    per rule class, matching the PSL spec's own examples."""

    def _dom(self, spark, hosts):
        from hobbes_spark.functions.web import registrable_domain

        df = spark.createDataFrame([(h,) for h in hosts], "host string")
        return [r["d"] for r in
                df.select(registrable_domain("host").alias("d")).collect()]

    def test_rule_classes_hand_literal(self, spark):
        cases = {
            "www.example.com": "example.com",       # 1-label exact rule
            "news.bbc.co.uk": "bbc.co.uk",          # 2-label exact rule
            "a.co.uk": "a.co.uk",                   # suffix + exactly 1
            "co.uk": None,                          # bare public suffix
            "com": None,                            # bare TLD
            "deep.sub.k12.ak.us": "sub.k12.ak.us",  # longest match wins
            "host.ak.us": "host.ak.us",             # ...but ak.us alone
            "foo.www.ck": "www.ck",                 # exception rule
            "www.ck": "www.ck",                     # exception IS registrable
            "bar.baz.ck": "bar.baz.ck",             # wildcard *.ck
            "baz.ck": None,                         # wildcard: ps itself
            "x.host.unknowntld": "host.unknowntld", # implicit '*' default
            "unknowntld": None,                     # unknown bare TLD
            "EXAMPLE.Com": "example.com",           # case folded
        }
        assert self._dom(spark, list(cases)) == list(cases.values())

    def test_non_hosts_are_null(self, spark):
        bad = ["", "  ", "1.2.3.4", "bad..dots", ".lead", "trail.",
               "no spaces.com", "[::1]"]
        assert self._dom(spark, bad) == [None] * len(bad)
        from hobbes_spark.functions.web import registrable_domain

        nulls = spark.createDataFrame([(None,)], "host string")
        assert nulls.select(
            registrable_domain("host").alias("d")
        ).first()["d"] is None

    def test_idempotent_and_shuffle_free(self, spark):
        from hobbes_spark.functions.web import registrable_domain

        hosts = ["www.example.com", "news.bbc.co.uk", "deep.sub.k12.ak.us",
                 "foo.www.ck", "bar.baz.ck", "x.host.unknowntld"]
        once = self._dom(spark, hosts)
        assert all(o is not None for o in once)
        assert self._dom(spark, once) == once  # output is a fixed point
        df = spark.createDataFrame([(h,) for h in hosts], "host string")
        plan = (
            df.select(registrable_domain("host").alias("d"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "BatchEvalPython" not in plan

    def test_expanded_snapshot_rules(self, spark):
        """Round-10 generated snapshot: rules the r9 hand-embedded
        subset lacked now assign correctly instead of falling to the
        implicit '*' (com.pl would have over-merged every .com.pl
        site), and the retired *.kw wildcard gives way to exact
        second-level rules."""
        cases = {
            "www.sklep.com.pl": "sklep.com.pl",   # com.pl rule (new)
            "a.shop.pl": "shop.pl",               # pl flat, unchanged
            "www.city.nagoya.jp": "nagoya.jp",    # jp flat in this snapshot
            "x.gouv.fr": "x.gouv.fr",             # gouv.fr rule (new)
            "foo.com.kw": "foo.com.kw",           # exact com.kw (was *.kw)
            "bar.kw": "bar.kw",                   # plain label under kw
            "sub.act.au": "sub.act.au",           # AU state registry (new)
            "www.parliament.nz": "www.parliament.nz",  # long 2-label rule
        }
        assert self._dom(spark, list(cases)) == list(cases.values())

    def test_df_variant_matches_column_twin_on_every_shape(self, spark):
        """The broadcast-join variant (registrable_domain_df, r12) and
        the Column CASE are two engines of one spec — equal on every
        rule class, every refusal shape, and NULL (the robots twin
        discipline)."""
        from hobbes_spark.functions.web import (
            registrable_domain,
            registrable_domain_df,
        )

        hosts = [
            "www.example.com", "news.bbc.co.uk", "a.co.uk", "co.uk",
            "com", "deep.sub.k12.ak.us", "host.ak.us", "foo.www.ck",
            "www.ck", "bar.baz.ck", "baz.ck", "x.host.unknowntld",
            "unknowntld", "EXAMPLE.Com", "www.sklep.com.pl", "a.shop.pl",
            "x.gouv.fr", "foo.com.kw", "sub.act.au", "www.parliament.nz",
            "", "  ", "1.2.3.4", "bad..dots", ".lead", "trail.",
            "no spaces.com", "[::1]", None,
        ]
        df = spark.createDataFrame(
            [(i, h) for i, h in enumerate(hosts)], "id long, host string")
        via_col = {r["id"]: r["d"] for r in df.select(
            "id", registrable_domain("host").alias("d")).collect()}
        via_join = {r["id"]: r["d"] for r in registrable_domain_df(
            df, "host", out_col="d").select("id", "d").collect()}
        assert via_col == via_join
        # temp-column hygiene: caller columns survive, __rd_* do not
        out = registrable_domain_df(df, "host")
        assert set(out.columns) == {"id", "host", "domain"}
        import pytest as _pytest

        with _pytest.raises(ValueError):
            registrable_domain_df(
                df.withColumn("__rd_parts", df.host), "host")

    def test_df_variant_plan_is_broadcast_joins_no_shuffle(self, spark):
        """r13 optimization: every probe level joins ONE shared suffix
        relation that is a parsed VALUES LocalRelation — the broadcast
        builds driver-direct (no Python->RDD collect job, the r12 shape
        that cost ~1.4 s fixed per execution at any input size)."""
        from hobbes_spark.functions.web import registrable_domain_df

        df = spark.createDataFrame(
            [("www.example.com",)], "host string")
        qe = registrable_domain_df(df, "host")._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # no shuffle Exchange: broadcast exchanges are fine
        import re as _re

        assert not _re.search(r"Exchange (hash|range)partitioning", plan)
        assert "BatchEvalPython" not in plan
        # the suffix table is a LocalRelation, not a pickled Python RDD
        opt = qe.optimizedPlan().toString()
        assert "LocalRelation" in opt
        assert opt.count("applySchemaToPythonRDD") <= 1  # only the input df

    def test_suffix_relation_cache_rebuilds_for_other_session(
            self, spark, monkeypatch):
        """The cache slot holds one (applicationId, relation) tuple: a
        slot left by another session is rebuilt, never returned, and
        the rebuilt entry is then served as a hit."""
        from hobbes_spark.functions import web

        stale = object()
        monkeypatch.setattr(web, "_RD_REL_CACHE", [("other-app", stale)])
        rel = web._psl_suffix_rel(spark)
        assert rel is not stale
        assert set(rel.columns) == {"__rd_sfx", "__rd_e", "__rd_w", "__rd_x"}
        key, cached = web._RD_REL_CACHE[0]
        assert key == spark.sparkContext.applicationId and cached is rel
        assert web._psl_suffix_rel(spark) is rel

    def test_generator_parses_upstream_syntax(self):
        """tools/gen_psl.py must digest the REAL upstream file's syntax
        unchanged: unicode rules punycode to A-labels, exceptions and
        wildcards classify, comments/sections/inline-whitespace skip —
        so swapping in the full publicsuffix.org download needs no code
        change."""
        import importlib.util
        import os as _os

        spec = importlib.util.spec_from_file_location(
            "gen_psl",
            _os.path.join(_os.path.dirname(_os.path.dirname(
                _os.path.abspath(__file__))), "tools", "gen_psl.py"),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        text = "\n".join([
            "// ===BEGIN ICANN DOMAINS===",
            "com", "co.uk  // trailing comment text",
            "中国",           # -> xn--fiqs8s (IDNA)
            "!city.kobe.jp", "*.kobe.jp",
            "", "// comment", "// ===END ICANN DOMAINS===",
        ])
        exact, wild, exc = mod.parse(text)
        assert exact[1] == ("com", "xn--fiqs8s")
        assert exact[2] == ("co.uk",)
        assert wild == ("kobe.jp",) and exc == ("city.kobe.jp",)

    def test_generated_module_not_stale(self):
        """tools/gen_psl.py --check: the generated psl_snapshot module
        must match a fresh compile of the vendored .dat snapshot."""
        import subprocess
        import sys as _sys

        r = subprocess.run(
            [_sys.executable, "tools/gen_psl.py", "--check"],
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert r.returncode == 0, r.stdout + r.stderr


def test_lsh_stats_fixture_literals_rederive():
    """Guard the `lsh_stats_fixture_exact` literals: re-derive
    signatures with the XXH64 reference, band them, and recompute the
    per-band bucket statistics."""
    from collections import Counter

    from tests.xxh64_ref import minhash_signature

    docs = {
        1: "red fox jumps high today", 2: "red fox jumps high today",
        3: "red fox jumps high today", 4: "blue bird sings very sweetly",
        5: "blue bird sings very loudly", 6: "one two",
        7: "fox jumps high up",
    }
    sigs = {d: minhash_signature(t, 4, 3) for d, t in docs.items()}
    sigs = {d: s for d, s in sigs.items() if s is not None}
    stats = {}
    for b in range(2):
        ks = list(Counter(tuple(s[2 * b : 2 * b + 2]) for s in sigs.values()).values())
        stats[b] = (len(ks), max(ks), sum(k * (k - 1) // 2 for k in ks))
    assert stats == {0: (3, 4, 6), 1: (4, 3, 3)}
    # the one-band collider: doc 7 shares docs 1-3's band-0 key only
    assert sigs[7][:2] == sigs[1][:2] and sigs[7][2:] != sigs[1][2:]


class TestCohensKappa:
    def test_hand_computed_fixture(self, spark):
        """n=6, agree=4, na=nb=(3,2,1) -> pe_num=14, kappa=10/22."""
        from hobbes_spark.functions.profile import cohens_kappa

        df = spark.createDataFrame(
            [("x", "x"), ("x", "x"), ("x", "y"), ("y", "y"), ("y", "x"),
             ("z", "z")],
            "a string, b string",
        )
        r = cohens_kappa(df, "a", "b").first()
        assert (r["n"], r["agree"], r["kappa_num"], r["kappa_den"]) == (6, 4, 10, 22)
        assert r["kappa"] == pytest.approx(10 / 22)

    def test_perfect_and_chance_and_degenerate(self, spark):
        from hobbes_spark.functions.profile import cohens_kappa

        perfect = spark.createDataFrame(
            [("x", "x"), ("y", "y")], "a string, b string"
        )
        assert cohens_kappa(perfect, "a", "b").first()["kappa"] == pytest.approx(1.0)
        # both constant and equal: pe = 1, kappa undefined -> NULL
        const = spark.createDataFrame([("x", "x")] * 3, "a string, b string")
        r = cohens_kappa(const, "a", "b").first()
        assert r["kappa"] is None and r["kappa_den"] == 0
        # NULLs are a class: two NULLs agree
        withnull = spark.createDataFrame(
            [(None, None), ("x", "x"), ("x", None), (None, "x")],
            "a string, b string",
        )
        r2 = cohens_kappa(withnull, "a", "b").first()
        assert (r2["n"], r2["agree"]) == (4, 2)

    def test_num_den_are_decimal38(self, spark):
        """ADVICE r8: N² overflows int64 past ~3.04e9 rows, so the
        num/den pipeline must run in DECIMAL(38,0) end to end — the
        schema is the contract (exact to N = 1e19; ANSI mode would
        otherwise kill the job at 100 TB corpus scale)."""
        from hobbes_spark.functions.profile import cohens_kappa

        df = spark.createDataFrame([("x", "x")], "a string, b string")
        dt = dict(cohens_kappa(df, "a", "b").dtypes)
        assert dt["kappa_num"] == "decimal(38,0)"
        assert dt["kappa_den"] == "decimal(38,0)"


def _jpeg_prog(w, h, components, scans, quant=None, dri=0):
    """Hand-assemble a PROGRESSIVE (SOF2) JFIF stream. Same paper-
    derivable custom tables as ``_jpeg`` plus two AC codes progressive
    coding needs:
      DC: '0' -> cat 6,  '10' -> cat 0
      AC: '0' -> EOB0, '10' -> (0,4), '110' -> EOB1, '1110' -> (0,1)
    ``scans = [(ids, ss, se, ah, al, entropy), ...]``."""
    import struct

    quant = quant or [1] * 64
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(quant)
    sof = struct.pack(">BHHB", 8, h, w, len(components))
    for cid, samp in components:
        sof += bytes((cid, samp, 0))
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    dc_counts = bytes([1, 1] + [0] * 14)
    ac_counts = bytes([1, 1, 1, 1] + [0] * 12)
    dht = (b"\x00" + dc_counts + bytes([6, 0])
           + b"\x10" + ac_counts + bytes([0x00, 0x04, 0x10, 0x01]))
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    for ids, ss, se, ah, al, entropy in scans:
        sos = bytes([len(ids)])
        for cid in ids:
            # an (cid, tables_byte) tuple selects non-default Huffman
            # tables — used to point a scan at an ABSENT table
            cid, tsel = cid if isinstance(cid, tuple) else (cid, 0x00)
            sos += bytes((cid, tsel))
        sos += bytes((ss, se, (ah << 4) | al))
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def _idct_block(coefs):
    """Independent IDCT oracle for the progressive pins: 8x8 pixels
    from {zigzag_index: coefficient} literals via the T.81 cosine
    basis (the basis itself is pinned against hand-derived row
    literals in the baseline single-AC test)."""
    import numpy as np

    from hobbes_spark.functions.multimodal import _ZIGZAG, _idct_basis

    blk = np.zeros((8, 8))
    for k, v in coefs.items():
        r, c = _ZIGZAG[k]
        blk[r, c] = v
    m = _idct_basis()
    return np.clip(np.round(m.T @ blk @ m + 128), 0, 255).astype(int)


def test_decode_pixels_jpeg_progressive_dc_refinement():
    """Progressive DC successive approximation by hand: first scan at
    Al=1 carries DPCM diff 48 (coefficient high part 96), the
    refinement scan appends one raw low bit 1 -> DC 97 -> every pixel
    97/8 + 128 = 140.125 -> 140."""
    from hobbes_spark.functions.multimodal import decode_pixels

    payload = _jpeg_prog(8, 8, [(1, 0x11)], [
        ([1], 0, 0, 0, 1, _JBits().put(0b0, 1).put(48, 6).tobytes()),
        ([1], 0, 0, 1, 0, _JBits().put(1, 1).tobytes()),
    ])
    assert decode_pixels(payload) == (8, 8, [140] * 64)


def test_decode_pixels_jpeg_progressive_ac_hand_derived():
    """Full progressive ladder on a 16x16 single-component frame, every
    coefficient hand-traced: DC first scan (48/16/-16/-48 quadrants),
    AC first scan at Al=1 ((0,4) values 12 and -8 -> stored 24/-16,
    first-pass EOB1 run skipping the last block), AC refinement at Al=0
    ((0,1) inserts +1 at the first zero-history slot, a correction bit
    lifts 24 -> 25, refinement EOB1 covers THREE blocks incl. one
    correction bit inside the run). Final coefficients per block are
    literals; pixels come from the independent IDCT oracle."""
    import numpy as np

    from hobbes_spark.functions.multimodal import decode_pixels

    s1 = _JBits().put(0b0, 1).put(48, 6)
    for _ in range(3):
        s1.put(0b0, 1).put(-32 + 63, 6)

    s2 = _JBits()
    s2.put(0b10, 2).put(12, 4)        # b0: (0,4) 12 at k=1 -> 24
    s2.put(0b0, 1)                    # b0: EOB0
    s2.put(0b0, 1)                    # b1: EOB0
    s2.put(0b10, 2).put(0b0111, 4)    # b2: (0,4) -8 at k=1 -> -16
    s2.put(0b110, 3).put(0, 1)        # b2: EOB1+0 -> run skips b3

    s3 = _JBits()
    s3.put(0b1110, 4).put(1, 1)       # b0: (0,1) sign +
    s3.put(1, 1)                      #   correction: k=1 24 -> 25
                                      #   new +1 lands at k=2
    s3.put(0b0, 1)                    # b0: EOB0 (refinement run = 1)
    s3.put(0b110, 3).put(1, 1)        # b1: EOB1+1 -> run=3 (b1,b2,b3)
    s3.put(0, 1)                      #   b2 correction bit: -16 stays

    payload = _jpeg_prog(16, 16, [(1, 0x11)], [
        ([1], 0, 0, 0, 0, s1.tobytes()),
        ([1], 1, 63, 0, 1, s2.tobytes()),
        ([1], 1, 63, 1, 0, s3.tobytes()),
    ])
    got = decode_pixels(payload)
    assert got is not None
    w, h, gray = got
    assert (w, h) == (16, 16)
    exp = np.zeros((16, 16), dtype=int)
    exp[:8, :8] = _idct_block({0: 48, 1: 25, 2: 1})
    exp[:8, 8:] = _idct_block({0: 16})
    exp[8:, :8] = _idct_block({0: -16, 1: -16})
    exp[8:, 8:] = _idct_block({0: -48})
    assert (np.array(gray).reshape(16, 16) == exp).all()


def test_decode_pixels_jpeg_progressive_interleaved_dc_420():
    """Progressive YCbCr 4:2:0: the DC scan is INTERLEAVED (all three
    components per MCU — chroma DC must be entropy-consumed), the Y AC
    scan uses a first-pass EOB1 run, and the chroma AC scans are
    entropy-skipped. Hand-derived quadrants 134/130/126/122 — the same
    image as the baseline twin pins."""
    from hobbes_spark.functions.multimodal import decode_pixels

    s1 = _JBits().put(0b0, 1).put(48, 6)
    for _ in range(3):
        s1.put(0b0, 1).put(-32 + 63, 6)
    s1.put(0b10, 2).put(0b10, 2)       # Cb, Cr DC diff 0

    s2 = _JBits().put(0b110, 3).put(1, 1)  # Y b0: EOB1+1 -> run covers b1,b2
    s2.put(0b0, 1)                         # Y b3: EOB0
    eob = _JBits().put(0b0, 1).tobytes()

    comps = [(1, 0x22), (2, 0x11), (3, 0x11)]
    payload = _jpeg_prog(16, 16, comps, [
        ([1, 2, 3], 0, 0, 0, 0, s1.tobytes()),
        ([1], 1, 63, 0, 0, s2.tobytes()),
        ([2], 1, 63, 0, 0, eob),
        ([3], 1, 63, 0, 0, eob),
    ])
    got = decode_pixels(payload)
    assert got is not None
    w, h, gray = got
    assert (w, h) == (16, 16)
    levels = {(0, 0): 134, (0, 1): 130, (1, 0): 126, (1, 1): 122}
    for y in range(16):
        for x in range(16):
            assert gray[y * 16 + x] == levels[(y // 8, x // 8)], (x, y)


def test_decode_pixels_jpeg_progressive_chroma_only_dc_scan_skipped():
    """ADVICE r9: a chroma-only INTERLEAVED DC scan (ns>1, no luma)
    whose DC table is absent must be entropy-skipped, not decoded —
    gray output never reads chroma coefficients, so a missing chroma
    table must not abort the whole decode. The fixture's {Cb,Cr} DC
    scan selects DC table 1 (never defined) and carries garbage bits;
    the luma-only DC + AC scans are the hand-derived 134/130/126/122
    quadrant image."""
    from hobbes_spark.functions.multimodal import decode_pixels

    s1 = _JBits().put(0b0, 1).put(48, 6)
    for _ in range(3):
        s1.put(0b0, 1).put(-32 + 63, 6)
    s2 = _JBits().put(0b110, 3).put(1, 1)  # Y b0: EOB1+1 -> covers b1,b2
    s2.put(0b0, 1)                         # Y b3: EOB0
    eob = _JBits().put(0b0, 1).tobytes()

    comps = [(1, 0x22), (2, 0x11), (3, 0x11)]
    payload = _jpeg_prog(16, 16, comps, [
        ([1], 0, 0, 0, 0, s1.tobytes()),
        # {Cb,Cr} DC scan, table selector 0x10 -> DC table 1 (absent)
        ([(2, 0x10), (3, 0x10)], 0, 0, 0, 0, b"\x55\x55"),
        ([1], 1, 63, 0, 0, s2.tobytes()),
        ([2], 1, 63, 0, 0, eob),
        ([3], 1, 63, 0, 0, eob),
    ])
    got = decode_pixels(payload)
    assert got is not None
    w, h, gray = got
    assert (w, h) == (16, 16)
    levels = {(0, 0): 134, (0, 1): 130, (1, 0): 126, (1, 1): 122}
    for y in range(16):
        for x in range(16):
            assert gray[y * 16 + x] == levels[(y // 8, x // 8)], (x, y)


def test_decode_pixels_jpeg_progressive_never_raises():
    """The baseline robustness contract extended to SOF2: every
    truncation and byte mutation of a valid progressive stream either
    refuses (None) or stays well-formed — an executor batch never dies
    on one bad image."""
    from hobbes_spark.functions.multimodal import decode_pixels

    payload = _jpeg_prog(8, 8, [(1, 0x11)], [
        ([1], 0, 0, 0, 1, _JBits().put(0b0, 1).put(48, 6).tobytes()),
        ([1], 0, 0, 1, 0, _JBits().put(1, 1).tobytes()),
    ])
    assert decode_pixels(payload) == (8, 8, [140] * 64)
    for cut in range(len(payload)):
        got = decode_pixels(payload[:cut])
        if got is not None:
            w, h, gray = got
            assert w > 0 and h > 0 and len(gray) == w * h
    for off in range(2, len(payload)):
        for m in (0x00, 0xFF, payload[off] ^ 0x55):
            got = decode_pixels(
                payload[:off] + bytes([m]) + payload[off + 1:]
            )
            if got is not None:
                w, h, gray = got
                assert len(gray) == w * h
                assert all(0 <= v <= 255 for v in gray)


def _wav(fmt_tag, nch, rate, bits, frames, pre_chunks=b""):
    """Hand-assemble a RIFF/WAVE stream: optional junk chunks first
    (word-aligned), then fmt + data."""
    import struct

    data = b""
    for fr in frames:
        for v in fr:
            data += struct.pack("<h", v) if bits == 16 else bytes([v])
    fmt = struct.pack(
        "<HHIIHH", fmt_tag, nch, rate,
        rate * nch * bits // 8, nch * bits // 8, bits,
    )
    chunks = (pre_chunks
              + b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


class TestWavDecode:
    """RIFF/WAVE PCM decode (round 9): the audio modality's real
    decode step — hand-derived literals per container feature."""

    def test_mono16_and_stereo8_hand_derived(self):
        import struct

        from hobbes_spark.functions.multimodal import decode_wav

        w1 = _wav(1, 1, 8000, 16, [(1000,), (-1000,), (1000,), (-1000,)])
        assert decode_wav(w1) == (8000, 1, 16, 4, [1000, -1000, 1000, -1000])
        # odd-sized junk chunk before fmt: word alignment must skip it
        junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
        w2 = _wav(1, 2, 11025, 8, [(228, 128), (28, 128)], pre_chunks=junk)
        # 8-bit centers to signed; stereo mixdown is integer floor mean
        assert decode_wav(w2) == (11025, 2, 8, 2, [50, -50])
        # floor (not truncate) mixdown for negative sums: (-3 + 0)//2 = -2
        w3 = _wav(1, 2, 8000, 16, [(-3, 0)])
        assert decode_wav(w3) == (8000, 2, 16, 1, [-2])

    def test_refusals(self):
        from hobbes_spark.functions.multimodal import decode_wav

        assert decode_wav(b"ID3\x03" + b"\x00" * 40) is None  # mp3-ish
        assert decode_wav(_wav(3, 1, 8000, 16, [(1,)])) is None  # IEEE float
        assert decode_wav(_wav(1, 1, 8000, 24, [])) is None  # 24-bit
        assert decode_wav(_wav(1, 0, 8000, 16, [])) is None  # 0 channels
        assert decode_wav(_wav(1, 1, 0, 16, [])) is None  # 0 rate
        assert decode_wav(b"") is None
        assert decode_wav(b"RIFF\x00\x00\x00\x00WAVE") is None  # no chunks

    def test_never_raises_on_garbage(self):
        from hobbes_spark.functions.multimodal import decode_wav

        valid = _wav(1, 1, 8000, 16, [(1000,), (-1000,)])
        for cut in range(len(valid)):
            got = decode_wav(valid[:cut])
            if got is not None:
                rate, nch, bits, n, mono = got
                assert rate > 0 and len(mono) == n
        for off in range(len(valid)):
            for m in (0x00, 0xFF, valid[off] ^ 0x55):
                got = decode_wav(valid[:off] + bytes([m]) + valid[off + 1:])
                if got is not None:
                    rate, nch, bits, n, mono = got
                    assert rate > 0 and len(mono) == n

    def test_features_through_spark(self, spark):
        from hobbes_spark.functions.multimodal import audio_wav_features

        rows = [
            (1, bytearray(_wav(1, 1, 8000, 16,
                               [(1000,), (-1000,), (1000,), (-1000,)]))),
            (2, bytearray(b"not audio")),
            (3, None),
        ]
        media = spark.createDataFrame(rows, "media_id long, content binary")
        got = audio_wav_features(media).collect()
        assert len(got) == 1  # undecodable + NULL payloads dropped
        r = got[0]
        assert (r["media_id"], r["sample_rate"], r["n_channels"],
                r["bits"], r["n_frames"], r["duration_us"],
                r["peak"], r["rms"]) == (1, 8000, 1, 16, 4, 500, 1000, 1000)


def _mp3_frames(hdr: bytes, flen: int, n: int) -> bytes:
    return (hdr + bytes(flen - 4)) * n


class TestCompressedAudioMeta:
    """MP3/FLAC header metadata (round 10): compressed audio stays
    refuse-to-decode; the CONTAINER headers are public specs and parse
    with pure byte math — hand-derived literals per feature."""

    # MPEG1 Layer III 128 kbps 44100 Hz stereo: flen 417
    _MP3_HDR = bytes([0xFF, 0xFB, 0x90, 0x00])

    def test_mp3_cbr_with_id3v2(self):
        from hobbes_spark.functions.multimodal import parse_mp3_meta

        id3 = b"ID3" + bytes([3, 0, 0, 0, 0, 0, 6]) + bytes(6)
        got = parse_mp3_meta(id3 + _mp3_frames(self._MP3_HDR, 417, 3))
        assert got == {
            "sample_rate": 44100, "n_channels": 2, "bitrate_kbps": 128,
            "n_frames": 3, "n_samples": 3456,
            "duration_us": 3456 * 1_000_000 // 44100,
        }

    def test_mp3_v25_mono_padding_and_trailing_junk(self):
        """MPEG2.5 Layer III halves samples-per-frame to 576; the
        padding bit adds one byte to frame 2; trailing ID3v1-ish bytes
        stop the walk without invalidating the parse."""
        from hobbes_spark.functions.multimodal import parse_mp3_meta

        b = (bytes([0xFF, 0xE3, 0x28, 0xC0]) + bytes(140)
             + bytes([0xFF, 0xE3, 0x2A, 0xC0]) + bytes(141)
             + b"TAG" + bytes(10))
        got = parse_mp3_meta(b)
        assert got == {
            "sample_rate": 8000, "n_channels": 1, "bitrate_kbps": 16,
            "n_frames": 2, "n_samples": 1152, "duration_us": 144000,
        }

    def test_mp3_layer1_slot_size(self):
        """Layer I frames are 4-byte slots: MPEG1 L1 at 32 kbps /
        32000 Hz -> (12*32000//32000 + 0) * 4 = 48 bytes, 384 samples
        per frame."""
        from hobbes_spark.functions.multimodal import parse_mp3_meta

        hdr = bytes([0xFF, 0xFF, 0x18, 0xC0])  # L1, br idx 1, sr idx 2
        got = parse_mp3_meta(_mp3_frames(hdr, 48, 2))
        assert got["n_samples"] == 768 and got["sample_rate"] == 32000
        assert got["n_channels"] == 1 and got["bitrate_kbps"] == 32

    def test_mp3_refusals(self):
        from hobbes_spark.functions.multimodal import parse_mp3_meta

        assert parse_mp3_meta(b"") is None
        assert parse_mp3_meta(b"\x00" * 40) is None
        # valid header, truncated body: no complete frame
        assert parse_mp3_meta(self._MP3_HDR + bytes(10)) is None
        # free-format (bitrate idx 0) and invalid (15) refuse
        assert parse_mp3_meta(_mp3_frames(bytes([0xFF, 0xFB, 0x00, 0]), 417, 1)) is None
        assert parse_mp3_meta(_mp3_frames(bytes([0xFF, 0xFB, 0xF0, 0]), 417, 1)) is None
        # reserved version (bits 01) and reserved layer (bits 00)
        assert parse_mp3_meta(_mp3_frames(bytes([0xFF, 0xEB, 0x90, 0]), 417, 1)) is None
        assert parse_mp3_meta(_mp3_frames(bytes([0xFF, 0xF9, 0x90, 0]), 417, 1)) is None
        # non-syncsafe ID3 size byte refuses
        assert parse_mp3_meta(b"ID3" + bytes([3, 0, 0, 0, 0, 0, 0x80])) is None

    def test_xing_vbr_header(self):
        """Xing/Info/VBRI (round 11, verdict item 3): the encoder's
        total-frame count beats the walk — exact duration from a
        HEAD-ONLY fetch of a VBR file, average bitrate from the byte
        count; 'Info' (CBR marker) keeps the header bitrate; a crafted
        frame count past the 4M bound falls back to the walk."""
        from hobbes_spark.functions.multimodal import parse_mp3_meta

        # MPEG1 L3 stereo 128 kbps 44100: side info 32, frame 417
        hdr = bytes([0xFF, 0xFB, 0x90, 0x00])

        def with_tag(tag_bytes, extra_frames=1):
            f = bytearray(hdr + bytes(417 - 4))
            f[36 : 36 + len(tag_bytes)] = tag_bytes
            return bytes(f) + (hdr + bytes(417 - 4)) * extra_frames

        xing = (b"Xing" + (3).to_bytes(4, "big")
                + (5000).to_bytes(4, "big") + (2_000_000).to_bytes(4, "big"))
        got = parse_mp3_meta(with_tag(xing))
        assert got["n_frames"] == 5000
        assert got["n_samples"] == 5000 * 1152
        assert got["duration_us"] == 5000 * 1152 * 1_000_000 // 44100
        assert got["bitrate_kbps"] == 122  # 2e6 B over 130.6 s, not 128

        info = b"Info" + (1).to_bytes(4, "big") + (100).to_bytes(4, "big")
        got = parse_mp3_meta(with_tag(info))
        assert got["n_frames"] == 100 and got["bitrate_kbps"] == 128

        vbri = (b"VBRI" + bytes(6)
                + (999_000).to_bytes(4, "big") + (2500).to_bytes(4, "big"))
        got = parse_mp3_meta(with_tag(vbri))
        assert got["n_frames"] == 2500

        crafted = b"Xing" + (1).to_bytes(4, "big") + (1 << 30).to_bytes(4, "big")
        got = parse_mp3_meta(with_tag(crafted))
        assert got["n_frames"] == 2  # walk of what's present

        # MPEG2.5 mono: side info is 9 bytes, spf 576
        h25 = bytes([0xFF, 0xE3, 0x20, 0xC0])
        f = bytearray(h25 + bytes(104 - 4))
        x = b"Xing" + (1).to_bytes(4, "big") + (42).to_bytes(4, "big")
        f[13 : 13 + len(x)] = x
        got = parse_mp3_meta(bytes(f))
        assert got["n_frames"] == 42 and got["n_samples"] == 42 * 576

    @staticmethod
    def _id3_frame(fid, enc, text, v4=False):
        enc_name = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}[enc]
        raw = text.encode(enc_name)
        payload = bytes([enc]) + raw + (b"\x00\x00" if enc in (1, 2) else b"\x00")
        if v4:
            n = len(payload)
            sz = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                        (n >> 7) & 0x7F, n & 0x7F])
        else:
            sz = len(payload).to_bytes(4, "big")
        return fid + sz + b"\x00\x00" + payload

    @classmethod
    def _id3(cls, ver, frames, pad=8):
        body = b"".join(frames) + b"\x00" * pad
        n = len(body)
        ss = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                    (n >> 7) & 0x7F, n & 0x7F])
        return b"ID3" + bytes([ver, 0, 0]) + ss + body

    def test_id3_tags_both_versions_all_encodings(self):
        from hobbes_spark.functions.multimodal import parse_id3_tags

        t23 = self._id3(3, [self._id3_frame(b"TIT2", 0, "Night Train"),
                            self._id3_frame(b"TPE1", 1, "Dvořák")])
        assert parse_id3_tags(t23) == {"TIT2": "Night Train",
                                       "TPE1": "Dvořák"}
        t24 = self._id3(4, [self._id3_frame(b"TIT2", 3, "Café 四月", v4=True),
                            self._id3_frame(b"TCON", 2, "Jazz", v4=True),
                            self._id3_frame(b"TDRC", 3, "1997", v4=True)])
        assert parse_id3_tags(t24) == {"TIT2": "Café 四月",
                                       "TCON": "Jazz", "TDRC": "1997"}
        # unsurfaced frames skipped but walked over (frame after one)
        t = self._id3(3, [self._id3_frame(b"WXXX", 0, "http://x"),
                          self._id3_frame(b"TALB", 0, "B-Sides")])
        assert parse_id3_tags(t) == {"TALB": "B-Sides"}
        assert parse_id3_tags(self._id3(3, [])) == {}  # tag, no frames
        assert parse_id3_tags(b"\xff\xfb\x90\x00" + bytes(413)) is None
        assert parse_id3_tags(self._id3(2, [])) == {}  # v2.2 tag, no frames

    @staticmethod
    def _id3_v22_frame(fid, enc, text):
        enc_name = {0: "latin-1", 1: "utf-16"}[enc]
        payload = bytes([enc]) + text.encode(enc_name) + (
            b"\x00\x00" if enc == 1 else b"\x00"
        )
        return fid + len(payload).to_bytes(3, "big") + payload

    def test_id3_v22_frames(self):
        """ID3v2.2 (r10 verdict item 7): 3-char ids, 3-byte plain
        sizes, mapped onto the v2.3 names the surface exposes; the
        v2.2 header 'compression' bit refuses the whole tag per
        id3v2-00 §3.1."""
        from hobbes_spark.functions.multimodal import parse_id3_tags

        frames = [self._id3_v22_frame(b"TT2", 0, "Old Song"),
                  self._id3_v22_frame(b"TP1", 1, "Señor"),
                  self._id3_v22_frame(b"PIC", 0, "x"),  # unsurfaced, walked
                  self._id3_v22_frame(b"TYE", 0, "1988")]
        assert parse_id3_tags(self._id3(2, frames)) == {
            "TIT2": "Old Song", "TPE1": "Señor", "TYER": "1988"}
        body = b"".join(frames)
        ss = bytes([(len(body) >> 21) & 0x7F, (len(body) >> 14) & 0x7F,
                    (len(body) >> 7) & 0x7F, len(body) & 0x7F])
        compressed = b"ID3" + bytes([2, 0, 0x40]) + ss + body
        assert parse_id3_tags(compressed) is None

    def test_id3_unsynchronisation(self):
        """r10 advisor note: unsynchronised tags must be de-stuffed,
        not decoded with the 0xFF 0x00 stuffing left in.  v2.2/v2.3:
        header flag 0x80 covers the whole tag body (frame sizes refer
        to the de-unsynchronised data); v2.4: per-frame format flag
        0x02, sizes refer to the stored (stuffed) payload."""
        from hobbes_spark.functions.multimodal import parse_id3_tags

        # v2.3 whole-tag: utf-16 BOM FF FE contains 0xFF -> stuffed
        frame = self._id3_frame(b"TIT2", 1, "Zoë")
        assert b"\xff" in frame
        stuffed = frame.replace(b"\xff", b"\xff\x00")
        n = len(stuffed)
        ss = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                    (n >> 7) & 0x7F, n & 0x7F])
        t = b"ID3" + bytes([3, 0, 0x80]) + ss + stuffed
        assert parse_id3_tags(t) == {"TIT2": "Zoë"}
        # v2.4 per-frame: stored size is the stuffed length
        payload = b"\x01\xff\xfe" + "Ana".encode("utf-16-le") + b"\x00\x00"
        sp = payload.replace(b"\xff", b"\xff\x00")
        m = len(sp)
        fsz = bytes([(m >> 21) & 0x7F, (m >> 14) & 0x7F,
                     (m >> 7) & 0x7F, m & 0x7F])
        t = self._id3(4, [b"TIT2" + fsz + bytes([0, 0x02]) + sp])
        assert parse_id3_tags(t) == {"TIT2": "Ana"}

    def test_id3_compressed_encrypted_frames_skipped(self):
        """r10 advisor note: frames with the v2.3 (0x80/0x40) or v2.4
        (0x08/0x04) compression/encryption format bits set are skipped
        — their deflated/crypted payloads must not surface as text —
        while later clean frames in the same tag still decode."""
        from hobbes_spark.functions.multimodal import parse_id3_tags

        def flagged(fid, flag2, v4=False):
            payload = b"\x00garbage"
            if v4:
                n = len(payload)
                sz = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                            (n >> 7) & 0x7F, n & 0x7F])
            else:
                sz = len(payload).to_bytes(4, "big")
            return fid + sz + bytes([0, flag2]) + payload

        for flag in (0x80, 0x40):  # v2.3 compression, encryption
            t = self._id3(3, [flagged(b"TIT2", flag),
                              self._id3_frame(b"TALB", 0, "Clean")])
            assert parse_id3_tags(t) == {"TALB": "Clean"}
        for flag in (0x08, 0x04):  # v2.4 compression, encryption
            t = self._id3(4, [flagged(b"TIT2", flag, v4=True),
                              self._id3_frame(b"TALB", 0, "Clean", v4=True)])
            assert parse_id3_tags(t) == {"TALB": "Clean"}

    def test_id3_never_raises_on_garbage(self):
        from hobbes_spark.functions.multimodal import parse_id3_tags

        valid = self._id3(4, [self._id3_frame(b"TIT2", 3, "t", v4=True)])
        for cut in range(len(valid)):
            r = parse_id3_tags(valid[:cut])
            assert r is None or isinstance(r, dict)
        for off in range(len(valid)):
            for m in (0x00, 0xFF, valid[off] ^ 0x55):
                r = parse_id3_tags(valid[:off] + bytes([m]) + valid[off + 1:])
                assert r is None or isinstance(r, dict)

    def test_flac_streaminfo_exact(self):
        from hobbes_spark.functions.multimodal import parse_flac_meta

        packed = (22050 << 44) | (1 << 41) | (15 << 36) | 44100
        b = (b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
             + (576).to_bytes(2, "big") * 2 + bytes(6)
             + packed.to_bytes(8, "big") + bytes(16))
        assert parse_flac_meta(b) == {
            "sample_rate": 22050, "n_channels": 2, "bits": 16,
            "n_samples": 44100, "duration_us": 2_000_000,
        }
        # zero rate refuses; wrong first-block type refuses
        z = (b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + bytes(34))
        assert parse_flac_meta(z) is None
        w = (b"fLaC" + bytes([0x84]) + (34).to_bytes(3, "big") + bytes(34))
        assert parse_flac_meta(w) is None
        assert parse_flac_meta(b"fLaC") is None
        assert parse_flac_meta(b"OggS" + bytes(40)) is None

    def test_never_raises_on_garbage(self):
        from hobbes_spark.functions.multimodal import (
            parse_flac_meta,
            parse_mp3_meta,
        )

        id3 = b"ID3" + bytes([3, 0, 0, 0, 0, 0, 6]) + bytes(6)
        mp3 = id3 + _mp3_frames(self._MP3_HDR, 417, 2)
        packed = (22050 << 44) | (1 << 41) | (15 << 36) | 44100
        flac = (b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
                + (576).to_bytes(2, "big") * 2 + bytes(6)
                + packed.to_bytes(8, "big") + bytes(16))
        for payload, fn in ((mp3, parse_mp3_meta), (flac, parse_flac_meta)):
            for cut in range(len(payload)):
                r = fn(payload[:cut])
                assert r is None or isinstance(r, dict)
            for off in range(len(payload)):
                for m in (0x00, 0xFF, payload[off] ^ 0x55):
                    r = fn(payload[:off] + bytes([m]) + payload[off + 1:])
                    assert r is None or isinstance(r, dict)

    def test_audio_meta_through_spark(self, spark):
        """The unified surface: WAV/FLAC/MP3 rows with per-format typed
        NULLs; undecodable dropped."""
        from hobbes_spark.functions.multimodal import audio_meta

        packed = (22050 << 44) | (1 << 41) | (15 << 36) | 44100
        flac = (b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
                + (576).to_bytes(2, "big") * 2 + bytes(6)
                + packed.to_bytes(8, "big") + bytes(16))
        rows = [
            (1, bytearray(_wav(1, 1, 8000, 16, [(1000,), (-1000,)]))),
            (2, bytearray(flac)),
            (3, bytearray(_mp3_frames(self._MP3_HDR, 417, 3))),
            (4, bytearray(b"OggS" + bytes(40))),
            (5, None),
        ]
        media = spark.createDataFrame(rows, "media_id long, content binary")
        got = {r["media_id"]: r for r in audio_meta(media).collect()}
        assert set(got) == {1, 2, 3}
        assert (got[1]["container"], got[1]["bits"],
                got[1]["bitrate_kbps"]) == ("wav", 16, 128)
        assert (got[2]["container"], got[2]["duration_us"],
                got[2]["bitrate_kbps"]) == ("flac", 2_000_000, None)
        assert (got[3]["container"], got[3]["bits"],
                got[3]["n_samples"]) == ("mp3", None, 3456)


def _mp4_box(t, payload, large=False):
    if large:
        return ((1).to_bytes(4, "big") + t
                + (len(payload) + 16).to_bytes(8, "big") + payload)
    return (len(payload) + 8).to_bytes(4, "big") + t + payload


def _mp4_full(ver, payload):
    return bytes([ver]) + b"\x00\x00\x00" + payload


_MP4_MATRIX = (
    (0x00010000).to_bytes(4, "big") + bytes(8) + bytes(4)
    + (0x00010000).to_bytes(4, "big") + bytes(12)
    + (0x40000000).to_bytes(4, "big")
)


def _mp4(brand, mvhd_ver, timescale, duration, tracks, large_moov=False):
    """Hand-assemble an ISO BMFF stream: ftyp + moov{mvhd, trak...} +
    mdat padding. ``tracks`` = [(handler, tkhd_ver, w16, h16, stts)]."""
    def I(v, n=4):
        return v.to_bytes(n, "big")

    if mvhd_ver == 1:
        mvhd = _mp4_full(1, I(0, 8) * 2 + I(timescale) + I(duration, 8)
                         + I(0x00010000) + I(0, 2) * 2 + I(0, 8)
                         + _MP4_MATRIX + I(0) * 6 + I(3))
    else:
        mvhd = _mp4_full(0, I(0) * 2 + I(timescale) + I(duration)
                         + I(0x00010000) + I(0, 2) * 2 + I(0, 8)
                         + _MP4_MATRIX + I(0) * 6 + I(3))
    moov = _mp4_box(b"mvhd", mvhd)
    for tid, (handler, tv, w16, h16, entries) in enumerate(tracks, 1):
        if tv == 1:
            tkhd = _mp4_full(1, I(0, 8) * 2 + I(tid) + I(0) + I(duration, 8)
                             + I(0, 8) + I(0, 2) * 4 + _MP4_MATRIX
                             + I(w16) + I(h16))
        else:
            tkhd = _mp4_full(0, I(0) * 2 + I(tid) + I(0) + I(duration)
                             + I(0, 8) + I(0, 2) * 4 + _MP4_MATRIX
                             + I(w16) + I(h16))
        stts = _mp4_full(0, I(len(entries))
                         + b"".join(I(c) + I(d) for c, d in entries))
        mdia = (_mp4_box(b"mdhd", _mp4_full(0, I(0) * 2 + I(600)
                                            + I(duration) + I(0x55C4, 2)
                                            + I(0, 2)))
                + _mp4_box(b"hdlr", _mp4_full(0, I(0) + handler + I(0) * 3
                                              + b"H\x00"))
                + _mp4_box(b"minf", _mp4_box(b"stbl",
                                             _mp4_box(b"stts", stts))))
        moov += _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd)
                         + _mp4_box(b"mdia", mdia))
    return (_mp4_box(b"ftyp", brand + (0).to_bytes(4, "big") + brand)
            + _mp4_box(b"moov", moov, large=large_moov)
            + _mp4_box(b"mdat", bytes(16)))


class TestMp4Meta:
    """ISO BMFF header metadata (round 10): the video modality's
    container parse — hand-derived literals per box-tree feature, same
    posture as header_dims (no codec, mdat untouched)."""

    def test_v0_single_video_track(self):
        from hobbes_spark.functions.multimodal import parse_mp4_meta

        b = _mp4(b"isom", 0, 1000, 2500,
                 [(b"vide", 0, 320 << 16, 240 << 16, [(50, 1001), (25, 1001)])])
        assert parse_mp4_meta(b) == {
            "major_brand": "isom", "duration_us": 2_500_000,
            "n_tracks": 1, "width": 320, "height": 240, "n_frames": 75,
        }

    def test_v1_largesize_and_track_selection(self):
        """mvhd v1 (64-bit duration), moov as a size==1 largesize box,
        a sound track FIRST (skipped), fractional 16.16 dims floored."""
        from hobbes_spark.functions.multimodal import parse_mp4_meta

        b = _mp4(b"mp42", 1, 600, 1200,
                 [(b"soun", 0, 0, 0, [(96000, 1)]),
                  (b"vide", 1, 0x00408000, 48 << 16, [(10, 100)])],
                 large_moov=True)
        got = parse_mp4_meta(b)
        assert got == {
            "major_brand": "mp42", "duration_us": 2_000_000,
            "n_tracks": 2, "width": 64, "height": 48, "n_frames": 10,
        }

    def test_refusals(self):
        from hobbes_spark.functions.multimodal import parse_mp4_meta

        assert parse_mp4_meta(b"") is None
        assert parse_mp4_meta(b"\x00" * 40) is None
        # ftyp not first (spec requires it first)
        assert parse_mp4_meta(b"\x00\x00\x00\x08free" + bytes(36)) is None
        # ftyp but no moov
        assert parse_mp4_meta(
            _mp4_box(b"ftyp", b"isom" + bytes(4) + b"isom")
            + _mp4_box(b"mdat", bytes(8))) is None
        # zero timescale -> no duration, but parse survives
        b = _mp4(b"isom", 0, 0, 2500, [(b"vide", 0, 1 << 16, 1 << 16, [(1, 1)])])
        assert parse_mp4_meta(b)["duration_us"] is None

    def test_audio_only_container_has_null_video_fields(self):
        from hobbes_spark.functions.multimodal import parse_mp4_meta

        b = _mp4(b"M4A ", 0, 44100, 44100, [(b"soun", 0, 0, 0, [(100, 441)])])
        got = parse_mp4_meta(b)
        assert got["n_tracks"] == 1 and got["duration_us"] == 1_000_000
        assert got["width"] is None and got["n_frames"] is None

    def test_crafted_values_clamp_to_null_not_raise(self):
        """r10 advisor note: the box-size checks bound entry COUNTS,
        not the values inside — a single stts run with count 0xFFFFFF00
        walks fine but sums past int32 (Arrow Int32 cast raises in the
        executor), and an mvhd v1 duration near 2^64 at timescale 1
        overflows the bigint column.  Both clamp to typed NULL now."""
        from hobbes_spark.functions.multimodal import (
            _mp4_video_track,
            parse_mp4_meta,
        )

        b = _mp4(b"isom", 0, 1000, 2500,
                 [(b"vide", 0, 320 << 16, 240 << 16, [(0xFFFFFF00, 100)])])
        got = parse_mp4_meta(b)
        assert got["n_frames"] is None and got["width"] == 320
        info = _mp4_video_track(b)
        assert info["n_frames"] is None and info["stts"] is None

        # mvhd v1 with duration near 2^64 at timescale 1 (the fixture
        # builder can't express it — mdhd packs 4 bytes — so assemble
        # the mvhd-only moov by hand)
        mvhd = _mp4_box(b"mvhd", _mp4_full(
            1, (0).to_bytes(8, "big") * 2 + (1).to_bytes(4, "big")
            + ((1 << 64) - 2).to_bytes(8, "big")
            + (0x00010000).to_bytes(4, "big") + bytes(4) + bytes(8)
            + _MP4_MATRIX + bytes(24) + (3).to_bytes(4, "big")))
        b = (_mp4_box(b"ftyp", b"isom" + bytes(4) + b"isom")
             + _mp4_box(b"moov", mvhd))
        got = parse_mp4_meta(b)
        assert got is not None and got["duration_us"] is None

        # boundary sanity: a legit max-int32 total still surfaces
        b = _mp4(b"isom", 0, 1000, 2500,
                 [(b"vide", 0, 1 << 16, 1 << 16, [((1 << 31) - 1, 1)])])
        assert parse_mp4_meta(b)["n_frames"] == (1 << 31) - 1

    @staticmethod
    def _fmp4(track_id=7, frag_runs=((7, (30,)), (7, (20, 5)), (8, (99,))),
              mehd_dur=4000, mehd_ver=0):
        """Hand-assemble a fragmented MP4: dash brand, mvhd duration 0,
        mvex/mehd movie duration, video track with an EMPTY stts, and
        moof/traf/trun fragments per ``frag_runs``."""
        import struct

        def bx(t, p):
            return struct.pack(">I", 8 + len(p)) + t + p

        def full(ver, p):
            return bytes([ver]) + b"\x00\x00\x00" + p

        def I(v, n=4):
            return v.to_bytes(n, "big")

        ftyp = bx(b"ftyp", b"dash" + I(0) + b"iso6mp41")
        mvhd = bx(b"mvhd", full(0, I(0) * 2 + I(1000) + I(0)
                                 + I(0x00010000) + I(0, 2) * 2 + I(0, 8)
                                 + _MP4_MATRIX + I(0) * 6 + I(0xFFFFFFFF)))
        if mehd_ver == 1:
            mehd = bx(b"mehd", full(1, I(mehd_dur, 8)))
        else:
            mehd = bx(b"mehd", full(0, I(mehd_dur)))
        mvex = bx(b"mvex", mehd + bx(b"trex", full(0, I(track_id) + I(1)
                                                   + I(0) * 3)))
        tkhd = bx(b"tkhd", full(0, I(0) * 2 + I(track_id) + I(0) + I(0)
                                 + I(0, 8) + I(0, 2) * 4 + _MP4_MATRIX
                                 + I(1280 << 16) + I(720 << 16)))
        mdia = bx(b"mdia", bx(b"mdhd", full(0, I(0) * 2 + I(30000) + I(0)
                                            + I(0x55C4, 2) + I(0, 2)))
                  + bx(b"hdlr", full(0, I(0) + b"vide" + I(0) * 3 + b"H\x00"))
                  + bx(b"minf", bx(b"stbl", bx(b"stts", full(0, I(0))))))
        out = ftyp + bx(b"moov", mvhd + mvex + bx(b"trak", tkhd + mdia))
        for k, (tid, counts) in enumerate(frag_runs, 1):
            tfhd = bx(b"tfhd", full(0, I(tid)))
            truns = b"".join(bx(b"trun", full(0, I(c))) for c in counts)
            out += bx(b"moof", bx(b"mfhd", full(0, I(k)))
                      + bx(b"traf", tfhd + truns))
            out += bx(b"mdat", bytes(4))
        return out

    def test_fragmented_mp4(self):
        """fMP4 (round 11, verdict item 4): an empty moov stts routes
        the frame count to the moof/traf/trun walk (track-id filtered),
        and an mvhd duration of 0 routes the duration to mvex/mehd —
        the DASH/CMAF layout crawled video ships in."""
        from hobbes_spark.functions.multimodal import parse_mp4_meta

        got = parse_mp4_meta(self._fmp4())
        assert got == {"major_brand": "dash", "duration_us": 4_000_000,
                       "n_tracks": 1, "width": 1280, "height": 720,
                       "n_frames": 55}  # 30 + 20 + 5; track 8's 99 excluded
        # mehd v1 (64-bit duration)
        got = parse_mp4_meta(self._fmp4(mehd_dur=2000, mehd_ver=1))
        assert got["duration_us"] == 2_000_000
        # no fragment carries the video track: n_frames stays NULL
        got = parse_mp4_meta(self._fmp4(frag_runs=((8, (99,)),)))
        assert got["n_frames"] is None
        # crafted trun totals past int32 clamp to NULL, never raise
        got = parse_mp4_meta(self._fmp4(
            frag_runs=((7, (0xFFFFFF00,)), (7, (0xFFFFFF00,)))))
        assert got["n_frames"] is None

    def test_fmp4_never_raises_on_garbage(self):
        from hobbes_spark.functions.multimodal import parse_mp4_meta

        valid = self._fmp4()
        for cut in range(0, len(valid), 5):
            got = parse_mp4_meta(valid[:cut])
            assert got is None or isinstance(got, dict)
        for off in range(0, len(valid), 7):
            for m in (0x00, 0xFF, valid[off] ^ 0x55):
                got = parse_mp4_meta(valid[:off] + bytes([m]) + valid[off + 1:])
                assert got is None or isinstance(got, dict)

    def test_never_raises_on_garbage(self):
        from hobbes_spark.functions.multimodal import parse_mp4_meta

        valid = _mp4(b"mp42", 1, 600, 1200,
                     [(b"vide", 1, 64 << 16, 48 << 16, [(10, 100)])],
                     large_moov=True)
        for cut in range(len(valid)):
            got = parse_mp4_meta(valid[:cut])
            assert got is None or isinstance(got, dict)
        for off in range(len(valid)):
            for m in (0x00, 0xFF, valid[off] ^ 0x55):
                got = parse_mp4_meta(valid[:off] + bytes([m]) + valid[off + 1:])
                assert got is None or isinstance(got, dict)

    def test_frame_times_from_stts(self):
        """Exact pts from stts run-length deltas: distinct-delta runs
        [(2,100),(3,200)] at timescale 1000 give frame 3 the cumulative
        2*100 + 1*200 = 400 units -> 400_000 us; sampling every 2nd
        frame reads 0/200_000/600_000."""
        from hobbes_spark.functions.multimodal import (
            _mp4_video_track,
            _stts_pts_units,
        )

        b = _mp4(b"isom", 0, 1000, 1000,
                 [(b"vide", 0, 8 << 16, 8 << 16, [(2, 100), (3, 200)])])
        info = _mp4_video_track(b)
        assert info["stts"] == [(2, 100), (3, 200)]
        assert [_stts_pts_units(info["stts"], k) for k in range(6)] == [
            0, 100, 200, 400, 600, None,  # index 5 past the last sample
        ]

    def test_video_frame_times_through_spark(self, spark):
        from hobbes_spark.functions.multimodal import video_frame_times

        rows = [
            (1, bytearray(_mp4(b"isom", 0, 1000, 1000,
                               [(b"vide", 0, 8 << 16, 8 << 16,
                                 [(2, 100), (3, 200)])]))),
            (2, bytearray(b"not video" + bytes(64))),
        ]
        media = spark.createDataFrame(rows, "media_id long, content binary")
        # mdhd timescale in the _mp4 builder is 600
        got = sorted(
            (r["media_id"], r["frame_pos"], r["frame_index"], r["pts_us"])
            for r in video_frame_times(media, every_n=2, max_frames=8).collect()
        )
        assert got == [
            (1, 0, 0, 0),
            (1, 1, 2, 200 * 1_000_000 // 600),
            (1, 2, 4, 600 * 1_000_000 // 600),
        ]

    def test_video_meta_and_frame_plan_through_spark(self, spark):
        """The mapInPandas boundary + the frames_col wiring: real stts
        counts drive the sampling plan; non-MP4 rows fall back to the
        size fake; audio-only containers yield typed NULL dims."""
        from pyspark.sql import functions as F

        from hobbes_spark.functions.multimodal import (
            frame_sample_plan,
            video_meta,
        )

        rows = [
            (1, bytearray(_mp4(b"isom", 0, 1000, 2500,
                               [(b"vide", 0, 320 << 16, 240 << 16,
                                 [(50, 1001), (25, 1001)])]))),
            (2, bytearray(_mp4(b"M4A ", 0, 44100, 44100,
                               [(b"soun", 0, 0, 0, [(100, 441)])]))),
            (3, bytearray(b"not video" + bytes(4087))),  # 4096 B of junk
            (4, None),
        ]
        media = spark.createDataFrame(rows, "media_id long, content binary")
        meta = {r["media_id"]: r for r in video_meta(media).collect()}
        assert set(meta) == {1, 2}  # junk + NULL payloads dropped
        assert meta[1]["n_frames"] == 75 and meta[1]["width"] == 320
        assert meta[2]["width"] is None and meta[2]["n_frames"] is None
        counts = video_meta(media).select("media_id", "n_frames")
        plan = frame_sample_plan(
            media.join(F.broadcast(counts), "media_id", "left"),
            every_n=30, max_frames=8, frames_col="n_frames",
        )
        got = sorted((r["media_id"], r["frame_index"]) for r in plan.collect())
        # row 1: real 75 frames -> 0/30/60; rows 2-4 fall back to the
        # size fake: 4096 junk bytes -> est 65 -> 0/30/60; NULL payload
        # -> est 1 -> just 0
        assert [i for m, i in got if m == 1] == [0, 30, 60]
        assert [i for m, i in got if m == 3] == [0, 30, 60]
        assert [i for m, i in got if m == 4] == [0]


class TestGifDecode:
    """GIF LZW pixel decode (round 9): hand-derived fixtures per
    feature — variable-width codes, KwKwK self-reference, width bump,
    interlace reordering — plus the canonical public 1x1 GIF as an
    externally-authored control."""

    # the widely-published minimal 1x1 black GIF (public knowledge)
    _ONE = bytes.fromhex(
        "47494638396101000100800000000000ffffff21f904000000"
        "00002c00000000010001000002024401003b"
    )

    @staticmethod
    def _gif(w, h, indices_lzw, interlaced=False, trailer=True):
        hdr = (b"GIF89a" + w.to_bytes(2, "little")
               + h.to_bytes(2, "little") + bytes([0x80, 0, 0]))
        gct = bytes([0, 0, 0, 255, 255, 255])
        img = (b"\x2c" + b"\x00\x00\x00\x00"
               + w.to_bytes(2, "little") + h.to_bytes(2, "little")
               + bytes([0x40 if interlaced else 0x00]))
        lzw = bytes([2, len(indices_lzw)]) + indices_lzw + b"\x00"
        return hdr + gct + img + lzw + (b"\x3b" if trailer else b"")

    def test_public_one_pixel_control(self):
        from hobbes_spark.functions.multimodal import decode_pixels

        assert decode_pixels(self._ONE) == (1, 1, [0])

    def test_checker_hand_derived(self):
        """2x2 indices [0,1,1,0]: codes CLEAR,0,1,1,0,END with the
        width bump to 4 bits after the dictionary reaches 8 — packed
        LSB-first by hand to 44 02 05."""
        from hobbes_spark.functions.multimodal import decode_pixels

        payload = self._gif(2, 2, bytes([0x44, 0x02, 0x05]))
        assert decode_pixels(payload) == (2, 2, [0, 255, 255, 0])

    def test_kwkwk_and_interlace_hand_derived(self):
        """2x4 INTERLACED stream [0,0,0,1,1,1,1,0] hits the KwKwK
        self-reference twice (codes 6 and 8 referenced before they are
        complete) — hand-packed to 84 83 01 05; the 4-pass interlace
        maps stored rows [0,2,1,3] back to display order."""
        from hobbes_spark.functions.multimodal import decode_pixels

        payload = self._gif(2, 4, bytes([0x84, 0x83, 0x01, 0x05]),
                            interlaced=True)
        got = decode_pixels(payload)
        # stored rows: [0,0],[0,1],[1,1],[1,0] -> display rows
        # 0,2,1,3 -> [0,0],[1,1],[0,1],[1,0]
        assert got == (2, 4, [0, 0, 255, 255, 0, 255, 255, 0])

    def test_extension_blocks_skipped_and_refusals(self):
        from hobbes_spark.functions.multimodal import decode_pixels

        # the public control already carries a GCE extension (21 F9)
        assert decode_pixels(self._ONE)[0:2] == (1, 1)
        # trailer before any frame
        assert decode_pixels(b"GIF89a" + bytes(7) + b"\x3b") is None
        # short index stream (LZW ends before w*h pixels)
        short = self._gif(4, 4, bytes([0x44, 0x02, 0x05]))
        assert decode_pixels(short) is None

    def test_never_raises_on_garbage(self):
        from hobbes_spark.functions.multimodal import decode_pixels

        valid = self._gif(2, 4, bytes([0x84, 0x83, 0x01, 0x05]),
                          interlaced=True)
        for cut in range(len(valid)):
            got = decode_pixels(valid[:cut])
            if got is not None:
                w, h, g = got
                assert len(g) == w * h
        for off in range(len(valid)):
            for m in (0x00, 0xFF, valid[off] ^ 0x55):
                got = decode_pixels(valid[:off] + bytes([m]) + valid[off + 1:])
                if got is not None:
                    w, h, g = got
                    assert len(g) == w * h and all(0 <= v <= 255 for v in g)


def _gif_lzw_encode(min_code, seq):
    """Independent TEST-SIDE GIF LZW encoder written from the spec
    (greedy longest-phrase, width bump when the just-assigned entry
    index reaches 2^width, dictionary FROZEN at 4096 entries —
    'deferred clear'). Exists only to fuzz the decoder; the convention
    itself is anchored by the hand-packed literals above, so a mirrored
    bug cannot hide."""
    clear = 1 << min_code
    end = clear + 1
    width = min_code + 1
    bits = []

    def emit(code):
        for k in range(width):
            bits.append((code >> k) & 1)

    d = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    cur = b""
    for s in seq:
        nxt = cur + bytes([s])
        if nxt in d:
            cur = nxt
            continue
        emit(d[cur])
        if next_code < 4096:
            d[nxt] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        cur = bytes([s])
    if cur:
        emit(d[cur])
    emit(end)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for k, b in enumerate(bits[i : i + 8]):
            byte |= b << k
        out.append(byte)
    return bytes(out)


def _gif_full(w, h, palette, lzw_data, min_code, interlaced=False):
    """GIF builder with arbitrary palette size and 255-byte sub-block
    chunking (the catalog fixtures fit one block; big fuzz streams do
    not)."""
    import math

    n = max(2, len(palette) // 3)
    size_bits = max(0, math.ceil(math.log2(n)) - 1)
    pal = palette + bytes(3 * ((2 << size_bits) - len(palette) // 3))
    hdr = (b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
           + bytes([0x80 | size_bits, 0, 0]))
    img = (b"\x2c" + b"\x00\x00\x00\x00"
           + w.to_bytes(2, "little") + h.to_bytes(2, "little")
           + bytes([0x40 if interlaced else 0x00]))
    blocks = bytearray([min_code])
    for i in range(0, len(lzw_data), 255):
        chunk = lzw_data[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    return hdr + pal + img + bytes(blocks) + b"\x3b"


def test_gif_lzw_roundtrip_including_dict_freeze():
    """Fuzz the decoder against the independent encoder: random index
    streams over 4- and 16-color palettes, including one long enough
    to FREEZE the dictionary at 4096 entries (deferred clear) and one
    with high repetition (deep phrases, KwKwK-rich). Round-trip must
    be exact and sub-block chunking transparent."""
    import random

    from hobbes_spark.functions.multimodal import decode_pixels

    rng = random.Random(97)
    palette4 = bytes([0, 0, 0, 255, 255, 255, 255, 0, 0, 0, 0, 255])
    palette16 = bytes(
        v for i in range(16) for v in (i * 16, i * 16, i * 16)
    )
    cases = [
        # (w, h, palette, min_code, sequence)
        (20, 10, palette4, 2,
         [rng.randrange(4) for _ in range(200)]),
        (25, 8, palette4, 2,
         [0, 1] * 50 + [1] * 60 + [rng.randrange(4) for _ in range(40)]),
        # 16 colors x 13000 symbols: ~4.5k phrases -> crosses the
        # 4096 dictionary cap (verified: 1412 post-freeze emissions),
        # so codes reach 12 bits and then FREEZE on both sides
        (130, 100, palette16, 4,
         [rng.randrange(16) for _ in range(13000)]),
        # high repetition at scale: long runs grow deep phrases fast
        (100, 90, palette16, 4,
         sum(([i % 16] * (i % 37 + 1) for i in range(700)), [])[:9000]),
    ]
    for w, h, pal, mc, seq in cases:
        seq = seq[: w * h]
        assert len(seq) == w * h
        payload = _gif_full(w, h, pal, _gif_lzw_encode(mc, seq), mc)
        got = decode_pixels(payload)
        assert got is not None, (w, h, len(seq))
        gw, gh, gray = got
        npal = len(pal) // 3
        want = [
            (299 * pal[3 * v] + 587 * pal[3 * v + 1] + 114 * pal[3 * v + 2])
            // 1000
            for v in seq
        ]
        assert (gw, gh) == (w, h)
        assert gray == want, (w, h)


def test_decode_pixels_png_adam7_interlace_hand_derived():
    """Adam7 interlaced PNG (round 9 — previously refused): a 4x4
    grayscale image with gray[y][x] = 16*y + x, split by hand into the
    5 non-empty passes (p1 -> (0,0); p4 -> (2,0); p5 -> (0,2),(2,2);
    p6 -> (1,0),(3,0),(1,2),(3,2); p7 -> rows 1 and 3 whole), each
    pass its own filtered sub-image. Pass 7 uses the Up filter to pin
    that the 'previous row' RESETS per pass (row 3 predicts from row 1
    within the pass, never from a pass-6 line)."""
    import struct
    import zlib

    from hobbes_spark.functions.multimodal import decode_pixels

    def chunk(typ, data):
        body = typ + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body)))

    target = [[16 * y + x for x in range(4)] for y in range(4)]
    # per-pass scanlines, pass raster order
    raw = bytearray()
    raw += bytes([0, target[0][0]])                       # p1: (0,0)
    raw += bytes([0, target[0][2]])                       # p4: (2,0)
    raw += bytes([0, target[2][0], target[2][2]])         # p5
    raw += bytes([0, target[0][1], target[0][3]])         # p6 row y=0
    raw += bytes([0, target[2][1], target[2][3]])         # p6 row y=2
    # p7: rows 1 and 3, filter Up (row 1 predicts from zeros, row 3
    # from row 1 — both inside the pass)
    raw += bytes([2] + target[1])
    raw += bytes([2] + [(target[3][x] - target[1][x]) & 0xFF
                        for x in range(4)])
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)  # interlace=1
    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(bytes(raw)))
               + chunk(b"IEND", b""))
    got = decode_pixels(payload)
    assert got == (4, 4, [v for row in target for v in row])
    # robustness: truncations/mutations never raise
    for cut in range(len(payload)):
        r = decode_pixels(payload[:cut])
        if r is not None:
            w, h, g = r
            assert len(g) == w * h


def test_decode_pixels_png_depths_hand_derived():
    """PNG bit depths beyond 8 (round 9): 1/2/4-bit gray and palette
    (favicon-era web graphics; MSB-first packing, row-padding bits
    stripped, values scaled by 255/(2^d-1)) and 16-bit gray/RGB
    (high-byte downconversion; filter distance bpp=2 pinned via a Sub
    row). All literals hand-packed."""
    import struct
    import zlib

    from hobbes_spark.functions.multimodal import decode_pixels

    def chunk(typ, data):
        body = typ + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body)))

    def png(w, h, depth, ctype, raw, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    # 1-bit gray 10x2: rows 0xAA 0x80 / 0x55 0x40 (6 padding bits)
    got = decode_pixels(png(10, 2, 1, 0, bytes([0, 0xAA, 0x80,
                                                0, 0x55, 0x40])))
    assert got == (10, 2, [255, 0] * 5 + [0, 255] * 5)
    # 2-bit gray 5x1: 00 01 10 11 00 -> 0, 85, 170, 255, 0
    got = decode_pixels(png(5, 1, 2, 0, bytes([0, 0b00011011, 0])))
    assert got == (5, 1, [0, 85, 170, 255, 0])
    # 4-bit palette 3x1: nibble indices 0,1,2 over black/white/red
    plte = bytes([0, 0, 0, 255, 255, 255, 255, 0, 0])
    got = decode_pixels(png(3, 1, 4, 3, bytes([0, 0x01, 0x20]), plte))
    assert got == (3, 1, [0, 255, 76])  # luma(red) = 299*255//1000
    # 16-bit gray 2x1, Sub filter: second sample = 0x1000 + 0x4000,
    # proving the filter distance is 2 bytes (bpp), not 1
    got = decode_pixels(png(2, 1, 16, 0, bytes([1, 0x40, 0, 0x10, 0])))
    assert got == (2, 1, [0x40, 0x50])
    # 16-bit RGB 1x1: high bytes (16,32,48) -> luma 28
    raw16 = bytes([0, 16, 0, 32, 0, 48, 0])
    got = decode_pixels(png(1, 1, 16, 2, raw16))
    assert got == (1, 1, [(299 * 16 + 587 * 32 + 114 * 48) // 1000])
    # still-unsupported combos refuse: 16-bit palette, 4-bit RGB
    assert decode_pixels(png(1, 1, 16, 3, bytes(3), plte)) is None
    assert decode_pixels(png(1, 1, 4, 2, bytes(2))) is None


class TestMainContent:
    """r13: DOM-block main-content extraction (jusText-class) — block
    split, link-density/length/stopword classification, one-step
    neighbor promotion."""

    PAGE = (
        '<html><head><script>var x=1;</script></head><body>'
        '<nav><a href="/">Home</a> <a href="/a">About</a> '
        '<a href="/c">Contact</a></nav>'
        '<h1>The Article Title</h1>'
        '<p>This is the first paragraph of the article and it contains '
        'quite a few words of real prose that a reader would keep.</p>'
        '<p>alpha beta gamma delta epsilon zeta eta theta iota kappa '
        'lambda mu</p>'
        '<p>A second paragraph follows with more of the same content '
        'and it is also long enough to count as prose for the test.</p>'
        '<aside><a>Rel one</a> <a>Rel two</a> <a>Rel three</a></aside>'
        '<footer><a>Terms</a> | <a>Privacy</a></footer></body></html>'
    )

    def _run(self, spark, html):
        from hobbes_spark.functions.web import main_content, main_content_blocks

        df = spark.createDataFrame([(1, html)], "id long, html string")
        r = df.select(
            main_content_blocks("html").alias("b"),
            main_content("html").alias("mc"),
        ).head()
        return r["b"], r["mc"]

    def test_furniture_drops_prose_survives(self, spark):
        blocks, mc = self._run(spark, self.PAGE)
        cls = [b["cls"] for b in blocks]
        texts = [b["text"] for b in blocks]
        assert cls[texts.index("Home About Contact")] == "bad"
        assert cls[texts.index("Terms | Privacy")] == "bad"
        assert mc.startswith("This is the first paragraph")
        assert "Home" not in mc and "Terms" not in mc
        assert "second paragraph" in mc

    def test_near_block_promotes_next_to_good(self, spark):
        blocks, mc = self._run(spark, self.PAGE)
        greek = next(b for b in blocks if b["text"].startswith("alpha beta"))
        # stopword-poor but long and linkless: promoted by its good
        # neighbors, so the content keeps contiguous prose runs
        assert greek["cls"] == "good" and greek["stop_ratio"] == 0.0
        assert "alpha beta" in mc

    def test_isolated_near_block_stays_out(self, spark):
        html = ('<p>alpha beta gamma delta epsilon zeta eta theta iota '
                'kappa lambda mu</p><div><a>x</a> <a>y</a> <a>z</a></div>')
        blocks, mc = self._run(spark, html)
        assert [b["cls"] for b in blocks] == ["near", "bad"]
        assert mc == ""

    def test_null_propagates_and_plan_map_only(self, spark):
        from hobbes_spark.functions.web import main_content

        df = spark.createDataFrame([(1, None)], "id long, html string")
        assert df.select(main_content("html").alias("m")).head()["m"] is None
        plan = (df.select(main_content("html"))
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan
