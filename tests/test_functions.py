"""Scalar/date/text function unit tests, golden-value style
(tests/test_checksum.py:20-21 pattern).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from pmc_conversion_spark.functions import dates as D
from pmc_conversion_spark.functions import text as TX


def test_sha1_golden(spark, fixture_df):
    """The reference's own golden vector: sha1('Hello world!')."""
    df = fixture_df([("Hello world!",)], "s string")
    out = df.select(F.sha1(F.encode("s", "UTF-8")).alias("d")).collect()
    assert out[0].d == "d3486ae9136e7856bc42212385ea797094475802"


def test_date_formats(spark, fixture_df):
    cases = [
        ("15AUG2000", "ddMMMyyyy", datetime.date(2000, 8, 15)),
        ("01jan1999", "ddMMMyyyy", datetime.date(1999, 1, 1)),
        ("31XXX2020", "ddMMMyyyy", None),
        ("30FEB2020", "ddMMMyyyy", None),   # impossible date -> NULL
        ("", "ddMMMyyyy", None),
        ("24/04/2018 0:00:00", "dd/MM/yyyy H:mm:ss",
         datetime.date(2018, 4, 24)),
        ("28/11/2017", "dd/MM/yyyy", datetime.date(2017, 11, 28)),
        ("2020-01-31", "yyyy-MM-dd", datetime.date(2020, 1, 31)),
        ("not-a-date", "yyyy-MM-dd", None),
    ]
    df = fixture_df([(raw, fmt) for raw, fmt, _ in cases],
                    "raw string, fmt string")
    parsed = F.lit(None).cast("date")
    for fmt in D.FORMATS:
        parsed = F.when(F.col("fmt") == fmt,
                        D.to_date_multi(F.col("raw"), fmt)).otherwise(parsed)
    got = [r.p for r in df.select(parsed.alias("p")).collect()]
    assert got == [c[2] for c in cases]


def test_to_date_any_first_format_wins(spark, fixture_df):
    df = fixture_df([("15AUG2000",), ("2020-01-31",)], "raw string")
    got = [r.p for r in
           df.select(D.to_date_any(F.col("raw")).alias("p")).collect()]
    assert got == [datetime.date(2000, 8, 15), datetime.date(2020, 1, 31)]


def test_tokens_and_shingles(spark, fixture_df):
    df = fixture_df([("a b c d",), ("a b",), ("",)], "text string")
    out = df.select(
        TX.token_count_ws(F.col("text")).alias("n"),
        TX.shingles(TX.ws_tokens(F.col("text")), 3).alias("sh")).collect()
    assert [r.n for r in out] == [4, 2, 0]
    assert out[0].sh == ["a b c", "b c d"]
    assert out[1].sh == ["a b"]      # short doc -> whole-text shingle


def test_lang_id_and_fingerprint(spark, fixture_df):
    df = fixture_df([
        ("the cat and the dog is in a house",),   # en
        ("der hund und die katze ist ein tier",),  # de
        ("zzz qqq",),                              # no stopwords -> und
    ], "text string")
    langs = [r.l for r in
             df.select(TX.lang_id(F.col("text")).alias("l")).collect()]
    assert langs == ["en", "de", "und"]
    fp = df.select(TX.fingerprint_md5(F.col("text")).alias("f")).collect()
    # normalization-invariant fingerprint
    df2 = fixture_df([("  The CAT, and the dog... is in a HOUSE!!",)],
                     "text string")
    fp2 = df2.select(TX.fingerprint_md5(F.col("text")).alias("f")).collect()
    assert fp[0].f == fp2[0].f


def test_quality_features(spark, fixture_df):
    df = fixture_df([("Hello, world! The end.",)], "text string")
    feats = TX.quality_features(F.col("text"))
    row = df.select(feats["n_tokens"].alias("t"),
                    feats["n_punct"].alias("p"),
                    feats["n_stopwords"].alias("s")).collect()[0]
    assert row.t == 4 and row.p == 3 and row.s == 1


def test_chunk_documents_window_algebra(spark, fixture_df):
    """Boundary cases of the overlap chunker: short doc (one chunk),
    exact multiple (no empty tail chunk), one-past boundary (short
    final window), empty doc (single empty chunk)."""
    docs = fixture_df(
        [(1, " ".join(f"t{i}" for i in range(4))),     # n=4  -> 1 chunk
         (2, " ".join(f"t{i}" for i in range(10))),    # n=10 -> 2 chunks
         (3, " ".join(f"t{i}" for i in range(11))),    # n=11 -> 3 chunks
         (4, "")],                                     # n=0  -> 1 chunk
        "doc_id int, text string")
    out = TX.chunk_documents(docs, "text", ("doc_id",), chunk=6, stride=4)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    assert sorted(rows) == [(1, 0), (2, 0), (2, 1), (3, 0), (3, 1), (3, 2),
                            (4, 0)]
    assert rows[(1, 0)].n_tokens == 4
    # chunk 1 of doc 2 covers tokens 4..9 (6 tokens, 2 overlap with chunk 0)
    assert rows[(2, 1)].start_tok == 4
    assert rows[(2, 1)].chunk_text == "t4 t5 t6 t7 t8 t9"
    # doc 3: final window is the single trailing token at start 8..10
    assert rows[(3, 2)].start_tok == 8
    assert rows[(3, 2)].n_tokens == 3
    assert rows[(4, 0)].chunk_text == "" and rows[(4, 0)].n_tokens == 0


def test_char_entropy_golden_values(spark, fixture_df):
    df = fixture_df([(1, "aaaa"), (2, "ab"), (3, "aabb"), (4, ""),
                     (5, "abcd")], "doc_id int, text string")
    got = {r.doc_id: r.e for r in df.select(
        "doc_id", TX.char_entropy_bits(F.col("text")).alias("e")).collect()}
    assert got[1] == 0.0          # one symbol -> zero bits (and +0.0, not -0.0)
    assert str(got[1]) == "0.0"
    assert got[2] == 1.0          # two equiprobable symbols
    assert got[3] == 1.0
    assert got[4] == 0.0          # empty text -> empty fold
    assert got[5] == 2.0          # four equiprobable symbols


def test_canonical_url_rules(spark, fixture_df):
    cases = [
        (1, "HTTP://Example.COM:80/a/b/", "http://example.com/a/b"),
        (2, "https://host:443/x?utm_source=f&id=3", "https://host/x?id=3"),
        (3, "http://h/p?id=3&utm_campaign=z", "http://h/p?id=3"),
        (4, "http://h/p#frag", "http://h/p"),
        (5, "http://h/p?utm_only=1", "http://h/p"),
        (6, "http://h:8080/p", "http://h:8080/p"),   # non-default port kept
    ]
    df = fixture_df([(i, u) for i, u, _ in cases], "id int, url string")
    got = {r.id: r.c for r in df.select(
        "id", TX.canonical_url(F.col("url")).alias("c")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_bmp_codec_roundtrip_and_geometry():
    """Pure-numpy BMP codec: exact round-trip across odd widths (stride
    padding exercised), top-down (negative height) variant honored,
    non-BMP bytes rejected."""
    import numpy as np
    import pytest as _pytest
    import struct

    from pmc_conversion_spark.functions import multimodal as MM

    rng = np.random.default_rng(7)
    for w, h in [(1, 1), (3, 2), (4, 4), (5, 7), (13, 1), (2, 9)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        blob = MM.encode_bmp(px)
        # spec checks: magic, declared size, pixel offset, stride pad
        assert blob[:2] == b"BM"
        assert struct.unpack_from("<I", blob, 2)[0] == len(blob)
        assert len(blob) == 54 + ((w * 3 + 3) & ~3) * h
        out = MM.decode_bmp(blob)
        assert np.array_equal(out, px)

    # top-down BMP: negative height in the info header, rows not flipped
    px = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    blob = bytearray(MM.encode_bmp(px[::-1]))     # encoder wrote bottom-up
    struct.pack_into("<i", blob, 22, -3)          # declare top-down
    out = MM.decode_bmp(bytes(blob))
    assert np.array_equal(out, px[::-1][::-1])    # = px, rows as stored

    with _pytest.raises(ValueError):
        MM.decode_bmp(b"GIF89a notabmp")


def test_map_rows_fan_out_and_empty_input(spark, fixture_df):
    """util.map_rows emits exactly the rows fn yields per input row
    (0, 1 or 3 here), and an empty input keeps the declared schema."""
    from pmc_conversion_spark.util import map_rows

    def fan(k, s):
        for i in range(k):
            yield (int(k), i, f"{s}{i}")

    schema = "k long, i int, s string"
    df = fixture_df([(0, "a"), (1, "b"), (3, "c")], "k long, s string")
    got = sorted(tuple(r) for r in
                 map_rows(df, fan, schema, ("k", "s")).collect())
    assert got == [(1, 0, "b0"), (3, 0, "c0"), (3, 1, "c1"), (3, 2, "c2")]

    empty = map_rows(df.filter("k < 0"), fan, schema, ("k", "s"))
    assert empty.schema.simpleString() == "struct<k:bigint,i:int,s:string>"
    assert empty.collect() == []


def test_pixel_stats_hand_computed():
    """pixel_stats: Σv and Σ v·(r+1)·(c+1)·(ch+1) in int64; a 2-D
    array counts as one channel."""
    import numpy as np

    from pmc_conversion_spark.functions import multimodal as MM

    gray = np.array([[1, 2, 3], [4, 5, 6]], dtype=np.uint8)
    # weighted: 1+4+9 (row 0) + 8+20+36 (row 1)
    assert MM.pixel_stats(7, gray) == (7, 3, 2, 1, 21, 78)
    rgb = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    # per pixel (r,c): (0,0) 0+2+6, (0,1) 6+16+30, (1,0) 12+28+48,
    # (1,1) 36+80+132
    assert MM.pixel_stats(9, rgb) == (9, 2, 2, 3, 66, 396)


def test_ppm_codec_roundtrip_and_header_tolerance():
    """P6 codec: round-trip, comment/whitespace header tolerance,
    maxval and magic rejection."""
    import numpy as np
    import pytest as _pytest

    from pmc_conversion_spark.functions import multimodal as MM

    rng = np.random.default_rng(11)
    for w, h in [(1, 1), (4, 3), (7, 5)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(MM.decode_ppm(MM.encode_ppm(px)), px)

    # exotic-but-legal header: multiple comments, CRLF-ish whitespace
    px = rng.integers(0, 256, size=(2, 3, 3), dtype=np.uint8)
    blob = (b"P6 # c1\n#c2\n  3\t2 # dims\n 255\n" + px.tobytes())
    assert np.array_equal(MM.decode_ppm(blob), px)

    with _pytest.raises(ValueError):
        MM.decode_ppm(b"P5\n1 1\n255\n\x00")      # greyscale PGM
    with _pytest.raises(ValueError):
        MM.decode_ppm(b"P6\n1 1\n65535\n\x00\x00")  # 16-bit maxval


def test_rle8_codec_roundtrip_and_packets():
    """BI_RLE8 codec: exact round-trip through real run-length
    compression for arbitrary index images (runs, literals, odd
    literal padding), both packet kinds present in the synthetic
    pattern, palette actually resolved, delta packets rejected."""
    import numpy as np
    import pytest as _pytest
    import struct

    from pmc_conversion_spark.functions import multimodal as MM

    pal = MM._rle8_palette()
    pal_arr = np.array(pal, dtype=np.uint8)
    rng = np.random.default_rng(13)
    for w, h in [(1, 1), (8, 3), (16, 7), (9, 5), (255, 2)]:
        # random small alphabet -> mixes runs and literal stretches
        idx = rng.integers(0, 4, size=(h, w), dtype=np.uint8)
        blob = MM.encode_bmp_rle8(idx, pal)
        assert blob[:2] == b"BM"
        assert struct.unpack_from("<H", blob, 28)[0] == 8     # bpp
        assert struct.unpack_from("<I", blob, 30)[0] == 1     # BI_RLE8
        out = MM.decode_bmp_rle8(blob)
        assert np.array_equal(out, pal_arr[idx])

    # the registry op's synthetic pattern exercises BOTH packet kinds
    idx = MM.synth_rle8_indices(1, 16, 7)
    data = MM.encode_bmp_rle8(idx, pal)[14 + 40 + 1024:]
    kinds, p = set(), 0
    while p < len(data):
        n, v = data[p], data[p + 1]
        p += 2
        if n > 0:
            kinds.add("run")
        elif v == 0:
            kinds.add("eol")
        elif v == 1:
            kinds.add("eob")
            break
        else:
            kinds.add("abs")
            p += v + (v & 1)
    assert kinds == {"run", "abs", "eol", "eob"}

    # delta packet (0,2) is declared unsupported, not silently wrong
    hdr = MM.encode_bmp_rle8(np.zeros((1, 4), dtype=np.uint8),
                             pal)[:14 + 40 + 1024]
    with _pytest.raises(ValueError):
        MM.decode_bmp_rle8(bytes(hdr) + b"\x00\x02\x01\x01\x00\x01")


def test_wav_codec_chunk_walk():
    """RIFF/WAV codec: exact PCM16 round-trip, chunk-walk required
    (data is NOT at the canonical 44-byte offset), odd-size padding
    honored, non-PCM and truncated streams rejected."""
    import numpy as np
    import pytest as _pytest
    import struct

    from pmc_conversion_spark.functions import multimodal as MM

    rng = np.random.default_rng(17)
    for n, sr in [(1, 8000), (64, 16000), (255, 44100)]:
        s = rng.integers(-32768, 32768, size=n).astype(np.int16)
        blob = MM.encode_wav_pcm16(s, sr)
        sr2, s2 = MM.decode_wav_pcm16(blob)
        assert sr2 == sr and np.array_equal(s, s2)
        # the planted LIST + odd chunk push 'data' past offset 44
        assert blob[36:40] != b"data"

    with _pytest.raises(ValueError):
        MM.decode_wav_pcm16(b"OggS not a riff stream")
    # stereo (n_ch=2) must be rejected, not misread
    s = MM.synth_pcm16(3, 8)
    blob = bytearray(MM.encode_wav_pcm16(s, 8000))
    off = blob.index(b"fmt ") + 8
    struct.pack_into("<H", blob, off + 2, 2)
    with _pytest.raises(ValueError):
        MM.decode_wav_pcm16(bytes(blob))


def test_jpeg_codec_entropy_layers():
    """Baseline-JPEG codec: decoded pixels match an INDEPENDENT
    per-definition fixed-point IDCT (explicit loops, not the
    decoder's matrix path) for many ids; byte stuffing occurs and
    round-trips; DC prediction is real (block 2 decodes relative to
    block 1); planted APP0/COM segments are skipped; progressive and
    non-JPEG streams are rejected."""
    import numpy as np
    import pytest as _pytest
    import struct

    from pmc_conversion_spark.functions import multimodal as MM

    basis = MM._idct_basis()
    qt = MM.jpeg_qtab_natural()

    def expected_pixels(mid):
        img = np.zeros((8, 16), dtype=np.int64)
        for b, zz in enumerate(MM.synth_jpeg_coeffs(mid)):
            nat = [0] * 64
            for z in range(64):
                nat[MM.JPEG_ZIGZAG[z]] = zz[z]
            for y in range(8):
                for x in range(8):
                    num = 0
                    for v in range(8):
                        for u in range(8):
                            num += (basis[x][u] * basis[y][v]
                                    * nat[v * 8 + u] * qt[v * 8 + u])
                    p = ((num + (1 << 41) + (1 << 56)) >> 42) \
                        - (1 << 14) + 128
                    img[y, b * 8 + x] = min(max(p, 0), 255)
        return img

    stuffed = 0
    for mid in (0, 1, 2, 3, 7, 16, 23, 31, 48, 95):
        blob = MM.encode_jpeg_gray(MM.synth_jpeg_coeffs(mid), 16, 8)
        assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
        if b"\xff\x00" in blob[2:-2]:
            stuffed += 1
        out = MM.decode_jpeg_gray(blob)
        assert np.array_equal(out, expected_pixels(mid)), mid
    assert stuffed >= 3          # stuffing genuinely exercised

    # DC prediction: zero-diff second block decodes to SAME dc as
    # first; a nonzero diff shifts only block 2
    flat = [[5] + [0] * 63, [5] + [0] * 63]
    a = MM.decode_jpeg_gray(MM.encode_jpeg_gray(flat, 16, 8))
    assert (a[:, :8] == a[:, 8:]).all()
    shifted = [[5] + [0] * 63, [9] + [0] * 63]
    bimg = MM.decode_jpeg_gray(MM.encode_jpeg_gray(shifted, 16, 8))
    assert (bimg[:, :8] == a[:, :8]).all()
    assert (bimg[:, 8:] > bimg[:, :8]).all()

    # marker walk: planted APP0 + COM between SOI and DQT must be
    # skipped by length, not tripped over
    blob = MM.encode_jpeg_gray(MM.synth_jpeg_coeffs(3), 16, 8)
    app0 = b"\xff\xe0" + struct.pack(">H", 7) + b"JFIF\x00"
    com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
    planted = blob[:2] + app0 + com + blob[2:]
    assert np.array_equal(MM.decode_jpeg_gray(planted),
                          MM.decode_jpeg_gray(blob))

    # honesty gates: progressive (SOF2) and non-JPEG rejected
    prog = bytearray(blob)
    i = prog.index(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with _pytest.raises(ValueError):
        MM.decode_jpeg_gray(bytes(prog))
    with _pytest.raises(ValueError):
        MM.decode_jpeg_gray(b"\x89PNG not a jpeg")


def test_local_df_arrow_local_table_scan(spark):
    """local_df must plan as a single-partition LocalTableScan (Arrow
    batch shipped to the JVM) — never a parallelized Python RDD scan.

    createDataFrame(list, schema) slices tiny driver lists into
    defaultParallelism Python-RDD partitions; a downstream coalesce(1)
    then walks every near-empty parent through its own sequential
    Python-runner round (~5 s per action for a 1-row frame on
    local[32] — the transmart staging writes). The r9-opt fix routes
    every tiny-fixture site through local_df; this pins the plan shape
    and the value semantics (None in string and leading-typed columns,
    bools, doubles, array columns) against regression.
    """
    from pmc_conversion_spark.util import local_df

    df = local_df(
        spark,
        [(1, "a", None, 1.5, True, [1.0, 2.0]),
         (2, None, "y", -0.0, False, [])],
        "id int, s1 string, s2 string, x double, b boolean, "
        "v array<double>")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    # JVM-local rows: at most one partition per row, never a
    # defaultParallelism-wide fan of near-empty Python slices
    assert df.rdd.getNumPartitions() <= 2

    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["s2"] is None and rows[2]["s1"] is None
    assert rows[1]["v"] == [1.0, 2.0] and rows[2]["v"] == []
    assert rows[1]["b"] is True and rows[2]["b"] is False
    assert str(rows[2]["x"]) == "-0.0"  # IEEE sign preserved

    # dict rows + colon-DDL names resolve identically
    d2 = local_df(spark, [{"dur": 0, "s": 1.0}], "dur: bigint, s: double")
    assert d2.collect() == [(0, 1.0)]
    assert "LocalTableScan" in d2._jdf.queryExecution().executedPlan().toString()
