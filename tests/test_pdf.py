"""A20 PDF/layout-parse tests (round 2): writer↔reader roundtrips across
the whole operator surface, escape/hex handling, corruption drops, and
the distributed UDF path vs generation-time truth."""

import itertools

import numpy as np
import pytest

from text_extraction_spark import corpus
from text_extraction_spark.engine.pdfproc import (
    WORD_GAP_MILLI,
    encode_pdf,
    extract_pdf_text,
)

PAGES = [
    ["hello world this is line one", "second line here", "third (line) with \\ specials"],
    ["page two first", "page two second"],
]
WANT = "\n".join("\n".join(p) for p in PAGES)


@pytest.mark.parametrize(
    "variant,compress,split",
    list(itertools.product(("td", "tstar", "tm", "tj_kerned", "quote"),
                           (True, False), (False, True))),
)
def test_roundtrip_all_operator_variants(variant, compress, split):
    pdf = encode_pdf(PAGES, compress=compress, variant=variant, split_content=split)
    assert extract_pdf_text(pdf) == WANT


def test_randomized_roundtrip():
    rng = np.random.default_rng(0)
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    variants = ("td", "tstar", "tm", "tj_kerned", "quote")
    for trial in range(80):
        pp = [
            [
                " ".join(words[int(i)] for i in rng.integers(0, len(words), int(rng.integers(1, 6))))
                for _ in range(int(rng.integers(1, 5)))
            ]
            for _ in range(int(rng.integers(1, 3)))
        ]
        pdf = encode_pdf(
            pp,
            compress=bool(rng.integers(0, 2)),
            variant=variants[int(rng.integers(0, 5))],
            split_content=bool(rng.integers(0, 2)),
        )
        assert extract_pdf_text(pdf) == "\n".join("\n".join(p) for p in pp), trial


def _hand_pdf(raw: bytes) -> bytes:
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
        + b"2 0 obj\n<< /Length " + str(len(raw)).encode() + b" >>\nstream\n"
        + raw + b"\nendstream\nendobj\n"
    )


def test_hex_octal_and_escape_strings():
    raw = (b"BT /F1 12 Tf 72 720 Td <48656C6C6F> Tj "
           b"0 -14 TD (\\101\\102\\103) Tj "
           b"0 -14 TD (par\\(en\\)s \\\\slash \\t tab) Tj ET")
    assert extract_pdf_text(_hand_pdf(raw)) == "Hello\nABC\npar(en)s \\slash \t tab"


def test_tj_kerning_space_inference():
    """Adjustments at or past WORD_GAP_MILLI become spaces; smaller
    intra-word kerns must NOT."""
    raw = (b"BT /F1 12 Tf 72 720 Td "
           b"[(Hel) -20 (lo) " + str(WORD_GAP_MILLI).encode() + b" (world)] TJ ET")
    assert extract_pdf_text(_hand_pdf(raw)) == "Hello world"


def test_binary_stream_ending_in_newline_byte():
    """/Length is authoritative: a Flate stream whose last byte is \\n or
    \\r must not lose it to the EOL-before-endstream heuristic (every
    ~1/128 compressed streams end that way)."""
    rng = np.random.default_rng(1)
    words = ["w%d" % i for i in range(40)]
    hit = 0
    for trial in range(60):
        pp = [[" ".join(words[int(i)] for i in rng.integers(0, 40, 8)) for _ in range(4)]]
        pdf = encode_pdf(pp, compress=True, variant="td")
        assert extract_pdf_text(pdf) == "\n".join(pp[0])
        hit += 1
    assert hit == 60


def test_corrupt_and_empty_pdfs_drop():
    from text_extraction_spark.pipeline import _extract_one_media
    from text_extraction_spark.reference_impl import extract_span

    good = encode_pdf([["some text"]])
    corrupt = good[: len(good) // 2] + b"\xff\x00garbage" * 20
    truncated_flate = good.replace(b"stream\n", b"stream\n\x00\x01", 1)

    assert _extract_one_media(612, 792, "pdf", good) == "some text"
    for bad in (corrupt, truncated_flate, b"%PDF-1.4\nnothing here"):
        out = _extract_one_media(612, 792, "pdf", bad)
        assert out is None or isinstance(out, str)  # never raises

    class M:
        fmt, data, width, height = "pdf", b"not a pdf at all", 612, 792

    assert extract_span("media", None, "x", {"x": M()}) is None


def test_corpus_pdf_fraction_and_golden_truth():
    """The generator emits PDFs at ~PDF_FRACTION, every one re-extracts
    EXACTLY to its generation-time expected text (PDF parse is lossless
    — this is what licenses the x08 value oracle)."""
    docs, media = corpus.gen_corpus(120)
    pdfs = [m for m in media if m.fmt == "pdf"]
    frac = len(pdfs) / max(len(media), 1)
    assert 0.15 < frac < 0.35, frac
    assert len(pdfs) >= 20
    for m in pdfs:
        assert extract_pdf_text(m.data) == m.expected_text
        assert m.expected_text.strip()


def test_pdf_udf_matches_expected_on_spark(spark, tiny_corpus):
    """Distributed A20: the fused media UDF over fmt='pdf' rows equals
    pdf_expected.parquet row-for-row (the x08 oracle, run in-process)."""
    import os

    from pyspark.sql import functions as F

    from text_extraction_spark.pipeline import extract_media_udf_timed

    m = spark.read.parquet(os.path.join(tiny_corpus, "media.parquet")).filter(
        F.col("fmt") == "pdf"
    )
    got = m.select(
        "media_ref",
        extract_media_udf_timed("width", "height", "fmt", "data")["out_text"].alias("t"),
    )
    exp = spark.read.parquet(os.path.join(tiny_corpus, "pdf_expected.parquet"))
    joined = got.join(exp, "media_ref", "full_outer")
    n = joined.count()
    assert n > 0
    mismatches = joined.filter(
        F.col("t").isNull() | F.col("expected_text").isNull()
        | (F.col("t") != F.col("expected_text"))
    ).count()
    assert mismatches == 0


def test_property_roundtrip_arbitrary_text():
    """Hypothesis: ANY printable-latin-1 line content (incl. parens,
    backslashes, digits-only 'numbers', operator-lookalike words)
    survives the writer→reader roundtrip for every operator variant."""
    from hypothesis import given, settings, strategies as st

    line = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=255,
                               blacklist_characters="­"),
        min_size=1, max_size=60,
    ).map(lambda s: " ".join(s.split()) or "x")  # writer contract: no
    # newlines / leading-trailing runs of whitespace inside a line
    pages_st = st.lists(
        st.lists(line, min_size=1, max_size=4), min_size=1, max_size=2
    )

    @settings(max_examples=60, deadline=None)
    @given(pages=pages_st,
           variant=st.sampled_from(("td", "tstar", "tm", "quote")),
           compress=st.booleans())
    def run(pages, variant, compress):
        pdf = encode_pdf(pages, compress=compress, variant=variant)
        assert extract_pdf_text(pdf) == "\n".join("\n".join(p) for p in pages)

    run()


def test_property_roundtrip_kerned_tj():
    """tj_kerned splits on single spaces — property-tested separately
    with space-separated word content."""
    from hypothesis import given, settings, strategies as st

    word = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=255,
                               blacklist_characters="­"),
        min_size=1, max_size=12,
    )
    line = st.lists(word, min_size=1, max_size=8).map(" ".join)

    @settings(max_examples=40, deadline=None)
    @given(pages=st.lists(st.lists(line, min_size=1, max_size=3),
                          min_size=1, max_size=2),
           compress=st.booleans())
    def run(pages, compress):
        pdf = encode_pdf(pages, compress=compress, variant="tj_kerned")
        assert extract_pdf_text(pdf) == "\n".join("\n".join(p) for p in pages)

    run()


def test_fuzz_never_raises_and_deterministic():
    """Corrupt inputs (random bytes, mutated valid PDFs, truncations)
    must always DROP-or-text deterministically — never raise out of the
    media UDF (3 000-case sweep ran clean during development; a reduced
    seeded sweep guards regressions)."""
    from text_extraction_spark.pipeline import _extract_one_media

    rng = np.random.default_rng(0)
    base = encode_pdf([["hello world", "second line"], ["page two"]],
                      compress=True, variant="td")
    for trial in range(300):
        kind = trial % 3
        if kind == 0:
            data = b"%PDF-1.4\n" + bytes(
                rng.integers(0, 256, int(rng.integers(10, 400)), dtype=np.uint8))
        elif kind == 1:
            buf = bytearray(base)
            for _ in range(int(rng.integers(1, 8))):
                buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
            data = bytes(buf)
        else:
            data = base[: int(rng.integers(1, len(base)))]
        a = _extract_one_media(612, 792, "pdf", data)
        assert a == _extract_one_media(612, 792, "pdf", data)


def test_indirect_length_falls_back_to_endstream_scan():
    """Round-3 (ADVICE): `/Length 9 0 R` is an INDIRECT reference —
    treating the 9 as a literal byte count truncates the stream. The
    scanner must reject the indirect form and recover the full stream
    via the endstream scan."""
    raw = b"BT /F1 12 Tf 72 720 Td (indirect length works) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Length 9 0 R >>\nstream\n" + raw +
        b"\nendstream\nendobj\n"
        b"9 0 obj\n" + str(len(raw)).encode() + b"\nendobj\n"
    )
    assert extract_pdf_text(pdf) == "indirect length works"


def test_split_contents_spanning_text_state():
    """Round-3 (ADVICE): a page's split /Contents array is ONE logical
    content stream (ISO 32000-1 §7.8.2) — here the text object OPENS in
    stream A and the second show + ET live in stream B, and a TJ array
    even spans the boundary. Per-stream tokenization (round 2) lost the
    second run."""
    s1 = b"BT /F1 12 Tf 72 720 Td (first ) Tj"
    s2 = b"0 -14 TD (second) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Page /Contents [2 0 R 3 0 R] >>\nendobj\n"
        b"2 0 obj\n<< /Length " + str(len(s1)).encode() + b" >>\nstream\n" + s1 +
        b"\nendstream\nendobj\n"
        b"3 0 obj\n<< /Length " + str(len(s2)).encode() + b" >>\nstream\n" + s2 +
        b"\nendstream\nendobj\n"
    )
    assert extract_pdf_text(pdf) == "first \nsecond"


def test_filter_chains_hex_a85_and_cascade():
    """Round-3 (ISO 32000-1 §7.4): /Filter in array form, ASCIIHexDecode,
    ASCII85Decode, and the [/ASCII85Decode /FlateDecode] cascade all
    decode; unknown filters pass through without crashing."""
    import base64
    import binascii
    import zlib as _z

    raw = b"BT /F1 12 Tf 72 720 Td (filters work) Tj ET"

    def pdf_with(filter_decl: bytes, payload: bytes) -> bytes:
        return (
            b"%PDF-1.4\n1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Length " + str(len(payload)).encode() +
            b" " + filter_decl + b" >>\nstream\n" + payload +
            b"\nendstream\nendobj\n"
        )

    hexed = binascii.hexlify(raw) + b">"
    assert extract_pdf_text(pdf_with(b"/Filter /ASCIIHexDecode", hexed)) == "filters work"
    a85 = base64.a85encode(raw) + b"~>"
    assert extract_pdf_text(pdf_with(b"/Filter [/ASCII85Decode]", a85)) == "filters work"
    cascade = base64.a85encode(_z.compress(raw)) + b"~>"
    assert (
        extract_pdf_text(pdf_with(b"/Filter [/ASCII85Decode /FlateDecode]", cascade))
        == "filters work"
    )
    # whitespace inside hex data is ignored per spec
    spaced = b" ".join(hexed[i : i + 4] for i in range(0, len(hexed), 4))
    assert extract_pdf_text(pdf_with(b"/Filter /ASCIIHexDecode", spaced)) == "filters work"


def test_malformed_ascii_filters_never_raise():
    """Round-4 ADVICE fix: corrupt ASCIIHex / ASCII85 payloads follow
    the same passthrough contract as unknown filters — garbage text or
    empty, never an exception out of extract_pdf_text. And PDF
    whitespace is exactly the spec's six bytes: 0xA0 (U+00A0) inside
    hex data is DATA (making the pair invalid → passthrough), not
    strippable whitespace."""
    from text_extraction_spark.engine.pdfproc import (
        _ascii85_decode,
        _ascii_hex_decode,
        extract_pdf_text,
    )

    bad_hex = b"zz\xa0!not hex at all>"
    assert _ascii_hex_decode(bad_hex) == bad_hex
    bad_a85 = b"\xff\xfe completely invalid \x80~>"
    assert _ascii85_decode(bad_a85) == bad_a85

    def pdf_with(filter_decl: bytes, payload: bytes) -> bytes:
        return (
            b"%PDF-1.4\n1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Length " + str(len(payload)).encode() +
            b" " + filter_decl + b" >>\nstream\n" + payload +
            b"\nendstream\nendobj\n"
        )

    for decl in (b"/Filter /ASCIIHexDecode", b"/Filter [/ASCII85Decode]"):
        out = extract_pdf_text(pdf_with(decl, bad_a85))
        assert isinstance(out, str)  # never raises
    # PDF-spec whitespace (0x00 \t \n \x0c \r space) IS stripped
    import binascii

    raw = b"BT /F1 12 Tf 72 720 Td (ws ok) Tj ET"
    hexed = binascii.hexlify(raw) + b">"
    wsed = b"\x00".join(hexed[i : i + 2] for i in range(0, len(hexed), 2))
    assert extract_pdf_text(pdf_with(b"/Filter /ASCIIHexDecode", wsed)) == "ws ok"
