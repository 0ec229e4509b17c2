"""Property / metamorphic tests (SURVEY §5.3) — hypothesis over the pure
engine stages (no Spark; the distributed invariances are covered by
test_pipeline.py)."""

import string

import numpy as np
from hypothesis import given, seed, settings, strategies as st

from text_extraction_spark.corpus import stable_hash
from text_extraction_spark.engine.boilerplate import classify
from text_extraction_spark.engine.ocr import normalize_text
from text_extraction_spark.engine.textproc import Block, tokenize
from text_extraction_spark.reference_impl import extract_doc

_SETTINGS = dict(max_examples=60, deadline=None)

plain_words = st.lists(
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
    min_size=0,
    max_size=40,
)


@given(st.text(max_size=300))
@settings(**_SETTINGS)
def test_normalize_idempotent_and_canonical(s):
    out = normalize_text(s)
    assert normalize_text(out) == out
    assert "  " not in out
    assert out == out.strip()


@given(plain_words)
@settings(**_SETTINGS)
def test_tokenize_tagfree_word_conservation(words):
    """Tag-free text → one block whose words are exactly the whitespace
    tokens (the property that makes x01's SQL oracle valid)."""
    text = " ".join(words)
    blocks = tokenize(text)
    assert sum(b.words for b in blocks) == len(text.split())
    assert all(b.link_words == 0 for b in blocks)
    if text.split():
        assert len(blocks) == 1
        assert blocks[0].text == " ".join(text.split())


@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)).map(
            lambda t: Block(text=" ".join(["w"] * t[0]), words=t[0], link_words=min(t[1], t[0]))
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_classifier_invariants(blocks):
    keep = classify(blocks)
    assert len(keep) == len(blocks)
    for b, k in zip(blocks, keep):
        # link density > 1/3 is boilerplate unconditionally
        if b.link_words * 3 > b.words:
            assert k is False
        # long low-link blocks are content unconditionally
        if b.words > 40 and b.link_words * 3 <= b.words:
            assert k is True


@given(st.integers(0, 2**62), st.integers(0, 2**62))
@settings(**_SETTINGS)
def test_stable_hash_deterministic_and_sensitive(a, b):
    assert stable_hash("x", a) == stable_hash("x", a)
    if a != b:
        assert stable_hash("x", a) != stable_hash("x", b)


@given(st.permutations(list(range(6))), st.data())
@settings(max_examples=30, deadline=None)
def test_extract_doc_input_order_invariance(perm, data):
    """Oracle output depends on offsets, never on the list order of the
    input spans (the per-doc twin of the pipeline's shuffle invariance)."""
    spans = []
    for i in range(6):
        n = 17 + i
        spans.append(
            {
                "kind": "text",
                "text": f"<p>{' '.join(['w%d' % i] * n)}</p>",
                "media_ref": None,
                "offset": 2 * i + 1,
            }
        )
    base = extract_doc(list(spans), {})
    shuffled = extract_doc([spans[i] for i in perm], {})
    assert base == shuffled
    assert [s["order"] for s in base] == list(range(len(base)))


def test_denoise_idempotent_on_clean_masks():
    from text_extraction_spark import corpus
    from text_extraction_spark.engine.imageproc import denoise

    ink = corpus.render_table([["AB", "1"], ["X,", "%"]])
    once = denoise(ink)
    assert np.array_equal(denoise(once), once)
    assert np.array_equal(once, ink)  # clean renders are a fixed point


docs_lists = st.lists(
    st.lists(
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6),
        min_size=0, max_size=60,
    ).map(" ".join),
    min_size=1, max_size=12,
)


@given(docs_lists, st.integers(min_value=1, max_value=11))
@settings(max_examples=40, deadline=None)
def test_minhash_signature_batch_composition_invariant(texts, split):
    """Round 4: the reduceat-batched MinHash signature of a document
    must not depend on which documents share its Arrow batch or where
    chunk boundaries fall — splitting the batch at any point yields
    the same per-document signatures."""
    import pandas as pd

    from text_extraction_spark.dataops import minhash_sig_udf

    whole = minhash_sig_udf.func(pd.Series(texts)).tolist()
    cut = min(split, len(texts))
    parts = (
        minhash_sig_udf.func(pd.Series(texts[:cut])).tolist()
        + minhash_sig_udf.func(pd.Series(texts[cut:])).tolist()
        if texts[cut:]
        else minhash_sig_udf.func(pd.Series(texts[:cut])).tolist()
    )
    assert whole == parts


_MEDIA_FMTS = ("raw-u8", "raw-rgb8", "png", "pdf", "tiff")


@st.composite
def media_batches(draw):
    """Random batches of (width, height, fmt, payload): real corpus media
    and random pixels of every format at 0×0, 1-px, thin and small
    sizes, each payload intact, truncated, garbage, empty or None."""
    from text_extraction_spark import corpus
    from text_extraction_spark.engine.imageproc import encode_png_gray8, encode_png_rgb8

    rows = []
    for _ in range(draw(st.integers(1, 8))):
        if draw(st.booleans()):
            m = corpus.gen_media(f"img-{draw(st.integers(0, 30)):08d}-0")
            w, h, fmt, data = m.width, m.height, m.fmt, m.data
        else:
            fmt = draw(st.sampled_from(_MEDIA_FMTS))
            w = draw(st.sampled_from((0, 1, 2, 37, 64)))
            h = draw(st.sampled_from((0, 1, 3, 48)))
            rng = np.random.default_rng(draw(st.integers(0, 2**16)))
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            data = {
                "raw-u8": lambda: px[:, :, 0].tobytes(),
                "raw-rgb8": lambda: px.tobytes(),
                "png": lambda: (
                    encode_png_rgb8(px) if draw(st.booleans()) else encode_png_gray8(px[:, :, 0])
                ),
                "pdf": lambda: b"%PDF-1.4\n" + px.tobytes()[:64],
                "tiff": lambda: px.tobytes(),
            }[fmt]()
        kind = draw(st.sampled_from(("intact", "truncated", "garbage", "empty", "none")))
        if kind == "truncated":
            data = data[: draw(st.integers(0, max(len(data) - 1, 0)))]
        elif kind == "garbage":
            data = draw(st.binary(max_size=64))
        elif kind == "empty":
            data = b""
        elif kind == "none":
            data = None
        rows.append((w, h, fmt, data))
    return rows


@seed(20240511)
@given(media_batches())
@settings(max_examples=40, deadline=None)
def test_media_batch_fuzz_equals_per_item(rows):
    """A bad payload affects only its own row: the batched media
    extractor never raises on any mix of payloads and returns exactly
    what the per-item path returns, row for row."""
    from text_extraction_spark.pipeline import _extract_media_batch, _extract_one_media

    widths, heights, fmts, datas = (list(c) for c in zip(*rows))
    assert _extract_media_batch(widths, heights, fmts, datas) == [
        _extract_one_media(*r) for r in rows
    ]
