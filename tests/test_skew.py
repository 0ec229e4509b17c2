"""Skewed-scan path (round 2): fine-theta skew estimation, fixed-point
NN deskew, offset-search decode. Text is BEST-EFFORT (a 5×7 slot font
under ±1-2 px rotation jitter cannot be pixel-exact); the floors below
are measured and deterministic. The GOLDEN contract stays exact for
skewed media too — the oracle shares the extractor — which the
pipeline-level tests cover via the corpus's SKEW_FRACTION."""

import numpy as np

from text_extraction_spark import corpus
from text_extraction_spark.engine import imageproc, ocr


def _skewed_fixture(i: int):
    rng = corpus._rng("skewtest", i)
    grid, expected = corpus.gen_table_content(f"skewt-{i}")
    ink = corpus.render_table(grid)
    page = np.zeros((ink.shape[0] + 40, ink.shape[1] + 40), np.uint8)
    page[20 : 20 + ink.shape[0], 20 : 20 + ink.shape[1]] = ink
    ang = float(rng.uniform(0.8, 4.0)) * (1 if rng.random() < 0.5 else -1)
    rot = imageproc.rotate_mask_nn(page, ang)
    gray = corpus.render_noisy_image(f"skewt-{i}", rot)
    return gray, expected, ang


def test_estimate_skew_correction_round_trip():
    """rotate by a → estimate → rotate by the estimate ≈ straight: the
    corrected mask's strongest ruling row must clear the region
    detector again (and the estimate must match -a within the 0.1° grid
    + estimation error)."""
    # 4-col grid: estimate accuracy is ~atan(1 px / line length), so a
    # wide table pins it tightly; the narrow-table case is covered by
    # the extraction floors below (residual tilt < 1 px over the width
    # is invisible to detection/decode anyway).
    grid = [["ABC", "12", "QQQ", "Z9"], ["XY", "Z%", "A", "B2"]]
    ink = corpus.render_table(grid)
    page = np.zeros((ink.shape[0] + 40, ink.shape[1] + 40), np.uint8)
    page[20 : 20 + ink.shape[0], 20 : 20 + ink.shape[1]] = ink
    for a in (-3.5, -1.2, 0.9, 2.7):
        rot = imageproc.rotate_mask_nn(page, a)
        est = imageproc.estimate_skew_deg(rot)
        assert abs(est + a) <= 0.35, (a, est)
        back = imageproc.rotate_mask_nn(rot, est)
        rr, cc = imageproc.detect_rulings_hough_region(back)
        assert len(rr) >= 2 and len(cc) >= 2, a


def test_estimate_skew_zero_on_straight_and_blank():
    grid = [["AB", "C"], ["D", "EF"]]
    ink = corpus.render_table(grid)
    assert imageproc.estimate_skew_deg(ink) == 0.0
    assert imageproc.estimate_skew_deg(np.zeros((50, 50), np.uint8)) == 0.0


def test_rotate_mask_nn_round_trip_nearly_lossless():
    grid, _ = corpus.gen_table_content("rt-fixture")
    ink = corpus.render_table(grid)
    page = np.zeros((ink.shape[0] + 40, ink.shape[1] + 40), np.uint8)
    page[20 : 20 + ink.shape[0], 20 : 20 + ink.shape[1]] = ink
    for a in (1.0, 2.0, 3.5):
        back = imageproc.rotate_mask_nn(imageproc.rotate_mask_nn(page, a), -a)
        assert (back != page).sum() <= 0.05 * page.sum(), a


def test_skewed_extraction_floors():
    """30 skewed fixtures at 0.8–4°: every one must yield a non-empty
    grid of the RIGHT shape (round-1 behavior: all dropped), and the
    aggregate cell accuracy must clear 0.93 (round-3 evidence-selected
    5-angle refinement measured 0.9707 — up from round 2's 0.78 — vs an
    oracle-selection upper bound of 0.974 for the same angle family).
    Deterministic fixtures → stable numbers."""
    total_cells = correct_cells = 0
    structure_ok = 0
    for i in range(30):
        gray, expected, _ang = _skewed_fixture(i)
        got = ocr.extract_table(gray)
        assert got != "", f"fixture {i} dropped"
        g = [c for r in got.split("\n") for c in r.split("|")]
        e = [c for r in expected.split("\n") for c in r.split("|")]
        if len(g) == len(e):
            structure_ok += 1
            total_cells += len(e)
            correct_cells += sum(a == b for a, b in zip(g, e))
    assert structure_ok == 30, structure_ok
    acc = correct_cells / total_cells
    assert acc >= 0.93, acc


def test_skewed_extraction_deterministic():
    gray, _e, _a = _skewed_fixture(3)
    assert ocr.extract_table(gray) == ocr.extract_table(gray)


def test_corpus_skew_fraction_and_oracle_consistency():
    """Skewed media exist in the corpus at ~SKEW_FRACTION and the
    single-process oracle extracts them deterministically (the pipeline
    mirrors it exactly — golden equality is covered by the pipeline
    tests over tiny_corpus, which now contains skewed media)."""
    from text_extraction_spark.reference_impl import extract_span

    docs, media = corpus.gen_corpus(150)
    imgs = [m for m in media if m.fmt != "pdf"]
    skewed = [m for m in imgs if corpus.is_skewed_media(m.media_ref)]
    frac = len(skewed) / max(len(imgs), 1)
    assert 0.04 < frac < 0.2, frac
    lookup = {m.media_ref: m for m in media}
    decoded = 0
    for m in skewed[:10]:
        out = extract_span("media", None, m.media_ref, lookup)
        out2 = extract_span("media", None, m.media_ref, lookup)
        assert out == out2  # deterministic (drop or same text)
        decoded += out is not None
    assert decoded >= 8  # deskew recovers media round 1 dropped


def test_rotate_mask_nn_multi_equals_int64_rotation_at_any_size():
    """The batched rotation keeps int32 fixed-point math only while it is
    exact: on a thin, very wide (or tall) mask the products c·dx pass
    2^31 (from max(h, w) ≈ 2^15), where int32 would wrap and sample the
    wrong pixels. Every shape must equal the int64 single-angle rotation
    per angle — the fixture-scale page and 4×70 000 / 70 000×4 masks
    (small in memory; 4×40 000 still fits int32)."""
    rng = np.random.default_rng(3)
    angles = [-3.0, -0.5, 0.0, 0.7, 2.5]
    for shape in [(60, 180), (4, 70_000), (70_000, 4)]:
        mask = (rng.random(shape) < 0.3).astype(np.uint8)
        got = imageproc.rotate_mask_nn_multi(mask, angles)
        assert got.shape == (len(angles), *shape)
        for k, a in enumerate(angles):
            assert np.array_equal(got[k], imageproc.rotate_mask_nn(mask, a)), (shape, a)
