"""Unit tests for A7–A11 (SURVEY.md §5.1) on hand-constructed arrays."""

import numpy as np
import pytest

from text_extraction_spark import corpus
from text_extraction_spark.engine import font, imageproc


def test_adaptive_threshold_beats_gradient():
    """A global threshold cannot split fixture ink from background (their
    ranges overlap by construction); the adaptive stage recovers the ink
    mask exactly on a noise-free gradient image."""
    grid = [["AB", "1"], ["X,", "%"]]
    ink = corpus.render_table(grid)
    h, w = ink.shape
    ys, xs = np.mgrid[0:h, 0:w]
    illum = corpus.ILLUM_BASE + (corpus.ILLUM_SPAN * (xs + ys)) // (w + h - 2)
    gray = (illum - corpus.INK_DROP * ink.astype(np.int64)).astype(np.uint8)
    # overlap: max ink gray >= min background gray → global cut impossible
    assert gray[ink == 1].max() >= gray[ink == 0].min()
    assert np.array_equal(imageproc.adaptive_threshold(gray), ink)


def test_adaptive_threshold_flat_image_all_background():
    gray = np.full((40, 40), 200, dtype=np.uint8)
    assert imageproc.adaptive_threshold(gray).sum() == 0


def test_denoise_kills_salt_keeps_strokes():
    mask = np.zeros((20, 20), dtype=np.uint8)
    mask[10, 2:18] = 1  # 1-px stroke
    mask[3, 3] = 1  # isolated speck
    mask[15, 15] = 1  # isolated speck
    out = imageproc.denoise(mask)
    assert out[3, 3] == 0 and out[15, 15] == 0
    assert np.array_equal(out[10, 2:18], np.ones(16, dtype=np.uint8))


def test_denoise_fills_full_surrounded_hole():
    mask = np.ones((5, 5), dtype=np.uint8)
    mask[2, 2] = 0
    assert imageproc.denoise(mask)[2, 2] == 1


def test_detect_rulings_clean_grid():
    grid = [["A", "B", "C"], ["1", "2", "3"]]
    ink = corpus.render_table(grid)
    rows, cols = imageproc.detect_rulings(ink)
    assert rows == [0, font.CELL_H + 1, 2 * (font.CELL_H + 1)]
    assert cols == [0, font.CELL_W + 1, 2 * (font.CELL_W + 1), 3 * (font.CELL_W + 1)]


def test_text_rows_stay_below_ruling_threshold():
    """Margin analysis behind RULING_NUM/DEN: even a worst-case text row
    (all cells full of the widest glyphs) stays below 85% ink."""
    grid = [["EEEEEE"] * 4, ["TTTTTT"] * 4]
    ink = corpus.render_table(grid)
    w = ink.shape[1]
    rulings = {0, font.CELL_H + 1, 2 * (font.CELL_H + 1)}
    for y in range(ink.shape[0]):
        if y not in rulings:
            assert int(ink[y].sum()) * imageproc.RULING_DEN < imageproc.RULING_NUM * w


def test_reconstruct_grid_boxes():
    cells = imageproc.reconstruct_grid([0, 14, 28], [0, 47, 94])
    assert cells == [
        (0, 0, 1, 1, 14, 47),
        (0, 1, 1, 48, 14, 94),
        (1, 0, 15, 1, 28, 47),
        (1, 1, 15, 48, 28, 94),
    ]


def test_png_roundtrip():
    rng = np.random.Generator(np.random.PCG64(3))
    img = rng.integers(0, 256, (33, 57), dtype=np.uint8)
    data = imageproc.encode_png_gray8(img)
    assert np.array_equal(imageproc.decode_image(data, 57, 33, "png"), img)


def test_raw_u8_decode():
    img = np.arange(24, dtype=np.uint8).reshape(4, 6)
    assert np.array_equal(imageproc.decode_image(img.tobytes(), 6, 4, "raw-u8"), img)


def test_decode_rejects_unknown_fmt():
    with pytest.raises(ValueError):
        imageproc.decode_image(b"", 1, 1, "jpeg")


def test_png_decoder_all_filter_types():
    """Hand-encode rows with PNG filters 0–4 and assert exact recovery."""
    import struct
    import zlib

    import numpy as np

    from text_extraction_spark.engine.imageproc import decode_image

    rng = np.random.Generator(np.random.PCG64(11))
    img = rng.integers(0, 256, (5, 8), dtype=np.uint8)
    w = img.shape[1]
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        row = img[y].astype(np.int32)
        filt = np.zeros(w, dtype=np.int32)
        for x in range(w):
            a = int(row[x - 1]) if x else 0
            b = int(prev[x])
            c = int(prev[x - 1]) if x else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            filt[x] = (int(row[x]) - pred) & 0xFF
        raw.append(ftype)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = row

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, img.shape[0], 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_image(png, w, img.shape[0], "png"), img)


def test_hough_detector_equivalent_on_tables():
    """Hough-accumulator ruling detection == projection profiles for
    axis-aligned fixture tables (the default path)."""
    from text_extraction_spark import corpus

    done = 0
    i = -1
    while done < 8:
        i += 1
        m = corpus.gen_media(f"hough-{i}")
        if m.fmt == "pdf":
            continue
        done += 1
        gray = imageproc.decode_image(m.data, m.width, m.height, m.fmt)
        mask = imageproc.denoise(imageproc.adaptive_threshold(gray))
        assert imageproc.detect_rulings_hough(mask) == imageproc.detect_rulings(mask)


def test_hough_accumulator_finds_diagonal_line():
    """The Hough variant sees what projection profiles cannot: a skewed
    line accumulates its full vote count at its (theta, rho)."""
    mask = np.zeros((60, 60), dtype=np.uint8)
    for i in range(60):
        mask[i, i] = 1  # 45-degree line
    acc, thetas, rhos = imageproc.hough_accumulator(mask)
    ti, ri = np.unravel_index(np.argmax(acc), acc.shape)
    assert acc[ti, ri] >= 55  # nearly all 60 points vote together
    assert abs(np.degrees(thetas[ti]) - 135.0) <= 2.0  # x cosT + y sinT = rho


def test_integral_image_int64_above_int32_range():
    """Oversized scans (255·H·W >= 2^31) must threshold correctly via the
    int64 path instead of silently overflowing into a garbage mask."""
    from text_extraction_spark.engine.imageproc import adaptive_threshold, integral_image

    big = np.full((3000, 3000), 200, np.uint8)
    ii = integral_image(big)
    assert ii.dtype == np.int64
    assert int(ii[-1, -1]) == 200 * 3000 * 3000  # would overflow int32
    assert adaptive_threshold(big).sum() == 0  # flat image → no ink
    small = np.full((64, 64), 200, np.uint8)
    assert integral_image(small).dtype == np.int32  # fast path kept


def test_raw_rgb8_and_color_png_decode():
    """A7 color path (round 2): 3-channel raw and truecolor PNG both
    luma-convert; channel-replicated gray maps back to the EXACT gray
    (luma weights sum to 256), so color media share golden truth."""
    from text_extraction_spark.engine.imageproc import (
        decode_image, encode_png_rgb8, rgb_to_gray)

    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, (20, 30), dtype=np.uint8)
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    assert np.array_equal(decode_image(rgb.tobytes(), 30, 20, "raw-rgb8"), gray)
    assert np.array_equal(decode_image(encode_png_rgb8(rgb), 30, 20, "png"), gray)
    # true color: integer luma formula, bit-exact
    color = rng.integers(0, 256, (20, 30, 3), dtype=np.uint8)
    c64 = color.astype(np.int64)
    want = ((77 * c64[:, :, 0] + 150 * c64[:, :, 1] + 29 * c64[:, :, 2]) >> 8).astype(np.uint8)
    assert np.array_equal(rgb_to_gray(color), want)
    assert np.array_equal(decode_image(color.tobytes(), 30, 20, "raw-rgb8"), want)
    assert np.array_equal(decode_image(encode_png_rgb8(color), 30, 20, "png"), want)


def test_color_png_all_filter_types():
    """The bpp-aware unfilter must handle filters 0-4 for truecolor rows
    (left reference is 3 bytes back)."""
    from text_extraction_spark.engine.imageproc import decode_image, rgb_to_gray
    import struct as _struct
    import zlib as _zlib

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    h, w, _ = img.shape
    bpp, rowbytes = 3, w * 3
    raw = bytearray()
    prev = np.zeros(rowbytes, dtype=np.int64)
    flat = img.reshape(h, rowbytes).astype(np.int64)
    for y in range(h):
        ftype = y % 5
        raw.append(ftype)
        cur = flat[y]
        enc = np.zeros(rowbytes, dtype=np.int64)
        for x in range(rowbytes):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[x] = (cur[x] - pred) % 256
        raw.extend(int(v) for v in enc)
        prev = cur

    def chunk(ctype, payload):
        return (_struct.pack(">I", len(payload)) + ctype + payload
                + _struct.pack(">I", _zlib.crc32(ctype + payload) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", _zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    assert np.array_equal(decode_image(png, w, h, "png"), rgb_to_gray(img))


def test_hough_region_recovers_embedded_table():
    """A10 region mode (round 2): a table embedded in a larger page has
    no full-extent rulings — projection profiles MUST miss it, the Hough
    region detector MUST recover the exact cell text; detector='profile'
    keeps the old (drop) behavior."""
    from text_extraction_spark.engine import ocr

    for i in range(10):
        rng = corpus._rng("embedtest", i)
        grid, expected = corpus.gen_table_content(f"embt-{i}")
        ink = corpus.render_table(grid)
        th, tw = ink.shape
        top, left = int(rng.integers(8, 40)), int(rng.integers(8, 40))
        bot, right = int(rng.integers(8, 40)), int(rng.integers(8, 40))
        page = np.zeros((th + top + bot, tw + left + right), np.uint8)
        page[top : top + th, left : left + tw] = ink
        gray = corpus.render_noisy_image(f"embt-{i}", page)
        mask = imageproc.denoise(imageproc.adaptive_threshold(gray))
        r, c = imageproc.detect_rulings(mask)
        assert len(r) < 2 or len(c) < 2  # profiles blind to sub-extent rulings
        rr, cc = imageproc.detect_rulings_hough_region(mask)
        assert rr and cc
        assert ocr.extract_table(gray) == expected
        assert ocr.extract_table(gray, detector="profile") == ""


def test_hough_region_blank_page_no_false_grid():
    """Noise-only page: MIN_RULING_VOTES keeps spurious Hough peaks from
    fabricating a grid."""
    from text_extraction_spark.engine import ocr

    gray = corpus.render_noisy_image("blankpage", np.zeros((80, 120), np.uint8))
    assert ocr.extract_table(gray) == ""


def test_region_votes_equal_hough_axis_slices():
    """The region detector's profile sums must equal the Hough
    accumulator's theta=0/90 vote slices (the equivalence that licenses
    the O(H+W) fast path)."""
    rng = np.random.default_rng(13)
    mask = (rng.random((40, 50)) < 0.1).astype(np.uint8)
    mask[17, 5:45] = 1
    mask[:, 30] = 1
    rows_votes, cols_votes = imageproc._hough_axis_votes(mask)
    assert np.array_equal(rows_votes, mask.sum(axis=1, dtype=np.int64))
    assert np.array_equal(cols_votes, mask.sum(axis=0, dtype=np.int64))


def test_batched_threshold_denoise_equal_per_image():
    """Round 7: the (B, h, w) stacked threshold/denoise used by the
    batched media path must be element-identical to the per-image ops
    on every image of the stack (incl. noisy + ruling content)."""
    grays = []
    for i in range(6):
        grid, _ = corpus.gen_table_content(f"img-{i:08d}-0")
        ink = corpus.render_table(grid)
        page = np.zeros((80, 140), np.uint8)
        page[: min(80, ink.shape[0]), : min(140, ink.shape[1])] = ink[
            : min(80, ink.shape[0]), : min(140, ink.shape[1])
        ]
        grays.append(corpus.render_noisy_image(f"b{i}", page))
    stack = np.stack(grays)
    tb = imageproc.adaptive_threshold_batch(stack)
    for j, g in enumerate(grays):
        assert np.array_equal(tb[j], imageproc.adaptive_threshold(g)), j
    db = imageproc.denoise_batch(tb)
    for j in range(len(grays)):
        assert np.array_equal(db[j], imageproc.denoise(tb[j])), j


def test_batch_media_extract_equals_per_item():
    """The batched media extractor must return exactly what the
    per-item path returns for every media kind (raw/png/rgb/pdf,
    embedded + skewed), including None for broken payloads, row for
    row, in any batch order. One degenerate image must not fail its
    Arrow batch: 0×0, 1-px, thin, truncated and garbage payloads of
    every format ride along (a 0×0 size group used to raise from np.pad
    inside the stacked threshold and fail the whole batch)."""
    from text_extraction_spark.engine.imageproc import encode_png_gray8, encode_png_rgb8
    from text_extraction_spark.pipeline import _extract_media_batch, _extract_one_media

    media = [corpus.gen_media(f"img-{i:08d}-0") for i in range(40)]
    pdf = next(m for m in media if m.fmt == "pdf")
    img = next(m for m in media if m.fmt != "pdf")
    gray = np.zeros((img.height, img.width), np.uint8)
    rows = [(m.width, m.height, m.fmt, m.data) for m in media] + [
        (10, 10, "png", b"not a png"),
        (0, 0, "raw-u8", b""),
        (0, 0, "raw-u8", b""),
        (0, 0, "raw-rgb8", b""),
        (0, 0, "png", encode_png_gray8(np.zeros((0, 0), np.uint8))),
        (1, 1, "raw-u8", b"\x80"),
        (1, 1, "raw-rgb8", b"\x10\x20\x30"),
        (1, 1, "png", encode_png_gray8(np.full((1, 1), 200, np.uint8))),
        (1, 1, "png", encode_png_rgb8(np.full((1, 1, 3), 200, np.uint8))),
        (37, 1, "raw-u8", bytes(range(37))),
        (1, 37, "raw-u8", bytes(range(37))),
        (5000, 2, "raw-u8", bytes(10000)),
        (img.width, img.height, "raw-u8", b"\x00" * 100),
        (img.width, img.height, "raw-rgb8", img.data[:-1]),
        (img.width, img.height, "png", encode_png_gray8(gray)[:50]),
        (612, 792, "pdf", pdf.data[: len(pdf.data) // 2]),
        (612, 792, "pdf", b"%PDF-1.4 garbage"),
        (5, 5, "tiff", b"x" * 25),
        (3, 3, "raw-u8", None),
    ]
    rng = np.random.default_rng(7)
    for order in [np.arange(len(rows))] + [rng.permutation(len(rows)) for _ in range(3)]:
        batch = [rows[i] for i in order]
        widths, heights, fmts, datas = (list(c) for c in zip(*batch))
        got = _extract_media_batch(widths, heights, fmts, datas)
        want = [_extract_one_media(*r) for r in batch]
        assert got == want
        assert sum(v is not None for v in want) >= len(media) // 2
