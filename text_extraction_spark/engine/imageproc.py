"""Image stages A7–A11 (SURVEY.md §2-A): decode, adaptive threshold,
denoise, ruling-line detection, cell-grid reconstruction.

Pure numpy, integer arithmetic only — bit-deterministic by construction
(the golden-equality gate [B:14] requires the single-process oracle and
every Spark partition to agree exactly).

Replaces the reference's OpenCV calls (imread / adaptiveThreshold /
HoughLines / findContours — SURVEY §3.1) with:
  * A7  np.frombuffer (fmt 'raw-u8') / stdlib zlib PNG unfilter
  * A8  Bradley & Roth 2007 integral-image local-mean threshold
  * A9  isolated-pixel removal (no scipy in env)
  * A10 run-length projection profiles (row/col ink sums)
  * A11 consecutive ruling pairs → cell interior boxes
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# Adaptive-threshold parameters (A8). Integer contract:
#   pixel is INK  <=>  pix * area * 100 < window_sum * (100 - T_PCT)
# i.e. pix < local_mean * (1 - T_PCT/100), strict '<' (tie → background).
THRESH_WINDOW = 15  # odd; local window half-extent = 7
T_PCT = 15

# Ruling detection (A10): a row/col is part of a ruling iff its ink count
# is >= RULING_NUM/RULING_DEN of the dimension (strict table rulings span
# the full image; text rows peak below ~0.75 — margin analysis in
# tests/test_imageproc.py).
RULING_NUM = 85
RULING_DEN = 100


# Integer BT.601-style luma, weights summing to exactly 256 so gray
# (R=G=B=v) converts to v with NO rounding drift — bit-deterministic.
_LUMA_R, _LUMA_G, _LUMA_B = 77, 150, 29


def rgb_to_gray(rgb: np.ndarray) -> np.ndarray:
    """(H, W, 3) uint8 → (H, W) uint8 luma, pure integer arithmetic."""
    r = rgb[:, :, 0].astype(np.int32)
    g = rgb[:, :, 1].astype(np.int32)
    b = rgb[:, :, 2].astype(np.int32)
    return ((_LUMA_R * r + _LUMA_G * g + _LUMA_B * b) >> 8).astype(np.uint8)


def decode_image(data: bytes, width: int, height: int, fmt: str) -> np.ndarray:
    """A7: image bytes → (height, width) uint8 grayscale array.

    fmt 'raw-u8': row-major raw gray bytes. 'raw-rgb8': row-major RGB
    triplets, integer-luma converted. 'png': minimal PNG reader (stdlib
    zlib; filters 0–4; color type 0 grayscale or 2 truecolor — no
    cv2/PIL in env); color PNGs luma-convert the same way.
    """
    if fmt == "raw-u8":
        arr = np.frombuffer(data, dtype=np.uint8, count=width * height)
        return arr.reshape(height, width).copy()
    if fmt == "raw-rgb8":
        arr = np.frombuffer(data, dtype=np.uint8, count=width * height * 3)
        return rgb_to_gray(arr.reshape(height, width, 3))
    if fmt == "png":
        return _decode_png8(data, width, height)
    raise ValueError(f"unsupported media fmt: {fmt!r}")


def _decode_png8(data: bytes, width: int, height: int) -> np.ndarray:
    """Minimal PNG decoder: 8-bit, color type 0 (gray) or 2 (RGB, then
    integer-luma converted), no interlace. The unfilter 'left' reference
    is `bpp` bytes back (spec 9. Filtering), so one implementation
    serves both color types."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, color = 8, [], None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color = struct.unpack(">IIBB", chunk[:10])
            if (w, h, depth) != (width, height, 8) or color not in (0, 2):
                raise ValueError("only 8-bit gray/truecolor PNG supported")
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if color is None:
        raise ValueError("PNG without IHDR")
    bpp = 1 if color == 0 else 3
    rowbytes = width * bpp
    raw = zlib.decompress(b"".join(idat))
    stride = rowbytes + 1
    # Round 7 fast path: filter bytes 0 (None) and 2 (Up) never depend
    # on the left neighbor, so whole images using only those unfilter
    # in vectorized numpy — None rows are plain copies and runs of Up
    # rows are column-wise modular prefix sums from the preceding None
    # row (cumsum in int64 is exact; & 0xFF per element matches the
    # per-row (row + prev) & 0xFF recurrence). The per-row loop below
    # remains for Sub/Average/Paeth. Encoders here emit filter 0 only,
    # so fixture PNGs always take this path; byte-identical output is
    # pinned by the round-trip tests.
    mat = np.frombuffer(raw, dtype=np.uint8, count=height * stride).reshape(
        height, stride
    )
    ftypes = mat[:, 0]
    if not ftypes.any():  # every row filter 0 — what our encoders emit
        out = mat[:, 1:].copy()
        if color == 0:
            return out
        return rgb_to_gray(out.reshape(height, width, 3))
    if ((ftypes == 0) | (ftypes == 2)).all():
        rows_ = mat[:, 1:].astype(np.int64)
        starts = np.flatnonzero(ftypes == 0)
        out = np.empty((height, rowbytes), dtype=np.uint8)
        # row 0 always starts a run: an Up-filtered first row adds to
        # the spec's implicit zero previous row, which the cumsum from
        # row 0 reproduces
        bounds = np.unique(np.r_[0, starts, height])
        for s, e in zip(bounds[:-1], bounds[1:]):
            out[s:e] = (np.cumsum(rows_[s:e], axis=0) & 0xFF).astype(np.uint8)
        if color == 0:
            return out
        return rgb_to_gray(out.reshape(height, width, 3))
    out = np.zeros((height, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.int32)
    for y in range(height):
        line = raw[y * stride : (y + 1) * stride]
        ftype, row = line[0], np.frombuffer(line[1:], dtype=np.uint8).astype(np.int32)
        if ftype == 0:
            cur = row
        elif ftype == 2:  # Up
            cur = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need a scan
            cur = np.zeros(rowbytes, dtype=np.int32)
            for x in range(rowbytes):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b, c = int(prev[x]), int(prev[x - bpp]) if x >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    if color == 0:
        return out
    return rgb_to_gray(out.reshape(height, width, 3))


def encode_png_gray8(img: np.ndarray) -> bytes:
    """Minimal 8-bit grayscale PNG writer (filter 0) — fixture generation
    and the fmt='png' round-trip test."""
    h, w = img.shape

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def encode_png_rgb8(img: np.ndarray) -> bytes:
    """Minimal 8-bit truecolor (color type 2) PNG writer (filter 0) —
    fixture generation for the color-decode path."""
    h, w, _ = img.shape

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def integral_image(img: np.ndarray) -> np.ndarray:
    """Zero-padded integral image. int32 while exact (255·H·W < 2^31 —
    true for every table-image size the fixtures produce; int32 halves
    the memory traffic of the hottest stage — the decode UDF is
    DRAM-bound when 32 workers run concurrently), int64 above that
    (~2900×2900 grayscale) so oversized scans still threshold correctly
    instead of silently overflowing into a garbage ink mask."""
    dt = np.int64 if int(img.shape[0]) * int(img.shape[1]) * 255 >= 2**31 else np.int32
    ii = np.zeros((img.shape[0] + 1, img.shape[1] + 1), dtype=dt)
    np.cumsum(np.cumsum(img, axis=0, dtype=dt), axis=1, out=ii[1:, 1:])
    return ii


def adaptive_threshold(gray: np.ndarray) -> np.ndarray:
    """A8: Bradley–Roth local-mean binarization → uint8 ink mask (1=ink).

    Mirror-reflected padding makes every window full-size (constant area),
    so the window sum is a pure 4-slice expression over one integral
    image — no fancy-indexing gathers. All-integer comparison: ink iff
        pix * W² * 100 < window_sum * (100 - T_PCT),
    strict '<' (tie → background). Bit-deterministic.
    """
    half = THRESH_WINDOW // 2
    w_sq = THRESH_WINDOW * THRESH_WINDOW
    # 'reflect' (mirror about the border pixel) — edge replication would
    # stack a dark border RULING 7× into its own window and erode it.
    # Hand-rolled single-reflection pad (one allocation + four strided
    # copies) — np.pad's generic path was ~40% of this function's time;
    # images smaller than the window fall back to np.pad, which handles
    # the repeated-reflection case.
    h, w = gray.shape
    if h > half + 1 and w > half + 1:
        p = np.empty((h + 2 * half, w + 2 * half), dtype=gray.dtype)
        p[half : half + h, half : half + w] = gray
        p[:half, half : half + w] = gray[half:0:-1, :]
        p[half + h :, half : half + w] = gray[h - 2 : h - 2 - half : -1, :]
        p[:, :half] = p[:, 2 * half : half : -1]
        p[:, half + w :] = p[:, half + w - 2 : w - 2 : -1]
    else:
        p = np.pad(gray, half, mode="reflect")
    ii = integral_image(p)
    k = THRESH_WINDOW
    s = ii[k:, k:] - ii[:-k, k:] - ii[k:, :-k] + ii[:-k, :-k]
    return (gray.astype(np.int32) * (w_sq * 100) < s * (100 - T_PCT)).astype(np.uint8)


def adaptive_threshold_batch(stack: np.ndarray) -> np.ndarray:
    """adaptive_threshold over a (B, h, w) stack of SAME-SIZE images in
    one numpy pass per op (round 7: the per-image call is overhead-bound
    at fixture sizes — ~20 numpy calls on a ~15k-px array). Identical
    integers per image: the pad slices, the int32/int64 integral dtype
    rule, the cumsums (axes 1/2 are per-image independent) and the
    strict-'<' compare are the 2-D code with a leading batch axis —
    asserted element-equal by tests."""
    b, h, w = stack.shape
    half = THRESH_WINDOW // 2
    w_sq = THRESH_WINDOW * THRESH_WINDOW
    if h > half + 1 and w > half + 1:
        p = np.empty((b, h + 2 * half, w + 2 * half), dtype=stack.dtype)
        p[:, half : half + h, half : half + w] = stack
        p[:, :half, half : half + w] = stack[:, half:0:-1, :]
        p[:, half + h :, half : half + w] = stack[:, h - 2 : h - 2 - half : -1, :]
        p[:, :, :half] = p[:, :, 2 * half : half : -1]
        p[:, :, half + w :] = p[:, :, half + w - 2 : w - 2 : -1]
    else:
        p = np.stack([np.pad(g, half, mode="reflect") for g in stack])
    # dtype rule from the PADDED dims — exactly integral_image's guard
    dt = np.int64 if int(p.shape[1]) * int(p.shape[2]) * 255 >= 2**31 else np.int32
    ii = np.zeros((b, p.shape[1] + 1, p.shape[2] + 1), dtype=dt)
    np.cumsum(np.cumsum(p, axis=1, dtype=dt), axis=2, out=ii[:, 1:, 1:])
    k = THRESH_WINDOW
    s = ii[:, k:, k:] - ii[:, :-k, k:] - ii[:, k:, :-k] + ii[:, :-k, :-k]
    return (stack.astype(np.int32) * (w_sq * 100) < s * (100 - T_PCT)).astype(np.uint8)


def denoise_batch(stack: np.ndarray) -> np.ndarray:
    """denoise over a (B, h, w) stack — the 2-D op with a leading batch
    axis, element-identical per image (see adaptive_threshold_batch)."""
    b, h, w = stack.shape
    p = np.zeros((b, h + 2, w + 2), dtype=np.uint8)
    p[:, 1:-1, 1:-1] = stack
    nb = (
        p[:, :-2, :-2] + p[:, :-2, 1:-1] + p[:, :-2, 2:]
        + p[:, 1:-1, :-2] + p[:, 1:-1, 2:]
        + p[:, 2:, :-2] + p[:, 2:, 1:-1] + p[:, 2:, 2:]
    )
    out = stack.copy()
    out[(stack == 1) & (nb == 0)] = 0
    out[(stack == 0) & (nb == 8)] = 1
    return out


def denoise(mask: np.ndarray) -> np.ndarray:
    """A9: single-pass speck removal (no scipy in env):
      * ink pixel with zero ink 8-neighbors → background (kills salt);
      * background pixel with all 8 neighbors ink → ink (fills holes).
    Preserves 1-px strokes and rulings exactly (every stroke pixel has
    >= 1 ink neighbor)."""
    p = np.zeros((mask.shape[0] + 2, mask.shape[1] + 2), dtype=np.uint8)
    p[1:-1, 1:-1] = mask
    nb = (
        p[:-2, :-2] + p[:-2, 1:-1] + p[:-2, 2:]
        + p[1:-1, :-2] + p[1:-1, 2:]
        + p[2:, :-2] + p[2:, 1:-1] + p[2:, 2:]
    )
    out = mask.copy()
    out[(mask == 1) & (nb == 0)] = 0
    out[(mask == 0) & (nb == 8)] = 1
    return out


def _ruling_positions(profile: np.ndarray, extent: int) -> list[int]:
    """Collapse consecutive above-threshold indices to one position each
    (rulings are 1 px in fixtures, but tolerate thicker runs: take the
    run's first index — deterministic)."""
    hits = np.flatnonzero(profile.astype(np.int64) * RULING_DEN >= RULING_NUM * extent)
    out: list[int] = []
    for idx in hits.tolist():
        if not out or idx > out[-1] + 1:
            out.append(idx)
        # else: continuation of the previous ruling run — skip
    return out


def detect_rulings(mask: np.ndarray) -> tuple[list[int], list[int]]:
    """A10: projection-profile ruling detection → (row_lines, col_lines).

    A row (col) is a ruling iff >= 85% of its pixels are ink. The noisy
    fixtures keep ruling rows ≥ 97% ink after thresholding while the
    densest text row stays ≤ 75% (margin asserted in tests).
    """
    h, w = mask.shape
    rows = _ruling_positions(mask.sum(axis=1, dtype=np.int32), w)
    cols = _ruling_positions(mask.sum(axis=0, dtype=np.int32), h)
    return rows, cols


def rulings_from_profiles(
    rows_votes: np.ndarray, cols_votes: np.ndarray, h: int, w: int
) -> tuple[list[int], list[int]]:
    """detect_rulings given precomputed row/col ink sums (round 7: the
    skew-refine loop computes all candidate rotations' profiles in one
    stacked pass). Identical thresholds and results."""
    return _ruling_positions(rows_votes, w), _ruling_positions(cols_votes, h)


def region_rulings_from_profiles(
    rows_votes: np.ndarray, cols_votes: np.ndarray
) -> tuple[list[int], list[int]]:
    """detect_rulings_hough_region given precomputed profiles (see
    rulings_from_profiles). Identical thresholds and results."""

    def pick(votes: np.ndarray) -> list[int]:
        vmax = int(votes.max(initial=0))
        if vmax < MIN_RULING_VOTES:
            return []
        return _ruling_positions(votes, vmax)

    return pick(rows_votes), pick(cols_votes)


def reconstruct_grid(
    rows: list[int], cols: list[int]
) -> list[tuple[int, int, int, int, int, int]]:
    """A11: ruling positions → cell interior boxes.

    Returns [(r, c, y0, x0, y1, x1)] in row-major order; the interior is
    the open region strictly between consecutive rulings
    (y0 = row[i]+1, y1 = row[i+1], exclusive)."""
    cells = []
    for r in range(len(rows) - 1):
        for c in range(len(cols) - 1):
            cells.append(
                (r, c, rows[r] + 1, cols[c] + 1, rows[r + 1], cols[c + 1])
            )
    return cells


def hough_accumulator(
    mask: np.ndarray, n_theta: int = 180, rho_res: int = 1
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A10 (alternative): Duda & Hart 1972 Hough accumulator for line
    detection, pure numpy. Returns (acc[theta_idx, rho_idx], thetas,
    rhos). The projection-profile detector is the default (exact for
    axis-aligned rulings); this variant exists for skewed scans and is
    vote-count deterministic (integer accumulator, fixed binning)."""
    h, w = mask.shape
    ys, xs = np.nonzero(mask)
    thetas = np.linspace(0.0, np.pi, n_theta, endpoint=False)
    diag = int(np.ceil(np.hypot(h, w)))
    n_rho = 2 * diag // rho_res + 1
    acc = np.zeros((n_theta, n_rho), dtype=np.int32)
    cos_t, sin_t = np.cos(thetas), np.sin(thetas)
    for ti in range(n_theta):
        rho = xs * cos_t[ti] + ys * sin_t[ti]
        bins = np.floor((rho + diag) / rho_res + 0.5).astype(np.int64)
        acc[ti] += np.bincount(bins, minlength=n_rho).astype(np.int32)
    rhos = np.arange(n_rho) * rho_res - diag
    return acc, thetas, rhos


def _hough_axis_votes(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(rows_votes[y], cols_votes[x]) from the Hough accumulator's
    theta=90°/theta=0° slices — per-position line-vote counts."""
    h, w = mask.shape
    acc, thetas, rhos = hough_accumulator(mask, n_theta=180)
    v_idx = 0  # theta = 0 → vertical lines (rho = x)
    h_idx = 90  # theta = pi/2 → horizontal lines (rho = y)
    cols_votes = np.zeros(w, dtype=np.int64)
    rows_votes = np.zeros(h, dtype=np.int64)
    for rho_i, votes in enumerate(acc[v_idx]):
        x = int(rhos[rho_i])
        if 0 <= x < w:
            cols_votes[x] += int(votes)
    for rho_i, votes in enumerate(acc[h_idx]):
        y = int(rhos[rho_i])
        if 0 <= y < h:
            rows_votes[y] += int(votes)
    return rows_votes, cols_votes


def detect_rulings_hough(mask: np.ndarray) -> tuple[list[int], list[int]]:
    """Ruling positions via the Hough accumulator: peaks at theta=90deg
    (horizontal lines, rho=y) and theta=0 (vertical lines, rho=x) with
    the same >= 85% vote threshold as the projection profiles. For
    axis-aligned full-extent tables this is exactly equivalent to
    detect_rulings (asserted in tests)."""
    h, w = mask.shape
    rows_votes, cols_votes = _hough_axis_votes(mask)
    return _ruling_positions(rows_votes, w), _ruling_positions(cols_votes, h)


# Region mode (round 2): minimum strongest-line votes before a vote
# pattern counts as a table at all — a blank/noise page's spurious Hough
# peaks stay far below this, a real ruling (>= one cell across) far above.
MIN_RULING_VOTES = 20

# Skew handling (round 2): fine-theta window searched around horizontal
# (±SKEW_MAX_DEG in SKEW_STEP_DEG steps), and the fixed-point scale for
# the deterministic nearest-neighbor rotation.
SKEW_MAX_DEG = 6.0
SKEW_STEP_DEG = 0.1
_FIX = 1 << 16  # 16.16 fixed point — rounds libm cos/sin to 2^-16,
# absorbing any cross-platform ulp differences (bit-determinism)


def _best_skew_delta(
    ys: np.ndarray, xs: np.ndarray, diag: int, deltas: np.ndarray
) -> tuple[int, float]:
    """(max votes, delta) over the candidate angles, ties → nearest-zero
    delta. One flattened bincount per angle CHUNK (not per angle): bins
    are offset by theta-index · n_rho so every angle accumulates into
    its own stripe — ~20× the per-angle-bincount loop."""
    n_rho = 2 * diag + 1
    # nearest-zero-first order makes the strict-> comparison resolve ties
    # toward the straightest interpretation
    order = sorted(range(len(deltas)), key=lambda i: (abs(deltas[i]), deltas[i]))
    deltas = deltas[order]
    thetas = np.deg2rad(90.0 + deltas)
    cos_t, sin_t = np.cos(thetas), np.sin(thetas)
    best_votes, best_delta = 0, 0.0
    chunk = max(1, int(4_000_000 // max(ys.size, 1)))  # ~32 MB per chunk
    for s in range(0, len(deltas), chunk):
        e = min(s + chunk, len(deltas))
        rho = xs[None, :] * cos_t[s:e, None] + ys[None, :] * sin_t[s:e, None]
        bins = np.floor(rho + diag + 0.5).astype(np.int64)
        bins += np.arange(e - s, dtype=np.int64)[:, None] * n_rho
        counts = np.bincount(bins.ravel(), minlength=(e - s) * n_rho)
        per_theta = counts.reshape(e - s, n_rho).max(axis=1)
        for j in range(e - s):
            v = int(per_theta[j])
            if v > best_votes:  # strict > : nearest-zero delta wins ties
                best_votes, best_delta = v, float(deltas[s + j])
    return best_votes, best_delta


def estimate_skew_deg(mask: np.ndarray) -> float:
    """CORRECTION angle (degrees) for the dominant near-horizontal line,
    found via a COARSE→FINE Hough theta search around 90° (1.0° sweep
    over ±SKEW_MAX_DEG, then 0.1° refinement ±1° around the coarse
    peak): rotate_mask_nn(mask, estimate_skew_deg(mask)) straightens it
    (round-trip asserted in tests). Returns 0.0 when the best
    near-horizontal line is weaker than MIN_RULING_VOTES (no table).
    Integer vote accumulation over FIXED angle grids — deterministic."""
    ys, xs = np.nonzero(mask)
    if ys.size == 0:
        return 0.0
    h, w = mask.shape
    diag = int(np.ceil(np.hypot(h, w)))
    coarse = np.round(np.arange(-SKEW_MAX_DEG, SKEW_MAX_DEG + 1e-9, 1.0), 4)
    _, d0 = _best_skew_delta(ys, xs, diag, coarse)
    fine = np.round(
        np.arange(
            max(d0 - 1.0, -SKEW_MAX_DEG),
            min(d0 + 1.0, SKEW_MAX_DEG) + 1e-9,
            SKEW_STEP_DEG,
        ),
        4,
    )
    best_votes, best_delta = _best_skew_delta(ys, xs, diag, fine)
    if best_votes < MIN_RULING_VOTES:
        return 0.0
    # a page rotated by `a` via rotate_mask_nn peaks at delta = +a, so
    # the correction (the angle that undoes it) is -best_delta
    # (round-trip asserted in tests; accuracy is bounded by the rho bin
    # width over the line length — ~atan(1px/width)).
    return -round(best_delta, 4)


def rotate_mask_nn(mask: np.ndarray, angle_deg: float) -> np.ndarray:
    """Rotate a binary mask by angle_deg (CCW) about the image center —
    inverse-mapped nearest neighbor in 16.16 fixed point (pure integer
    sampling; out-of-frame → 0). Same-shape output."""
    h, w = mask.shape
    a = np.deg2rad(angle_deg)
    c = int(round(np.cos(a) * _FIX))
    s = int(round(np.sin(a) * _FIX))
    cy, cx = (h - 1) // 2, (w - 1) // 2
    # inverse rotation: source = R(-a) · target. The rotation is
    # SEPARABLE in fixed point: c·dx + s·dy broadcasts from two 1-D
    # vectors (one add per output pixel instead of materializing the
    # 2-D mgrid products each call) — identical integers, ~3× faster.
    dy = np.arange(h, dtype=np.int64) - cy
    dx = np.arange(w, dtype=np.int64) - cx
    sx = ((c * dx)[None, :] + (s * dy)[:, None] + _FIX // 2) >> 16
    sy = ((-s * dx)[None, :] + (c * dy)[:, None] + _FIX // 2) >> 16
    sx = sx + cx
    sy = sy + cy
    ok = (sy >= 0) & (sy < h) & (sx >= 0) & (sx < w)
    # clip + gather + mask instead of boolean fancy indexing (two
    # boolean gathers + a scatter): same values, fewer passes
    out = mask[np.clip(sy, 0, h - 1), np.clip(sx, 0, w - 1)]
    out[~ok] = 0
    return out


def rotate_mask_nn_multi(mask: np.ndarray, angles: list[float]) -> np.ndarray:
    """rotate_mask_nn for several angles in ONE batched pass — the
    skew-refine loop rotates the same mask at 5 close angles, and the
    per-call numpy overhead (~13 small array ops each) dominated it.
    Per-angle integers are identical to rotate_mask_nn (same fixed-point
    rounding, same clip-gather-mask), asserted by the equivalence test.
    Returns an (A, h, w) array."""
    h, w = mask.shape
    cy, cx = (h - 1) // 2, (w - 1) // 2
    # int32 while exact (round 7): |c|,|s| <= 2^16 and |dx| + |dy| <=
    # max(h, w), so |c·dx + s·dy| + 2^15 < 2^31 whenever max(h, w) < 2^15
    # — identical integers at half the memory traffic of int64 (this
    # multi-rotate was ~24% of the skew fallback). int64 above that, so
    # an oversized scan rotates exactly instead of wrapping around.
    dt = np.int64 if max(h, w) >= 1 << 15 else np.int32
    dy = np.arange(h, dtype=dt) - dt(cy)
    dx = np.arange(w, dtype=dt) - dt(cx)
    rad = [np.deg2rad(a) for a in angles]
    cs = np.array([int(round(np.cos(a) * _FIX)) for a in rad], dtype=dt)
    ss = np.array([int(round(np.sin(a) * _FIX)) for a in rad], dtype=dt)
    sx = (
        (cs[:, None, None] * dx[None, None, :])
        + (ss[:, None, None] * dy[None, :, None])
        + _FIX // 2
    ) >> 16
    sy = (
        (-ss[:, None, None] * dx[None, None, :])
        + (cs[:, None, None] * dy[None, :, None])
        + _FIX // 2
    ) >> 16
    sx += dt(cx)
    sy += dt(cy)
    ok = (sy >= 0) & (sy < h) & (sx >= 0) & (sx < w)
    out = mask[np.clip(sy, 0, h - 1), np.clip(sx, 0, w - 1)]
    out[~ok] = 0
    return out


def detect_rulings_hough_region(mask: np.ndarray) -> tuple[list[int], list[int]]:
    """A10 region mode: ruling positions for a table EMBEDDED in a larger
    page (margins around it). Projection profiles threshold against the
    full image extent, so sub-extent rulings are invisible to them; here
    each axis thresholds against its own STRONGEST line instead (>= 85%
    of max votes — a text row inside the table keeps the same < 85%
    margin it has in full-extent mode). Integer votes, deterministic.

    The votes are the Hough accumulator's theta=0°/90° slices, which for
    axis-aligned lines equal the row/col ink sums EXACTLY (each slice
    bincounts y resp. x — asserted in tests), so they are computed as
    plain profile sums: O(H+W) instead of O(ink_px × n_theta). The full
    accumulator (hough_accumulator) remains available for skewed lines.
    """
    rows_votes = mask.sum(axis=1, dtype=np.int64)  # == theta=90° slice
    cols_votes = mask.sum(axis=0, dtype=np.int64)  # == theta=0° slice
    return region_rulings_from_profiles(rows_votes, cols_votes)
