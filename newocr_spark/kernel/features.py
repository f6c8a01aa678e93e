"""17-segment glyph featurization (SURVEY §2c: G5).

Faithful numpy re-expression of SearchCharacter.applySections/analyzeSlices
(character/SearchCharacter.java:82-107) and SegmentationUtils
(utils/SegmentationUtils.java:27-202):

  * 8 values: the glyph split into 2x2 quadrants (top-half→vertical-half,
    order TL, TR, BL, BR), each quadrant split diagonally into (top, bottom)
    fill fractions. Quirk replicated deliberately: the reference's
    ``index.get() == 1 || index.getAndIncrement() == 2`` short-circuits, so
    the diagonal slope flag is increasing=[False, True, True, True] for the
    four quadrants — NOT alternating (SearchCharacter.java:86).
  * 9 values: 3x3 grid fill fractions; third sizes use the reference's
    integer split: first = len/3, middle = len - 2*(len/3)
    (SegmentationUtils.java:52-53, 112-113).
  * empty segment (total == 0) → 1.0 (SearchCharacter.java:103).

Halves use topHeight = h/2 (bottom gets the remainder) and
leftWidth = w/2 (right gets the remainder) (SegmentationUtils.java:28-29, 80-81).

How a batch is counted. Every feature is (ink pixels in a region) / (pixels
in the region), and for one glyph shape (h, w) the regions are fixed. So
``featurize_many`` groups its grids by shape and counts each group, stacked
as (k, h, w), with two matrix products per region family:

  * the 9 thirds cells and the 4 quadrants are rectangles, i.e. a row band
    × a column band. With 0/1 band matrices R (5, h: three thirds, two
    halves) and C (5, w), ``R @ stack @ C.T`` holds every cell count;
  * the four diagonal "bottom" regions lie inside their (disjoint)
    quadrants, so one (h, w) staircase mask holds all four. Each column of
    it is cut at ``int(slope * x)`` (``int(qh - slope * x)`` for an
    increasing quadrant), the reference's getDiagonal
    (SegmentationUtils.java:154-202), computed per quadrant with the same
    float operations. Bottom counts are the half-band products of
    ``stack * mask``; top = quadrant total - bottom.

Region sizes come from the same bands and cuts, and a feature is
``count / size`` with size 0 → 1.0.

Why this is exact: the products sum 0/1 values, so every partial sum is a
small integer that float64 holds exactly in any summation order; the
division is the same IEEE division of the same two integers that the
per-glyph form ``true / size`` performs; the staircase cuts are the same
float expressions truncated the same way. Output rows follow input order.

Temporary memory is one float64 copy of a group (8 B per pixel) plus
O(h + w) bands; nothing is kept between calls.
"""

from __future__ import annotations

import numpy as np

N_FEATURES = 17

# quadrant order TL, TR, BL, BR; reference slope flags (see module docstring)
_DIAG_INCREASING = (False, True, True, True)


def _bands(n: int, half: int, third: int) -> np.ndarray:
    """(5, n) 0/1 bands over an axis of length n: the three thirds
    [0, third), [third, n - third), [n - third, n), then the two halves
    [0, half), [half, n)."""
    cuts = np.array([[0, third], [third, n - third], [n - third, n], [0, half], [half, n]])
    i = np.arange(n)
    return ((i >= cuts[:, :1]) & (i < cuts[:, 1:])).astype(np.float64)


def _staircase(h: int, w: int) -> tuple[np.ndarray, np.ndarray]:
    """The four quadrants' diagonal 'bottom' regions as one (h, w) bool
    mask, and each region's size (order TL, TR, BL, BR)."""
    top_h, left_w = h // 2, w // 2
    mask = np.zeros((h, w), dtype=bool)
    sizes = np.zeros(4, dtype=np.float64)
    quads = ((0, top_h, 0, left_w), (0, top_h, left_w, w),
             (top_h, h, 0, left_w), (top_h, h, left_w, w))
    for q, ((r0, r1, c0, c1), increasing) in enumerate(zip(quads, _DIAG_INCREASING)):
        qh, qw = r1 - r0, c1 - c0
        if qh == 0 or qw == 0:
            continue
        slope = qh / qw
        y = slope * np.arange(qw, dtype=np.float64)
        if increasing:
            y = qh - y
        y_pos = y.astype(np.int64)  # Java (int) cast truncation; values are >= 0 here
        region = np.arange(qh)[:, None] < y_pos
        mask[r0:r1, c0:c1] = region
        sizes[q] = region.sum()
    return mask, sizes


def _featurize_shape(stack: np.ndarray) -> np.ndarray:
    """(k, h, w) bool grids of one shape → (k, 17) float64."""
    k, h, w = stack.shape
    rows = _bands(h, h // 2, h // 3)
    cols = _bands(w, w // 2, w // 3)
    mask, bottom_sizes = _staircase(h, w)

    f = stack.astype(np.float64)
    # cell counts (k, 5, 5): row band × column band; [:3, :3] are the
    # thirds cells, [3:, 3:] the quadrants TL, TR / BL, BR
    cells = rows @ (f.reshape(k * h, w) @ cols.T).reshape(k, h, 5)
    np.multiply(f, mask, out=f)
    bottoms = rows[3:] @ (f.reshape(k * h, w) @ cols[3:].T).reshape(k, h, 2)

    quad_totals = cells[:, 3:, 3:].reshape(k, 4)
    bottoms = bottoms.reshape(k, 4)
    counts = np.empty((k, N_FEATURES), dtype=np.float64)
    counts[:, 0:8:2] = quad_totals - bottoms
    counts[:, 1:8:2] = bottoms
    counts[:, 8:] = cells[:, :3, :3].reshape(k, 9)

    band_rows, band_cols = rows.sum(axis=1), cols.sum(axis=1)
    quad_sizes = np.outer(band_rows[3:], band_cols[3:]).ravel()
    sizes = np.empty(N_FEATURES, dtype=np.float64)
    sizes[0:8:2] = quad_sizes - bottom_sizes
    sizes[1:8:2] = bottom_sizes
    sizes[8:] = np.outer(band_rows[:3], band_cols[:3]).ravel()

    empty = sizes == 0
    out = counts / np.where(empty, 1.0, sizes)
    out[:, empty] = 1.0
    return out


def featurize_many(grids: list[np.ndarray]) -> np.ndarray:
    """Featurize a batch of glyph grids → (n, 17) float64, one row per grid
    in input order; the work is numpy per distinct (h, w), not per grid."""
    groups: dict[tuple[int, int], list[int]] = {}
    for i, g in enumerate(grids):
        groups.setdefault(np.shape(g), []).append(i)
    out = np.empty((len(grids), N_FEATURES), dtype=np.float64)
    for idx in groups.values():
        stack = np.stack([grids[i] for i in idx]).astype(bool, copy=False)
        out[idx] = _featurize_shape(stack)
    return out


def featurize(grid: np.ndarray) -> np.ndarray:
    """bool glyph grid → float64[17] segment percentages."""
    return featurize_many([grid])[0]
