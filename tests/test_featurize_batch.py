"""The shape-grouped featurizer against the per-glyph form it replaced.

``_old_featurize`` below is the previous ``kernel/features.py`` body,
verbatim: a Python loop of small numpy calls per glyph, the literal
transcription of SearchCharacter.applySections/analyzeSlices. The batch
featurizer must reproduce it bit for bit, in input order, for any mix of
shapes, and stay within a small constant of memory per pixel."""

import tracemalloc

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from newocr_spark.kernel.features import N_FEATURES, featurize, featurize_many


# ---------------- the per-glyph oracle (previous implementation) ----------------

_DIAG_INCREASING = (False, True, True, True)


def _diagonal_pairs(section: np.ndarray, increasing: bool) -> tuple[tuple[int, int], tuple[int, int]]:
    """(topTrue, topSize), (bottomTrue, bottomSize) per SegmentationUtils.getDiagonal.

    For each column x: y_pos = int(slope*x) (or int(h - slope*x) if
    increasing); rows y < y_pos count as 'bottom', the rest as 'top'
    (SegmentationUtils.java:154-202).
    """
    h, w = section.shape
    if h == 0 or w == 0:
        return (0, 0), (0, 0)
    slope = h / w
    xs = np.arange(w, dtype=np.float64)
    y = slope * xs
    if increasing:
        y = h - y
    y_pos = y.astype(np.int64)  # Java (int) cast truncation; values are >= 0 here
    rows = np.arange(h, dtype=np.int64)[:, None]
    bottom_mask = rows < y_pos[None, :]
    bottom_true = int(section[bottom_mask].sum())
    bottom_size = int(bottom_mask.sum())
    total_true = int(section.sum())
    return (total_true - bottom_true, h * w - bottom_size), (bottom_true, bottom_size)


def _pct(true: int, size: int) -> float:
    return 1.0 if size == 0 else true / size


def _old_featurize(grid: np.ndarray) -> np.ndarray:
    """bool glyph grid → float64[17] segment percentages."""
    g = np.ascontiguousarray(grid, dtype=bool)
    h, w = g.shape
    out = np.empty(N_FEATURES, dtype=np.float64)

    # --- 8 diagonal-split quadrant values ---
    top_h = h // 2
    left_w = w // 2
    quadrants = (
        g[:top_h, :left_w], g[:top_h, left_w:],
        g[top_h:, :left_w], g[top_h:, left_w:],
    )
    k = 0
    for q, inc in zip(quadrants, _DIAG_INCREASING):
        (tt, ts), (bt, bs) = _diagonal_pairs(q, inc)
        out[k] = _pct(tt, ts)
        out[k + 1] = _pct(bt, bs)
        k += 2

    # --- 9 grid values: horizontal thirds × vertical thirds ---
    th = h // 3
    mh = h - 2 * th
    tw = w // 3
    mw = w - 2 * tw
    row_cuts = (0, th, th + mh, h)
    col_cuts = (0, tw, tw + mw, w)
    for r in range(3):
        block_rows = g[row_cuts[r] : row_cuts[r + 1]]
        for c in range(3):
            block = block_rows[:, col_cuts[c] : col_cuts[c + 1]]
            out[k] = _pct(int(block.sum()), block.size)
            k += 1
    return out


def _oracle(grids):
    return np.array([_old_featurize(g) for g in grids]).reshape(len(grids), N_FEATURES)


# ---------------- properties ----------------

_shape = st.tuples(st.integers(1, 40), st.integers(1, 40))
_small_side = st.tuples(st.sampled_from((1, 2, 3)), st.integers(1, 40))


@st.composite
def _grid(draw, shapes=st.one_of(_shape, _small_side, _small_side.map(lambda s: s[::-1]))):
    h, w = draw(shapes)
    kind = draw(st.sampled_from(("random", "empty", "full")))
    if kind == "empty":
        return np.zeros((h, w), dtype=bool)
    if kind == "full":
        return np.ones((h, w), dtype=bool)
    seed = draw(st.integers(0, 2**32 - 1))
    density = draw(st.floats(0.0, 1.0))
    return np.random.RandomState(seed).rand(h, w) < density


@settings(max_examples=150, deadline=None)
@given(st.lists(_grid(), min_size=0, max_size=24))
def test_featurize_many_matches_per_glyph_oracle(grids):
    """Bit-identical to the per-glyph code, row i for grid i, on mixed
    shapes (repeats included, so groups hold several grids)."""
    got = featurize_many(grids + grids[::2])
    want = _oracle(grids + grids[::2])
    assert got.dtype == np.float64 and got.shape == want.shape
    assert np.array_equal(got, want)


@settings(max_examples=40, deadline=None)
@given(_grid())
def test_featurize_is_featurize_many_of_one(grid):
    assert np.array_equal(featurize(grid), _old_featurize(grid))
    assert np.array_equal(featurize(grid), featurize_many([grid])[0])


def test_featurize_many_every_small_shape_empty_and_full():
    """Every shape up to 40 x 40 with h or w in {1, 2, 3} (empty quadrants
    and thirds), plus all shapes up to 12 x 12, all-false and all-true."""
    shapes = {(h, w) for h in (1, 2, 3) for w in range(1, 41)}
    shapes |= {(w, h) for h, w in shapes}
    shapes |= {(h, w) for h in range(1, 13) for w in range(1, 13)}
    grids = [np.zeros(s, dtype=bool) for s in sorted(shapes)]
    grids += [np.ones(s, dtype=bool) for s in sorted(shapes)]
    assert np.array_equal(featurize_many(grids), _oracle(grids))


def test_featurize_many_mixed_batch_keeps_input_order():
    rng = np.random.RandomState(11)
    shapes = [(7, 5), (12, 9), (7, 5), (1, 4), (12, 9), (30, 2), (7, 5)]
    grids = [rng.rand(*s) < 0.45 for s in shapes]
    got = featurize_many(grids)
    for i, g in enumerate(grids):
        assert np.array_equal(got[i], _old_featurize(g))


def test_featurize_many_empty_batch():
    out = featurize_many([])
    assert out.shape == (0, N_FEATURES) and out.dtype == np.float64


def test_featurize_many_memory_is_small_per_pixel():
    """One 1500 x 1500 all-ink component (a table border, say) featurizes
    with peak traced allocation under 32 B per pixel."""
    grid = np.ones((1500, 1500), dtype=bool)
    tracemalloc.start()
    try:
        out = featurize_many([grid])
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert np.array_equal(out[0], np.ones(N_FEATURES))
    assert peak < 32 * grid.size, peak / grid.size
