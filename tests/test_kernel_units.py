"""Operator unit tests (FIXTURES.md §7) — the reference has none of these
(SURVEY §5); hand-checked expectations per operator."""

import os

import numpy as np
import pytest

from newocr_spark.codecs.png import decode_png, encode_png
from newocr_spark.kernel.ccl import connected_components
from newocr_spark.kernel.features import featurize
from newocr_spark.kernel.grid import binarize, remove_leading_spaces
from newocr_spark.kernel.lines import line_bounds
from newocr_spark.kernel.spacing import space_round

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def g(rows):
    return np.array([[c == "#" for c in row] for row in rows], dtype=bool)


# ---------------- PNG codec ----------------

def test_png_roundtrip_gray():
    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, size=(33, 57), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_png_roundtrip_rgb():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(21, 13, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


# ---------------- binarization (F1) ----------------

def test_binarize_threshold():
    # (R+G+B)/3 < 191.25 → black (OCRUtils.java:188-195)
    img = np.array([[[191, 191, 191], [192, 192, 192]]], dtype=np.uint8)
    assert binarize(img).tolist() == [[True, False]]


def test_binarize_gray():
    img = np.array([[0, 191, 192, 255]], dtype=np.uint8)
    assert binarize(img).tolist() == [[True, True, False, False]]


# ---------------- leading spaces (F4) ----------------

def test_remove_leading_spaces():
    assert remove_leading_spaces("  ab\n   cd") == "ab\n cd"
    assert remove_leading_spaces("ab\n  cd") == "ab\n  cd"


# ---------------- CCL (G2/G3) ----------------

def test_ccl_simple_components():
    comps = connected_components(g([
        "##..#",
        "##..#",
        ".....",
        "#....",
    ]))
    assert len(comps) == 3
    # discovery order: raster order of first pixel
    assert (comps.x.tolist(), comps.y.tolist()) == ([0, 4, 0], [0, 0, 3])
    assert (comps.width[0], comps.height[0]) == (2, 2)
    assert comps.grid(0).all() and comps.grid(1).tolist() == [[True], [True]]


def test_ccl_eight_connectivity():
    # diagonal touch joins (SearchImage.scanFrom checks all 8 neighbours)
    comps = connected_components(g([
        "#..",
        ".#.",
        "..#",
    ]))
    assert len(comps) == 1
    assert comps.pixel_count[0] == 3
    assert comps.grid(0).tolist() == [
        [True, False, False], [False, True, False], [False, False, True],
    ]


def test_ccl_u_shape_union():
    # two arms joined at the bottom — run-based union-find must merge
    comps = connected_components(g([
        "#.#",
        "#.#",
        "###",
    ]))
    assert len(comps) == 1
    assert (comps.width[0], comps.height[0]) == (3, 3)
    assert comps.pixel_count[0] == 7


# ---------------- 17-seg featurization (G5) ----------------

def test_featurize_full_block():
    # fully-filled 6x6: every segment 100%
    v = featurize(np.ones((6, 6), dtype=bool))
    assert np.allclose(v, 1.0)


def test_featurize_empty_segment_is_one():
    # 1-row glyph: top half has 0 rows → its 4 diagonal pairs are (0,0) → 1.0
    # (SearchCharacter.java:103: total == 0 → 1)
    v = featurize(g(["##"]))
    assert np.allclose(v[:4], 1.0)


def test_featurize_half_fill_grid():
    # left half black, right half white, 6x6: 3x3 grid: left col 1.0,
    # middle col 1.0 (cols 2-3: col2 black... verify exact integer splits)
    grid = np.zeros((6, 6), dtype=bool)
    grid[:, :3] = True
    v = featurize(grid)
    # thirds: cols [0,2),[2,4),[4,6) → fills 1.0, 0.5, 0.0 per row band
    assert np.allclose(v[8:], [1.0, 0.5, 0.0] * 3)


def test_featurize_diagonal_flags():
    """The reference's quadrant diagonal flags are [False, True, True, True]
    (short-circuited counter, SearchCharacter.java:86) — regression-pin the
    exact 8 diagonal values of an asymmetric glyph."""
    grid = g([
        "##......",
        "##......",
        "##......",
        "##......",
        "########",
        "########",
        "........",
        "........",
    ])
    v = featurize(grid)
    # hand-derived with the reference algorithm
    q = grid[:4, :4]
    assert q.sum() == 8
    expected_first = _diag_ref(q, increasing=False)
    assert v[0] == pytest.approx(expected_first[0])
    assert v[1] == pytest.approx(expected_first[1])
    tr = _diag_ref(grid[:4, 4:], increasing=True)
    assert v[2] == pytest.approx(tr[0])
    bl = _diag_ref(grid[4:, :4], increasing=True)  # NOT False — the quirk
    assert v[4] == pytest.approx(bl[0])
    assert v[5] == pytest.approx(bl[1])


def _diag_ref(section, increasing):
    """Literal transcription of SegmentationUtils.getDiagonal for the test."""
    h, w = section.shape
    slope = h / w
    top_true = top_size = bottom_true = bottom_size = 0
    for x in range(w):
        y_pos = int(h - slope * x) if increasing else int(slope * x)
        for y in range(h):
            if y < y_pos:
                bottom_true += bool(section[y, x])
                bottom_size += 1
            else:
                top_true += bool(section[y, x])
                top_size += 1
    t = 1.0 if top_size == 0 else top_true / top_size
    b = 1.0 if bottom_size == 0 else bottom_true / bottom_size
    return t, b


# ---------------- line bounds (G1) ----------------

def test_line_bounds_basic():
    pop = [False, True, True, True, False, False, True, True, False]
    assert line_bounds(pop) == [(1, 4), (6, 8)]


def test_line_bounds_trailing_run_dropped():
    # reference quirk: a run still open at the image edge is never flushed
    pop = [False, True, True]
    assert line_bounds(pop) == []


def test_line_bounds_underscore_merge():
    # pass 2: below line merges when belowHeight/currentHeight <= 0.5
    pop = [True] * 10 + [False] * 2 + [True] * 4 + [False]
    # heights 10 and 4 → 0.4 <= 0.5 → merged
    assert line_bounds(pop) == [(0, 16)]


def test_line_bounds_no_merge_above_half():
    pop = [True] * 10 + [False] * 2 + [True] * 6 + [False]
    # 6/10 = 0.6 > 0.5 → two lines
    assert line_bounds(pop) == [(0, 10), (12, 18)]


# ---------------- spacing (O3) ----------------

def test_space_round_boundary():
    # floor + 1 iff fractional part > 0.8 (OCRScan.java:233-238)
    assert space_round(0.79) == 0
    assert space_round(0.81) == 1
    assert space_round(1.5) == 1
    assert space_round(2.85) == 3


# ---------------- NN ranking + glyph cache (J1) ----------------

def test_order_rows_matches_per_row_lexsort():
    """The batch's one lexsort gives every row the order the per-glyph
    lexsort gave, ties included: scores drawn from three values, and
    letter codes shared between modifiers, force ties at every level."""
    from newocr_spark.kernel.scan import _order_rows

    rng = np.random.RandomState(3)
    for g_count, n in ((1, 7), (40, 95), (257, 30)):
        scores = rng.randint(0, 3, size=(g_count, n)).astype(np.float64) / 7
        codes = rng.randint(33, 40, size=n)
        mods = rng.randint(0, 3, size=n)
        got = _order_rows(scores, codes, mods)
        assert got.dtype == np.int16 and got.shape == (g_count, n)
        for i in range(g_count):
            assert got[i].tolist() == np.lexsort((mods, codes, scores[i])).tolist()


def test_rank_blocks_equal_one_unblocked_rank(monkeypatch):
    """Ranking in blocks of ``_RANK_BLOCK`` glyphs gives every row the order
    one unblocked rank gives it. Model rows repeat three segment vectors
    and share letter codes, and glyph features repeat too, so scores and
    letters tie and the modifier breaks the tie."""
    from types import SimpleNamespace

    from newocr_spark.kernel import scan

    rng = np.random.RandomState(5)
    n = 30
    model = SimpleNamespace(
        segments=rng.rand(3, 17)[rng.randint(0, 3, size=n)],
        trained_ratios=np.where(rng.rand(n) < 0.2, np.nan, rng.randint(1, 4, size=n) / 2.0),
        ratio_weights=rng.randint(0, 3, size=n).astype(np.float64),
        letter_codes=rng.randint(33, 40, size=n),
        modifiers=rng.randint(0, 3, size=n),
    )
    g_count = 2 * scan._RANK_BLOCK + 3
    feats = np.vstack([model.segments, rng.rand(5, 17)])[rng.randint(0, n + 5, size=g_count)]
    ratios = rng.randint(1, 4, size=g_count) / 2.0
    got = scan._rank_candidates(model, feats, ratios)
    monkeypatch.setattr(scan, "_RANK_BLOCK", g_count)
    want = scan._rank_candidates(model, feats, ratios)
    assert got.dtype == np.int16 and got.shape == (g_count, n)
    assert np.array_equal(got, want)


def test_noise_page_rank_memory_is_bounded(monkeypatch):
    """A noise-filled page misses the glyph cache with tens of thousands of
    distinct glyphs; ranking them in blocks keeps the traced peak of CCL
    plus the rank far below the unblocked (g, N, 17) distance tensor
    (about 670 MB)."""
    import tracemalloc

    from newocr_spark.artifacts import get_model
    from newocr_spark.kernel import scan

    monkeypatch.setattr(scan, "_CAND_CACHE", type(scan._CAND_CACHE)())
    m = get_model()
    grid = np.random.default_rng(0).random((2000, 2000)) < 0.3
    tracemalloc.start()
    try:
        comps = connected_components(grid)
        scan._candidates_for(comps, np.arange(len(comps)), m)
        _cur, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(scan._CAND_CACHE) > 40_000
    assert peak < 256e6


def test_long_line_mergence_memory_is_bounded():
    """A line of 20,000 letters, every other one a dot, runs mergence in
    memory linear in its letters: the piece test takes a running max over
    the dots sorted by start instead of a letters × dots matrix (about
    200 MB per temporary here)."""
    import tracemalloc

    from newocr_spark.artifacts import get_model
    from newocr_spark.kernel.mergence import run_mergence
    from newocr_spark.kernel.scan import ImageLetter

    line = [
        ImageLetter(".", 0, 3 * k, 8, 2, 2) if k % 2 else ImageLetter("a", 0, 3 * k, 0, 2, 10)
        for k in range(20_000)
    ]
    tracemalloc.start()
    try:
        out = run_mergence([(5, line)], get_model())
        _cur, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(out) == 1 and len(out[0][1]) == 20_000
    assert peak < 32 * 2**20


def test_long_line_mergence_time_is_linear():
    """A line of 40,000 'l's is 40,000 Apostrophe targets: the sweep finds
    each from a cursor, where a line.index scan from the head of the line
    for every target makes the pass quadratic in the line."""
    import time

    from newocr_spark.artifacts import get_model
    from newocr_spark.kernel.mergence import run_mergence
    from newocr_spark.kernel.scan import ImageLetter

    line = [ImageLetter("l", 0, 3 * k, 0, 2, 10) for k in range(40_000)]
    t0 = time.perf_counter()
    out = run_mergence([(5, line)], get_model())
    elapsed = time.perf_counter() - t0
    assert len(out) == 1 and len(out[0][1]) == 40_000
    assert elapsed < 4.0


def test_components_in_no_line_are_not_ranked(monkeypatch):
    """Only components that land in a line are featurized and ranked. A
    noise grid inked down to its last row has no line (a run still open at
    the bottom edge is never flushed, lines.py), so its scan adds nothing
    to the glyph cache."""
    from newocr_spark.artifacts import get_model
    from newocr_spark.kernel import scan

    monkeypatch.setattr(scan, "_CAND_CACHE", type(scan._CAND_CACHE)())
    grid = np.random.default_rng(0).random((300, 300)) < 0.3
    assert scan.scan_grid(grid, get_model()) == []
    assert len(scan._CAND_CACHE) == 0


def test_glyph_cache_ranks_each_missed_key_once(monkeypatch):
    """A glyph that misses the cache several times in one image is
    featurized once; a second scan of the image featurizes nothing."""
    from newocr_spark.artifacts import get_model
    from newocr_spark.font.render import render_text_png
    from newocr_spark.kernel import scan

    batches = []
    real = scan.featurize_many

    def spy(grids):
        batches.append(len(grids))
        return real(grids)

    monkeypatch.setattr(scan, "featurize_many", spy)
    monkeypatch.setattr(scan, "_CAND_CACHE", type(scan._CAND_CACHE)())
    m = get_model()
    png = render_text_png(["abab baa"], 2)
    assert scan.scan_image_bytes(png, m) == "abab baa"
    assert batches == [2]
    assert scan.scan_image_bytes(png, m) == "abab baa"
    assert batches == [2]


def test_glyph_cache_hits_across_pickled_model(monkeypatch):
    """A model's cache entries key on its content digest, not its object
    identity: an unpickled copy (what every executor gets from a
    broadcast) hits the entries the original filled and featurizes
    nothing."""
    import pickle

    from newocr_spark.artifacts import get_model
    from newocr_spark.font.render import render_text_png
    from newocr_spark.kernel import scan

    batches = []
    real = scan.featurize_many

    def spy(grids):
        batches.append(len(grids))
        return real(grids)

    monkeypatch.setattr(scan, "featurize_many", spy)
    monkeypatch.setattr(scan, "_CAND_CACHE", type(scan._CAND_CACHE)())
    m = get_model()
    png = render_text_png(["abab baa"], 2)
    assert scan.scan_image_bytes(png, m) == "abab baa"
    assert batches == [2]
    copy = pickle.loads(pickle.dumps(m))
    assert copy is not m and copy.segments is not m.segments
    assert copy.digest == m.digest
    assert np.array_equal(copy.letter_codes, m.letter_codes)
    assert np.array_equal(copy.modifiers, m.modifiers)
    assert scan.scan_image_bytes(png, copy) == "abab baa"
    assert batches == [2]


def test_model_digest_differs_across_faces():
    """Two faces never share a glyph-cache key: their digests differ."""
    from newocr_spark import artifacts
    from newocr_spark.artifacts import get_model

    digests = {name: get_model(name).digest for name in artifacts._DIRS}
    assert len(digests) == 6
    assert len(set(digests.values())) == len(digests)


def _bars(widths):
    """One row of horizontal bars of the given widths, two blank columns
    apart: one component per bar, in the given order."""
    grid = np.zeros((3, sum(widths) + 2 * len(widths)), dtype=bool)
    x = 0
    for w in widths:
        grid[1, x : x + w] = True
        x += w + 2
    return grid


def test_glyph_cache_lru_cap(monkeypatch):
    """The glyph cache never holds more than ``_CAND_CACHE_MAX`` entries;
    it evicts the entry least recently inserted or hit, so the oldest
    untouched entry goes first and one refreshed by a hit survives."""
    from newocr_spark.artifacts import get_model
    from newocr_spark.kernel import scan

    monkeypatch.setattr(scan, "_CAND_CACHE", type(scan._CAND_CACHE)())
    monkeypatch.setattr(scan, "_CAND_CACHE_MAX", 3)
    m = get_model()
    comps = connected_components(_bars([1, 2, 3, 4, 5, 6, 7, 8, 9]))
    keys = [(m.digest, 1, w, sig) for w, sig in zip(comps.width.tolist(), comps.signatures())]

    def lookup(*which):
        scan._candidates_for(comps, np.array(which, dtype=np.int64), m)
        assert len(scan._CAND_CACHE) <= 3
        return list(scan._CAND_CACHE)

    assert lookup(0) == keys[:1]
    assert lookup(1, 2) == keys[:3]
    assert lookup(0) == [keys[1], keys[2], keys[0]]  # a hit refreshes 0
    assert lookup(3) == [keys[2], keys[0], keys[3]]  # 1, the oldest untouched, goes
    assert lookup(4, 5, 6, 7, 8) == keys[6:9]  # more misses than the cap at once


def test_glyph_cache_entry_bytes(monkeypatch):
    """A glyph-cache entry holds uint8 run bytes in its key and uint8 model
    rows as its candidate order: over 40 salted scale-4 renders (nearly
    every glyph unique) from a cleared cache, the traced bytes the scans
    leave behind, per entry, stay under 700 (int32 runs and int16 orders
    take about 1,200)."""
    import tracemalloc

    from newocr_spark.artifacts import get_model
    from newocr_spark.font.render import render_text_image
    from newocr_spark.kernel import scan

    monkeypatch.syspath_prepend(PERFBENCH)
    import inputs

    m = get_model()
    texts = inputs.corpus_texts(7, 40)
    grids = [
        binarize(inputs.interior_salt(render_text_image([t], inputs.SALT_SCALE), inputs.SALT_RATE, d))
        for d, t in enumerate(texts)
    ]
    monkeypatch.setattr(scan, "_CAND_CACHE", type(scan._CAND_CACHE)())
    scan.scan_grid(grids[0], m)  # first-call state outside the trace
    scan._CAND_CACHE.clear()
    tracemalloc.start()
    try:
        for grid in grids:
            scan.scan_grid(grid, m)
        held, _peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(scan._CAND_CACHE) > 5_000
    assert held / len(scan._CAND_CACHE) < 700


def test_glyph_cache_keys_exact_at_the_uint8_edge(monkeypatch):
    """Run signatures switch from uint8 to int32 bytes past 255 rows or
    columns. At 255, 256 and 257 the key stays exact: equal grids give
    equal keys, grids that differ give different keys (a 257-wide pair
    whose runs agree modulo 256 among them), and warm lookups return the
    orders a cold scan ranks."""
    from newocr_spark.artifacts import get_model
    from newocr_spark.kernel import scan
    from newocr_spark.kernel.features import featurize_many

    def stamp(h, w, col):
        s = np.zeros((h, w), dtype=bool)
        s[-1] = True  # a full bottom row joins the two columns
        s[:, 0] = s[:, col] = True
        return s

    stamps = [stamp(h, w, n) for h, w in ((255, 255), (256, 256), (255, 256), (256, 255),
                                          (257, 257), (4, 256), (256, 4))
              for n in (0, 1, min(h, w) - 1) for _copy in (0, 1)]
    odd = np.zeros((2, 257), dtype=bool)
    odd[1] = True
    twin = odd.copy()
    odd[0, 0], twin[0, 256] = True, True  # runs (0, 0, 1) and (0, 256, 257)
    stamps += [odd, twin]
    grid = np.zeros((259, sum(s.shape[1] + 2 for s in stamps)), dtype=bool)
    x = 0
    for s in stamps:
        grid[1 : 1 + s.shape[0], x : x + s.shape[1]] = s
        x += s.shape[1] + 2
    comps = connected_components(grid)
    assert len(comps) == len(stamps)
    keys = list(zip(comps.height.tolist(), comps.width.tolist(), comps.signatures()))
    for i, gi in enumerate(stamps):
        for j, gj in enumerate(stamps):
            same = gi.shape == gj.shape and np.array_equal(gi, gj)
            assert (keys[i] == keys[j]) == same

    m = get_model()
    idx = np.arange(len(comps))
    want = scan._rank_candidates(m, featurize_many(comps.grids(idx)), comps.width / comps.height)
    monkeypatch.setattr(scan, "_CAND_CACHE", type(scan._CAND_CACHE)())
    cold = scan._candidates_for(comps, idx, m)
    warm = scan._candidates_for(comps, idx, m)
    for w, c, h in zip(want, cold, warm):
        assert list(c) == list(h) == w.tolist()
