"""SparkGrid — a deterministic procedural bitmap font.

The engine's fixtures are rendered with our own font (SURVEY §7 risk
register: goldens come from our deterministic renderer + the reference's
algorithm semantics — Java AWT antialiased rendering is not reproducible
here and PIL is absent). Design goals:

  * every character except the reference's multi-part set is a single
    8-connected component; the multi-part set (! " % : ; = ? i j) has
    exactly the piece structure the reference trains
    (recognition/similarity/Letter.java:16-120, OCRActions.java:85-189);
  * piece geometry fixes the trained distance ratios (distancei,
    colonDistance, …) so the merge-rule gates (tolerance 0.5/0.75 —
    mergence/rules/*.java) accept true merges and reject cross-line
    false positives at any integer scale;
  * the bulk alphabet uses unique stroke-combination bitmaps
    (16-segment-display style) so 17-segment feature vectors are
    well-separated for NN matching.

Design cell: 16 rows tall; glyph widths vary. A glyph bitmap is a full
16-row canvas (multi-part pieces embedded with their gaps). Rendering at
"pt" size 12·k is exact integer upscaling by k (np.kron), so all trained
height/gap ratios are scale-invariant.
"""

from __future__ import annotations

import numpy as np

CELL_HEIGHT = 16
TRACKING = 2          # blank columns between glyphs
SPACE_WIDTH = 5       # advance of ' ' is SPACE_WIDTH + TRACKING
LINE_GAP = 6          # blank rows between text lines (> merge-gate reach)
MARGIN_LEFT = 2       # small enough that no leading space is inferred
PT_PER_CELL = 12      # "pt size" 12*k renders at integer scale k


def pt_to_scale(pt: int) -> int:
    return max(1, round(pt / PT_PER_CELL))


def _from_rows(rows: list[str]) -> np.ndarray:
    """'#'=black spec → (16, w) bool canvas (rows may be < 16, top-aligned)."""
    w = max(len(r) for r in rows)
    g = np.zeros((CELL_HEIGHT, w), dtype=bool)
    for y, r in enumerate(rows):
        for x, ch in enumerate(r):
            if ch == "#":
                g[y, x] = True
    return g


def _rect(y0: int, y1: int, w: int) -> np.ndarray:
    g = np.zeros((CELL_HEIGHT, w), dtype=bool)
    g[y0 : y1 + 1, :] = True
    return g


# ---------------------------------------------------------------------------
# hand-designed structural glyphs (heights/gaps are load-bearing: they fix
# the trained metadata ratios — see module docstring)
# ---------------------------------------------------------------------------

_H: dict[str, np.ndarray] = {}

_H["."] = _rect(13, 15, 3)                       # 3x3 dot, bottom
_H["'"] = _rect(0, 4, 2)                         # 2x5 bar, top
_H["|"] = _rect(0, 15, 2)                        # 2x16 bar
_H["-"] = _rect(8, 9, 5)                         # 5x2 bar, middle
_H["_"] = _rect(14, 15, 10)                      # 10x2 bar, bottom

_H[","] = _from_rows([""] * 11 + ["###", "###", ".##", ".#", "#"])  # 3x5 comma
_H["l"] = _from_rows(["##"] * 14 + ["####", "####"])                # stem + foot

_H['"'] = _from_rows(["##..##"] * 5)             # two 2x5 bars, gap 2
# '!': 3x11 bar + 3x3 dot, gap 2 → distanceExclamation = 2/11
_H["!"] = _from_rows(["###"] * 11 + ["", ""] + ["###"] * 3)
# '?': distinctive curve (h11) + 3x3 dot, gap 2 → distanceQuestion = 2/11
_H["?"] = _from_rows(
    ["#####", "#...#", "....#", "....#", "...##", "..##", "..#", "..#", "..#",
     "..##", "..##", "", "", "..###", "..###", "..###"]
)
# 'i': 3x3 dot (rows 2-4) + 3x9 stem (rows 7-15), gap 2 → distancei = 2/9
_H["i"] = _from_rows(["", "", "###", "###", "###", "", ""] + ["###"] * 9)
# 'j': 3x3 dot + hook (rows 7-15, h9), gap 2 → distancej = 2/9
_H["j"] = _from_rows(
    ["", "", "..###", "..###", "..###", "", ""]
    + ["..###"] * 6 + ["..###", "####", "###"]
)
# ':': two 3x3 dots rows 5-7 / 11-13, gap 3 → colonDistance = 3/3 = 1.0
_H[":"] = _from_rows([""] * 5 + ["###"] * 3 + ["", "", ""] + ["###"] * 3)
# ';': 3x3 dot rows 5-7 + comma rows 11-15 (h5), gap 3 → semicolonDistance = 3/5
_H[";"] = _from_rows(
    [""] * 5 + ["###"] * 3 + ["", "", ""] + ["###", "###", ".##", ".#", "#"]
)
# '=': two 6x2 bars rows 6-7 / 10-11, gap 2 → equalsDistance = 2/2 = 1.0
_H["="] = _from_rows([""] * 6 + ["######"] * 2 + ["", ""] + ["######"] * 2)

_H["`"] = _from_rows(["##", ".##", "..##", "...#"])  # h4 diagonal tick


def _slash(w: int = 8) -> np.ndarray:
    """2px diagonal bottom-left → top-right, 8-connected."""
    g = np.zeros((CELL_HEIGHT, w), dtype=bool)
    for y in range(CELL_HEIGHT):
        x = round((CELL_HEIGHT - 1 - y) * (w - 2) / (CELL_HEIGHT - 1))
        g[y, x : x + 2] = True
    return g


_H["/"] = _slash()

# '%': 5x5 ring (rows 0-4, x0-4) + piecewise slash + 5x5 ring (rows 11-15,
# x4-8). The rings x-overlap each other (col 4) and the slash, so training's
# anchored X-overlap grouping collects all three pieces
# (OCRActions.java:143-146); the slash keeps a >=1-pixel moat from both
# rings so the three stay separate 8-connected components.
_ring = np.zeros((5, 5), dtype=bool)
_ring[0, :] = _ring[4, :] = _ring[:, 0] = _ring[:, 4] = True
_ring[1, 1] = _ring[1, 3] = _ring[3, 1] = _ring[3, 3] = True
_pc = np.zeros((CELL_HEIGHT, 9), dtype=bool)
_pc[0:5, 0:5] |= _ring          # left ring (trained mod 0 at scan order)
_pc[11:16, 4:9] |= _ring        # right ring
_slash_cols = (6, 6, 6, 6, 6, 6, 5, 4, 3, 2, 1, 1, 1, 1, 1, 1)
for _y, _x in enumerate(_slash_cols):
    _pc[_y, _x : _x + 2] = True
_H["%"] = _pc

_H["\\"] = _H["/"][:, ::-1].copy()

# ---------------------------------------------------------------------------
# procedural stroke-combination glyphs for everything else
# ---------------------------------------------------------------------------

# stroke ids for a (h, w) box with a mandatory full middle band (connectivity):
#   0 top band, 1 bottom band, 2 left-upper, 3 left-lower,
#   4 right-upper, 5 right-lower, 6 center-upper, 7 center-lower


def _stroke_glyph(h: int, w: int, combo: int) -> np.ndarray:
    g = np.zeros((h, w), dtype=bool)
    mid0 = (h - 2) // 2
    g[mid0 : mid0 + 2, :] = True  # mandatory middle band
    t = 2  # stroke thickness
    cx = (w - t) // 2
    if combo & 1:
        g[0:t, :] = True
    if combo & 2:
        g[h - t :, :] = True
    if combo & 4:
        g[0 : mid0 + 2, 0:t] = True
    if combo & 8:
        g[mid0:, 0:t] = True
    if combo & 16:
        g[0 : mid0 + 2, w - t :] = True
    if combo & 32:
        g[mid0:, w - t :] = True
    if combo & 64:
        g[0 : mid0 + 2, cx : cx + t] = True
    if combo & 128:
        g[mid0:, cx : cx + t] = True
    return g


def _embed(box: np.ndarray, row_offset: int) -> np.ndarray:
    g = np.zeros((CELL_HEIGHT, box.shape[1]), dtype=bool)
    g[row_offset : row_offset + box.shape[0], :] = box
    return g


# combos with >=2 strokes. Connectivity: the middle band is always present
# and touches every vertical stroke; a top band additionally needs an upper
# vertical, a bottom band a lower vertical.
def _connected_combo(c: int) -> bool:
    if c & 1 and not c & (4 | 16 | 64):
        return False
    if c & 2 and not c & (8 | 32 | 128):
        return False
    # full-height bbox: letters must reach both box edges, otherwise short
    # bboxes sit near apostrophe height and defeat the ApostropheMergeRule's
    # height-reference rejection (ApostropheMergeRule.java:75-88)
    if not c & (1 | 4 | 16 | 64):
        return False
    if not c & (2 | 8 | 32 | 128):
        return False
    return True


_QUALIFYING = [
    c for c in range(256) if bin(c).count("1") >= 2 and _connected_combo(c)
]

_FULL = "#$&()*+0123456789<>@ABCDEFGHIJKLMNOPQRSTUVWXYZ[]^{}~"
_LOW = "abcdefghkmnopqrstuvwxyz"

# NN safety margin: a trained class's per-scale feature vectors drift around
# the class mean (integer thirds/halves shift with scale), so combos are
# admitted greedily only if, at every scale, the distance to every other
# admitted class mean exceeds MARGIN x the distance to their own mean
# (+ the reference's sizeRatioWeight=4 aspect penalty, OCRActions.java:248-258)
_SCALES = range(1, 9)
_MARGIN = 2.0
_MIN_SEP = 0.05


def _class_stats(canvas: np.ndarray):
    """Per-scale feature vectors + mean + bbox ratio for one glyph piece."""
    from ..kernel.features import featurize_many

    ys, xs = np.nonzero(canvas)
    piece = canvas[ys.min() : ys.max() + 1, xs.min() : xs.max() + 1]
    vecs = featurize_many(
        [np.kron(piece, np.ones((k, k), dtype=bool)) for k in _SCALES]
    )
    ratio = piece.shape[1] / piece.shape[0]
    return vecs, vecs.mean(axis=0), ratio


def _hand_pieces(hand: dict[str, np.ndarray]) -> list[tuple[np.ndarray, np.ndarray, float]]:
    """Every connected piece of every hand glyph is its own trained class."""
    from ..kernel.ccl import connected_components

    stats = []
    for g in hand.values():
        comps = connected_components(g)
        stats.extend(_class_stats(piece) for piece in comps.grids(range(len(comps))))
    return stats


def _admissible(cand, selected) -> bool:
    vecs, mean, ratio = cand
    for ovecs, omean, oratio in selected:
        rpen = 4.0 * (oratio - ratio) ** 2
        own = ((vecs - mean) ** 2).sum(axis=1)
        other = ((vecs - omean) ** 2).sum(axis=1) + rpen
        if not ((other > _MARGIN * own + _MIN_SEP).all()):
            return False
        o_own = ((ovecs - omean) ** 2).sum(axis=1)
        o_other = ((ovecs - mean) ** 2).sum(axis=1) + rpen
        if not ((o_other > _MARGIN * o_own + _MIN_SEP).all()):
            return False
    return True


def _select_glyphs(
    hand: dict[str, np.ndarray],
    stroke_fn,
    full_spec: tuple[int, int, int],
    low_spec: tuple[int, int, int],
) -> dict[str, np.ndarray]:
    """Greedy admission of procedural stroke-combo glyphs around a fixed
    hand-designed structural set. Face-parametric: `stroke_fn(h, w, combo)`
    supplies the face's stroke geometry, `full_spec`/`low_spec` are
    (box_h, box_w, row_offset) for the upper-/lower-case pools."""
    selected = _hand_pieces(hand)
    glyphs = dict(hand)

    def fill(chars: str, h: int, w: int, offset: int) -> None:
        idx = 0
        for ch in chars:
            while True:
                if idx >= len(_QUALIFYING):
                    raise AssertionError(
                        f"stroke-combo pool exhausted at {ch!r}; widen strokes"
                    )
                combo = _QUALIFYING[(idx * 53) % len(_QUALIFYING)]
                idx += 1
                box = stroke_fn(h, w, combo)
                canvas = _embed(box, offset)
                cand = _class_stats(canvas)
                if _admissible(cand, selected):
                    selected.append(cand)
                    glyphs[ch] = canvas
                    break

    fill(_FULL, *full_spec)
    fill(_LOW, *low_spec)
    assert len(glyphs) == 95 - 1, f"expected 94 printable glyphs, got {len(glyphs)}"
    return glyphs


GLYPHS: dict[str, np.ndarray] = _select_glyphs(_H, _stroke_glyph, (16, 8, 0), (11, 7, 5))


# ---------------------------------------------------------------------------
# Font faces: the engine's analogue of the reference's multi-font support
# (one trained DB + HOCON config per font — HOCONFontConfiguration.java).
# A face bundles the glyph bitmaps with the font's spacing metrics; the
# trainer/scanner are face-agnostic, exactly as the reference's pipeline is
# font-agnostic once trained.
# ---------------------------------------------------------------------------

from typing import NamedTuple


class FontFace(NamedTuple):
    name: str
    glyphs: dict
    space_width: int
    tracking: int
    # Y-axis layout metrics (face-parametric since the tall faces: a
    # vertically stretched face has taller cells AND needs a wider
    # inter-line gap, because the trained Y-distance merge windows grow
    # with glyph height — see tall_face()'s gate-safety derivation).
    cell_height: int = CELL_HEIGHT
    line_gap: int = LINE_GAP


DEFAULT_FACE = FontFace("SparkGrid", GLYPHS, SPACE_WIDTH, TRACKING)

_WIDE: FontFace | None = None


def _widen(g: np.ndarray) -> np.ndarray:
    """1.5x horizontal stretch: every even column duplicated ([2,1,2,1,…]
    repeat pattern). Duplicating columns preserves 8-connectivity, so every
    glyph keeps its component structure."""
    pattern = np.where(np.arange(g.shape[1]) % 2 == 0, 2, 1)
    return np.repeat(g, pattern, axis=1)


def wide_face() -> FontFace:
    """SparkGridWide: glyphs (and spacing metrics) stretched 1.5x in X.
    Distinct trained geometry end-to-end: aspect ratios, space ratio,
    apostrophe x-gap ratio, custom-space ratios all differ from SparkGrid,
    while glyph connectivity and the Y-axis merge-rule gaps are preserved.
    1.5x (not 2x) because the reference's apostrophe gate replicates a unit
    quirk — the trained ratio uses the inter-piece GAP but the scan gate
    compares x-to-x distance against height*ratio (OCRTrain.java:163-165 vs
    ApostropheMergeRule.java:88-89) — and at 2x stretch no trained ratio
    can satisfy it (threshold shrinks as distance grows)."""
    global _WIDE
    if _WIDE is None:
        wide = {ch: _widen(g) for ch, g in GLYPHS.items()}
        _WIDE = FontFace("SparkGridWide", wide, SPACE_WIDTH + 3, TRACKING + 1)
    return _WIDE


# ---------------------------------------------------------------------------
# SparkGridSerif — a third face with genuinely different glyph topology
# (not a stretch of SparkGrid): thickness-3 serifed strokes, 2-row flat
# dots, and re-proportioned multi-part piece gaps, so EVERY trained
# distance ratio shifts vs both other faces and the mergence gates
# (kernel/mergence.py) are exercised at new operating points — the
# engine's analogue of the reference certifying six metrically distinct
# fonts (test/fonts/Font*.java via fonts/Accuracy.java:34-77).
#
# Trained-metadata targets (vs SparkGrid):
#   distancei/j        2/10 = 0.2      (was 2/9  ≈ 0.222)
#   colonDistance      4/2  = 2.0      (was 1.0)
#   semicolonDistance  4/6  ≈ 0.667    (was 0.6)
#   equalsDistance     4/3  ≈ 1.333    (was 1.0)
#   distanceQuestion/Exclamation 3/11 ≈ 0.273 (was 2/11 ≈ 0.182)
#   apostropheRatio    6/3  = 2.0      (was 2.5 narrow / 1.667 wide)
#   space w/h ratio   10/16 = 0.625    (was 7/16 ≈ 0.437)
#
# Gate-safety invariants (all scale-invariant because rendering is exact
# integer kron upscaling):
#   * UnderDot cross-line window: 1.75 · (3/11) · 16 ≈ 7.64 < 8 = LINE_GAP
#     + i-dot top row (the closest cross-line dot);
#   * OverDot vline window: 1.5 · 0.2 · 16 = 4.8 < 6 = LINE_GAP;
#   * EqualVertical colon window: 1.5 · 2.0 · 2 = 6 < 8 (nearest unmerged
#     cross-line dot pair at EqualVertical time);
#   * Apostrophe compare: every piece that can appear unmerged and
#     non-excluded when ApostropheMergeRule runs is > 2× the 6-row quote
#     piece height (lowercase 13, merged i/j 14, merged !/? 16, stems ≥ 10
#     only via merged forms — rule order UnderDot/EqualVertical/OverDot
#     first guarantees the merges happened).
# ---------------------------------------------------------------------------


def _h_serif() -> dict[str, np.ndarray]:
    H: dict[str, np.ndarray] = {}

    H["."] = _rect(14, 15, 3)                    # flat 3x2 serif dot
    H["'"] = _rect(0, 5, 3)                      # 3x6 bar, top
    H["|"] = _rect(0, 15, 3)                     # 3x16 bar

    def _band(y0: int, y1: int, w: int) -> np.ndarray:
        g = np.zeros((CELL_HEIGHT, w), dtype=bool)
        g[y0 : y1 + 1, :] = True
        return g

    H["-"] = _band(7, 9, 6)                      # 6x3 bar, middle
    H["_"] = _band(13, 15, 10)                   # 10x3 bar, bottom

    _comma = [""] * 10 + ["####", "####", ".###", ".##", "##", "#"]
    H[","] = _from_rows(_comma)                  # 4x6 comma, rows 10-15
    # serifed 'l': top serif + stem + foot (double serif, unlike i's stem)
    H["l"] = _from_rows(
        ["#####", "#####"] + [".###."] * 12 + ["#####", "#####"]
    )
    # '"': two 3x6 bars, gap 3 → apostropheRatio = 6/3 = 2.0 (vs 2.5
    # narrow / 1.667 wide). The scan gate's unit quirk (trained on the
    # inter-piece gap, gated on x-to-x distance — OCRTrain.java:163-165 vs
    # ApostropheMergeRule.java:88-89) holds: 6·2.0 = 12 ≥ 3+3; and every
    # possibly-unmerged non-excluded piece is > 2·6 = 12 tall (lowercase
    # boxes are 13 for exactly this reason).
    H['"'] = _from_rows(["###...###"] * 6)
    # '!': 3x11 bar + flat dot, gap 3 → distanceExclamation = 3/11
    H["!"] = _from_rows(["###"] * 11 + ["", "", ""] + ["###"] * 2)
    # '?': serif curve (h11) + flat dot, gap 3 → distanceQuestion = 3/11
    H["?"] = _from_rows(
        ["######", "##..##", "....##", "....##", "...###", "..###.",
         "..##..", "..##..", "..##..", "..##..", "..##.."]
        + ["", "", ""] + ["..###", "..###"]
    )
    # 'i': flat dot rows 2-3 + serif-footed stem rows 6-15 (h10), gap 2
    # → distancei = 2/10 = 0.2
    H["i"] = _from_rows(
        ["", "", ".###.", ".###.", "", ""] + [".###."] * 8 + ["#####"] * 2
    )
    # 'j': flat dot + hook (h10), gap 2 → distancej = 0.2
    H["j"] = _from_rows(
        ["", "", "...###", "...###", "", ""]
        + ["...###"] * 8 + [".####.", "####.."]
    )
    # ':': two flat dots rows 4-5 / 10-11, gap 4 → colonDistance = 4/2 = 2.0
    H[":"] = _from_rows([""] * 4 + ["###"] * 2 + [""] * 4 + ["###"] * 2)
    # ';': flat dot rows 4-5 + comma rows 10-15 (h6), gap 4 → 4/6
    H[";"] = _from_rows(
        [""] * 4 + [".###", ".###"] + [""] * 4
        + ["####", "####", ".###", ".##", "##", "#"]
    )
    # '=': two 8x3 bars rows 4-6 / 11-13, gap 4 → equalsDistance = 4/3
    H["="] = _from_rows([""] * 4 + ["########"] * 3 + [""] * 4 + ["########"] * 3)
    # h5 thick diagonal tick; trailing custom-space ratio = tracking/5 = 0.6
    H["`"] = _from_rows(["##", "###", ".###", "..###", "...##"])

    def _slash3(w: int = 8) -> np.ndarray:
        g = np.zeros((CELL_HEIGHT, w), dtype=bool)
        for y in range(CELL_HEIGHT):
            x = round((CELL_HEIGHT - 1 - y) * (w - 3) / (CELL_HEIGHT - 1))
            g[y, x : x + 3] = True
        return g

    H["/"] = _slash3()
    H["\\"] = H["/"][:, ::-1].copy()

    # '%': 6x6 hollow rings + 2px piecewise slash, ≥2-col moats; rings
    # x-overlap each other (col 5) and the slash so training's anchored
    # grouping collects all three (OCRActions.java:143-146)
    ring = np.zeros((6, 6), dtype=bool)
    ring[0, :] = ring[5, :] = ring[:, 0] = ring[:, 5] = True
    pc = np.zeros((CELL_HEIGHT, 11), dtype=bool)
    pc[0:6, 0:6] |= ring
    pc[10:16, 5:11] |= ring
    slash_cols = (8, 8, 8, 8, 8, 8, 7, 5, 3, 1, 1, 1, 1, 1, 1, 1)
    for y, x in enumerate(slash_cols):
        pc[y, x : x + 2] = True
    H["%"] = pc
    return H


def _stroke_glyph_serif(h: int, w: int, combo: int) -> np.ndarray:
    """Serif stroke geometry: thickness-3 verticals, 3-row middle band,
    2-row top/bottom bands, and 1px serif caps at free stroke ends."""
    g = np.zeros((h, w), dtype=bool)
    mid0 = (h - 3) // 2
    g[mid0 : mid0 + 3, :] = True
    t = 3
    cx = (w - t) // 2

    def serif(row: int, x0: int) -> None:
        g[row, max(0, x0 - 1) : min(w, x0 + t + 1)] = True

    if combo & 1:
        g[0:2, :] = True
    if combo & 2:
        g[h - 2 :, :] = True
    if combo & 4:
        g[0 : mid0 + 3, 0:t] = True
        if not combo & 1:
            serif(0, 0)
    if combo & 8:
        g[mid0:, 0:t] = True
        if not combo & 2:
            serif(h - 1, 0)
    if combo & 16:
        g[0 : mid0 + 3, w - t :] = True
        if not combo & 1:
            serif(0, w - t)
    if combo & 32:
        g[mid0:, w - t :] = True
        if not combo & 2:
            serif(h - 1, w - t)
    if combo & 64:
        g[0 : mid0 + 3, cx : cx + t] = True
        if not combo & 1:
            serif(0, cx)
    if combo & 128:
        g[mid0:, cx : cx + t] = True
        if not combo & 2:
            serif(h - 1, cx)
    return g


_SERIF: FontFace | None = None


def serif_face() -> FontFace:
    """SparkGridSerif: built lazily (the greedy admission re-runs for the
    serif stroke pool). Wider space (7) and tracking (3) than SparkGrid."""
    global _SERIF
    if _SERIF is None:
        glyphs = _select_glyphs(
            _h_serif(), _stroke_glyph_serif, (16, 9, 0), (13, 8, 3)
        )
        _SERIF = FontFace("SparkGridSerif", glyphs, 7, 3)
    return _SERIF


_WIDE_SERIF: FontFace | None = None


def wide_serif_face() -> FontFace:
    """SparkGridWideSerif: the serif glyph set under the proven 1.5x
    horizontal stretch — the narrow/wide x sans/serif corner of what is
    now a {base, wide, tall} x {sans, serif} grid of six certified faces
    (count parity with the reference's six certified fonts,
    test/fonts/Font*.java via fonts/Accuracy.java:34-77). Every X-based
    trained ratio shifts vs ALL three other faces (apostropheRatio
    1.5, was 2.5 / 1.667 / 2.0; space w/h 0.875, was
    0.437 / 0.656 / 0.625; every avg width/height aspect 1.5x the serif
    one), while the Y-axis merge windows inherit the serif operating
    points (colonDistance 2.0, distancei 0.2) — so the scan gates run at
    a fourth distinct corner of the metric space. Gate safety: _widen
    preserves 8-connectivity (column duplication) and all the serif
    face's Y-axis invariants verbatim (X-stretch never moves a row); the
    apostrophe gate passes because the trained gap-based ratio and the
    scan's x-to-x distance scale together under the stretch, exactly as
    proven for SparkGridWide at 1.5x (OCRTrain.java:163-165 vs
    ApostropheMergeRule.java:88-89 unit quirk)."""
    global _WIDE_SERIF
    if _WIDE_SERIF is None:
        s = serif_face()
        glyphs = {ch: _widen(g) for ch, g in s.glyphs.items()}
        _WIDE_SERIF = FontFace(
            "SparkGridWideSerif", glyphs, s.space_width + 3, s.tracking + 1
        )
    return _WIDE_SERIF


# ---------------------------------------------------------------------------
# SparkGridTall / SparkGridTallSerif — the Y-axis duals of the wide faces,
# completing a {base, 1.5x-X, 1.5x-Y} x {sans, serif} grid of SIX certified
# faces — exact parity with the reference's six certified fonts
# (test/fonts/Font*.java via fonts/Accuracy.java:34-77).
#
# Where the wide faces shift every X-based trained metric and keep the
# Y-axis merge windows, the tall faces do the opposite: every ABSOLUTE
# Y-distance window scales 1.5x (so the mergence gates run at new
# operating points in pixels), every aspect ratio (avg_w/avg_h, the NN's
# sizeRatioWeight=4 penalty input — OCRActions.java:248-258) shrinks 1.5x,
# and the Y-ratios themselves shift wherever the odd-row duplication
# rounds gap and piece height differently (parity effects):
#
#   SparkGridTall (vs SparkGrid):   distancei/j 3/14 ≈ 0.214 (was 2/9);
#     colonDistance 4/5 = 0.8 (was 1.0); semicolonDistance 4/8 = 0.5
#     (was 0.6); distanceExcl/Question 3/16 = 0.1875 (was 2/11);
#     apostropheRatio 7/2 = 3.5 (was 2.5); space w/h 5/24 (was 5/16).
#     equalsDistance stays 1.0 (gap and bars scale together) — the exact
#     dual of the wide faces keeping ALL Y-ratios.
#   SparkGridTallSerif (vs SparkGridSerif): distanceExclamation 5/16 =
#     0.3125 (was 3/11); equalsDistance shifts (gap 6 vs bars 4/5, was
#     4/3); apostropheRatio 9/3 = 3.0 (was 2.0); scale-invariant ratios
#     (distancei 0.2, colonDistance 2.0, semicolonDistance 2/3) persist
#     while their pixel windows grow 1.5x.
#
# Gate-safety derivation (the face-parametric line_gap exists for this):
# cross-line merge windows grow with glyph height, so each tall face
# carries its own line_gap. Worst cases, tall-sans (cell 24, line_gap 9):
#   * OverDot cross-line: a '.'-dot bottom sits at the cell floor (24);
#     the nearest next-line vline top is at row 0 → difference =
#     line_gap = 9 > 1.5 · distancei · max_height = 1.5·(3/14)·24 ≈ 7.71;
#   * UnderDot cross-line: deepest target bottom 24, earliest next-line
#     dot top (i-dot) at row 3 → difference = 9 + 3 = 12 >
#     1.75 · (3/16) · 24 = 7.875;
#   * EqualVertical cross-line dot pair: 9 + 3 = 12 > 1.5·0.8·min_h(4) = 4.8;
#   * Apostrophe compare floor: quote pieces are 7 tall; every piece that
#     can appear unmerged and non-excluded when ApostropheMergeRule runs
#     exceeds 2x7: lowercase 17, merged i/j 21, merged !/? 24, full boxes
#     24 (stems only via merged forms — rule order UnderDot/EqualVertical/
#     OverDot first, as for the serif face).
# Tall-serif (cell 24, line_gap 11):
#   * UnderDot window 1.75 · (5/16) · 24 = 13.125 < 11 + 3 (i-dot top);
#   * OverDot window 1.5 · 0.2 · 24 = 7.2 < 11;
#   * EqualVertical colon window 1.5 · 2.0 · 3 = 9 < 11 + 3;
#   * Apostrophe floor: quote 9 tall; lowercase 20, merged i/j 21,
#     merged !/? 24 — all > 18.
# Same-line true merges stay exact because trained ratios and scan
# distances are measured on the SAME stretched geometry (integer-kron
# scale invariance as for every other face).
# ---------------------------------------------------------------------------


def _tallen(g: np.ndarray) -> np.ndarray:
    """1.5x vertical stretch: every odd row duplicated ([1,2,1,2,…] repeat
    pattern — the Y-dual of _widen). Row duplication preserves
    8-connectivity, so every glyph keeps its component structure."""
    pattern = np.where(np.arange(g.shape[0]) % 2 == 1, 2, 1)
    return np.repeat(g, pattern, axis=0)


_TALL: FontFace | None = None
_TALL_SERIF: FontFace | None = None


def tall_face() -> FontFace:
    """SparkGridTall: the base glyph set stretched 1.5x in Y (cell 24).
    X metrics (space_width, tracking) are inherited; line_gap grows to 9
    per the cross-line window derivation above."""
    global _TALL
    if _TALL is None:
        glyphs = {ch: _tallen(g) for ch, g in GLYPHS.items()}
        _TALL = FontFace(
            "SparkGridTall", glyphs, SPACE_WIDTH, TRACKING,
            cell_height=24, line_gap=9,
        )
    return _TALL


def tall_serif_face() -> FontFace:
    """SparkGridTallSerif: the serif glyph set stretched 1.5x in Y —
    the sixth certified face. line_gap 11 per the derivation above."""
    global _TALL_SERIF
    if _TALL_SERIF is None:
        s = serif_face()
        glyphs = {ch: _tallen(g) for ch, g in s.glyphs.items()}
        _TALL_SERIF = FontFace(
            "SparkGridTallSerif", glyphs, s.space_width, s.tracking,
            cell_height=24, line_gap=11,
        )
    return _TALL_SERIF


FACES = {
    "SparkGrid": lambda: DEFAULT_FACE,
    "SparkGridWide": wide_face,
    "SparkGridSerif": serif_face,
    "SparkGridWideSerif": wide_serif_face,
    "SparkGridTall": tall_face,
    "SparkGridTallSerif": tall_serif_face,
}
