"""Full recognition kernel: bool grid → recognized text lines.

This is the UDF-local core (SURVEY §3.1 steps 3-10) — numpy over the
image's component arrays, with Python-level work paid per glyph-cache miss
and per matched letter, not per pixel or per component object. Pipeline:

  line_bounds (G1) → connected_components (G2/G3)
  → component budget (codecs/limits.py: MAX_COMPONENTS)
  → line assignment, consume-on-match (J2/X1, OCRScan.java:142-166)
  → featurize (G5) of the components that landed in a line
  → vectorized NN vs the broadcast font model (J1, OCRActions.java:197-269)
  → mergence rules (M1-M6) → space insertion (O3, OCRScan.java:189-238)
  → assembly (O1/O2/O4).

The NN hot loop is one (n_glyphs, N_trained) matrix expression instead of
the reference's per-character hash-map loop (OCRActions.java:199-210), and
glyph bitmaps memoize their candidate ranking in a worker-local LRU (a
font glyph cache: identical bitmaps recur constantly in rendered corpora,
and the ranking is a pure function of bitmap + broadcast model). The cache
key is (model digest, height, width, run signature): a content hash of
everything the ranking reads from the model, and a component's
bbox-relative runs as bytes, straight from the CCL arrays. Two components
of one shape have equal runs exactly when their grids are equal, so the
key is exact, and a hit builds no grid. The grids of an image's misses
are built together, each distinct missed key is ranked once, and the
featurizer does its numpy work per shape group of misses, not per glyph
(kernel/features.py).

Deterministic deviation (documented): the reference sorts NN candidates
with equal scores in hash-map iteration order and runs merge rules over
ConcurrentHashMap iteration order — both nondeterministic in Java. We
tie-break candidates by (letter, modifier) and iterate letters in reading
order (line insertion order, then x), which is deterministic and matches
the reference wherever the reference itself is well-defined.
"""

from __future__ import annotations

from collections import OrderedDict
from itertools import repeat

import numpy as np

from ..codecs.limits import check_components
from ..model import FontModel
from .ccl import connected_components
from .features import featurize_many
from .grid import binarize, rows_populated
from .lines import line_bounds
from .mergence import run_mergence
from .spacing import insert_spaces


class ImageLetter:
    """A matched glyph (character/ImageLetter.java): the state mergence,
    spacing, font size and rendering read. ``letter``/``mod`` are the head
    of ``cands``, the NN candidate order as row indices into the font
    model's label table: ``bytes`` of uint8 rows when the model has at
    most 256 rows, else an int16 array; either way ``cands[pos]`` is an
    int. setNextClosest (ImageLetter.java:203-205) advances the pointer.
    Synthetic spaces have no candidates."""

    __slots__ = (
        "letter", "mod", "x", "y", "width", "height",
        "amount_of_merges", "merged_pieces", "_cands", "_cand_pos",
    )

    def __init__(self, letter, mod, x, y, width, height, cands=None):
        self.letter = letter
        self.mod = mod
        self.x = x
        self.y = y
        self.width = width
        self.height = height
        self.amount_of_merges = 0
        # pieces merged into this letter: [(letter, mod, height)] incl. self
        self.merged_pieces: list[tuple[str, int, int]] | None = None
        self._cands = cands      # model rows, best-first: uint8 bytes or int16 array
        self._cand_pos = 0       # current head position in _cands

    def has_next_closest(self) -> bool:
        return self._cands is not None and self._cand_pos + 1 < len(self._cands)

    def set_next_closest(self, labels: list[tuple[str, int]]) -> None:
        """Adopt the next-best NN candidate's identity. ``labels`` is the
        (letter, modifier) table of the model that ranked the candidates
        (``FontModel.letters``); the letter holds only row indices."""
        self._cand_pos += 1
        self.letter, self.mod = labels[self._cands[self._cand_pos]]

    def merge(self, other: "ImageLetter") -> None:
        """CoordinateCharacter.merge (:30-77). Union bboxes; note the
        reference quirk: merged width/height lose the +1 used at
        construction (:67-68) — replicated."""
        if self.merged_pieces is None:
            self.merged_pieces = [(self.letter, self.mod, self.height)]
        if other.merged_pieces is not None:
            self.merged_pieces.extend(other.merged_pieces)
        else:
            self.merged_pieces.append((other.letter, other.mod, other.height))
        self.amount_of_merges += 1
        min_x = min(self.x, other.x)
        max_x = max(self.x + self.width - 1, other.x + other.width - 1)
        min_y = min(self.y, other.y)
        max_y = max(self.y + self.height - 1, other.y + other.height - 1)
        self.x, self.y = min_x, min_y
        self.width = max_x - min_x
        self.height = max_y - min_y

    def overlaps_y(self, other: "ImageLetter") -> bool:
        return (self.y + self.height > other.y) and (other.y + other.height > self.y)

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{self.letter!r}/{self.mod} @({self.x},{self.y}) {self.width}x{self.height}>"


# worker-local glyph cache: (model digest, height, width, run signature) →
# candidate order. The digest (FontModel.digest) is a hash of everything
# the ranking reads, so equal digests rank alike: a re-broadcast or
# unpickled copy of a model hits the entries the original filled, and a
# model with another config never reuses them. The signature is the
# glyph's bbox-relative runs as bytes (ccl.Components.signatures), equal
# exactly when the cropped grids are equal, so a lookup is exact and
# touches no grid. An entry is the key (3 B per run for a glyph box of at
# most 255 x 255, else 12 B) plus the (N,) order as uint8 bytes (int16
# for a model of more than 256 rows). Over salted scale-4 renders against
# the 105-row default model that is about 500 traced bytes per entry
# (test_glyph_cache_entry_bytes), so a worker at the LRU cap holds about
# 100 MB of cache; the cap keeps long-running executors bounded.
_CAND_CACHE: OrderedDict = OrderedDict()
_CAND_CACHE_MAX = 200_000


# glyphs ranked per block: bounds the (rows, N, 17) float64 distance
# temporary (about 29 MB against a 105-row model) however many distinct
# glyphs one image misses, so a noise-filled page cannot exhaust a
# worker's memory. Each row's sum and lexsort are row-local, so the block
# size changes no bit of the result.
_RANK_BLOCK = 2048


def _rank_candidates(model: FontModel, feats: np.ndarray, ratios: np.ndarray) -> np.ndarray:
    """Vectorized NN ranking for a batch of glyphs → (g, N) int16 orders.

    score = sum((g - t)^2 over 17 segments)            (OCRUtils.java:90-99)
          + weight(letter) * (trained_ratio - glyph_ratio)^2
                                                       (OCRActions.java:248-258)
    Ties break by (letter, modifier) for determinism: one lexsort per block
    of ``_RANK_BLOCK`` glyphs, with the tie keys broadcast to every row.
    """
    T = model.segments
    tr = np.nan_to_num(model.trained_ratios, nan=0.0)
    out = np.empty((len(feats), len(T)), np.int16)
    for lo in range(0, len(feats), _RANK_BLOCK):
        hi = lo + _RANK_BLOCK
        seg_d = ((feats[lo:hi, None, :] - T[None, :, :]) ** 2).sum(axis=-1)
        scores = seg_d + model.ratio_weights[None, :] * (tr[None, :] - ratios[lo:hi, None]) ** 2
        out[lo:hi] = _order_rows(scores, model.letter_codes, model.modifiers)
    return out


def _order_rows(scores: np.ndarray, letter_codes: np.ndarray, mods: np.ndarray) -> np.ndarray:
    """Per row of ``scores``: column order by (score, letter, modifier)."""
    keys = (np.broadcast_to(mods, scores.shape), np.broadcast_to(letter_codes, scores.shape), scores)
    return np.lexsort(keys, axis=-1).astype(np.int16)


def _candidates_for(comps, idx: np.ndarray, model: FontModel) -> list:
    """Candidate order per component in ``idx``, via the worker-local glyph
    cache. The misses are featurized and ranked together, each distinct
    key once; a model of at most 256 rows stores each order as uint8
    bytes."""
    sigs = comps.signatures()
    keys = list(zip(
        repeat(model.digest), comps.height[idx].tolist(), comps.width[idx].tolist(),
        [sigs[i] for i in idx.tolist()],
    ))
    out: list = []
    misses: dict = {}  # key → first component index with it
    for i, key in zip(idx.tolist(), keys):
        hit = _CAND_CACHE.get(key)
        if hit is not None:
            _CAND_CACHE.move_to_end(key)
        elif key not in misses:
            misses[key] = i
        out.append(hit)
    if misses:
        miss = np.fromiter(misses.values(), np.int64, len(misses))
        feats = featurize_many(comps.grids(miss))
        orders = _rank_candidates(model, feats, comps.width[miss] / comps.height[miss])
        n = orders.shape[1]
        if n <= 256:
            buf = orders.astype(np.uint8).tobytes()
            orders = [buf[k * n : (k + 1) * n] for k in range(len(miss))]
        ranked = dict(zip(misses, orders))
        _CAND_CACHE.update(ranked)
        while len(_CAND_CACHE) > _CAND_CACHE_MAX:
            _CAND_CACHE.popitem(last=False)
        out = [ranked[k] if o is None else o for o, k in zip(out, keys)]
    return out


def scan_grid(grid: np.ndarray, model: FontModel) -> list[tuple[int, list[ImageLetter]]]:
    """bool grid → [(line_y, [ImageLetter sorted by x])] (OCRScan.scanImage),
    lines in center order. Each matched letter is labelled by the head of
    its candidate order and holds that order; no other model data is
    copied onto it."""
    # G1 — line bounds on the uncut grid
    bounds = line_bounds(
        rows_populated(grid), model.config.max_percent_diff_to_merge
    )
    # G2/G3 — components in discovery order; a page over the component
    # budget is refused before any per-component work
    comps = connected_components(grid)
    check_components(len(comps))

    # J2 — line assignment: lines sorted by rounded center; each remaining
    # glyph whose vertical center falls in-bounds is consumed in discovery
    # order (OCRScan.java:142-166). Read off the bbox arrays; each line's
    # components are put in x order (a stable sort of discovery order, as
    # the reference's Collections.sort)
    line_entries = sorted(
        ((top, bottom, int(np.floor((bottom - top) / 2.0 + top + 0.5)))
         for top, bottom in bounds),
        key=lambda e: e[2],
    )
    centers = comps.y + comps.height / 2.0
    free = np.ones(len(comps), dtype=bool)
    lines: list[tuple[int, np.ndarray]] = []
    for top, bottom, center_y in line_entries:
        idx = np.flatnonzero(free & (centers >= top) & (centers <= bottom))
        if len(idx):
            free[idx] = False
            lines.append((center_y, idx[np.argsort(comps.x[idx], kind="stable")]))

    # G5/J1 — only the components that landed in a line are featurized and
    # ranked; letters are built for them, line by line
    matched = np.concatenate([np.zeros(0, np.int64)] + [idx for _y, idx in lines])
    cands = dict(zip(matched.tolist(), _candidates_for(comps, matched, model)))
    sorted_lines = [
        (center_y, [
            ImageLetter(*model.letters[cands[i][0]], x, y, w, h, cands[i])
            for i, x, y, w, h in zip(
                idx.tolist(), comps.x[idx].tolist(), comps.y[idx].tolist(),
                comps.width[idx].tolist(), comps.height[idx].tolist(),
            )
        ])
        for center_y, idx in lines
    ]

    # M1-M6 — mergence (mutates lines in place, may drop emptied lines)
    sorted_lines = run_mergence(sorted_lines, model)

    # O3 — spaces, per line, based on the line's max glyph height
    for _y, line in sorted_lines:
        if line:
            font_size = max(l.height for l in line)
            line.extend(insert_spaces(line, font_size, model))

    # O1/O2 — lines are already in center order (line_entries is sorted
    # and mergence only drops lines); merges and spaces reorder letters
    return [(y, sorted(line, key=lambda l: l.x)) for y, line in sorted_lines]


def render_text(lines: list[tuple[int, list[ImageLetter]]]) -> str:
    """O4: DefaultScannedImage.getPrettyString (:35-47)."""
    return "\n".join("".join(l.letter for l in line) for _y, line in lines)


def scan_image_bytes(png: bytes, model: FontModel) -> str:
    """Convenience: PNG bytes → recognized text."""
    from ..codecs.png import decode_png

    return render_text(scan_grid(binarize(decode_png(png)), model))


__all__ = ["ImageLetter", "scan_grid", "render_text", "scan_image_bytes"]
