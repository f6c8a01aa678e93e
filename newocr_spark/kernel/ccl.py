"""Connected-component labelling (SURVEY §2c: G2/G3).

The reference raster-scans the grid and BFS flood-fills with 8-connectivity
from each black pixel, destructively clearing visited pixels
(recognition/OCRActions.java:63-82, detection/SearchImage.java:42-115).
The observable contract is: the set of 8-connected components, each with its
bounding box and cropped pixel grid, discovered in raster order of each
component's first-encountered pixel.

We reproduce that contract with run-based two-pass labelling: horizontal
runs per row are found vectorized (value changes of the flattened padded
bitmap), then a vectorized union-find joins runs of adjacent rows whose
column intervals touch within ±1 (8-connectivity). Python-level work is a
handful of array passes per image, none per run or per pixel — no scipy
in this env.

Return form: one ``Components`` of arrays, never one object per glyph. The
runs are sorted by component once (stable, so each component's runs stay
in (row, start) order); the bboxes and pixel counts are ``reduceat``s over
that order, and each component's runs are kept bbox-relative as rows of
one compact int32 ``(row, start, end)`` array, cut by ``breaks``. A run is
a maximal horizontal stretch of one component's pixels, so a component's
runs determine its cropped grid and vice versa: ``signatures()`` is an
exact key for (height, width, grid) that touches no grid. It has two run
encodings, chosen per component by its own height and width: uint8 bytes
(3 B per run) when both are at most 255, which bounds every bbox-relative
value, else the int32 rows' bytes (12 B per run). Both are lossless and
the choice follows from (height, width), which the key also holds, so two
keys of one shape always share an encoding. Grids are built only on
demand (``grid(i)``, or ``grids(idx)`` for a whole batch of glyph cache
misses at once, scattered into one shared buffer).
"""

from __future__ import annotations

import numpy as np


class Components:
    """The 8-connected components of one grid, in discovery order.

    Component ``i`` has bbox ``(x[i], y[i], width[i], height[i])`` and
    ``pixel_count[i]`` black pixels (SearchCharacter.java:39-77); its runs
    are ``runs[breaks[i]:breaks[i + 1]]``, bbox-relative ``(row, start,
    end_exclusive)`` int32 rows in (row, start) order.
    """

    __slots__ = ("x", "y", "width", "height", "pixel_count", "runs", "breaks")

    def __init__(self, x, y, width, height, pixel_count, runs, breaks) -> None:
        self.x = x
        self.y = y
        self.width = width
        self.height = height
        self.pixel_count = pixel_count
        self.runs = runs
        self.breaks = breaks

    def __len__(self) -> int:
        return len(self.x)

    def signatures(self) -> list[bytes]:
        """Per component: its runs' bytes, as uint8 (3 B per run) when its
        height and width are both at most 255, else as int32 (12 B per
        run). Equal (height, width, signature) exactly when the cropped
        grids are equal. The uint8 cast wraps the values of a larger
        component, so a component takes its bytes from it only when its
        own bbox fits; the int32 buffer is built only when one does not."""
        small = ((self.height <= 255) & (self.width <= 255)).tolist()
        u8 = self.runs.astype(np.uint8).tobytes()
        b8 = (self.breaks * 3).tolist()
        if all(small):
            return [u8[s:e] for s, e in zip(b8[:-1], b8[1:])]
        i32 = self.runs.tobytes()
        b32 = (self.breaks * 12).tolist()
        return [
            u8[b8[i] : b8[i + 1]] if fits else i32[b32[i] : b32[i + 1]]
            for i, fits in enumerate(small)
        ]

    def grid(self, i: int) -> np.ndarray:
        """Cropped (height, width) bool grid of component ``i``."""
        return self.grids([i])[0]

    def grids(self, idx) -> list[np.ndarray]:
        """Cropped bool grids of the components ``idx``, filled by one
        vectorized run → pixel scatter into one buffer."""
        idx = np.asarray(idx, dtype=np.int64)
        h, w = self.height[idx], self.width[idx]
        sizes = h * w
        base = np.cumsum(sizes) - sizes
        b0 = self.breaks[idx]
        n_runs = self.breaks[idx + 1] - b0
        r = self.runs[_concat_ranges(b0, n_runs)].astype(np.int64)
        starts = np.repeat(base, n_runs) + r[:, 0] * np.repeat(w, n_runs) + r[:, 1]
        buf = np.zeros(int(sizes.sum()), dtype=bool)
        buf[_concat_ranges(starts, r[:, 2] - r[:, 1])] = True
        return [
            buf[s : s + n].reshape(hh, ww)
            for s, n, hh, ww in zip(base.tolist(), sizes.tolist(), h.tolist(), w.tolist())
        ]


def _concat_ranges(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """The ranges [starts[i], starts[i] + lengths[i]) concatenated."""
    csum = np.cumsum(lengths) - lengths
    return np.repeat(starts - csum, lengths) + np.arange(int(lengths.sum()))


def _runs(grid: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """Vectorized horizontal run extraction.

    Returns (start, end_exclusive, K): every run's flat positions in the
    grid padded with one background column on each side, in raster order,
    and that padded row stride K. The padding keeps every run inside its
    row, so the value changes of the flattened padded grid alternate run
    start, run end; and ``row * K + col + 1`` is a row-major key in which
    no probe keyed to one row can land in another.
    """
    h, w = grid.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = grid
    flat = padded.ravel()
    change = np.flatnonzero(flat[1:] != flat[:-1]) + 1
    return change[0::2], change[1::2], w + 2


def _overlaps_above(s: np.ndarray, e: np.ndarray, K: int):
    """Vectorized 8-conn overlaps of each run with the runs of the row above.

    Runs within a row are sorted and disjoint, so for a run [sb, eb) in row
    r+1, the overlapping runs of row r form the contiguous index range
    [searchsorted(ends_r, sb), searchsorted(starts_r, eb, 'right')).
    On the flat keys the per-row searches collapse into two GLOBAL
    searchsorted calls: a probe shifted up one row (minus K) lands inside
    that row's segment automatically — no Python loop over rows.

    Returns (parent, extra_a, extra_b): each run's first overlapping run
    above (itself when none), and the pairs of every further overlap.
    """
    n = len(s)
    # overlap in row above: runs a with ea >= sb AND sa <= eb — half-open
    # runs touching at a column (ea == sb / sa == eb) are diagonal
    # neighbours, which 8-connectivity joins
    lo = np.searchsorted(e, s - K, side="left")
    hi = np.searchsorted(s, e - K, side="right")
    # no overlap above → lo/hi land on the same run boundary → 0
    counts = hi - lo
    parent = np.where(counts > 0, lo, np.arange(n))
    extra = np.maximum(counts - 1, 0)
    return parent, _concat_ranges(lo + 1, extra), np.repeat(np.arange(n), extra)


def _compress(labels: np.ndarray) -> np.ndarray:
    """Pointer jumping until every run points straight at its root."""
    while True:
        nxt = labels[labels]
        if np.array_equal(nxt, labels):
            return labels
        labels = nxt


def _component_labels(s: np.ndarray, e: np.ndarray, K: int) -> np.ndarray:
    """Per run: the minimum run index of its 8-connected component.

    Vectorized union-find. Hanging every run off its first overlap above
    gives a forest whose pointers all go to lower indices; the few further
    overlaps (where a run joins two runs above, as at the foot of a 'u')
    hook the larger of their two roots under the smaller until all agree.
    Pointers only ever go down, so each root is its tree's minimum.
    """
    labels, extra_a, extra_b = _overlaps_above(s, e, K)
    while True:
        labels = _compress(labels)
        ra, rb = labels[extra_a], labels[extra_b]
        differ = ra != rb
        if not differ.any():
            return labels
        ra, rb = ra[differ], rb[differ]
        np.minimum.at(labels, np.maximum(ra, rb), np.minimum(ra, rb))


def connected_components(grid: np.ndarray) -> Components:
    """8-connected components of a bool grid, in reference discovery order."""
    s, e, K = _runs(grid)
    n_runs = len(s)
    if n_runs == 0:
        none = np.empty(0, dtype=np.int64)
        return Components(
            none, none, none, none, none, np.empty((0, 3), dtype=np.int32), np.zeros(1, np.int64)
        )
    labels = _component_labels(s, e, K)
    rows = s // K
    starts = s - rows * K - 1
    ends = e - rows * K - 1

    # the root IS the component's first run index (its minimum), so roots
    # numbered in ascending order are numbered in raster discovery order
    is_root = labels == np.arange(n_runs)
    comp_of_run = (np.cumsum(is_root) - 1)[labels]
    n_comp = int(is_root.sum())

    order = np.argsort(comp_of_run, kind="stable")
    comp_s = comp_of_run[order]
    rows_s, starts_s, ends_s = rows[order], starts[order], ends[order]
    breaks = np.zeros(n_comp + 1, dtype=np.int64)
    np.cumsum(np.bincount(comp_s, minlength=n_comp), out=breaks[1:])
    b0 = breaks[:-1]
    # each component's runs are in (row, start) order: first/last rows bound y
    y = rows_s[b0]
    x = np.minimum.reduceat(starts_s, b0)
    height = rows_s[breaks[1:] - 1] - y + 1
    width = np.maximum.reduceat(ends_s, b0) - x
    pixel_count = np.add.reduceat(ends_s - starts_s, b0)
    ox = x[comp_s]
    runs = np.stack([rows_s - y[comp_s], starts_s - ox, ends_s - ox], axis=1).astype(np.int32)
    return Components(x, y, width, height, pixel_count, runs, breaks)
