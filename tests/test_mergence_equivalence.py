"""Mergence on letter indices against the object-list form it replaced.

``_old_vertical_relations`` and ``_old_run_mergence`` below are the
previous ``kernel/mergence.py`` bodies, verbatim: relations as id()-keyed
lists of letters, pruned by a sweep over every list holding a removed
letter, and an (n_letters × n_pieces) matrix for the piece test. The rule
bodies, ``RULE_REGISTRY`` and ``_process_letter`` are shared. Both forms
run over deep copies of the same lines (scanned from all six faces and
from random piece-heavy texts, or random letter boxes), under every order
of the five rules, and must build the same relations and leave identical
letters, boxes, labels, merge counts and line lists."""

import copy
import dataclasses
import itertools

import numpy as np
import pytest

from newocr_spark.artifacts import get_model
from newocr_spark.font.glyphs import FACES
from newocr_spark.font.render import RAW_STRING, render_text_png
from newocr_spark.kernel import scan
from newocr_spark.kernel.mergence import (
    RULE_REGISTRY, _Ctx, _process_letter, run_mergence, vertical_relations,
)
from newocr_spark.kernel.scan import ImageLetter
from newocr_spark.model import DEFAULT_MERGE_RULES


# ---------------- the object-list oracle (previous implementation) ----------------


def _old_vertical_relations(ctx: _Ctx, letters) -> dict:
    """id(letter) → every letter overlapping it in X (incl. itself), by Y,
    for just the letters that x-overlap a dot or horizontal-line letter —
    no vertical rule can fire on any other target (module docstring).

    One vectorized interval test replaces the reference's parallel-stream
    O(n^2) object loop (DefaultMergenceManager.java:140-152); the stable
    (y, reading-order) sort matches its Comparator.comparingInt(getY).
    """
    n = len(letters)
    xs = np.fromiter((l.x for l in letters), np.int64, n)
    xe = np.fromiter((l.x + l.width for l in letters), np.int64, n)
    piece = np.fromiter(
        ((l.letter, l.mod) in ctx.dot or (l.letter, l.mod) in ctx.hline for l in letters),
        bool, n,
    )
    pxs, pxe = xs[piece], xe[piece]
    near = ((xe[:, None] > pxs[None, :]) & (pxe[None, :] > xs[:, None])).any(axis=1)
    vertical = {}
    if near.any():
        ys = np.fromiter((l.y for l in letters), np.int64, n)
        y_order = np.argsort(ys, kind="stable")
        xs_o, xe_o = xs[y_order], xe[y_order]
        for i in np.flatnonzero(near).tolist():
            mask = (xe_o > xs[i]) & (xe[i] > xs_o)
            vertical[id(letters[i])] = [letters[j] for j in y_order[mask].tolist()]
    return vertical


def _old_run_mergence(sorted_lines, model):
    """Run M1-M6 over [(y, [ImageLetter])]; returns the pruned line list."""
    ctx = _Ctx(model)

    all_letters = [l for _y, line in sorted_lines for l in line]  # reading order
    vertical = _old_vertical_relations(ctx, all_letters)
    vertical_targets = [l for l in all_letters if id(l) in vertical]

    removed_global = set()

    def positions_of(lst):
        return {id(x): i for i, x in enumerate(lst)}

    for rule_name in model.config.merge_rules:
        rule_fn, line_targets = RULE_REGISTRY[rule_name]
        removing: list = []
        removing_ids: set[int] = set()
        if line_targets is not None:
            # iterate lines in insertion order = reading order, visiting
            # only the targets the rule can fire on (module docstring)
            for _y, line in sorted_lines:
                targets = line_targets(ctx, line)
                if not targets:
                    continue
                pos_map = positions_of(line)
                for letter in targets:
                    lid = id(letter)
                    if lid in removed_global or lid in removing_ids:
                        continue
                    result = rule_fn(ctx, letter, line, pos_map[lid])
                    if result:
                        for r in result:
                            removing.append(r)
                            removing_ids.add(id(r))
                        # rules only return letters of the list they were
                        # given, and a letter appears only in its own line
                        # list, so the removeAll sweep
                        # (DefaultMergenceManager.java:117) only touches it
                        line[:] = [x for x in line if id(x) not in removing_ids]
                        pos_map = positions_of(line)
        else:
            for letter in vertical_targets:
                lid = id(letter)
                if lid in removed_global or lid in removing_ids:
                    continue
                data = vertical[lid]
                result = rule_fn(ctx, letter, data, data.index(letter))
                if result:
                    # x-overlap is symmetric: a removed letter appears only
                    # in the lists of the letters in its own list, so the
                    # removeAll sweep only needs to touch those
                    affected: set[int] = set()
                    for r in result:
                        removing.append(r)
                        removing_ids.add(id(r))
                        affected.update(id(o) for o in vertical.get(id(r), ()))
                    for aid in affected:
                        lst = vertical.get(aid)
                        if lst is not None:
                            lst[:] = [x for x in lst if id(x) not in removing_ids]
        # drop as relation keys from both orientations + from the line lists
        for r in removing:
            removed_global.add(id(r))
            vertical.pop(id(r), None)
        # removeFromSorted: only drops a line when the removal happened here
        for r in removing:
            for entry in list(sorted_lines):
                _y, line = entry
                if r in line:
                    line.remove(r)
                    if not line:
                        sorted_lines.remove(entry)
                    break

    # cleanup pass (processLetter)
    for _y, line in sorted_lines:
        for letter in line:
            _process_letter(ctx, letter)
    return sorted_lines


# ---------------- inputs ----------------

PIECES = list("ij!?%:;=\"'")
PLAIN = list("abeloxAW/|.,-_")
MERGE_HEAVY = 'i j ; ! ? % = : " \' W W'

# every order of the five rules; all but the 12 that run the three
# vertical rules first put a horizontal rule before a vertical one, where
# a horizontal rule's removals stay in the vertical relations
ORDERS = list(itertools.permutations(DEFAULT_MERGE_RULES))


class _Ordered:
    """What mergence reads of a model, with another rule order."""

    def __init__(self, model, order):
        self.letters, self.meta = model.letters, model.meta
        self.config = dataclasses.replace(model.config, merge_rules=order)


def _piece_heavy_texts(n, seed):
    rng = np.random.default_rng(seed)
    texts = []
    for _ in range(n):
        words = []
        for _w in range(rng.integers(3, 8)):
            pool = PIECES if rng.random() < 0.7 else PLAIN
            words.append("".join(rng.choice(pool, size=rng.integers(1, 5))))
        texts.append(" ".join(words))
    return texts


def _random_lines(model, rng):
    """Letters of piece and plain labels at random boxes in a small area,
    so x-overlaps, touching edges, stacks and merges are frequent; one to
    three lines, each in x order as scan_grid hands them over."""
    labels = sorted(set().union(*model.config.similarities.values())) + [("a", 0), ("W", 0)]
    lines = []
    for y in range(rng.integers(1, 4)):
        line = []
        for _ in range(rng.integers(1, 12)):
            lm = labels[rng.integers(len(labels))]
            cands = np.concatenate([[model.row(*lm)], rng.permutation(len(model.letters))[:8]])
            line.append(ImageLetter(
                *lm, int(rng.integers(0, 40)), int(rng.integers(0, 60)),
                int(rng.integers(1, 8)), int(rng.integers(1, 14)), cands,
            ))
        line.sort(key=lambda l: l.x)
        lines.append((y, line))
    return lines


def _scanned_lines(monkeypatch, model, pngs):
    """The line lists each image hands to mergence, before any merge."""
    seen = []

    def spy(sorted_lines, m):
        seen.append(copy.deepcopy(sorted_lines))
        return run_mergence(sorted_lines, m)

    monkeypatch.setattr(scan, "run_mergence", spy)
    for png in pngs:
        scan.scan_image_bytes(png, model)
    monkeypatch.undo()
    return seen


def _state(lines):
    return [
        (y, [
            (l.letter, l.mod, l.x, l.y, l.width, l.height, l.amount_of_merges,
             l.merged_pieces, l._cand_pos)
            for l in line
        ])
        for y, line in lines
    ]


def _assert_same_relations(model, captured):
    ctx = _Ctx(model)
    for lines in captured:
        letters = [l for _y, line in lines for l in line]
        index = {id(l): i for i, l in enumerate(letters)}
        want = {
            index[k]: [index[id(l)] for l in rel]
            for k, rel in _old_vertical_relations(ctx, letters).items()
        }
        got = {i: rel.tolist() for i, rel in vertical_relations(ctx, letters).items()}
        assert got == want


def _assert_same(model, captured):
    merges = 0
    for order in ORDERS:
        m = _Ordered(model, order)
        for lines in captured:
            want = _state(_old_run_mergence(copy.deepcopy(lines), m))
            got = _state(run_mergence(copy.deepcopy(lines), m))
            assert got == want, order
            merges += sum(l[6] for _y, line in got for l in line)
    assert merges > 0


@pytest.mark.parametrize("face", sorted(FACES))
def test_faces_match_old_mergence(monkeypatch, face):
    model = get_model(face)
    pngs = [
        render_text_png([text], scale, face=FACES[face]())
        for text in (RAW_STRING, MERGE_HEAVY)
        for scale in (1, 2, 3, 4)
    ]
    captured = _scanned_lines(monkeypatch, model, pngs)
    _assert_same_relations(model, captured)
    _assert_same(model, captured)


def test_piece_heavy_texts_match_old_mergence(monkeypatch):
    model = get_model()
    texts = _piece_heavy_texts(48, seed=9)
    pngs = [
        render_text_png(texts[i : i + 3], scale=1 + i // 3 % 4)
        for i in range(0, len(texts), 3)
    ]
    captured = _scanned_lines(monkeypatch, model, pngs)
    _assert_same_relations(model, captured)
    _assert_same(model, captured)


def test_random_boxes_match_old_mergence():
    model = get_model()
    rng = np.random.default_rng(11)
    captured = [_random_lines(model, rng) for _ in range(100)]
    _assert_same_relations(model, captured)
    _assert_same(model, captured)


def test_horizontal_removals_stay_in_vertical_relations():
    """With the Apostrophe rule first, the apostrophe it merges away still
    sits between the 'l' and the dot below it in their x-overlap relation,
    so UnderDot finds no dot right below the 'l' and merges nothing."""
    model = get_model()

    def letter(lm, x, y, w, h):
        return ImageLetter(*lm, x, y, w, h, np.array([model.row(*lm), model.space_row]))

    stem, dot = letter(("l", 0), 2, 0, 2, 10), letter((".", 0), 2, 13, 2, 2)
    left, right = letter(("'", 0), 0, 12, 2, 3), letter(("'", 0), 2, 12, 2, 3)
    lines = [(5, [stem]), (13, [left, right]), (14, [dot])]
    m = _Ordered(model, ("ApostropheMergeRule", "UnderDotMergeRule"))
    want = _state(_old_run_mergence(copy.deepcopy(lines), m))
    got = run_mergence(lines, m)
    assert _state(got) == want
    assert [[l.letter for l in line] for _y, line in got] == [["l"], ['"'], ["."]]
    assert stem.amount_of_merges == 0 and left.amount_of_merges == 1
