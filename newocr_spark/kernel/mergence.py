"""Mergence — post-match repair rules (SURVEY §2e: M1-M6).

Faithful re-expression of DefaultMergenceManager + the five default rules
(recognition/mergence/DefaultMergenceManager.java,
recognition/mergence/rules/*.java). Rules run sorted ascending by priority
index with registration order as tiebreak (beginMergence:71; priorities
MergePriority.java:11-16, registration loadDefaults:55-61), which computes
to: UnderDot(LOW), EqualVertical(LOW), OverDot(HIGH), Apostrophe(HIGH),
Percent(HIGH). (The enum's HIGHEST==-2 quirk means HIGH-priority rules
actually run last; replicated as computed, not as documented.)

After each rule, its merged-away pieces are gone from the line lists
(removeFromSorted:127-138, in beginMergence:78's lazy-stream order): a
horizontal rule deletes them in its sweep and never empties a line (the
base stays); one filter drops a vertical rule's, with the lines it empties.
The cleanup pass (processLetter:88-108) relabels leftover dots to '.' and
pops the next-closest NN match for pieces that should only exist merged.

Piece-class neighbourhoods: every rule needs a piece-class letter and
returns None, with no side effect, without one — the vertical rules a dot
or horizontal line among the target and its x-overlap neighbours, the
Apostrophe rule a vertical-line target, the Percent rule a percent-dot or
percent-base target on a line that holds a percent base. So the x-overlap
relation is built only for letters that x-overlap a dot or horizontal-line
letter, and the horizontal rules visit only their possible targets, on
lines that have one. This is exact, not a heuristic: labels change only
through a merge, and a merged letter (amount_of_merges > 0) is refused by
every rule, as target and as partner, so no letter can join a piece class
mid-mergence.

Relations are index arrays: reading-order letter index → the y-ordered
indices of the letters overlapping it in X, from the geometry before any
merge. One `related` mask over the letter indices stands for the
reference's removeAll over every relation list
(DefaultMergenceManager.java:117): a vertical rule's removals clear it, and
a vertical target gets [previous, target, next] of its still-related
letters. A horizontal rule's sweep runs over the line lists it was given,
so its removals leave `related` as it is: with a horizontal rule ordered
before a vertical one, its merged-away letters stay in the vertical
relations. The sweep finds each target from a cursor, since a merge
removes only letters within one place of its target.

Determinism note: the reference iterates ConcurrentHashMaps (nondeterministic
order); we iterate letters in reading order (line insertion order, then
position in line), and sort vertical relations by (y) with a stable sort —
deterministic, and identical to the reference where its behavior is defined.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np

from ..letters import APOSTROPHE_COMPARE_EXCLUDED

if TYPE_CHECKING:  # pragma: no cover
    from ..model import FontModel
    from .scan import ImageLetter


def _percent_diff(one: float, two: float) -> float:
    return 1.0 - (min(one, two) / max(one, two))


class _Ctx:
    """Shared per-image mergence context: similarity sets + trained meta."""

    def __init__(self, model: "FontModel") -> None:
        sims = model.config.similarities
        self.dot = sims["dot"]
        self.vline = sims["vertical-line"]
        self.hline = sims["horizontal-line"]
        self.pdot = sims["percent-dot"]
        self.pbase = sims["percent-base"]
        self.labels = model.letters  # row → (letter, modifier), for set_next_closest
        meta = model.meta
        self.distancei = meta.get("distancei", 0.0)
        self.distancej = meta.get("distancej", 0.0)
        self.colon_distance = meta.get("colonDistance", 0.0)
        self.semicolon_distance = meta.get("semicolonDistance", 0.0)
        self.equals_distance = meta.get("equalsDistance", 0.0)
        self.distance_question = meta.get("distanceQuestion", 0.0)
        self.distance_exclamation = meta.get("distanceExclamation", 0.0)
        self.apostrophe_ratio = meta.get("apostropheRatio", 0.0)

    def is_dot(self, l: "ImageLetter") -> bool:
        return (l.letter, l.mod) in self.dot

    def is_vline(self, l: "ImageLetter") -> bool:
        return (l.letter, l.mod) in self.vline

    def is_hline(self, l: "ImageLetter") -> bool:
        return (l.letter, l.mod) in self.hline


# ---------------- the five rules ----------------
# each: (ctx, target, context_list, pos) -> merged-away letters, or None;
# pos is the index of target in context_list (the reference's rules look it
# up with indexOf; the manager passes it)


def _under_dot(ctx: _Ctx, target, data, pos):  # M2 — rules/UnderDotMergeRule.java:57-93
    idx = pos + 1
    if len(data) <= idx:
        return None
    if (target.letter, target.mod) == ("?", 1) and not ctx.is_vline(target):
        return None
    question = (target.letter, target.mod) == ("?", 0)
    below = data[idx]
    if not ctx.is_dot(below):
        return None
    if target.amount_of_merges > 0 or below.amount_of_merges > 0:
        return None
    difference = abs(below.y - (target.y + target.height))
    is_below_base = below.height < target.height
    projected = (ctx.distance_question if question else ctx.distance_exclamation) * target.height
    if abs(difference - projected) <= projected * 0.75:
        base = below if not is_below_base else target
        adding = target if not is_below_base else below
        base.merge(adding)
        if base.letter != "?":
            base.letter = "!"
        return [adding]
    return None


def _equal_vertical(ctx: _Ctx, target, data, pos):  # M5 — rules/EqualVerticalMergeRule.java:55-92
    idx = pos + 1
    if len(data) <= idx:
        return None
    nxt = data[idx]
    if target.amount_of_merges > 0 or nxt.amount_of_merges > 0:
        return None
    difference = nxt.y - target.y - target.height
    is_part_above = nxt.height < target.height
    min_height = min(nxt.height, target.height)
    if ctx.is_hline(target) and ctx.is_hline(nxt):
        projected = ctx.equals_distance * min_height
        colon = False
    elif ctx.is_dot(target) and ctx.is_dot(nxt):
        projected = ctx.colon_distance * min_height
        colon = True
    else:
        return None
    if abs(difference - projected) <= projected * 0.5:
        base = nxt if not is_part_above else target
        adding = target if not is_part_above else nxt
        base.merge(adding)
        base.letter = ":" if colon else "="
        return [adding]
    return None


def _over_dot(ctx: _Ctx, target, data, pos):  # M1 — rules/OverDotMergeRule.java:57-117
    idx = pos - 1
    if idx < 0:
        return None
    tl = target.letter
    semicolon = (tl == ";" and target.mod == 1) or tl == ","
    vertical_target = ctx.is_vline(target)
    if (
        not semicolon
        and not vertical_target
        and not (tl == "j" and target.mod == 1)
        and tl != "J"
    ):
        return None
    above = data[idx]
    if not ctx.is_dot(above):
        return None
    if target.amount_of_merges > 0 or above.amount_of_merges > 0:
        return None
    if semicolon:
        distance = ctx.semicolon_distance
    elif tl in ("j", "J"):
        distance = ctx.distancej
    else:
        distance = ctx.distancei
    difference = abs(above.y + above.height - target.y)
    is_part_above = above.height < target.height
    max_height = max(above.height, target.height)
    projected = distance * max_height
    if abs(difference - projected) <= projected * 0.5:
        base = above if not is_part_above else target
        adding = target if not is_part_above else above
        base.merge(adding)
        using = tl
        if using == "J":
            using = "j"
        elif using == ",":
            using = ";"
        elif vertical_target:
            using = "i"
        base.letter = using
        return [adding]
    return None


def _apostrophe(ctx: _Ctx, target, data, pos):  # M3 — rules/ApostropheMergeRule.java:52-97
    if not ctx.is_vline(target):
        return None
    idx = pos - 1
    if len(data) <= idx or idx < 0:
        return None
    before = data[idx]
    if target.amount_of_merges > 0 or before.amount_of_merges > 0:
        return None
    if not ctx.is_vline(before):
        return None
    if _percent_diff(target.height, before.height) >= 0.25:
        return None
    compare = None
    for cur in data:
        if cur is target or cur is before or (cur.letter, cur.mod) in APOSTROPHE_COMPARE_EXCLUDED:
            continue
        compare = cur
        break
    if compare is not None:
        if _percent_diff(compare.height, target.height) <= 0.5:
            return None
    avg_length = before.height * ctx.apostrophe_ratio
    if target.x - before.x <= avg_length:
        before.letter = '"'
        before.merge(target)
        return [target]
    return None


def _percent(ctx: _Ctx, target, data, pos):  # M4 — rules/PercentMergeRule.java:43-101
    bi = pos
    if bi - 1 < 0 or bi + 1 >= len(data):
        return None
    part1 = data[bi - 1]
    part2 = data[bi + 1]
    if (
        target.amount_of_merges > 0
        or part1.amount_of_merges > 0
        or part2.amount_of_merges > 0
    ):
        return None

    def is_pdot(l):
        return (l.letter, l.mod) in ctx.pdot

    def is_pbase(l):
        return (l.letter, l.mod) in ctx.pbase

    one_d, two_d, three_d = is_pdot(target), is_pdot(part1), is_pdot(part2)
    one_b, two_b, three_b = is_pbase(target), is_pbase(part1), is_pbase(part2)
    if one_d and two_d and three_b:
        base, dot1, dot2 = part2, target, part1
    elif one_d and two_b and three_d:
        base, dot1, dot2 = part1, target, part2
    elif one_b and two_d and three_d:
        base, dot1, dot2 = target, part1, part2
    else:
        return None
    if not base.overlaps_y(dot1) or not base.overlaps_y(dot2):
        return None
    base.merge(dot1)
    base.merge(dot2)
    base.mod = 0
    base.letter = "%"
    return [dot1, dot2]


def _vline_targets(ctx: _Ctx, line):
    """The Apostrophe rule's first check: its target is a vertical line."""
    return [l for l in line if ctx.is_vline(l)]


def _percent_targets(ctx: _Ctx, line):
    """Every Percent match has a percent-base letter among its three, and
    its target is a percent dot or a percent base."""
    if not any((l.letter, l.mod) in ctx.pbase for l in line):
        return []
    return [l for l in line if (l.letter, l.mod) in ctx.pdot or (l.letter, l.mod) in ctx.pbase]


# name → (rule_fn, line_targets); names mirror the reference's rule
# classes, registered reflectively from config
# (HOCONFontConfiguration.java:156-170). Vertical rules (line_targets None)
# run over x-overlap relations; horizontal ones over line lists, visiting
# only line_targets(ctx, line). Vertical rules read only data[pos ± 1] and
# len(data), so each gets a window of at most three letters. The execution
# order comes from FontConfig.merge_rules — its default is the computed
# priority order UnderDot(-1), EqualVertical(-1), OverDot(1), Apostrophe(1),
# Percent(1) (see module docstring).
RULE_REGISTRY = {
    "UnderDotMergeRule": (_under_dot, None),
    "EqualVerticalMergeRule": (_equal_vertical, None),
    "OverDotMergeRule": (_over_dot, None),
    "ApostropheMergeRule": (_apostrophe, _vline_targets),
    "PercentMergeRule": (_percent, _percent_targets),
}


def vertical_relations(ctx: _Ctx, letters) -> dict:
    """Reading-order index → indices of every letter overlapping it in X
    (incl. itself), by Y, for just the letters that x-overlap a dot or
    horizontal-line letter — no vertical rule can fire on any other target
    (module docstring).

    Interval tests on whole arrays replace the reference's parallel-stream
    O(n^2) object loop (DefaultMergenceManager.java:140-152); the stable
    (y, reading-order) sort matches its Comparator.comparingInt(getY). A
    letter is near a piece when the furthest end among the pieces starting
    left of its end lies right of its start: a running max over the pieces
    sorted by start, so memory stays linear in the letters.
    """
    n = len(letters)
    xs = np.fromiter((l.x for l in letters), np.int64, n)
    xe = np.fromiter((l.x + l.width for l in letters), np.int64, n)
    piece = np.fromiter(
        ((l.letter, l.mod) in ctx.dot or (l.letter, l.mod) in ctx.hline for l in letters),
        bool, n,
    )
    if not piece.any():
        return {}
    pxs, pxe = xs[piece], xe[piece]
    by_start = np.argsort(pxs)
    reach = np.maximum.accumulate(pxe[by_start])
    k = np.searchsorted(pxs[by_start], xe)  # pieces starting left of each end
    near = (k > 0) & (reach[k - 1] > xs)
    ys = np.fromiter((l.y for l in letters), np.int64, n)
    y_order = np.argsort(ys, kind="stable")
    xs_o, xe_o = xs[y_order], xe[y_order]
    return {
        i: y_order[(xe_o > xs[i]) & (xe[i] > xs_o)]
        for i in np.flatnonzero(near).tolist()
    }


def run_mergence(sorted_lines, model):
    """Run M1-M6 over [(y, [ImageLetter])]; returns the pruned line list."""
    ctx = _Ctx(model)

    letters = [l for _y, line in sorted_lines for l in line]  # reading order
    vertical = vertical_relations(ctx, letters)
    related = np.ones(len(letters), dtype=bool)  # not removed by a vertical rule
    removed = set()  # letters merged away by any rule

    for rule_name in model.config.merge_rules:
        rule_fn, line_targets = RULE_REGISTRY[rule_name]
        if line_targets is not None:
            # iterate lines in insertion order = reading order, visiting
            # only the targets the rule can fire on (module docstring)
            for _y, line in sorted_lines:
                pos = 0
                for letter in line_targets(ctx, line):
                    if letter in removed:
                        continue
                    pos = line.index(letter, max(pos - 1, 0))
                    result = rule_fn(ctx, letter, line, pos)
                    if result:
                        for r in result:
                            del line[line.index(r, max(pos - 1, 0))]
                        removed.update(result)
        else:
            n_removed = len(removed)
            for i, rel in vertical.items():
                letter = letters[i]
                if letter in removed:
                    continue
                rel = rel[related[rel]].tolist()
                p = rel.index(i)
                window = rel[max(p - 1, 0) : p + 2]
                data = [letters[j] for j in window]
                result = rule_fn(ctx, letter, data, min(p, 1))
                if result:
                    for r in result:
                        related[window[data.index(r)]] = False
                    removed.update(result)
            if len(removed) > n_removed:
                # removeFromSorted: drops a line only when it emptied it
                sorted_lines[:] = [
                    (y, kept) for y, line in sorted_lines
                    if (kept := [l for l in line if l not in removed]) or not line
                ]

    # cleanup pass (processLetter)
    for _y, line in sorted_lines:
        for letter in line:
            _process_letter(ctx, letter)
    return sorted_lines


def _process_letter(ctx: _Ctx, letter) -> None:
    """DefaultMergenceManager.processLetter (:88-108)."""
    while True:
        if letter.amount_of_merges > 0:
            return
        if ctx.is_dot(letter):
            letter.letter = "."
            letter.mod = 0
            return
        lt, mod = letter.letter, letter.mod
        if lt == "=" or (lt == ";" and mod == 1) or lt in ("j", '"', "%", "i", "!"):
            if not letter.has_next_closest():
                # the reference would throw here (ImageLetter.java:204); a
                # trained model always offers alternatives, so this only
                # guards degenerate test models
                return
            letter.set_next_closest(ctx.labels)
            continue
        return
