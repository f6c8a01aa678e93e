"""Offline trainer: train image → FontModel tables.

Faithful re-expression of OCRTrain.trainImage + OCRActions.
getLettersDuringTraining (recognition/OCRTrain.java:97-261,
recognition/OCRActions.java:85-189). Runs driver-local — the corpus is a
handful of rendered lines, not a cluster job (SURVEY §3.2); Spark only
broadcasts the resulting tables.
"""

from __future__ import annotations

import numpy as np

from ..kernel.ccl import connected_components
from ..kernel.features import featurize_many
from ..kernel.grid import binarize, rows_populated
from ..kernel.lines import line_bounds
from ..letters import LETTERS
from ..model import META_NAMES, FontConfig, FontModel
from .render import RAW_STRING, TRAIN_STRING, TRAIN_SCALES, render_train_image

# indices into the X-sorted per-line component list whose TRAIN_STRING chars
# need multi-part grouping (OCRActions.java:134) — ! % : ; = ? i j
_MULTIPLE_PARTS = (0, 7, 29, 31, 34, 37, 80, 82)

_CHAR_META = {
    ";": "semicolonDistance",
    ":": "colonDistance",
    "=": "equalsDistance",
    "i": "distancei",
    "j": "distancej",
}
# 'the base is the second character (bottom part)' (OCRActions.java:97-99)
_BASE_IS_SECOND = frozenset("ij:;=")


class _Piece:
    """One trained glyph piece (SearchCharacter.java:39-77): its bbox and
    features, plus the modifier/meta/letter the trainer assigns."""

    __slots__ = ("x", "y", "width", "height", "features", "modifier", "meta", "letter")

    def __init__(self, x: int, y: int, width: int, height: int, features: np.ndarray) -> None:
        self.x, self.y, self.width, self.height = x, y, width, height
        self.features = features
        self.modifier = 0
        self.meta: dict[str, float] = {}
        self.letter: str | None = None


def _overlap_x(a: _Piece, b: _Piece) -> bool:
    return a.x + a.width > b.x and b.x + b.width > a.x


def _letters_during_training(grid: np.ndarray, config: FontConfig) -> list[tuple[int, int, list[_Piece]]]:
    """→ [(topY, bottomY, X-sorted pieces with modifiers/meta assigned)]."""
    bounds = line_bounds(rows_populated(grid), config.max_percent_diff_to_merge)
    out = []
    for from_y, to_y in bounds:
        comps = connected_components(grid[from_y:to_y, :])
        feats = featurize_many(comps.grids(range(len(comps))))
        found = [
            # SearchCharacter(coords, 0, fromY) offset
            _Piece(x, y + from_y, w, h, f)
            for x, y, w, h, f in zip(
                comps.x.tolist(), comps.y.tolist(), comps.width.tolist(),
                comps.height.tolist(), feats,
            )
        ]
        found.sort(key=lambda c: c.x)  # Collections.sort — stable

        ignored: set[int] = set()
        for i1, part1 in enumerate(found):
            if id(part1) in ignored or i1 not in _MULTIPLE_PARTS:
                continue
            group = [p for p in found if _overlap_x(part1, p)]
            group.sort(key=lambda c: c.y)  # stable
            current = TRAIN_STRING[i1]
            if current == "%":
                group.sort(key=lambda c: float(c.width) * float(c.height))
            index = 1 if current in _BASE_IS_SECOND else 0
            base = group[min(index, len(group) - 1)]
            inc = 0
            for part2 in group:
                if part2 is not base:
                    if current in ("!", "?"):
                        diff = part2.y - (base.y + base.height)
                        name = "distanceQuestion" if current == "?" else "distanceExclamation"
                        base.meta[name] = diff / base.height
                    elif current in _CHAR_META:
                        diff = base.y - (part2.y + part2.height)
                        base.meta[_CHAR_META[current]] = diff / base.height
                part2.modifier = inc
                inc += 1
                ignored.add(id(part2))
        out.append((from_y, to_y, found))
    return out


class _Trained:
    __slots__ = ("vectors", "widths", "heights", "min_center", "max_center")

    def __init__(self) -> None:
        self.vectors: list[np.ndarray] = []
        self.widths: list[float] = []
        self.heights: list[float] = []
        self.min_center = -1.0
        self.max_center = -1.0

    def center(self, c: float) -> None:  # TrainedCharacterData.recalculateCenter
        if self.min_center == -1.0 and self.max_center == -1.0:
            self.min_center = self.max_center = c
        else:
            self.max_center = max(self.max_center, c)
            self.min_center = min(self.min_center, c)


def train_font(
    config: FontConfig | None = None, face=None, _sightings: list | None = None
) -> FontModel:
    """Render the training image and train — OCRTrain.trainImage walk.
    `face` (glyphs.FontFace) selects the font; config.name defaults to it.
    `_sightings`, when a list, additionally collects one record per trained
    sighting in recording order (the per-character history the reference
    keeps as `recalculatingList`) — see `train_sightings` /
    `undo_recalculations` (§2 T4)."""
    from .glyphs import DEFAULT_FACE

    face = face or DEFAULT_FACE
    config = config or FontConfig(name=face.name)
    grid = binarize(render_train_image(face))
    lines = _letters_during_training(grid, config)
    if len(lines) != len(TRAIN_SCALES):
        raise AssertionError(
            f"expected {len(TRAIN_SCALES)} training lines, detected {len(lines)}"
        )

    trained: dict[tuple[str, int], _Trained] = {(" ", 0): _Trained()}
    font_sizes: dict[tuple[str, int], list[float]] = {}
    custom_spaces: dict[str, list[float]] = {}
    meta_lists: dict[str, list[float]] = {n: [] for n in META_NAMES}

    L = len(TRAIN_STRING)
    for line_no, (top, bottom, found) in enumerate(lines):
        if len(found) != L:
            raise AssertionError(
                f"line {line_no}: {len(found)} components != len(TRAIN_STRING)={L}"
            )
        current_font_size = 12 * TRAIN_SCALES[line_no]
        letter_index = 0
        before_space_x = 0
        first_quote: _Piece | None = None
        next_measuring_space: _Piece | None = None

        for sc in found:
            current = TRAIN_STRING[letter_index]
            letter_index += 1
            modifier = sc.modifier
            revert_index = False

            if letter_index == 3:  # the quote (OCRTrain.java:155-168)
                current = '"'
                if first_quote is None:
                    first_quote = sc
                    revert_index = True
                else:
                    distance = sc.x - first_quote.x - first_quote.width
                    meta_lists["apostropheRatio"].append(first_quote.height / distance)
                    modifier = 1
            elif letter_index == L - 2:  # first W: measure from here (:172-177)
                before_space_x = sc.x + sc.width
                letter_index += 1  # skip the space in TRAIN_STRING
                continue
            elif letter_index == L:  # last W: record the space (:180-184)
                trained[(" ", 0)].widths.append(float(sc.x - before_space_x))
                trained[(" ", 0)].heights.append(float(bottom - top))
                if _sightings is not None:
                    _sightings.append(
                        {
                            "letter": " ",
                            "modifier": 0,
                            "seq": len(trained[(" ", 0)].widths) - 1,
                            # the space trains no feature vector; its model
                            # row is all-zero segments (see finish below)
                            "segments": [0.0] * 17,
                            "width": float(sc.x - before_space_x),
                            "height": float(bottom - top),
                            "center_off": 0.0,
                        }
                    )
                letter_index = 0
                continue

            if next_measuring_space is not None:  # custom spaces (:189-194)
                width = sc.x - (next_measuring_space.x + next_measuring_space.width)
                ratio = width / next_measuring_space.height
                prev_char = next_measuring_space.letter
                custom_spaces.setdefault(prev_char, []).append(ratio)
                next_measuring_space = None
            if current in config.special_spaces:
                next_measuring_space = sc
            sc.letter = current

            for name, meta in sc.meta.items():
                meta_lists[name].append(meta)

            sc.modifier = modifier
            t = trained.setdefault((current, modifier), _Trained())
            t.vectors.append(sc.features)
            t.widths.append(float(sc.width))
            t.heights.append(float(sc.height))
            if _sightings is not None:
                half_line_ = (bottom - top) / 2.0
                # recalculateTo(SearchCharacter) appends width/height ONLY
                # when both are non-zero (TrainedCharacterData.java:136-139)
                # while the segment list always grows — record zero-dim
                # sightings as NULL width/height so undo can pop the three
                # lists independently, exactly like undoLastRecalculations
                has_wh = sc.width != 0 and sc.height != 0
                _sightings.append(
                    {
                        "letter": current,
                        "modifier": int(modifier),
                        "seq": len(t.vectors) - 1,
                        "segments": [float(x) for x in sc.features],
                        "width": float(sc.width) if has_wh else None,
                        "height": float(sc.height) if has_wh else None,
                        "center_off": float(half_line_ - (sc.y - top)),
                    }
                )

            font_sizes.setdefault((current, modifier), []).append(
                current_font_size / sc.height
            )

            half_line = (bottom - top) / 2.0
            mid_to_top = sc.y - top
            t.center(half_line - mid_to_top)

            if revert_index:
                letter_index -= 1
            if letter_index >= L:
                letter_index = 0

    # finishRecalculations + persistence shape
    expected = set(LETTERS)
    got = set(trained)
    if got != expected:
        raise AssertionError(
            f"trained set mismatch: missing={expected - got} extra={got - expected}"
        )

    keys = sorted(trained, key=lambda lm: (ord(lm[0]), lm[1]))
    segments = np.zeros((len(keys), 17), dtype=np.float64)
    avg_w = np.zeros(len(keys))
    avg_h = np.zeros(len(keys))
    min_c = np.zeros(len(keys))
    max_c = np.zeros(len(keys))
    for idx, key in enumerate(keys):
        t = trained[key]
        if t.vectors:
            segments[idx] = np.mean(np.stack(t.vectors), axis=0)
        avg_w[idx] = float(np.mean(t.widths)) if t.widths else 0.0
        avg_h[idx] = float(np.mean(t.heights)) if t.heights else 0.0
        min_c[idx] = t.min_center
        max_c[idx] = t.max_center

    meta = {n: float(np.mean(v)) for n, v in meta_lists.items() if v}

    return FontModel(
        font=config.name,
        letters=keys,
        segments=segments,
        avg_width=avg_w,
        avg_height=avg_h,
        min_center=min_c,
        max_center=max_c,
        meta=meta,
        custom_spaces={c: float(np.mean(v)) for c, v in custom_spaces.items()},
        font_size_ratios={k: float(np.mean(v)) for k, v in font_sizes.items()},
        config=config,
    )


def train_sightings(spark, config: FontConfig | None = None, face=None):
    """Per-sighting training history as a DataFrame — the distributed
    analogue of the reference's per-character `recalculatingList`
    (TrainedCharacterData keeps every recorded width/height/segment sample
    precisely so recalculations can be undone; here the history is a
    table, so undo is a filter + re-aggregate instead of mutation).

    Schema: (letter, modifier, seq, segments array<double>[17], width,
    height, center_off) with `seq` the per-(letter, modifier) recording
    order."""
    rows: list[dict] = []
    train_font(config, face, _sightings=rows)
    return spark.createDataFrame(
        rows,
        "letter string, modifier int, seq int, segments array<double>, "
        "width double, height double, center_off double",
    )


def undo_recalculations(sightings, k: int = 1):
    """§2 T4 — `TrainedCharacterData.undoLastRecalculations(k)`
    (src/main/java/com/uddernetworks/newocr/character/
    TrainedCharacterData.java:147-163): drop each trained character's last
    k recorded sightings and re-derive its averaged model row. The
    reference mutates its in-memory recalculatingList then re-averages;
    the Spark expression of the same semantics is immutable — one window
    filter (row_number over seq DESC > k) and one re-aggregate, which also
    recovers min/max center exactly (the reference's running min/max
    cannot be un-done without the history; the history IS our input).

    The reference pops its THREE lists independently — segments always
    grow per sighting, widths/heights only for non-zero-dim sightings
    (recalculateTo appends them conditionally, TrainedCharacterData.java
    :136-139; undoLastRecalculations:147-163 removeLast()s each list on
    its own length). Mirrored here: the segment/center window ranks ALL
    sightings, the width/height window ranks only rows whose width is
    non-NULL (the conditional append), so a zero-dim sighting undoes
    exactly as the reference would. Averages over an emptied width list
    are 0.0 (finishRecalculations' orElse(0D)).

    Returns model-shaped rows: (letter, modifier, segments[17], avg_width,
    avg_height, min_center, max_center, n_sightings). Characters with
    every sighting undone drop out (the reference's `hasPreparedData()`
    false state)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("letter", "modifier").orderBy(F.desc("seq"))
    kept = (
        sightings.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > k)
        .drop("rn")
    )
    kept_wh = (
        sightings.filter(F.col("width").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > k)
        .drop("rn")
    )
    per_pos = kept.select(
        "letter", "modifier", F.posexplode("segments").alias("pos", "val")
    )
    segs = (
        per_pos.groupBy("letter", "modifier", "pos")
        .agg(F.avg("val").alias("avg"))
        .groupBy("letter", "modifier")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "avg"))).alias("pa")
        )
        .select(
            "letter", "modifier",
            F.transform("pa", lambda s: s.avg).alias("segments"),
        )
    )
    stats = kept.groupBy("letter", "modifier").agg(
        F.min("center_off").alias("min_center"),
        F.max("center_off").alias("max_center"),
        F.count("*").alias("n_sightings"),
    )
    wh_stats = kept_wh.groupBy("letter", "modifier").agg(
        F.avg("width").alias("avg_width"),
        F.avg("height").alias("avg_height"),
    )
    return (
        stats.join(wh_stats, ["letter", "modifier"], "left")
        .join(segs, ["letter", "modifier"])
        .select(
            "letter", "modifier", "segments",
            F.coalesce("avg_width", F.lit(0.0)).alias("avg_width"),
            F.coalesce("avg_height", F.lit(0.0)).alias("avg_height"),
            "min_center", "max_center", "n_sightings",
        )
    )
