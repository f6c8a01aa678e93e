"""Trained font model — the broadcast dimension of the engine.

Persisted as small Parquet tables (font_model / font_meta /
font_custom_spaces / font_size_ratios, FIXTURES.md §3-4, mirroring the
reference's HSQLDB tables letters/sectionData/data/customSpaces/fontSizes —
resources/*.sql, written at OCRTrain.java:241-256) and loaded once on the
driver into plain numpy arrays that ``sc.broadcast`` ships to executors.
This replaces the reference's per-lookup async DB reads
(OCRDatabaseManager.java:234-302) with zero-IO in the hot loop — SURVEY §4 P4.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .letters import DEFAULT_SIMILARITIES

N_FEATURES = 17

META_NAMES = (
    "distanceAbove", "distancei", "distancej", "colonDistance",
    "semicolonDistance", "equalsDistance", "distanceQuestion",
    "distanceExclamation", "apostropheRatio",
)


# the default merge-rule execution order (registration order sorted stably
# by priority — see kernel/mergence.py module docstring); names mirror the
# reference's reflectively-registered rule classes
# (HOCONFontConfiguration.java:156-170, fonts/Default.conf mergence.rules)
DEFAULT_MERGE_RULES = (
    "UnderDotMergeRule", "EqualVerticalMergeRule", "OverDotMergeRule",
    "ApostropheMergeRule", "PercentMergeRule",
)


class UntrainedModelError(RuntimeError):
    """Raised when a scan is attempted against a model directory that was
    never trained (missing or empty trained tables) — the analogue of the
    reference's UntrainedDatabaseException (recognition/OCRScan.java:99,
    train/UntrainedDatabaseException.java)."""


@dataclass
class FontConfig:
    """Per-font options (configuration/HOCONFontConfiguration.java:95-170,
    resources/fonts/Default.conf). Loadable from a per-font JSON file
    shipped next to the trained tables — the engine's analogue of the
    reference's per-font HOCON configs (similarity sets, merge-rule list,
    ratio weights, special spaces all file-driven, no code edits)."""

    name: str = "SparkGrid"
    special_spaces: frozenset[str] = frozenset({"`"})
    max_percent_diff_to_merge: float = 0.5
    size_ratio_weight: float = 4.0
    # (char, mod) → extra multiplier on size_ratio_weight (OCROptions.java:141-143)
    specific_ratio_weights: dict[tuple[str, int], float] = field(default_factory=dict)
    similarities: dict[str, frozenset[tuple[str, int]]] = field(
        default_factory=lambda: dict(DEFAULT_SIMILARITIES)
    )
    # execution order of the mergence rules (kernel/mergence.RULE_REGISTRY
    # names); dropping or reordering entries changes merge behavior, as the
    # reference's config-driven rule registration does
    merge_rules: tuple[str, ...] = DEFAULT_MERGE_RULES

    # ---------------- config-file surface ----------------

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "special_spaces": sorted(self.special_spaces),
            "max_percent_diff_to_merge": self.max_percent_diff_to_merge,
            "size_ratio_weight": self.size_ratio_weight,
            "specific_ratio_weights": [
                [l, m, w] for (l, m), w in sorted(self.specific_ratio_weights.items())
            ],
            "similarities": {
                k: sorted([l, m] for (l, m) in v)
                for k, v in sorted(self.similarities.items())
            },
            "merge_rules": list(self.merge_rules),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "FontConfig":
        base = cls()
        return cls(
            name=d.get("name", base.name),
            special_spaces=frozenset(d.get("special_spaces", base.special_spaces)),
            max_percent_diff_to_merge=d.get(
                "max_percent_diff_to_merge", base.max_percent_diff_to_merge
            ),
            size_ratio_weight=d.get("size_ratio_weight", base.size_ratio_weight),
            specific_ratio_weights={
                (l, int(m)): float(w)
                for l, m, w in d.get("specific_ratio_weights", [])
            },
            similarities=(
                {
                    k: frozenset((l, int(m)) for l, m in v)
                    for k, v in d["similarities"].items()
                }
                if "similarities" in d
                else dict(DEFAULT_SIMILARITIES)
            ),
            merge_rules=tuple(d.get("merge_rules", DEFAULT_MERGE_RULES)),
        )

    def to_file(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(self.to_dict(), f, indent=2, sort_keys=True)
            f.write("\n")

    @classmethod
    def from_file(cls, path: str) -> "FontConfig":
        import json

        with open(path) as f:
            return cls.from_dict(json.load(f))


@dataclass
class FontModel:
    """Broadcast-ready trained model: parallel numpy arrays over N trained
    (letter, modifier) rows. The space row keeps an all-zero segment vector
    and participates in NN scoring, as in the reference (the DB path's
    ``DatabaseCharacter`` defaults data[17] to zeros for the space entry —
    character/DatabaseCharacter.java:11, OCRDatabaseManager.java:283-295)."""

    font: str
    letters: list[tuple[str, int]]          # N entries
    segments: np.ndarray                    # (N, 17) float64
    avg_width: np.ndarray                   # (N,)
    avg_height: np.ndarray                  # (N,)
    min_center: np.ndarray                  # (N,)
    max_center: np.ndarray                  # (N,)
    meta: dict[str, float]                  # averaged scalar metadata
    custom_spaces: dict[str, float]         # letter → trailing-space ratio
    font_size_ratios: dict[tuple[str, int], float]  # (letter, mod) → pt/height
    config: FontConfig = field(default_factory=FontConfig)

    def __post_init__(self) -> None:
        self._index = {lm: i for i, lm in enumerate(self.letters)}
        # per-row NN ratio weights (similarity-manager path:
        # OCRActions.java:255 → options.getSizeRatioWeight(letter))
        w = self.config.size_ratio_weight
        self.ratio_weights = np.array(
            [w * self.config.specific_ratio_weights.get(lm, 1.0) for lm in self.letters]
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            ratios = np.where(
                self.avg_height != 0, self.avg_width / self.avg_height, np.nan
            )
        self.trained_ratios = ratios
        # NN tie-break keys (kernel/scan._rank_candidates), built once
        self.letter_codes = np.array([ord(lm[0]) for lm in self.letters])
        self.modifiers = np.array([lm[1] for lm in self.letters])
        # content identity of everything the NN ranking reads: the glyph
        # cache keys on it, so a model with another config (or weights)
        # never reuses this one's rankings, and an unpickled copy on an
        # executor hits the entries the original filled
        h = hashlib.blake2b(digest_size=16)
        for a in (self.letter_codes, self.modifiers, self.segments,
                  self.trained_ratios, self.ratio_weights):
            a = np.ascontiguousarray(a, dtype=np.float64)
            h.update(repr(a.shape).encode())
            h.update(a.tobytes())
        self.digest = h.digest()

    def row(self, letter: str, mod: int) -> int:
        return self._index[(letter, mod)]

    @property
    def space_row(self) -> int:
        return self._index[(" ", 0)]

    # ---------------- persistence ----------------

    def to_tables(self) -> dict[str, pa.Table]:
        n = len(self.letters)
        model = pa.table(
            {
                "font": pa.array([self.font] * n),
                "letter": pa.array([lm[0] for lm in self.letters]),
                "modifier": pa.array([lm[1] for lm in self.letters], pa.int32()),
                "avg_width": pa.array(self.avg_width, pa.float64()),
                "avg_height": pa.array(self.avg_height, pa.float64()),
                "min_center": pa.array(self.min_center, pa.float64()),
                "max_center": pa.array(self.max_center, pa.float64()),
                "is_space": pa.array([lm == (" ", 0) for lm in self.letters]),
                "segments": pa.array(
                    [row.tolist() for row in self.segments], pa.list_(pa.float64())
                ),
            }
        )
        meta = pa.table(
            {
                "font": pa.array([self.font] * len(self.meta)),
                "name": pa.array(list(self.meta.keys())),
                "value": pa.array(list(self.meta.values()), pa.float64()),
            }
        )
        spaces = pa.table(
            {
                "font": pa.array([self.font] * len(self.custom_spaces)),
                "letter": pa.array(list(self.custom_spaces.keys())),
                "ratio": pa.array(list(self.custom_spaces.values()), pa.float64()),
            }
        )
        sizes = pa.table(
            {
                "font": pa.array([self.font] * len(self.font_size_ratios)),
                "letter": pa.array([lm[0] for lm in self.font_size_ratios]),
                "modifier": pa.array(
                    [lm[1] for lm in self.font_size_ratios], pa.int32()
                ),
                "ratio": pa.array(list(self.font_size_ratios.values()), pa.float64()),
            }
        )
        return {
            "font_model": model,
            "font_meta": meta,
            "font_custom_spaces": spaces,
            "font_size_ratios": sizes,
        }

    def save(self, directory: str) -> None:
        import os

        os.makedirs(directory, exist_ok=True)
        for name, table in self.to_tables().items():
            pq.write_table(table, f"{directory}/{name}.parquet")
        # per-font config ships NEXT TO the trained tables (the reference's
        # per-font .conf + per-font DB pairing)
        self.config.to_file(f"{directory}/font_config.json")

    @classmethod
    def load(cls, directory: str, config: FontConfig | None = None) -> "FontModel":
        import os

        # explicit untrained guard, the analogue of the reference's
        # UntrainedDatabaseException (recognition/OCRScan.java:99): scanning
        # against a model that was never trained must fail with intent, not
        # with a low-level file error deep in a Spark task
        if not os.path.exists(f"{directory}/font_model.parquet"):
            raise UntrainedModelError(
                f"no trained font model at {directory!r}: expected "
                "font_model.parquet (run the trainer / FontModel.save first)"
            )
        if config is None:
            cfg_path = f"{directory}/font_config.json"
            if os.path.exists(cfg_path):
                config = FontConfig.from_file(cfg_path)
        model = pq.read_table(f"{directory}/font_model.parquet").to_pydict()
        if not model["letter"]:
            raise UntrainedModelError(
                f"font model at {directory!r} contains zero trained letters"
            )
        meta = pq.read_table(f"{directory}/font_meta.parquet").to_pydict()
        spaces = pq.read_table(f"{directory}/font_custom_spaces.parquet").to_pydict()
        sizes = pq.read_table(f"{directory}/font_size_ratios.parquet").to_pydict()
        letters = list(zip(model["letter"], model["modifier"]))
        return cls(
            font=model["font"][0] if model["font"] else "unknown",
            letters=letters,
            segments=np.array(model["segments"], dtype=np.float64),
            avg_width=np.array(model["avg_width"]),
            avg_height=np.array(model["avg_height"]),
            min_center=np.array(model["min_center"]),
            max_center=np.array(model["max_center"]),
            meta=dict(zip(meta["name"], meta["value"])),
            custom_spaces=dict(zip(spaces["letter"], spaces["ratio"])),
            font_size_ratios={
                (l, m): r
                for l, m, r in zip(sizes["letter"], sizes["modifier"], sizes["ratio"])
            },
            config=config if config is not None else FontConfig(),
        )
