"""Space insertion (SURVEY §2f: O3) — OCRScan.getSpacesFor/spaceRound
(recognition/OCRScan.java:189-238).

Per line: fontSize = max glyph height; spaceRatio = trained space
avgWidth/avgHeight; per adjacent pair,
  usedWidth = (spaceRatio + customSpaceRatio(prev)) * fontSize
  leftX     = prev.x + prev.width + 1     (note the +1, :210)
  spaces    = floor(gap/usedWidth) when the right char is '!' (:217)
              else floor + 1 iff fractional part > 0.8 (:233-238)
Synthetic ' ' letters are emitted at interpolated X positions.
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from ..model import FontModel
    from .scan import ImageLetter


def space_round(value: float) -> int:
    """floor(value), +1 iff |frac - 1| < 0.2 (OCRScan.java:233-238)."""
    known = math.floor(value)
    extra = math.fmod(value, 1.0)  # Java % on doubles
    if abs(extra - 1.0) < 0.2:
        known += 1
    return known


def insert_spaces(line: list, font_size: int, model: "FontModel") -> list:
    """Returns the synthetic space ImageLetters for one x-sorted line."""
    from .scan import ImageLetter

    space_row = model.space_row
    space_avg_w = float(model.avg_width[space_row])
    space_avg_h = float(model.avg_height[space_row])
    if space_avg_h == 0:
        return []
    space_ratio = space_avg_w / space_avg_h

    out: list[ImageLetter] = []
    prev = None
    for cur in line:
        override = 0.0 if prev is None else model.custom_spaces.get(prev.letter, 0.0)
        left_x = 0 if prev is None else prev.x + prev.width + 1
        gap = cur.x - left_x
        used_width = (space_ratio + override) * font_size
        if used_width <= 0:
            prev = cur
            continue
        if cur.letter == "!":
            spaces = math.floor(gap / used_width)
        else:
            spaces = space_round(gap / used_width)
        for i in range(max(0, spaces)):
            out.append(
                ImageLetter(" ", 0, int(left_x + used_width * i), cur.y, int(used_width), font_size)
            )
        prev = cur
    return out
