"""The decoders' pixel budget.

A PNG or BMP header declares its width and height; both decoders check
them against ``MAX_PIXELS`` before they inflate or allocate anything, so
a few-KiB file cannot make a worker allocate gigabytes. The budget admits
a 600 dpi A4 page (4961 x 7016 = 34.8 Mpx) and a 600 dpi US Letter page
(5100 x 6600 = 33.7 Mpx).
"""

from __future__ import annotations

MAX_PIXELS = 40_000_000


class ImageTooLarge(ValueError):
    """The header declares more than ``MAX_PIXELS`` pixels."""


def check_pixels(w: int, h: int) -> None:
    """Raise ``ImageTooLarge`` unless a ``w`` x ``h`` image fits the budget."""
    if w * h > MAX_PIXELS:
        raise ImageTooLarge(f"{w}x{h} = {w * h} pixels exceeds the {MAX_PIXELS} pixel budget")
