"""The decoders' pixel budget and the kernel's component budget.

A PNG or BMP header declares its width and height; both decoders check
them against ``MAX_PIXELS`` before they inflate or allocate anything, so
a few-KiB file cannot make a worker allocate gigabytes. The budget admits
a 600 dpi A4 page (4961 x 7016 = 34.8 Mpx) and a 600 dpi US Letter page
(5100 x 6600 = 33.7 Mpx).

A page within the pixel budget can still hold hundreds of thousands of
connected components (a 2000 x 2000 page of random ink at density 0.3
holds 190,000), and each one that lands in a line is featurized, ranked
and given a letter. ``scan_grid`` checks the count against
``MAX_COMPONENTS`` right after connected-component labelling, before
line assignment and ranking. The budget is ten times the densest full
page of text: RAW_STRING wrapped over a US Letter page at 96 dpi
(816 x 1056 px) at scale 1 (12 pt), measured per trained face, holds
4,686 components in the default face (48 lines, 4,286 characters), 3,838
serif, 3,126 tall, 3,072 wide, 2,586 wide-serif and 2,397 tall-serif.
Components follow the characters on a page, not its resolution.
"""

from __future__ import annotations

MAX_PIXELS = 40_000_000
MAX_COMPONENTS = 50_000


class ImageTooLarge(ValueError):
    """The header declares more than ``MAX_PIXELS`` pixels."""


class ImageTooComplex(ValueError):
    """The image holds more than ``MAX_COMPONENTS`` connected components."""


def check_pixels(w: int, h: int) -> None:
    """Raise ``ImageTooLarge`` unless a ``w`` x ``h`` image fits the budget."""
    if w * h > MAX_PIXELS:
        raise ImageTooLarge(f"{w}x{h} = {w * h} pixels exceeds the {MAX_PIXELS} pixel budget")


def check_components(n: int) -> None:
    """Raise ``ImageTooComplex`` unless ``n`` components fit the budget."""
    if n > MAX_COMPONENTS:
        raise ImageTooComplex(
            f"{n} connected components exceed the {MAX_COMPONENTS} component budget"
        )
