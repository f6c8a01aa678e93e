from .png import decode_png, encode_png  # noqa: F401
from .limits import MAX_COMPONENTS, MAX_PIXELS, ImageTooComplex, ImageTooLarge  # noqa: F401
