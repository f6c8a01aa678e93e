from .png import decode_png, encode_png  # noqa: F401
from .limits import MAX_PIXELS, ImageTooLarge  # noqa: F401
