from .extract import extract_spans, assemble_documents, make_ocr_udf  # noqa: F401
from .session import build_session  # noqa: F401
from .state import ExtractRunner  # noqa: F401
