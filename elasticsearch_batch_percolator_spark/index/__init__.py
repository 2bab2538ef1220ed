from .codec import decode_postings, encode_postings  # noqa: F401
from .build import build_index, read_manifest  # noqa: F401
