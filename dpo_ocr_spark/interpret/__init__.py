from .fuzzy import (  # noqa: F401
    ratio,
    partial_ratio,
    token_set_ratio,
    word_similarity,
)
from .dates import interpret_block  # noqa: F401
