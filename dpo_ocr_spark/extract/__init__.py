"""Extraction stage exports.

``extract_pages`` is the Arrow-batched ``mapInArrow`` stage (stage.py);
``extract.html`` holds the HTML segmenter it runs per page.
"""

from .stage import extract_pages  # noqa: F401
