"""dpo_ocr_spark — a PySpark-native extraction-and-structured-export engine.

A brand-new implementation (NOT a port) with the query and data-processing
capabilities of the reference pipeline Smithsonian/DPO_OCR, re-hosted as a
columnar Spark job over a Common-Crawl-style table
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Layers:
- ``corpus``      — deterministic synthetic web-page corpus (test/bench input)
- ``extract``     — Arrow-batched byte-stream decode: HTML boilerplate strip +
                    layout/OCR payload parse → per-url text + token/span records
- ``assemble``    — confidence-filtered token→line→block assembly (reading order)
- ``interpret``   — rule-based + fuzzy-match field interpretation (dates,
                    elevations, localities, taxonomy, collectors)
- ``ops``         — large-scale training-data ops: dedup, similarity search,
                    text analysis, audio container decode
- ``eval``        — golden-transcription accuracy harness
- ``scale``       — salted repartition, per-partition lineage, resume
"""

__version__ = "0.1.0"
