"""Benchmark harness for the dpo_ocr_spark pipeline (see README.md)."""
