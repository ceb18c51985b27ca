"""Extraction benchmark for rust_html2text_spark (see README.md)."""
