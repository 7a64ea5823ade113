"""Crawl-frontier benchmark for ``heritrix_spark`` (see README.md)."""
