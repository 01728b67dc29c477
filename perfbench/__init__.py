"""Benchmark of the crawl engine and the query suite; see run.py."""
