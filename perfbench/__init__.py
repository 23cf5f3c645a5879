"""Benchmark of the wss_spark crawl engine; see README.md."""
