"""Crawl benchmark for suckit_spark; see README.md in this directory."""
