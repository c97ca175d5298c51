"""Crawl-engine benchmark (see perfbench/README.md)."""
