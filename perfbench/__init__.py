"""Crawl-frontier benchmark: seeded, output-checked workloads driven through
the engine's public API, with an optional traced run for per-layer figures.
Entry point: ``python3 perfbench/run.py`` (see README.md)."""
