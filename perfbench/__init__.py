"""End-to-end and per-layer benchmark for the ingest service and the
query registry. Entry point: ``python3 perfbench/run.py`` (see
README.md)."""
