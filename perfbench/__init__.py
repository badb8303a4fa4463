"""End-to-end benchmark of the ingestion engine; run ``python3 perfbench/run.py --help``."""
