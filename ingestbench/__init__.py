"""Ingestion benchmark for news_rss_spark (run ``python3 ingestbench/run.py``)."""
