"""Batch jobs outside the ingestion path: page bundles, WARC, training data, compaction."""
