"""Spark-side operators: extraction, dedup, lineage."""
