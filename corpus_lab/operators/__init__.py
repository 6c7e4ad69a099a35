"""Spark-side corpus operators: dedup, similarity, quality, graphs, sketches."""
