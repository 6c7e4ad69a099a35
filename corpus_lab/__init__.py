"""Corpus-processing operators that sit outside the RSS ingestion product.

``news_rss_spark`` is the ingestion system: feed fetch -> extract -> GUID
dedup -> publish.  This package holds everything else the repository
grew around it — text and embedding dedup, ANN search, quality and
language analysis, graph ranking, sketches, media and document kernels,
page-bundle and WARC jobs, streaming analytics sinks — together with the
registry entries (``corpus_lab.registry``) that exercise them against
DuckDB oracles.

The dependency runs one way: ``corpus_lab`` imports a short list of
public ``news_rss_spark`` names, never a private one, and the product
never imports ``corpus_lab`` (``tests/test_product_boundary.py`` locks
both).
"""
