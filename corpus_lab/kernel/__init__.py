"""Byte-level parsers (media, documents, archives, markup) outside the ingestion kernel."""
