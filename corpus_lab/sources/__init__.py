"""Sources outside the RSS path: WARC, sitemaps, OPML, JSONL, distributed synthetic corpora."""
