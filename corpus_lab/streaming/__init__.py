"""Streaming analytics sinks beside the ingestion poller."""
