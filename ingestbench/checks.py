"""Correctness checks.  Each returns a list of failure messages (empty when
the output is right).

Expected ids come from the generator, not from the code under test.  Row
content is compared with ``kernel.extract.extract_document`` run directly
on the generator's kernel input documents, every one of them: the sink
must hold exactly what the kernel makes of each input document, so a bug
in the Arrow adapter, the dedup, the write or the read-back shows.
"""

from __future__ import annotations

from news_rss_spark.kernel.extract import extract_document

from ingestbench.inputs import NOW, Input

_FIELDS = ("status", "error", "title", "description", "link", "source",
           "pub_date", "photo_path")
# the stream sink's column names for the same kernel outputs
_NEWS_FIELDS = (("message_url", "link"), ("datetime", "pub_date"),
                ("source", "source"), ("photo_path", "photo_path"),
                ("text", "text"))


def _spans(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans or []]


def _id_failures(what: str, got: list, want: set) -> list[str]:
    out = []
    if len(got) != len(set(got)):
        out.append(f"{what}: {len(got) - len(set(got))} duplicate ids")
    extra, missing = set(got) - want, want - set(got)
    if extra or missing:
        out.append(f"{what}: {len(extra)} unexpected ids, {len(missing)} missing")
    return out


def _expected(inp: Input, doc_id: str) -> dict:
    doc = inp.kernel_docs[doc_id]
    return extract_document(doc["doc_id"], doc["spans"], NOW)


def check_batch(spark, inp: Input, sink: str, lineage: str,
                published: int) -> list[str]:
    """Sink of a batch job: ids, span-for-span content, lineage totals."""
    rows = spark.read.parquet(sink).toArrow().to_pylist()
    fails = _id_failures("sink", [r["id"] for r in rows], inp.expected_ids)
    fails += _id_failures("sink ok rows",
                          [r["id"] for r in rows if r["status"] == "ok"],
                          inp.valid_ids)
    bad = 0
    for r in rows:
        if r["id"] not in inp.kernel_docs:
            continue
        want = _expected(inp, r["id"])
        if (any(r[f] != want.get(f) for f in _FIELDS)
                or _spans(r["spans"]) != _spans(want.get("spans"))
                or r["byte_count"] != want.get("byte_count")):
            bad += 1
    if bad:
        fails.append(f"sink: {bad} rows differ from the kernel's extraction")
    ledger = spark.read.parquet(lineage).toArrow().to_pylist()
    buckets = [r["bucket"] for r in ledger]
    if len(buckets) != len(set(buckets)):
        fails.append("lineage: a bucket is recorded more than once")
    if set(buckets) != {r["bucket"] for r in rows}:
        fails.append("lineage: buckets differ from the sink's")
    if sum(r["doc_count"] for r in ledger) != len(rows):
        fails.append("lineage: sum(doc_count) != sink rows")
    if sum(r["ok_count"] for r in ledger) != published:
        fails.append("lineage: sum(ok_count) != published")
    if published != len(inp.valid_ids):
        fails.append(f"published {published}, expected {len(inp.valid_ids)}")
    return fails


def check_stream(spark, inp: Input, sink: str, ticks: int) -> list[str]:
    """Sink of ``ticks`` poll ticks: every valid guid landed so far, once,
    each with the kernel's extraction."""
    rows = spark.read.parquet(sink).toArrow().to_pylist()
    want_ids = set().union(*inp.tick_ids[:ticks]) & inp.valid_ids
    fails = _id_failures("stream sink", [r["id"] for r in rows], want_ids)
    bad = 0
    for r in rows:
        if r["id"] not in inp.kernel_docs:
            continue
        want = _expected(inp, r["id"])
        if any(r[col] != want.get(f) for col, f in _NEWS_FIELDS):
            bad += 1
    if bad:
        fails.append(f"stream sink: {bad} rows differ from the kernel's extraction")
    return fails
