"""PDF text-extraction kernel: round-trips, escapes, filters, skip rows."""

import zlib

import pytest
from pyspark.sql import functions as F

from corpus_lab.kernel.pdfx import extract_pdf_text, synth_pdf


def _raw_pdf(content: bytes, length: bool = True, filt: bytes = b"") -> bytes:
    hdr = b"<< "
    if length:
        hdr += b"/Length " + str(len(content)).encode() + b" "
    hdr += filt + b">>"
    return (b"%PDF-1.4\n4 0 obj " + hdr + b" stream\n" + content
            + b"\nendstream endobj\n")


class TestKernel:
    def test_roundtrip_plain_and_compressed(self):
        lines = ["Hello (world) \\ yes", "Second line.", "T* ' tricky (ops)"]
        for compress in (False, True):
            assert extract_pdf_text(
                synth_pdf(lines, compress=compress)) == "\n".join(lines)

    def test_escapes_hex_and_quote_operator(self):
        content = b"BT (a\\110c\\n) Tj <48495A> Tj T* (next) ' ET"
        assert extract_pdf_text(_raw_pdf(content)) == "aHc\nHIZ\nnext"

    def test_binary_safe_stream_slicing(self):
        # compressed bytes ending in \r / \n must survive /Length slicing
        payload = b"BT (x) Tj ET" + b" " * 37  # vary until tail EOL bytes
        comp = zlib.compress(payload)
        pdf = _raw_pdf(comp, filt=b"/Filter /FlateDecode ")
        assert extract_pdf_text(pdf) == "x"

    def test_unsupported_filter_and_garbage_raise(self):
        with pytest.raises(ValueError):
            extract_pdf_text(_raw_pdf(b"zz", filt=b"/Filter /DCTDecode "))
        with pytest.raises(ValueError):
            extract_pdf_text(b"not a pdf")

    def test_text_outside_bt_et_ignored(self):
        content = b"(hidden) Tj BT (shown) Tj ET"
        assert extract_pdf_text(_raw_pdf(content)) == "shown"


class TestOperator:
    def test_skip_rows_for_bad_payloads(self, spark):
        from corpus_lab.operators.pdf_text import extract_pdf_text_df
        rows = [("1", synth_pdf(["fine"])), ("2", b"junk"), ("3", None)]
        df = spark.createDataFrame(rows, "doc_id string, payload binary")
        out = {r["doc_id"]: (r["status"], r["text"])
               for r in extract_pdf_text_df(df).collect()}
        assert out["1"] == ("ok", "fine")
        assert out["2"][0] == "skip" and out["3"][0] == "skip"

    def test_synth_roundtrip_distributed(self, spark):
        from corpus_lab.operators.pdf_text import (
            extract_pdf_text_df, synth_pdf_documents)
        d = spark.range(0, 40).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("Doc number "), F.col("id").cast("string"),
                     F.lit(" (with parens) and \\ slash.")).alias("text"))
        expected = {r["doc_id"]: r["text"]
                    for r in d.withColumn("doc_id",
                                          F.col("doc_id").cast("string")).collect()}
        out = extract_pdf_text_df(synth_pdf_documents(d)).collect()
        assert all(r["status"] == "ok" for r in out)
        assert {r["doc_id"]: r["text"] for r in out} == expected


class TestReviewRegressions:
    def test_corrupt_flate_stream_is_skip_not_crash(self):
        """zlib.error must surface as ValueError (the skip-row contract)."""
        pdf = bytearray(synth_pdf(["hello world"], compress=True))
        # flip a byte inside the compressed stream body
        i = bytes(pdf).find(b"stream\n") + 20
        pdf[i] ^= 0xFF
        with pytest.raises(ValueError):
            extract_pdf_text(bytes(pdf))

    def test_indirect_length_reference_not_misparsed(self):
        """'/Length 123 0 R' must NOT parse as length 12 (regex
        backtracking defeated the lookahead) — it falls back to the
        delimiter scan and still extracts."""
        from corpus_lab.kernel.pdfx import _LENGTH_RE
        assert _LENGTH_RE.search(b"<< /Length 123 0 R >>") is None
        assert _LENGTH_RE.search(b"<< /Length 123 >>").group(1) == b"123"
        content = b"BT (indirect ok) Tj ET"
        pdf = (b"%PDF-1.4\n4 0 obj << /Length 5 0 R >> stream\n" + content
               + b"\nendstream endobj\n5 0 obj "
               + str(len(content)).encode() + b" endobj\n")
        assert extract_pdf_text(pdf) == "indirect ok"

    def test_decompression_bomb_is_capped(self):
        """A tiny FlateDecode stream inflating past MAX_STREAM_BYTES must
        become a ValueError (skip row), not an executor OOM."""
        import zlib

        from corpus_lab.kernel.pdfx import decompress_capped

        bomb = zlib.compress(b"\x00" * (1 << 20))  # ~1 KB -> 1 MiB
        with pytest.raises(ValueError, match="bomb"):
            decompress_capped(bomb, max_out=1 << 16)
        # under the cap: exact one-shot semantics incl. trailing garbage
        ok = zlib.compress(b"payload" * 10)
        assert decompress_capped(ok + b"\n", max_out=1 << 16) == b"payload" * 10
        with pytest.raises(ValueError, match="truncated"):
            decompress_capped(ok[:-4], max_out=1 << 16)
