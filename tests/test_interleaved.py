"""Interleaved multimodal sequence packing (MMC4/OBELICS recipe):
span layout, cost model, packing arithmetic, atomicity, and
partitioning-independence of the distributed prefix sum."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from corpus_lab.operators.interleaved import (
    assemble_sequences,
    interleaved_sequence_stats,
    pack_interleaved_sequences,
    synth_interleaved_spans,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestSynthSpans:
    def test_hand_layout_with_image_and_video(self, spark):
        # 8 words -> 2 text spans (7 + 1 words); nt=2 -> no image;
        # doc_id 4 -> trailing video at position nt + ni = 2
        rows = _docs(spark, [(4, "a b c d e f g h")]) \
            .transform(synth_interleaved_spans).collect()
        spans = rows[0]["spans"]
        assert [(s["kind"], s["offset"]) for s in spans] == \
            [("text", 0), ("text", 1), ("video", 2)]
        assert spans[0]["text"] == "a b c d e f g"
        assert spans[1]["text"] == "h"
        assert spans[2]["media_ref"] == "vid:4"

    def test_image_every_three_text_spans(self, spark):
        # 22 words -> 4 text spans -> 1 image after span 2, no video (id 1)
        words = " ".join(f"w{i}" for i in range(22))
        spans = _docs(spark, [(1, words)]) \
            .transform(synth_interleaved_spans).collect()[0]["spans"]
        kinds = [s["kind"] for s in spans]
        assert kinds == ["text", "text", "text", "image", "text"]
        assert spans[3]["media_ref"] == "img:1:0"
        assert [s["offset"] for s in spans] == [0, 1, 2, 3, 4]

    def test_empty_and_null_text_dropped(self, spark):
        out = _docs(spark, [(1, None), (2, "   "), (3, "ok")]) \
            .transform(synth_interleaved_spans).collect()
        assert [r["doc_id"] for r in out] == [3]


class TestPacking:
    def test_matches_sequential_reference(self, spark):
        rows = [(i, " ".join(f"t{i}w{j}" for j in range(5 + (i * 7) % 40)))
                for i in range(30)]
        spans = synth_interleaved_spans(_docs(spark, rows))
        packed = pack_interleaved_sequences(spans, seq_len=64).collect()
        got = {(r["doc_id"], r["span_idx"]):
               (r["tok_cost"], r["start_tok"], r["seq_id"], r["seq_pos"])
               for r in packed}
        # sequential reference: walk docs in id order, spans in position
        # order, accumulate costs
        acc = 0
        flat = sorted(
            ((r["doc_id"], s["offset"], s["kind"], s["text"])
             for r in spans.collect() for s in r["spans"]))
        for did, idx, kind, text in flat:
            cost = (len(text.split()) if kind == "text"
                    else 16 if kind == "image" else 32)
            assert got[(did, idx)] == (cost, acc, acc // 64, acc % 64)
            acc += cost

    def test_partitioning_independent(self, spark):
        rows = [(i, " ".join(f"d{i}x{j}" for j in range(3 + i % 25)))
                for i in range(50)]
        spans = synth_interleaved_spans(_docs(spark, rows))
        a = pack_interleaved_sequences(spans.repartition(1), seq_len=32)
        b = pack_interleaved_sequences(spans.repartition(13, "doc_id"),
                                       seq_len=32)
        ka = sorted(map(tuple, a.collect()))
        kb = sorted(map(tuple, b.collect()))
        assert ka == kb

    def test_media_spans_atomic_never_torn(self, spark):
        rows = [(i, " ".join(f"m{i}q{j}" for j in range(30)))
                for i in range(40)]
        packed = pack_interleaved_sequences(
            synth_interleaved_spans(_docs(spark, rows)), seq_len=16,
            image_tokens=10, video_tokens=10)
        # every span occupies one (seq_id, seq_pos) start; media spans
        # keep their full budget attributed to that one sequence
        media = packed.filter(F.col("kind") != "text")
        assert media.count() > 0
        assert media.filter(F.col("tok_cost") != 10).count() == 0
        # starts are unique on the global token axis
        n = packed.count()
        assert packed.select("start_tok").distinct().count() == n

    def test_sequence_stats_consistent(self, spark):
        rows = [(i, " ".join(f"s{i}y{j}" for j in range(12)))
                for i in range(20)]
        packed = pack_interleaved_sequences(
            synth_interleaved_spans(_docs(spark, rows)), seq_len=48)
        stats = interleaved_sequence_stats(packed)
        tot = stats.agg(
            F.sum("n_spans").alias("s"),
            F.sum("text_tokens").alias("t"),
            F.sum("media_tokens").alias("m")).collect()[0]
        assert tot["s"] == packed.count()
        assert tot["t"] + tot["m"] == \
            packed.agg(F.sum("tok_cost")).collect()[0][0]

    def test_assembly_body_order_and_sentinels(self, spark):
        # one doc, 22 words -> text,text,text,<image>,text; seq_len big
        # enough that everything lands in sequence 0 in span order
        words = " ".join(f"w{i}" for i in range(22))
        packed = pack_interleaved_sequences(
            synth_interleaved_spans(_docs(spark, [(1, words)])),
            seq_len=1000)
        row = assemble_sequences(packed).collect()[0]
        assert row["seq_id"] == 0 and row["n_spans"] == 5
        expect = (" ".join(f"w{i}" for i in range(21))
                  + " <image:img:1:0> w21")
        assert row["body"] == expect

    def test_assembly_partitioning_independent(self, spark):
        rows = [(i, " ".join(f"a{i}b{j}" for j in range(4 + i % 30)))
                for i in range(40)]
        spans = synth_interleaved_spans(_docs(spark, rows))
        a = assemble_sequences(pack_interleaved_sequences(
            spans.repartition(1), seq_len=64)).collect()
        b = assemble_sequences(pack_interleaved_sequences(
            spans.repartition(11, "doc_id"), seq_len=64)).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    @settings(max_examples=12, deadline=None)
    @given(st.lists(st.integers(0, 120), min_size=1, max_size=25),
           st.integers(8, 200), st.integers(1, 40), st.integers(1, 80))
    def test_property_matches_sequential_reference(
            self, spark, word_counts, seq_len, image_tokens, video_tokens):
        """Any doc-size mix, any seq_len, any placeholder budgets: the
        distributed packing equals the single-threaded walk."""
        rows = [(i, " ".join(f"h{i}w{j}" for j in range(n)) or None)
                for i, n in enumerate(word_counts)]
        spans = synth_interleaved_spans(_docs(spark, rows))
        packed = pack_interleaved_sequences(
            spans, seq_len=seq_len, image_tokens=image_tokens,
            video_tokens=video_tokens).collect()
        got = {(r["doc_id"], r["span_idx"]):
               (r["tok_cost"], r["start_tok"], r["seq_id"], r["seq_pos"])
               for r in packed}
        flat = sorted(
            ((r["doc_id"], s["offset"], s["kind"], s["text"])
             for r in spans.collect() for s in r["spans"]))
        assert len(got) == len(flat)
        acc = 0
        for did, idx, kind, text in flat:
            cost = (len(text.split()) if kind == "text"
                    else image_tokens if kind == "image" else video_tokens)
            assert got[(did, idx)] == \
                (cost, acc, acc // seq_len, acc % seq_len)
            acc += cost

    def test_duplicate_doc_id_rejected(self, spark):
        # span_idx comes from array position, so the only way to collide
        # on the order key is a duplicated doc_id -> the prefix sum's
        # uniqueness probe must raise, not silently mis-order
        bad = spark.createDataFrame(
            [(1, [("text", "a b", None, 0)]),
             (1, [("text", "c", None, 0)])],
            "doc_id long, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>")
        with pytest.raises(ValueError, match="duplicate"):
            pack_interleaved_sequences(bad, seq_len=8).collect()


class TestRebaseSpanOffsets:
    SPAN_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>")

    def _mk(self, spark, spans):
        return spark.createDataFrame([("d", spans)], self.SPAN_DDL)

    def test_python_replay(self, spark):
        from corpus_lab.operators.interleaved import rebase_span_offsets
        from pyspark.sql import functions as F
        spans = [("meta", "hello  world", None, 99),
                 ("img", None, "m1", 99),
                 ("html", "aeiou text", None, 99),
                 ("desc", "tail", None, 99)]
        df = self._mk(spark, spans)
        out = rebase_span_offsets(
            df, lambda t: F.regexp_replace(t, "[aeiou]", ""))
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in out.collect()[0]["spans"]]
        # python replay of clean + _finalize_spans rule
        import re
        pos, want = 0, []
        for kind, text, ref, _ in spans:
            t = re.sub("[aeiou]", "", text) if (ref is None
                                                and text is not None) \
                else text
            want.append((kind, t, ref, pos))
            pos += len(t) if t is not None else 0
        assert got == want
        assert got[1][3] == got[0][3] + len("hll  wrld")  # media re-anchored

    def test_identity_clean_matches_kernel_rule(self, spark):
        from news_rss_spark.kernel.extract import _finalize_spans
        from corpus_lab.operators.interleaved import rebase_span_offsets
        spans = [("a", "xx", None, 0), ("m", None, "r", 0),
                 ("b", "yyy", None, 0)]
        df = self._mk(spark, spans)
        out = rebase_span_offsets(df, lambda t: t)
        got = [s["offset"] for s in out.collect()[0]["spans"]]
        want = [d["offset"] for d in _finalize_spans(
            [(k, t, r) for k, t, r, _ in spans])]
        assert got == want

    def test_codegen_only_plan(self, spark):
        from corpus_lab.operators.interleaved import rebase_span_offsets
        from pyspark.sql import functions as F
        df = self._mk(spark, [("a", "x", None, 0)])
        plan = rebase_span_offsets(df, lambda t: F.upper(t)) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "mapInPandas" not in plan.lower()
