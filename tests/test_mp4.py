"""MP4/BMFF box-walk kernel tests (kernel/mp4x.py)."""

import struct

import pytest

from corpus_lab.kernel.mp4x import parse_mp4_boxes, synth_mp4


class TestMp4Kernel:
    def test_full_roundtrip(self):
        m = parse_mp4_boxes(synth_mp4(6500, 1000, 640, 360,
                                      with_audio=True))
        assert m == {"is_bmff": True, "major_brand": "isom",
                     "n_tracks": 2, "timescale": 1000,
                     "duration_ms": 6500, "has_video": True,
                     "has_audio": True, "width": 640, "height": 360}

    def test_audio_only_and_brand(self):
        m = parse_mp4_boxes(synth_mp4(1234, 90000, with_audio=True,
                                      major_brand=b"mp42"))
        assert m["major_brand"] == "mp42" and m["n_tracks"] == 1
        assert m["has_video"] is False and m["has_audio"] is True
        assert m["width"] is None and m["duration_ms"] == 1234

    @pytest.mark.parametrize("payload", [
        None, b"", b"notanmp4file....", b"\x00" * 24])
    def test_non_bmff_absent(self, payload):
        m = parse_mp4_boxes(payload)
        assert m["is_bmff"] is False and m["n_tracks"] is None

    def test_truncated_moov_keeps_partial(self):
        p = synth_mp4(5000, 1000, 320, 240)
        m = parse_mp4_boxes(p[:40])  # ftyp survives, moov truncated
        assert m["is_bmff"] is True and m["n_tracks"] == 0

    def test_v1_mvhd_64bit(self):
        # hand-build a version-1 mvhd: u64 ctime/mtime, u32 timescale,
        # u64 duration
        mvhd = (b"\x01\x00\x00\x00" + struct.pack(">QQ", 0, 0)
                + struct.pack(">IQ", 48000, 96000) + b"\x00" * 80)
        def box(t, pl):
            return struct.pack(">I", 8 + len(pl)) + t + pl
        p = (box(b"ftyp", b"isom" + b"\x00\x00\x00\x00" + b"isom")
             + box(b"moov", box(b"mvhd", mvhd)))
        m = parse_mp4_boxes(p)
        assert m["timescale"] == 48000 and m["duration_ms"] == 2000

    def test_truncated_v1_mvhd_never_raises(self):
        # ADVICE r4: a version-1 mvhd shorter than 32 bytes must be
        # skipped, not struct.error at end-of-file or silently read the
        # next sibling's bytes mid-file.
        def box(t, pl):
            return struct.pack(">I", 8 + len(pl)) + t + pl
        ftyp = box(b"ftyp", b"isom" + b"\x00\x00\x00\x00" + b"isom")
        # 28-byte v1 mvhd payload at end-of-file (>IQ at +20 needs 32)
        short_v1 = b"\x01\x00\x00\x00" + struct.pack(">QQ", 0, 0) + b"\x00" * 4
        m = parse_mp4_boxes(ftyp + box(b"moov", box(b"mvhd", short_v1)))
        assert m["is_bmff"] is True and m["timescale"] is None

        # mid-file: truncated v1 mvhd followed by a sibling box whose
        # bytes must NOT be read as the duration
        sibling = box(b"free", struct.pack(">IQ", 48000, 96000))
        m = parse_mp4_boxes(
            ftyp + box(b"moov", box(b"mvhd", short_v1) + sibling))
        assert m["timescale"] is None and m["duration_ms"] is None

    def test_largesize_box_skipped(self):
        # an unknown box using the size==1 / u64 largesize form between
        # ftyp and moov must be skipped cleanly
        big = (struct.pack(">I", 1) + b"skip"
               + struct.pack(">Q", 16 + 8) + b"\x00" * 8)
        base = synth_mp4(3000, 600)
        ftyp_len = struct.unpack(">I", base[:4])[0]
        p = base[:ftyp_len] + big + base[ftyp_len:]
        assert parse_mp4_boxes(p)["duration_ms"] == 3000

    def test_malformed_size_stops_walk(self):
        base = synth_mp4(3000, 1000, 100, 50)
        # corrupt the moov size to overflow the buffer
        ftyp_len = struct.unpack(">I", base[:4])[0]
        p = (base[:ftyp_len] + struct.pack(">I", 1 << 30)
             + base[ftyp_len + 4:])
        m = parse_mp4_boxes(p)
        assert m["is_bmff"] is True and m["n_tracks"] == 0

    def test_duration_exactness_across_timescales(self):
        for ts in (1000, 90000, 600):
            for ms in (1000, 1020, 6980):
                assert parse_mp4_boxes(
                    synth_mp4(ms, ts))["duration_ms"] == ms


class TestMp4Operator:
    def test_stats_match_synthesis_rule(self, spark):
        from corpus_lab.operators.multimodal import (
            mp4_box_stats_df, synth_mp4_documents)
        ids = spark.createDataFrame([(i,) for i in range(18)],
                                    "doc_id long")
        got = {r["doc_id"]: r.asDict() for r in mp4_box_stats_df(
            synth_mp4_documents(ids)).collect()}
        assert len(got) == 18
        for i in range(18):
            r = got[str(i)]
            assert r["is_bmff"] is True
            assert r["major_brand"] == ("isom" if i % 2 == 0 else "mp42")
            assert r["timescale"] == (1000, 90000, 600)[i % 3]
            assert r["duration_ms"] == 1000 + (i % 300) * 20
            assert r["has_video"] == (i % 2 == 0)
            assert r["has_audio"] == (i % 3 > 0)
            assert r["n_tracks"] == int(i % 2 == 0) + int(i % 3 > 0)
            if i % 2 == 0:
                assert r["width"] == 160 + (i % 16) * 8
                assert r["height"] == 90 + (i % 9) * 6
            else:
                assert r["width"] is None and r["height"] is None
