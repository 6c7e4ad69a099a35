"""MP3 frame-header kernel tests (kernel/mp3x.py)."""

import pytest

from corpus_lab.kernel.mp3x import parse_mp3_frames, synth_mp3


class TestMp3Kernel:
    def test_cbr_roundtrip(self):
        m = parse_mp3_frames(synth_mp3(5, 44100, 128))
        assert m["n_frames"] == 5 and m["sample_rate"] == 44100
        assert m["bitrate_kbps_min"] == m["bitrate_kbps_max"] == 128
        assert m["vbr"] is False and m["total_samples"] == 5 * 1152
        assert m["version"] == "v1" and m["layer"] == 3
        assert m["has_id3"] is False

    def test_vbr_and_id3_skip(self):
        m = parse_mp3_frames(synth_mp3(4, 32000, [128, 192],
                                       with_id3=True))
        assert m["has_id3"] is True and m["n_frames"] == 4
        assert (m["bitrate_kbps_min"], m["bitrate_kbps_max"]) == (128, 192)
        assert m["vbr"] is True

    def test_frame_length_arithmetic(self):
        # MPEG1 L3: 144 * bitrate / samplerate, no padding in synth
        p = synth_mp3(2, 44100, 128)
        assert len(p) == 2 * (144 * 128000 // 44100)
        p = synth_mp3(3, 32000, 192)
        assert len(p) == 3 * (144 * 192000 // 32000)

    @pytest.mark.parametrize("payload", [
        None, b"", b"\xffgarbage not a frame", b"ID3", b"\xff\xfb"])
    def test_garbage_absent(self, payload):
        m = parse_mp3_frames(payload)
        assert m["n_frames"] is None and m["total_samples"] is None

    def test_truncated_final_frame_not_counted(self):
        p = synth_mp3(3, 44100, 128)
        m = parse_mp3_frames(p[:-1])
        assert m["n_frames"] == 2 and m["total_samples"] == 2 * 1152

    def test_stops_at_invalid_header_no_resync(self):
        p = synth_mp3(2, 44100, 128) + b"JUNK" + synth_mp3(2, 44100, 128)
        assert parse_mp3_frames(p)["n_frames"] == 2

    def test_free_format_and_bad_indices_rejected(self):
        # bitrate index 0 (free) and 15 (invalid), samplerate index 3
        for b2 in (0x00, 0xF0, 0x4C):
            m = parse_mp3_frames(bytes((0xFF, 0xFB, b2, 0x00)) + b"\x00" * 400)
            assert m["n_frames"] is None

    def test_rate_change_midstream_stops(self):
        p = synth_mp3(2, 44100, 128) + synth_mp3(2, 48000, 128)
        m = parse_mp3_frames(p)
        assert m["n_frames"] == 2 and m["sample_rate"] == 44100

    def test_id3_only_payload(self):
        p = synth_mp3(0, 44100, 128, with_id3=True)
        m = parse_mp3_frames(p)
        assert m["has_id3"] is True and m["n_frames"] is None

    def test_synth_validation(self):
        with pytest.raises(ValueError):
            synth_mp3(1, 44000)


class TestMp3Operator:
    def test_stats_match_synthesis_rule(self, spark):
        from corpus_lab.operators.multimodal import (
            mp3_frame_stats_df, synth_mp3_documents)
        ids = spark.createDataFrame([(i,) for i in range(24)],
                                    "doc_id long")
        got = {r["doc_id"]: r.asDict() for r in mp3_frame_stats_df(
            synth_mp3_documents(ids)).collect()}
        assert len(got) == 24
        for i in range(24):
            r = got[str(i)]
            assert r["has_id3"] == (i % 2 == 0)
            assert r["n_frames"] == 3 + i % 5
            assert r["sample_rate"] == (44100, 48000, 32000)[i % 3]
            assert r["vbr"] == (i % 4 == 0)
            if i % 4 == 0:
                assert (r["bitrate_kbps_min"], r["bitrate_kbps_max"]) \
                    == (128, 192)
            else:
                want = (128, 160, 192)[i % 3]
                assert r["bitrate_kbps_min"] == r["bitrate_kbps_max"] == want
            assert r["total_samples"] == (3 + i % 5) * 1152


class TestMp3Sidecar:
    """Xing/Info/VBRI VBR sidecar parse (parse_mp3_sidecar)."""

    def test_xing_roundtrip_exact_bytes_and_duration(self):
        from corpus_lab.kernel.mp3x import parse_mp3_sidecar
        m = parse_mp3_sidecar(synth_mp3(10, 44100, [128, 192],
                                        sidecar="xing", sc_quality=77))
        # 5 frames at 417 B (floor 144*128e3/44100) + 5 at 626 B
        assert m == {"sidecar": "xing", "sc_frames": 10,
                     "sc_bytes": 5 * 417 + 5 * 626, "sc_quality": 77,
                     "duration_ms": 10 * 1152 * 1000 // 44100}

    def test_info_cbr_and_id3_skip(self):
        from corpus_lab.kernel.mp3x import parse_mp3_sidecar
        m = parse_mp3_sidecar(synth_mp3(7, 48000, 160, with_id3=True,
                                        sidecar="info", sc_quality=3))
        assert m["sidecar"] == "info" and m["sc_frames"] == 7
        assert m["sc_bytes"] == 7 * 480 and m["duration_ms"] == 168

    def test_vbri_fixed_offset(self):
        from corpus_lab.kernel.mp3x import parse_mp3_sidecar
        m = parse_mp3_sidecar(synth_mp3(5, 32000, 96,
                                        sidecar="vbri", sc_quality=80))
        assert m == {"sidecar": "vbri", "sc_frames": 5,
                     "sc_bytes": 5 * 432, "sc_quality": 80,
                     "duration_ms": 180}

    def test_no_sidecar_reports_null(self):
        from corpus_lab.kernel.mp3x import parse_mp3_sidecar
        for p in (synth_mp3(4, 44100, 112),          # CBR, no sidecar
                  synth_mp3(6, 44100, [64, 96]),     # true VBR, no sidecar
                  None, b"", b"\xff\xfbZZ"):
            assert parse_mp3_sidecar(p)["sidecar"] is None

    def test_mono_side_info_offset(self):
        # hand-build a MONO MPEG1 LIII frame: side info is 17 bytes, so
        # the Xing tag sits at +21 (not the stereo +36 the synth uses)
        from corpus_lab.kernel.mp3x import parse_mp3_sidecar
        flen = 144 * 128 * 1000 // 44100  # 417
        body = bytearray(bytes((0xFF, 0xFB, 0x90, 0xC0))  # mode=3 mono
                         + b"\x00" * (flen - 4))
        blob = (b"Xing" + (0x9).to_bytes(4, "big")  # frames+quality only
                + (42).to_bytes(4, "big") + (5).to_bytes(4, "big"))
        body[4 + 17:4 + 17 + len(blob)] = blob
        m = parse_mp3_sidecar(bytes(body))
        assert m["sidecar"] == "xing" and m["sc_frames"] == 42
        assert m["sc_bytes"] is None and m["sc_quality"] == 5
        assert m["duration_ms"] == 42 * 1152 * 1000 // 44100

    def test_truncated_sidecar_never_raises(self):
        # flags promise fields the frame doesn't hold -> all-None, no raise
        from corpus_lab.kernel.mp3x import parse_mp3_sidecar
        p = bytearray(synth_mp3(3, 44100, 128, sidecar="xing"))
        truncated = bytes(p[:4 + 32 + 4 + 4 + 2])  # cut mid-frames-field
        m = parse_mp3_sidecar(truncated)
        assert m["sidecar"] is None

    def test_sidecar_does_not_disturb_frame_walk(self):
        from corpus_lab.kernel.mp3x import parse_mp3_sidecar
        plain = parse_mp3_frames(synth_mp3(8, 44100, [128, 192]))
        with_sc = parse_mp3_frames(synth_mp3(8, 44100, [128, 192],
                                             sidecar="xing"))
        assert plain == with_sc  # sidecar lives inside frame 0's body

    def test_operator_matches_kernel(self, spark):
        from corpus_lab.operators.multimodal import (
            mp3_sidecar_stats_df, synth_mp3_sidecar_documents)
        ids = spark.createDataFrame([(i,) for i in range(15)],
                                    "doc_id long")
        rows = {r["doc_id"]: r for r in mp3_sidecar_stats_df(
            synth_mp3_sidecar_documents(ids)).collect()}
        assert rows["0"]["sidecar"] == "xing"
        assert rows["1"]["sidecar"] == "info"
        assert rows["2"]["sidecar"] == "vbri"
        assert rows["3"]["sidecar"] is None
        assert rows["4"]["sidecar"] is None
        # id=5: xing, sr=32000 (5%3=2), n=4+5%6=9
        assert rows["5"]["sc_frames"] == 9
        assert rows["5"]["duration_ms"] == 9 * 1152 * 1000 // 32000
