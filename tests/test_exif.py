"""EXIF kernel tests (kernel/exifx.py)."""

import pytest

from corpus_lab.kernel.exifx import extract_exif, synth_exif_jpeg


class TestExif:
    @pytest.mark.parametrize("le", [True, False])
    def test_roundtrip_both_endians(self, le):
        payload = synth_exif_jpeg(
            make="ACME", model="X100", orientation=6,
            datetime_str="2025:08:21 12:00:00",
            lat=((37, 1), (46, 1), (30, 1)), lat_ref="N",
            lon=((122, 1), (25, 1), (0, 1)), lon_ref="W",
            little_endian=le)
        m = extract_exif(payload)
        assert m["make"] == "ACME" and m["model"] == "X100"
        assert m["orientation"] == 6
        assert m["datetime"] == "2025:08:21 12:00:00"
        assert m["gps_lat"] == pytest.approx(37 + 46 / 60 + 30 / 3600,
                                             abs=1e-6)
        assert m["gps_lon"] == pytest.approx(-(122 + 25 / 60), abs=1e-6)

    def test_south_negative(self):
        payload = synth_exif_jpeg(
            lat=((33, 1), (52, 1), (0, 1)), lat_ref="S",
            lon=((151, 1), (12, 1), (0, 1)), lon_ref="E")
        m = extract_exif(payload)
        assert m["gps_lat"] < 0 and m["gps_lon"] > 0

    def test_no_gps(self):
        m = extract_exif(synth_exif_jpeg())
        assert m["make"] == "Cam" and m["gps_lat"] is None

    def test_garbage_and_absent(self):
        assert extract_exif(None)["make"] is None
        assert extract_exif(b"not a jpeg")["make"] is None
        assert extract_exif(b"\xff\xd8\xff\xd9")["make"] is None
        # truncated APP1 must not raise
        p = synth_exif_jpeg()
        assert extract_exif(p[:20])["model"] is None

    def test_real_encoder_jpeg_has_no_exif(self):
        np = pytest.importorskip("numpy")
        from corpus_lab.kernel.jpegx import encode_jpeg
        arr = np.zeros((8, 8, 3), dtype=np.uint8)
        m = extract_exif(encode_jpeg(arr))
        assert all(v is None for v in m.values())

    def test_rational_fraction_seconds(self):
        payload = synth_exif_jpeg(
            lat=((40, 1), (0, 1), (4530, 100)), lat_ref="N",
            lon=((0, 1), (0, 1), (0, 1)), lon_ref="E")
        m = extract_exif(payload)
        assert m["gps_lat"] == pytest.approx(40 + 45.30 / 3600, abs=1e-6)
