"""ID3 tag kernel tests (kernel/id3x.py)."""

import pytest

from corpus_lab.kernel.id3x import extract_id3, synth_id3_mp3


class TestId3:
    @pytest.mark.parametrize("version,want_ver", [
        ("v2.3", "id3v2.3"), ("v2.4", "id3v2.4"), ("v1", "id3v1")])
    def test_roundtrip_all_versions(self, version, want_ver):
        p = synth_id3_mp3("Song", "Artist", "Album", "1999",
                          version=version)
        m = extract_id3(p)
        assert m == {"title": "Song", "artist": "Artist",
                     "album": "Album", "year": "1999",
                     "tag_version": want_ver}

    def test_unicode_v24(self):
        m = extract_id3(synth_id3_mp3("Tèst é", version="v2.4"))
        assert m["title"] == "Tèst é"

    def test_garbage_and_absent(self):
        assert extract_id3(None)["title"] is None
        assert extract_id3(b"\xffjust audio bytes")["title"] is None
        p = synth_id3_mp3()
        assert extract_id3(p[:6])["title"] is None  # truncated header

    def test_v1_space_padded(self):
        tag = (b"TAG" + b"Padded Title".ljust(30, b" ")
               + b"".ljust(30, b"\x00") + b"".ljust(30, b"\x00")
               + b"2001" + b"\x00" * 31)
        m = extract_id3(b"x" + tag)
        assert m["title"] == "Padded Title"
        assert m["artist"] is None and m["year"] == "2001"

    def test_first_frame_wins(self):
        import struct
        f = (b"TIT2" + struct.pack(">I", 3) + b"\x00\x00" + b"\x00ab"
             + b"TIT2" + struct.pack(">I", 3) + b"\x00\x00" + b"\x00cd")
        n = len(f)
        p = (b"ID3\x03\x00\x00"
             + bytes(((n >> 21) & 0x7F, (n >> 14) & 0x7F,
                      (n >> 7) & 0x7F, n & 0x7F)) + f)
        assert extract_id3(p)["title"] == "ab"

    @staticmethod
    def _v2(frames: bytes, major: int = 3, flags: int = 0,
            ext: bytes = b"") -> bytes:
        body = ext + frames
        n = len(body)
        return (b"ID3" + bytes((major,)) + b"\x00" + bytes((flags,))
                + bytes(((n >> 21) & 0x7F, (n >> 14) & 0x7F,
                         (n >> 7) & 0x7F, n & 0x7F)) + body)

    def test_extended_header_v23_skipped(self):
        import struct
        # v2.3 ext header: 4-byte big-endian length EXCLUDING the 4
        # length bytes, here 6 bytes of payload
        ext = struct.pack(">I", 6) + b"\x00" * 6
        f = b"TIT2" + struct.pack(">I", 3) + b"\x00\x00" + b"\x00ab"
        m = extract_id3(self._v2(f, major=3, flags=0x40, ext=ext))
        assert m["title"] == "ab" and m["tag_version"] == "id3v2.3"

    def test_extended_header_v24_skipped(self):
        import struct
        # v2.4 ext header: syncsafe length INCLUDING the 4 length bytes
        ext = b"\x00\x00\x00\x06\x01\x00"
        f = b"TIT2" + b"\x00\x00\x00\x03" + b"\x00\x00" + b"\x03ab"
        m = extract_id3(self._v2(f, major=4, flags=0x40, ext=ext))
        assert m["title"] == "ab" and m["tag_version"] == "id3v2.4"

    def test_unsync_tag_bails_to_absent_or_v1(self):
        import struct
        f = b"TIT2" + struct.pack(">I", 3) + b"\x00\x00" + b"\x00ab"
        # unsync flag set: no garbled walk — absent fields
        m = extract_id3(self._v2(f, major=3, flags=0x80))
        assert m["title"] is None and m["tag_version"] == "id3v2.3"
        # with a v1 trailer the fields are still recovered from there
        tag = (b"TAG" + b"V1 Title".ljust(30, b"\x00")
               + b"\x00" * 60 + b"2002" + b"\x00" * 31)
        m = extract_id3(self._v2(f, major=3, flags=0x80) + tag)
        assert m["title"] == "V1 Title" and m["tag_version"] == "id3v1"

    def test_compressed_encrypted_frames_skipped(self):
        import struct
        # v2.3 frame format flags: 0x80 compression, 0x40 encryption
        comp = b"TIT2" + struct.pack(">I", 3) + b"\x00\x80" + b"\x00ab"
        enc = b"TPE1" + struct.pack(">I", 3) + b"\x00\x40" + b"\x00cd"
        ok = b"TALB" + struct.pack(">I", 3) + b"\x00\x00" + b"\x00ef"
        m = extract_id3(self._v2(comp + enc + ok, major=3))
        assert m["title"] is None and m["artist"] is None
        assert m["album"] == "ef"
        # v2.4: low nibble carries compression/encryption/unsync
        comp4 = b"TIT2" + b"\x00\x00\x00\x03" + b"\x00\x08" + b"\x03ab"
        ok4 = b"TALB" + b"\x00\x00\x00\x03" + b"\x00\x00" + b"\x03ef"
        m = extract_id3(self._v2(comp4 + ok4, major=4))
        assert m["title"] is None and m["album"] == "ef"
