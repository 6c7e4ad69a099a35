"""MP3 frame-header metadata parser, from scratch (no DSP decode).

The engine's posture for compressed audio whose full decode would need a
real codec stack: parse the FRAME HEADERS (pure byte arithmetic, spec
tables) and report exact integer metadata — the same honesty contract as
``kernel/id3x.py`` for tags and ``kernel/exifx.py`` for images.  Full
MP3 sample decode (hybrid filterbank + Huffman) stays behind the marked
``decode_real`` fallback with ``decoded=False``.

Header layout (ISO/IEC 11172-3): each frame starts with an 11-bit sync
(``0xFF`` then top 3 bits of the next byte set), followed by version,
layer, bitrate index, sampling-rate index, and padding bit.  Frame
length for Layer III is ``samples_per_frame/8 * bitrate / samplerate +
padding`` bytes; Layer I uses 4-byte slots.  The walk skips a leading
ID3v2 tag (syncsafe size, same arithmetic as id3x) and STOPS at the
first byte run that is not a valid frame header — no mid-stream resync
(a resync heuristic can misparse arbitrary binary as audio; the honest
contract is "frames parsed from the start").

Reference anchor: engine-new (the reference fetches article media as
opaque bytes — src/feeds/rss_feeds/mod.rs photo path); grouped with the
multimodal metadata kernels SURVEY.md §6 adds for training-data
pipelines.
"""

from __future__ import annotations

__all__ = ["parse_mp3_frames", "parse_mp3_sidecar", "synth_mp3",
           "MP3_FIELDS", "MP3_SIDECAR_FIELDS"]

MP3_FIELDS = ("has_id3", "n_frames", "version", "layer", "sample_rate",
              "bitrate_kbps_min", "bitrate_kbps_max", "vbr",
              "total_samples")

# bitrate tables, kbps, index 1..14 (0 = free format, 15 = invalid) —
# ISO 11172-3 Table B.1 / the MPEG2 LSF extension
_BITRATE = {
    # (version_key, layer): 14-entry table
    ("v1", 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384,
                416, 448),
    ("v1", 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
                320, 384),
    ("v1", 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                256, 320),
    ("v2", 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
                224, 256),
    ("v2", 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
                160),
    ("v2", 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
                160),
}

# sampling-rate tables by version bits (b1>>3 & 3): 0=MPEG2.5, 2=MPEG2,
# 3=MPEG1 (1 is reserved)
_SAMPLERATE = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}

# samples per frame by (version_key, layer)
_SPF = {("v1", 1): 384, ("v1", 2): 1152, ("v1", 3): 1152,
        ("v2", 1): 384, ("v2", 2): 1152, ("v2", 3): 576}


def _syncsafe(b: bytes) -> int:
    return ((b[0] & 0x7F) << 21) | ((b[1] & 0x7F) << 14) \
        | ((b[2] & 0x7F) << 7) | (b[3] & 0x7F)


def _frame_at(p: bytes, pos: int):
    """Parse one frame header at pos; returns
    ``(frame_len, version_key, layer, samplerate, bitrate_kbps, spf)``
    or None if the bytes are not a valid supported frame header."""
    if pos + 4 > len(p):
        return None
    b0, b1, b2 = p[pos], p[pos + 1], p[pos + 2]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    vbits = (b1 >> 3) & 3
    if vbits == 1:  # reserved
        return None
    lbits = (b1 >> 1) & 3
    if lbits == 0:  # reserved layer
        return None
    layer = 4 - lbits  # bits 3->layer1, 2->layer2, 1->layer3
    vkey = "v1" if vbits == 3 else "v2"  # MPEG2 and 2.5 share LSF tables
    br_idx = (b2 >> 4) & 0xF
    if br_idx in (0, 15):  # free-format / invalid: length unknowable
        return None
    sr_idx = (b2 >> 2) & 3
    if sr_idx == 3:
        return None
    bitrate = _BITRATE[(vkey, layer)][br_idx - 1]
    samplerate = _SAMPLERATE[vbits][sr_idx]
    padding = (b2 >> 1) & 1
    spf = _SPF[(vkey, layer)]
    if layer == 1:
        flen = (12 * bitrate * 1000 // samplerate + padding) * 4
    else:
        flen = spf // 8 * bitrate * 1000 // samplerate + padding
    if flen < 4:
        return None
    return flen, vkey, layer, samplerate, bitrate, spf


def parse_mp3_frames(payload: bytes | None) -> dict:
    """Bytes -> dict of :data:`MP3_FIELDS` (all None when no valid
    frame parses at the start; ``has_id3`` is still reported)."""
    out: dict = {k: None for k in MP3_FIELDS}
    out["has_id3"] = False
    if not payload:
        return out
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        out["has_id3"] = True
        pos = 10 + _syncsafe(payload[6:10])
    n = 0
    bitrates: list[int] = []
    total_samples = 0
    first = None
    while True:
        fr = _frame_at(payload, pos)
        if fr is None:
            break
        flen, vkey, layer, samplerate, bitrate, spf = fr
        if first is None:
            first = (vkey, layer, samplerate)
        elif (vkey, layer, samplerate) != first:
            break  # version/layer/rate change mid-stream: stop, honest
        if pos + flen > len(payload):
            break  # truncated final frame doesn't count
        n += 1
        bitrates.append(bitrate)
        total_samples += spf
        pos += flen
    if n == 0:
        return out
    vkey, layer, samplerate = first
    out.update(n_frames=n, version=vkey, layer=layer,
               sample_rate=samplerate,
               bitrate_kbps_min=min(bitrates),
               bitrate_kbps_max=max(bitrates),
               vbr=len(set(bitrates)) > 1,
               total_samples=total_samples)
    return out


MP3_SIDECAR_FIELDS = ("sidecar", "sc_frames", "sc_bytes", "sc_quality",
                      "duration_ms")

# side-information size in bytes by (version_key, mono?) — ISO 11172-3
# §2.4.1.7 (MPEG1: 17 mono / 32 otherwise) and the LSF extension
# (9 mono / 17 otherwise).  The Xing/Info tag sits immediately after it.
_SIDE_INFO = {("v1", True): 17, ("v1", False): 32,
              ("v2", True): 9, ("v2", False): 17}


def _u32(p: bytes, pos: int) -> int:
    return int.from_bytes(p[pos:pos + 4], "big")


def parse_mp3_sidecar(payload: bytes | None) -> dict:
    """Bytes -> dict of :data:`MP3_SIDECAR_FIELDS`: the VBR sidecar
    header (Xing / Info / VBRI) carried in the FIRST frame's body, which
    gives the exact total frame count — and therefore exact duration —
    of a VBR stream without walking every frame (the frame-walk
    min/max in :func:`parse_mp3_frames` stays the fallback).

    * ``Xing``/``Info`` (LAME lineage): after the side information;
      flag-gated u32 fields in order frames, bytes, TOC(100), quality.
    * ``VBRI`` (Fraunhofer): fixed 32 bytes after the 4-byte header;
      u16 version/delay/quality, u32 bytes, u32 frames, then TOC shape.

    All fields are reported verbatim from the header (no reconciliation
    against a frame walk); ``duration_ms`` is derived exactly as
    ``frames * samples_per_frame * 1000 // samplerate`` from the first
    frame's spec tables.  Never raises; returns all-None ``sidecar``
    when no valid first frame or no tag is present.
    """
    out: dict = {k: None for k in MP3_SIDECAR_FIELDS}
    if not payload:
        return out
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        pos = 10 + _syncsafe(payload[6:10])
    fr = _frame_at(payload, pos)
    if fr is None:
        return out
    flen, vkey, layer, samplerate, _bitrate, spf = fr
    end = min(pos + flen, len(payload))
    mono = ((payload[pos + 3] >> 6) & 3) == 3 if pos + 4 <= len(payload) \
        else False

    tag_pos = pos + 4 + _SIDE_INFO[(vkey, mono)]
    tag = payload[tag_pos:tag_pos + 4]
    if tag in (b"Xing", b"Info") and tag_pos + 8 <= end:
        flags = _u32(payload, tag_pos + 4)
        q = tag_pos + 8
        frames = nbytes = quality = None
        if flags & 0x1:
            if q + 4 > end:
                return out
            frames = _u32(payload, q)
            q += 4
        if flags & 0x2:
            if q + 4 > end:
                return out
            nbytes = _u32(payload, q)
            q += 4
        if flags & 0x4:  # 100-byte seek TOC
            if q + 100 > end:
                return out
            q += 100
        if flags & 0x8:
            if q + 4 > end:
                return out
            quality = _u32(payload, q)
        out.update(sidecar="xing" if tag == b"Xing" else "info",
                   sc_frames=frames, sc_bytes=nbytes, sc_quality=quality)
        if frames is not None:
            out["duration_ms"] = frames * spf * 1000 // samplerate
        return out

    vbri_pos = pos + 4 + 32
    if payload[vbri_pos:vbri_pos + 4] == b"VBRI" and vbri_pos + 26 <= end:
        quality = int.from_bytes(payload[vbri_pos + 8:vbri_pos + 10], "big")
        nbytes = _u32(payload, vbri_pos + 10)
        frames = _u32(payload, vbri_pos + 14)
        out.update(sidecar="vbri", sc_frames=frames, sc_bytes=nbytes,
                   sc_quality=quality,
                   duration_ms=frames * spf * 1000 // samplerate)
    return out


def synth_mp3(n_frames: int, samplerate: int = 44100,
              bitrates_kbps: list[int] | int = 128,
              with_id3: bool = False, title: str = "T",
              sidecar: str | None = None, sc_quality: int = 0) -> bytes:
    """Deterministic CBR/VBR MPEG1 Layer III byte stream: real frame
    headers + zeroed frame bodies (header arithmetic is what the parser
    reads; the body content is irrelevant to metadata).  ``bitrates_kbps``
    may be a constant or a per-frame list (cycled).

    ``sidecar`` ("xing" | "info" | "vbri") injects the corresponding VBR
    header into the first frame's body at its spec offset (stereo MPEG1:
    Xing/Info after the 32-byte side information, VBRI at the fixed +32)
    with frames = ``n_frames``, bytes = total stream length, and the
    given quality — so :func:`parse_mp3_sidecar` output is closed-form
    in the synth arguments."""
    sr_table = _SAMPLERATE[3]
    if samplerate not in sr_table:
        raise ValueError(f"samplerate must be one of {sr_table}")
    sr_idx = sr_table.index(samplerate)
    rates = ([bitrates_kbps] if isinstance(bitrates_kbps, int)
             else list(bitrates_kbps))
    table = _BITRATE[("v1", 3)]
    frames: list[bytearray] = []
    for j in range(n_frames):
        kbps = rates[j % len(rates)]
        br_idx = table.index(kbps) + 1
        flen = 1152 // 8 * kbps * 1000 // samplerate
        hdr = bytes((0xFF, 0xFB,  # sync + MPEG1 + Layer III + no CRC
                     (br_idx << 4) | (sr_idx << 2),  # no padding
                     0x00))
        frames.append(bytearray(hdr + b"\x00" * (flen - 4)))
    if sidecar is not None:
        if not frames:
            raise ValueError("sidecar needs at least one frame")
        total_bytes = sum(len(f) for f in frames)
        first = frames[0]
        if sidecar in ("xing", "info"):
            tag = b"Xing" if sidecar == "xing" else b"Info"
            blob = (tag + (0xF).to_bytes(4, "big")
                    + n_frames.to_bytes(4, "big")
                    + total_bytes.to_bytes(4, "big")
                    + b"\x00" * 100  # seek TOC (zeroed; not parsed)
                    + sc_quality.to_bytes(4, "big"))
            off = 4 + _SIDE_INFO[("v1", False)]
        elif sidecar == "vbri":
            blob = (b"VBRI" + (1).to_bytes(2, "big")  # version
                    + (0).to_bytes(2, "big")          # delay
                    + sc_quality.to_bytes(2, "big")
                    + total_bytes.to_bytes(4, "big")
                    + n_frames.to_bytes(4, "big")
                    + (0).to_bytes(2, "big")          # toc entries
                    + (1).to_bytes(2, "big")          # toc scale
                    + (2).to_bytes(2, "big")          # toc entry size
                    + (1).to_bytes(2, "big"))         # frames per entry
            off = 4 + 32
        else:
            raise ValueError(f"unknown sidecar kind {sidecar!r}")
        if off + len(blob) > len(first):
            raise ValueError("first frame too small for sidecar")
        first[off:off + len(blob)] = blob
    body = b"".join(bytes(f) for f in frames)
    if with_id3:
        from corpus_lab.kernel.id3x import synth_id3_mp3
        tag = synth_id3_mp3(title, version="v2.3")
        # synth_id3_mp3 appends a fake audio tail; keep only the tag
        tag = tag[:10 + _syncsafe(tag[6:10])]
        return tag + body
    return body
