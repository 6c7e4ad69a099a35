"""Similarity-search (LSH + IVF ANN vs brute force) and multimodal
plumbing tests (engine-new operators; SURVEY.md §2.6 additions)."""

import numpy as np
import pytest
import pyspark.sql.functions as F

from corpus_lab.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_from_documents,
    resize_images,
)
from corpus_lab.operators.similarity import (
    brute_force_near_dup_pairs,
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_bucket_topk,
    train_ivf_centroids,
)

SF_DIR = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _query(spark):
    return [float(x) for x in
            _emb(spark).filter(F.col("vec_id") == 0).first()["embedding"]]


class TestANN:
    def test_lsh_recall_vs_brute_force(self, spark):
        """Near-random embeddings are the hard case for sign-LSH (top-10
        cosines are low, so signatures rarely agree on many planes) —
        recall is tested at a bucket granularity matched to that: 4 planes
        + 4 probes scans 5/16 of the data for recall@10 >= 0.5."""
        e, q = _emb(spark), _query(spark)
        exact = {r["vec_id"] for r in cosine_topk(e, q, k=10).collect()}
        approx = {r["vec_id"] for r in
                  lsh_bucket_topk(e, q, k=10, n_planes=4, multiprobe=4).collect()}
        assert len(exact & approx) >= 5
        assert 0 in approx  # the query vector itself must be found

    def test_ivf_recall_vs_brute_force(self, spark):
        e, q = _emb(spark), _query(spark)
        exact = {r["vec_id"] for r in cosine_topk(e, q, k=10).collect()}
        approx = {r["vec_id"] for r in
                  ivf_topk(e, q, k=10, n_cells=16, n_probe=6).collect()}
        assert len(exact & approx) >= 5
        assert 0 in approx  # the query vector itself must be found

    def test_ivf_centroids_deterministic(self, spark):
        e = _emb(spark)
        c1 = train_ivf_centroids(e, n_cells=8, seed=7, sample=256)
        c2 = train_ivf_centroids(e, n_cells=8, seed=7, sample=256)
        assert (c1 == c2).all()

    def test_lsh_near_dup_subset_of_brute_force(self, spark):
        """Bucketed pair mining may miss pairs (that is the trade) but must
        never invent one: results are a subset of the exact pairs."""
        e = _emb(spark).limit(300)
        exact = {(r["a"], r["b"]) for r in
                 brute_force_near_dup_pairs(e, threshold=0.5).collect()}
        lsh = {(r["a"], r["b"]) for r in
               embedding_near_dup_pairs(e, threshold=0.5, n_planes=4).collect()}
        assert lsh <= exact


class TestMultimodal:
    def test_feature_plumbing(self, spark):
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
        media = media_from_documents(d)
        out = extract_features(media)
        rows = out.collect()
        assert len(rows) == 50
        for r in rows:
            assert len(r["feature"]) == 8
            assert all(0.0 <= x < 1.0 for x in r["feature"])
            assert r["n_bytes"] > 0 and len(r["sha1"]) == 40

    def test_resize_sets_dims_for_images_only(self, spark):
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
        media = media_from_documents(d)
        out = resize_images(media, 224, 224)
        assert out.columns == media.columns  # schema-stable stage
        for r in out.collect():
            if r["kind"] == "image":
                assert (r["width"], r["height"]) == (224, 224)
            else:
                assert r["width"] is None and r["height"] is None
            assert r["payload"] is not None  # stub passes payload through

    def test_frame_sample_fanout(self, spark):
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
        media = media_from_documents(d)
        frames = frame_sample_plan(media, every_ms=100)
        agg = frames.groupBy("media_id").agg(
            F.count("*").alias("n"), F.max("frame_idx").alias("mx")).collect()
        assert agg  # only video rows fan out
        for r in agg:
            assert r["n"] == r["mx"] + 1  # frame_idx is dense 0..n-1


class TestRealCodecs:
    def test_ppm_roundtrip_exact_pixels(self, spark):
        import numpy as np
        from corpus_lab.operators.multimodal import decode_ppm, encode_ppm
        arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        assert (decode_ppm(encode_ppm(arr)) == arr).all()
        # comment + arbitrary whitespace in header
        manual = b"P6 #c\n 3\t2\n255\n" + arr.tobytes()
        assert (decode_ppm(manual) == arr).all()

    def test_wav_roundtrip_exact_samples(self, spark):
        import numpy as np
        from corpus_lab.operators.multimodal import decode_wav, encode_wav
        s = (np.sin(np.arange(100) * 0.3) * 10000).astype(np.int16)
        out, rate = decode_wav(encode_wav(s, 8000))
        assert rate == 8000 and (out == s).all()

    def test_synth_media_features_really_decoded(self, spark):
        from corpus_lab.operators.multimodal import (
            extract_features, synth_media)
        d = spark.range(0, 30).withColumnRenamed("id", "doc_id")
        feats = extract_features(synth_media(d)).collect()
        assert len(feats) == 30
        for r in feats:
            if r["kind"] in ("image", "audio"):
                assert r["feature"][0] == 1.0          # real decode marker
            else:
                assert r["feature"][0] < 1.0           # sha1 fallback
        img = next(r for r in feats if r["kind"] == "image")
        assert 0.0 < img["feature"][3] < 1.0           # mean R from pixels

    def test_resize_really_resamples_ppm(self, spark):
        import numpy as np
        from corpus_lab.operators.multimodal import (
            decode_ppm, resize_images, synth_media)
        d = spark.range(0, 9).withColumnRenamed("id", "doc_id")
        media = synth_media(d)
        out = resize_images(media, 8, 6)
        for r in out.filter(F.col("kind") == "image").collect():
            arr = decode_ppm(bytes(r["payload"]))
            assert arr.shape == (6, 8, 3)              # payload re-encoded
        # non-images untouched byte-for-byte
        orig = {r["media_id"]: bytes(r["payload"])
                for r in media.filter(F.col("kind") != "image").collect()}
        for r in out.filter(F.col("kind") != "image").collect():
            assert bytes(r["payload"]) == orig[r["media_id"]]


class TestWorkerInfo:
    def test_lookup_found_and_launched(self, spark):
        from news_rss_spark.sources.registry import seed_registry, worker_info
        reg = seed_registry(spark)
        stats = spark.createDataFrame(
            [("https://feeds.skynews.com/feeds/rss/world.xml", 42)],
            "link string, doc_count long")
        rows = worker_info(reg, stats,
                           "https://feeds.skynews.com/feeds/rss/world.xml").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["source_name"] == "Sky News World"
        assert r["is_launched"] is True and r["doc_count"] == 42
        assert r["interval_secs"] == 3600

    def test_lookup_not_launched_and_not_found(self, spark):
        from news_rss_spark.sources.registry import seed_registry, worker_info
        reg = seed_registry(spark)
        stats = spark.createDataFrame(
            [("https://other.example/feed.xml", 1)], "link string, doc_count long")
        r = worker_info(reg, stats,
                        "https://feeds.feedburner.com/ndtvnews-world-news").collect()
        assert len(r) == 1 and r[0]["is_launched"] is False
        # reference 404 == empty result
        assert worker_info(reg, stats, "https://nope.example/x.xml").count() == 0


class TestCodecRobustness:
    def test_riff_garbage_audio_falls_back_not_crashes(self, spark):
        """AVI-like payloads start with RIFF but are not WAV: decode must
        raise ValueError (-> sha1 stand-in), never wave.Error escaping the
        Spark task."""
        import pytest
        from corpus_lab.operators.multimodal import (
            decode_wav, extract_features)
        with pytest.raises(ValueError):
            decode_wav(b"RIFF\x10\x00\x00\x00AVI LIST")
        rows = [("1", "audio", b"RIFF garbage not a wav", "audio/wav",
                 None, None, None)]
        media = spark.createDataFrame(
            rows, "media_id string, kind string, payload binary, "
                  "mime string, width int, height int, duration_ms int")
        out = extract_features(media).collect()[0]
        assert out["feature"][0] < 1.0  # fallback, not crash

    def test_truncated_ppm_resize_passthrough(self, spark):
        from corpus_lab.operators.multimodal import resize_images
        bad = b"P6\n100 100\n255\nshort"  # claims 100x100, has 5 bytes
        rows = [("1", "image", bad, "image/x-portable-pixmap",
                 None, None, None)]
        media = spark.createDataFrame(
            rows, "media_id string, kind string, payload binary, "
                  "mime string, width int, height int, duration_ms int")
        out = resize_images(media, 8, 8).collect()[0]
        assert bytes(out["payload"]) == bad  # passthrough, not crash


class TestWorkerInfoNullStats:
    def test_launched_with_null_stat_column(self, spark):
        """Join PRESENCE drives is_launched, not stat-column null-ness."""
        from news_rss_spark.sources.registry import seed_registry, worker_info
        reg = seed_registry(spark)
        stats = spark.createDataFrame(
            [("https://feeds.skynews.com/feeds/rss/world.xml", None)],
            "link string, total_chars long")
        r = worker_info(reg, stats,
                        "https://feeds.skynews.com/feeds/rss/world.xml").collect()[0]
        assert r["is_launched"] is True and r["total_chars"] is None


class TestSecondReviewRegressions:
    def test_zero_dimension_ppm_is_valueerror(self, spark):
        import pytest
        from corpus_lab.operators.multimodal import decode_ppm, resize_images
        with pytest.raises(ValueError, match="dimensions"):
            decode_ppm(b"P6\n5 0\n255\n\n")
        rows = [("1", "image", b"P6\n5 0\n255\n\n", "x", None, None, None)]
        media = spark.createDataFrame(
            rows, "media_id string, kind string, payload binary, "
                  "mime string, width int, height int, duration_ms int")
        out = resize_images(media, 4, 4).collect()[0]  # passthrough, no crash
        assert bytes(out["payload"]).startswith(b"P6")


class TestPinnedOracles:
    """The deterministic pinned-constant paths that back the DuckDB-oracle
    rows for ann_lsh_topk / ann_ivf_topk / multimodal_features."""

    def test_pinned_centroids_deterministic_unit_norm(self, spark):
        import numpy as np

        from corpus_lab.operators.similarity import pinned_centroids
        c1, c2 = pinned_centroids(64, 16), pinned_centroids(64, 16)
        assert c1.dtype == np.float64 and c1.shape == (16, 64)
        assert (c1 == c2).all()
        assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)

    def test_ivf_pinned_finds_query_vector(self, spark):
        import numpy as np

        from corpus_lab.operators.similarity import ivf_topk, pinned_centroids
        e = _emb(spark).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = _query(spark)
        got = ivf_topk(e, q, k=10, n_probe=6,
                       centroids=pinned_centroids(64, 16)).collect()
        assert got[0]["vec_id"] == 0 and got[0]["cosine"] == 1.0

    def test_decode_stats_integers_match_hand_computation(self, spark):
        import numpy as np

        from corpus_lab.operators.multimodal import decode_stats, synth_media
        ids = spark.createDataFrame([(i,) for i in (3, 7, 5)], "doc_id long")
        got = {r["media_id"]: r for r in decode_stats(synth_media(ids)).collect()}
        img = got["3"]  # i=3 -> image, w=4+3%5=7, h=3+3%4=6
        assert (img["width"], img["height"]) == (7, 6)
        assert img["n_bytes"] == 11 + 3 * 7 * 6
        assert img["px_sum"] == int(((np.arange(6 * 7 * 3, dtype=np.int64) * 7 + 3) % 256).sum())
        assert img["decoded"] and img["n_samples"] is None
        aud = got["7"]  # i=7 -> audio, n=64+7%64=71 frames at 8 kHz
        assert (aud["n_samples"], aud["sample_rate"]) == (71, 8000)
        assert aud["n_bytes"] == 44 + 2 * 71 and aud["decoded"]
        vid = got["5"]  # i=5 -> opaque video payload: sha1 digest * 40
        assert vid["n_bytes"] == 800 and not vid["decoded"]
        assert vid["width"] is None and vid["n_samples"] is None


class TestPngCodec:
    """From-scratch PNG: round-trip through every scanline filter,
    CRC/truncation/variant rejection, the real resize path, and the
    explicit decoded-status column."""

    def test_roundtrip_all_filters_rgb_and_rgba(self):
        import numpy as np

        from corpus_lab.operators.multimodal import decode_png, encode_png

        rng = np.random.RandomState(3)
        for c in (3, 4):
            arr = rng.randint(0, 256, (7, 5, c), dtype=np.uint8)
            for ft in range(5):
                got = decode_png(encode_png(arr, lambda r, ft=ft: ft))
                assert (got == arr).all() and got.shape == arr.shape
            # rotating filters (the synth default)
            assert (decode_png(encode_png(arr)) == arr).all()

    def test_rejects_bad_crc_truncation_and_variants(self):
        import struct
        import zlib

        import numpy as np
        import pytest

        from corpus_lab.operators.multimodal import (
            PNG_SIG, decode_png, encode_png,
        )

        good = encode_png(np.zeros((3, 4, 3), dtype=np.uint8))
        bad = bytearray(good)
        bad[20] ^= 0xFF
        with pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(bad))
        with pytest.raises(ValueError, match="truncated"):
            decode_png(good[:25])
        with pytest.raises(ValueError, match="not a PNG"):
            decode_png(b"P6 1 1 255 xxx")
        # 16-bit depth IHDR: unsupported variant, not a crash
        ihdr = struct.pack(">IIBBBBB", 4, 3, 16, 2, 0, 0, 0)
        chunk = (struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
                 + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF))
        with pytest.raises(ValueError, match="unsupported"):
            decode_png(PNG_SIG + chunk
                       + good[8 + 12 + 13:])  # reuse good IDAT/IEND

    def test_idat_bomb_is_capped_by_ihdr_dimensions(self):
        """An IDAT inflating past h*(1+w*c) must ValueError (skip row),
        never balloon executor memory."""
        import struct
        import zlib

        import numpy as np
        import pytest

        from corpus_lab.operators.multimodal import PNG_SIG

        w, h = 4, 3
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        # claims 4x3 RGB (39 raw bytes) but inflates to 1 MiB
        idat = zlib.compress(b"\x00" * (1 << 20))

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

        payload = (PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
                   + chunk(b"IEND", b""))
        from corpus_lab.operators.multimodal import decode_png
        with pytest.raises(ValueError):
            decode_png(payload)

    def test_resize_really_resamples_png(self, spark):
        import numpy as np

        from corpus_lab.operators.multimodal import (
            decode_png, resize_images, synth_png_media,
        )

        d = spark.range(0, 6).withColumnRenamed("id", "doc_id")
        media = synth_png_media(d)
        out = {r["media_id"]: r for r in
               resize_images(media, 3, 2).collect()}
        for mid, row in out.items():
            arr = decode_png(bytes(row["payload"]))
            assert arr.shape[:2] == (2, 3)
            assert arr.shape[2] == (3 if int(mid) % 2 == 0 else 4)
            assert (row["width"], row["height"]) == (3, 2)

    def test_feature_decoded_status_column(self, spark):
        """Real and stand-in features carry an explicit decoded flag —
        never inferred from the marker value (VERDICT r2)."""
        from corpus_lab.operators.multimodal import (
            extract_features, synth_media, synth_png_media,
        )

        d = spark.range(0, 9).withColumnRenamed("id", "doc_id")
        rows = {r["media_id"]: r for r in
                extract_features(synth_media(d)).collect()}
        for mid, r in rows.items():
            want = int(mid) % 3 != 2  # video = fallback
            assert r["decoded"] is want, mid
            assert (r["feature"][0] == 1.0) == want
        png = extract_features(synth_png_media(d)).collect()
        assert all(r["decoded"] for r in png)


class TestGifCodec:
    """From-scratch GIF/LZW: round-trips through code-width growth, the
    4096-entry dictionary reset and the cScSc special case; structural
    rejection; the pixel-count decompression cap; 89a extension skip."""

    def _pal(self):
        import numpy as np
        return np.stack([np.arange(256) % 256, (np.arange(256) * 3) % 256,
                         (np.arange(256) * 7) % 256], axis=1) \
            .astype(np.uint8)

    def test_roundtrip_shapes_and_dictionary_regimes(self):
        import numpy as np

        from corpus_lab.operators.multimodal import (
            decode_gif, encode_gif,
        )

        pal = self._pal()
        rng = np.random.RandomState(3)
        cases = [
            ((np.arange(4 * 7) * 11 % 256).astype(np.uint8)
             .reshape(4, 7),                              # synth rule
            ),
            (rng.randint(0, 256, (120, 120), dtype=np.uint8),),  # width
            # growth 9->12 bits AND the 4096-entry CLEAR/reset
            (np.full((64, 64), 9, dtype=np.uint8),),      # pure cScSc run
            (np.tile(rng.randint(0, 4, (2, 4)).astype(np.uint8),
                     (40, 40)),),                         # long dict chains
            (np.zeros((1, 1), dtype=np.uint8),),          # single pixel
        ]
        for (idx,) in cases:
            got = decode_gif(encode_gif(idx, pal))
            assert got.shape == (*idx.shape, 3)
            assert (got == pal[idx]).all()

    def test_rejects_garbage_truncation_and_interlace(self):
        import numpy as np
        import pytest

        from corpus_lab.operators.multimodal import (
            decode_gif, encode_gif,
        )

        idx = np.arange(12, dtype=np.uint8).reshape(3, 4)
        good = encode_gif(idx, self._pal())
        with pytest.raises(ValueError, match="not a GIF"):
            decode_gif(b"NOTGIF" + good[6:])
        with pytest.raises(ValueError, match="truncated GIF header"):
            decode_gif(good[:10])
        # cut inside the LZW sub-blocks
        with pytest.raises(ValueError, match="truncated|no EOI"):
            decode_gif(good[:13 + 768 + 12])
        # flip the interlace bit in the image descriptor's packed byte
        bad = bytearray(good)
        bad[13 + 768 + 9] |= 0x40
        with pytest.raises(ValueError, match="interlaced"):
            decode_gif(bytes(bad))

    def test_lzw_output_capped_by_descriptor_dimensions(self):
        """Image data decompressing past the descriptor's w*h must
        ValueError (skip row), never balloon executor memory."""
        import struct

        import numpy as np
        import pytest

        from corpus_lab.operators.multimodal import (
            _lzw_encode_gif, decode_gif,
        )

        pal = self._pal()
        # LZW stream for 10_000 pixels behind a descriptor claiming 2x2
        lzw = _lzw_encode_gif(bytes(10_000))
        lsd = struct.pack("<HHBBB", 2, 2, 0x80 | 0x07, 0, 0)
        desc = struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
        blocks = bytearray([8])
        for off in range(0, len(lzw), 255):
            chunk = lzw[off:off + 255]
            blocks.append(len(chunk))
            blocks += chunk
        blocks.append(0)
        payload = (b"GIF87a" + lsd + pal.tobytes() + desc + bytes(blocks)
                   + b"\x3B")
        with pytest.raises(ValueError, match="exceeds descriptor"):
            decode_gif(payload)

    def test_gif89a_extension_blocks_are_skipped(self):
        import numpy as np

        from corpus_lab.operators.multimodal import (
            decode_gif, encode_gif,
        )

        idx = (np.arange(20, dtype=np.uint8) * 11 % 256).reshape(4, 5)
        pal = self._pal()
        good = encode_gif(idx, pal)
        # rewrite as 89a with a graphic-control extension before the
        # image descriptor (label 0xF9, one 4-byte sub-block, terminator)
        gce = b"\x21\xF9\x04\x00\x00\x00\x00\x00"
        hdr_end = 13 + 768
        patched = (b"GIF89a" + good[6:hdr_end] + gce + good[hdr_end:])
        assert (decode_gif(patched) == pal[idx]).all()

    def test_decode_stats_and_features_real_for_gif(self, spark):
        from pyspark.sql import functions as F

        from corpus_lab.operators.multimodal import (
            decode_stats, extract_features, synth_gif_media,
        )

        d = spark.range(6).withColumnRenamed("id", "doc_id")
        stats = decode_stats(synth_gif_media(d)).collect()
        assert all(r["decoded"] for r in stats)
        # hand-check one row: doc_id=2 -> w=6,h=5, pixel k index (11k+2)%256
        import numpy as np
        i = 2
        w, h = 4 + i % 5, 3 + i % 4
        v = (np.arange(w * h) * 11 + i) % 256
        want = int((v + v * 3 % 256 + v * 7 % 256).sum())
        row = {r["media_id"]: r for r in stats}[str(i)]
        assert (row["width"], row["height"], row["px_sum"]) == (w, h, want)
        feats = extract_features(synth_gif_media(d)) \
            .filter(F.col("decoded")).count()
        assert feats == 6


class TestAdpcmCodec:
    """From-scratch IMA ADPCM: bit-exact constants, bounded tracking on
    real signals, multi-block, RIFF dispatch, rejection contract."""

    def test_constant_signals_roundtrip_bit_exact(self):
        import numpy as np

        from corpus_lab.operators.multimodal import (
            decode_adpcm_wav, encode_adpcm_wav,
        )

        for i in range(12):
            n = 64 + i % 64
            a = (i * 97) % 4096 - 2048
            got, rate = decode_adpcm_wav(
                encode_adpcm_wav(np.full(n, a, dtype=np.int64), 8000))
            assert rate == 8000 and got.size == n and (got == a).all()

    def test_sine_tracks_across_blocks(self):
        import numpy as np

        from corpus_lab.operators.multimodal import (
            decode_adpcm_wav, encode_adpcm_wav,
        )

        t = np.arange(2000)  # > samples-per-block: exercises block resets
        s = (np.sin(t * 0.05) * 9000).astype(np.int64)
        got, _ = decode_adpcm_wav(encode_adpcm_wav(s, 16000))
        assert got.size == s.size
        assert np.abs(got.astype(np.int64) - s).mean() < 200

    def test_decode_real_dispatches_on_format_tag(self):
        import numpy as np

        from corpus_lab.operators.multimodal import (
            decode_real, encode_adpcm_wav, encode_wav,
        )

        s = np.full(100, 777, dtype=np.int64)
        pcm, _ = decode_real(encode_wav(s.astype(np.int16), 8000), "audio")
        adp, _ = decode_real(encode_adpcm_wav(s, 8000), "audio")
        assert (pcm == 777).all() and (adp == 777).all()

    def test_rejections(self):
        import numpy as np
        import pytest

        from corpus_lab.operators.multimodal import (
            decode_adpcm_wav, encode_adpcm_wav, encode_wav,
        )

        s = np.full(300, 5, dtype=np.int64)
        good = encode_adpcm_wav(s, 8000)
        with pytest.raises(ValueError):
            decode_adpcm_wav(good[:20])
        with pytest.raises(ValueError, match="truncated"):
            decode_adpcm_wav(good[:-40])
        with pytest.raises(ValueError, match="not an IMA ADPCM"):
            decode_adpcm_wav(encode_wav(s.astype(np.int16), 8000))
        with pytest.raises(ValueError, match="not a RIFF"):
            decode_adpcm_wav(b"GARBAGE")

    def test_decode_stats_sample_sum_end_to_end(self, spark):
        from corpus_lab.operators.multimodal import (
            decode_stats, synth_adpcm_media,
        )

        d = spark.range(9).withColumnRenamed("id", "doc_id")
        rows = {r["media_id"]: r
                for r in decode_stats(synth_adpcm_media(d)).collect()}
        for i in range(9):
            n = 64 + i % 64
            a = (i * 97) % 4096 - 2048
            r = rows[str(i)]
            assert r["decoded"] and r["n_samples"] == n
            assert r["sample_rate"] == 8000 and r["sample_sum"] == n * a


class TestJpegCodec:
    """From-scratch baseline JPEG: bit-exact on flat blocks, bounded
    error elsewhere, profile rejection, real resize, real features."""

    def test_flat_blocks_roundtrip_bit_exact(self):
        import numpy as np

        from corpus_lab.kernel.jpegx import decode_jpeg, encode_jpeg

        for i in range(10):
            wb, hb = 1 + i % 4, 1 + i % 3
            blocks = ((np.arange(hb * wb) * 37 + i) % 256).reshape(hb, wb)
            img = np.kron(blocks, np.ones((8, 8), dtype=np.int64)) \
                .astype(np.uint8)
            got = decode_jpeg(encode_jpeg(img))
            assert got.dtype == np.uint8 and (got == img).all(), i
        # colour: three flat planes per block
        img = np.zeros((16, 24, 3), dtype=np.uint8)
        for by in range(2):
            for bx in range(3):
                img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                    [(by * 3 + bx) * 17 % 256, (by + bx) * 43 % 256,
                     bx * 91 % 256]
        assert (decode_jpeg(encode_jpeg(img)) == img).all()

    def test_arbitrary_images_near_lossless_at_unit_quant(self):
        import numpy as np

        from corpus_lab.kernel.jpegx import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(5)
        gray = rng.randint(0, 256, (21, 29), dtype=np.uint8)  # pads 8x
        got = decode_jpeg(encode_jpeg(gray))
        assert got.shape == gray.shape
        assert np.abs(got.astype(int) - gray.astype(int)).max() <= 2
        col = rng.randint(0, 256, (13, 10, 3), dtype=np.uint8)
        got = decode_jpeg(encode_jpeg(col))
        assert np.abs(got.astype(int) - col.astype(int)).max() <= 2

    def test_lossy_quant_table_decodes_with_bounded_error(self):
        import numpy as np

        from corpus_lab.kernel.jpegx import decode_jpeg, encode_jpeg

        q = np.full((8, 8), 16, dtype=np.int64)
        q[0, 0] = 8
        img = (np.outer(np.arange(32), np.ones(40)) * 5 % 256) \
            .astype(np.uint8)
        got = decode_jpeg(encode_jpeg(img, qtable=q))
        assert np.abs(got.astype(int) - img.astype(int)).mean() < 20

    def test_rejects_garbage_truncation_and_out_of_profile(self):
        import numpy as np
        import pytest

        from corpus_lab.kernel.jpegx import decode_jpeg, encode_jpeg

        img = np.full((8, 8), 100, dtype=np.uint8)
        good = encode_jpeg(img)
        with pytest.raises(ValueError, match="not a JPEG"):
            decode_jpeg(b"\x00\x00" + good[2:])
        with pytest.raises(ValueError):
            decode_jpeg(good[:30])          # truncated mid-segment
        with pytest.raises(ValueError):
            decode_jpeg(good[:-20] if len(good) > 40 else good[:-4])
        # progressive: flip SOF0 (FFC0) to SOF2 (FFC2)
        prog = bytearray(good)
        sof_at = good.find(b"\xFF\xC0")
        prog[sof_at + 1] = 0xC2
        with pytest.raises(ValueError, match="baseline"):
            decode_jpeg(bytes(prog))
        # 4:2:0 subsampling: set the first component's h/v factors to 2x2
        sub = bytearray(good)
        sub[sof_at + 11] = 0x22
        with pytest.raises(ValueError, match="subsampled"):
            decode_jpeg(bytes(sub))

    def test_resize_really_resamples_jpeg(self, spark):
        import numpy as np

        from corpus_lab.kernel.jpegx import decode_jpeg, encode_jpeg
        from corpus_lab.operators.multimodal import resize_images

        img = np.full((16, 16), 77, dtype=np.uint8)
        rows = [("j1", "image", encode_jpeg(img), "image/jpeg",
                 16, 16, None)]
        media = spark.createDataFrame(
            rows, "media_id string, kind string, payload binary, "
                  "mime string, width int, height int, duration_ms int")
        out = resize_images(media, 4, 4).collect()[0]
        arr = decode_jpeg(bytes(out["payload"]))
        assert arr.shape == (4, 4) and (arr == 77).all()
        assert (out["width"], out["height"]) == (4, 4)

    def test_decode_stats_and_features_real_for_jpeg(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from corpus_lab.operators.multimodal import (
            decode_stats, extract_features, synth_jpeg_media,
        )

        d = spark.range(8).withColumnRenamed("id", "doc_id")
        stats = {r["media_id"]: r
                 for r in decode_stats(synth_jpeg_media(d)).collect()}
        assert all(r["decoded"] for r in stats.values())
        # hand-check one colour row: i=3 -> 1x2 blocks of flat colour
        i = 3
        wb, hb = 1 + i % 3, 1 + i % 2
        b = np.arange(hb * wb)
        want = int(64 * (((b * 37 + i) % 256) + ((b * 53 + i) % 256)
                         + ((b * 89 + i) % 256)).sum())
        row = stats[str(i)]
        assert (row["width"], row["height"], row["px_sum"]) == \
            (wb * 8, hb * 8, want)
        n_real = extract_features(synth_jpeg_media(d)) \
            .filter(F.col("decoded")).count()
        assert n_real == 8


class TestMjpeg:
    """Motion-JPEG: real multi-frame decode stats + frame sampling."""

    def test_decode_stats_video_matches_hand_computation(self, spark):
        import numpy as np

        from corpus_lab.operators.multimodal import (
            decode_stats, synth_mjpeg_media,
        )

        d = spark.range(8).withColumnRenamed("id", "doc_id")
        stats = {r["media_id"]: r
                 for r in decode_stats(synth_mjpeg_media(d)).collect()}
        assert all(r["decoded"] and r["kind"] == "video"
                   for r in stats.values())
        for i in range(8):
            wb, hb, nf = 1 + i % 3, 1 + i % 2, 2 + i % 3
            b = np.arange(hb * wb)
            want = int(64 * sum(((b * 37 + i + 19 * f) % 256).sum()
                                for f in range(nf)))
            row = stats[str(i)]
            assert (row["width"], row["height"], row["n_frames"],
                    row["px_sum"]) == (wb * 8, hb * 8, nf, want)

    def test_sample_frames_stride_and_per_frame_sums(self, spark):
        import numpy as np

        from corpus_lab.operators.multimodal import (
            sample_frames, synth_mjpeg_media,
        )

        d = spark.range(8).withColumnRenamed("id", "doc_id")
        rows = sample_frames(synth_mjpeg_media(d), every_n=2).collect()
        got = {(r["media_id"], r["frame_idx"]): r["px_sum"] for r in rows}
        want = {}
        for i in range(8):
            wb, hb, nf = 1 + i % 3, 1 + i % 2, 2 + i % 3
            b = np.arange(hb * wb)
            for f in range(0, nf, 2):
                want[(str(i), f)] = int(64 * ((b * 37 + i + 19 * f) % 256).sum())
        assert got == want

    def test_video_features_real_and_fallback_split(self, spark):
        """synth_mjpeg_media rows decode for real (marker 1.0 +
        decoded=True); the old sha1*40 'video/mp4' stand-in payloads
        still take the labeled fallback with decoded=False."""
        from pyspark.sql import functions as F

        from corpus_lab.operators.multimodal import (
            extract_features, synth_media, synth_mjpeg_media,
        )

        d = spark.range(9).withColumnRenamed("id", "doc_id")
        real = extract_features(synth_mjpeg_media(d))
        assert real.filter(F.col("decoded")).count() == 9
        stub = extract_features(synth_media(d), batch_kind="video")
        assert stub.count() > 0
        assert stub.filter(F.col("decoded")).count() == 0


class TestPQ:
    """Product quantization: encode shape, ADC recall, plan shape."""

    def test_encode_codes_in_range_and_deterministic(self, spark):
        from corpus_lab.operators.similarity import (
            pinned_pq_codebooks, pq_encode)
        e = _emb(spark)
        cb = pinned_pq_codebooks(dim=64, m=8, k=16, seed=13)
        rows = pq_encode(e, cb).select("vec_id", "codes").collect()
        assert len(rows) == e.count()
        for r in rows:
            assert len(r["codes"]) == 8
            assert all(0 <= c < 16 for c in r["codes"])
        again = {r["vec_id"]: r["codes"]
                 for r in pq_encode(e, cb).select("vec_id", "codes").collect()}
        assert all(again[r["vec_id"]] == r["codes"] for r in rows)

    def test_trained_adc_recall_vs_exact_l2(self, spark):
        """Trained (per-subspace k-means) codebooks must put the query
        vector itself at ADC rank 1 and recover a useful fraction of the
        exact L2 top-10 — the quality bar the pinned-codebook oracle
        query does not measure."""
        import numpy as np
        from corpus_lab.operators.similarity import (
            pq_adc_topk, train_pq_codebooks)
        e, q = _emb(spark), _query(spark)
        cb = train_pq_codebooks(e, dim=64, m=8, k=16, sample=500)
        approx = [r["vec_id"] for r in pq_adc_topk(e, q, cb, k=10).collect()]
        assert approx[0] == 0  # its own codes minimize every subspace LUT
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in e.collect()}
        qv = np.asarray(q)
        exact = sorted(vecs, key=lambda i: float(((vecs[i] - qv) ** 2).sum()))[:10]
        assert len(set(exact) & set(approx)) >= 3

    def test_trained_codebooks_deterministic(self, spark):
        from corpus_lab.operators.similarity import train_pq_codebooks
        e = _emb(spark)
        c1 = train_pq_codebooks(e, sample=300, seed=9)
        c2 = train_pq_codebooks(e, sample=300, seed=9)
        assert (c1 == c2).all()

    def test_adc_plan_has_no_shuffle(self, spark):
        """ADC top-k must compile to one codegen'd projection +
        TakeOrderedAndProject — no Exchange, no join, no Python UDF."""
        from corpus_lab.operators.similarity import (
            pinned_pq_codebooks, pq_adc_topk)
        e = _emb(spark)
        cb = pinned_pq_codebooks(dim=64, m=8, k=16, seed=13)
        q = [0.1] * 64
        plan = pq_adc_topk(e, q, cb, k=5)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestRandomProjection:
    def _vecs(self, spark, n=24, d=64, seed=3):
        import numpy as np
        rng = np.random.RandomState(seed)
        rows = [(i, [float(x) for x in rng.randn(d)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows

    def test_values_match_numpy(self, spark):
        import numpy as np
        from corpus_lab.operators.similarity import (
            hyperplanes, random_projection)
        df, rows = self._vecs(spark)
        planes = hyperplanes(64, 16, seed=7, dtype=np.float64) / 4.0
        got = {(r["vec_id"], r["dim"]): r["value"]
               for r in random_projection(df, planes).collect()}
        for i, v in rows:
            y = planes @ np.array(v)
            for j in range(16):
                assert got[(i, j)] == pytest.approx(round(float(y[j]), 6),
                                                    abs=1e-9)

    def test_jl_distance_preservation(self, spark):
        """Pairwise squared distances in the k=16 projection stay within
        a generous JL distortion band of the d=64 originals (seeded, so
        the band is a deterministic regression lock, not a flake)."""
        import itertools
        import numpy as np
        from corpus_lab.operators.similarity import (
            hyperplanes, random_projection)
        df, rows = self._vecs(spark)
        planes = hyperplanes(64, 16, seed=7, dtype=np.float64) / np.sqrt(16.0)
        proj = {}
        for r in random_projection(df, planes).collect():
            proj.setdefault(r["vec_id"], {})[r["dim"]] = r["value"]
        orig = {i: np.array(v) for i, v in rows}
        ratios = []
        for a, b in itertools.combinations(sorted(orig), 2):
            d0 = float(np.sum((orig[a] - orig[b]) ** 2))
            pa = np.array([proj[a][j] for j in range(16)])
            pb = np.array([proj[b][j] for j in range(16)])
            ratios.append(float(np.sum((pa - pb) ** 2)) / d0)
        # k=16 ratios are chi^2(16)/16 draws: across 276 pairs the min
        # legitimately reaches ~0.18 (seeded — these are regression
        # locks, not distribution asserts)
        assert 0.1 < min(ratios) and max(ratios) < 2.5
        assert abs(sum(ratios) / len(ratios) - 1.0) < 0.25

    def test_zero_shuffle_plan(self, spark):
        import numpy as np
        from corpus_lab.operators.similarity import (
            hyperplanes, random_projection)
        df, _ = self._vecs(spark)
        planes = hyperplanes(64, 8, seed=7, dtype=np.float64)
        plan = random_projection(df, planes)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan

    def test_deterministic_under_repartition(self, spark):
        import numpy as np
        from corpus_lab.operators.similarity import (
            hyperplanes, random_projection)
        df, _ = self._vecs(spark)
        planes = hyperplanes(64, 8, seed=7, dtype=np.float64)
        a = sorted(map(tuple, random_projection(df, planes).collect()))
        b = sorted(map(tuple,
                       random_projection(df.repartition(5), planes).collect()))
        assert a == b


class TestDhash:
    """Perceptual dHash: the hash must survive the transformations that
    preserve the picture (re-encode, scale) and differ across pictures."""

    @staticmethod
    def _img(i, w=40, h=32):
        rng = np.random.default_rng(i)
        # smooth-ish gradient + noise so the hash has structure
        x = np.linspace(0, 255, w)[None, :] + rng.integers(0, 40, (h, w))
        arr = np.clip(x, 0, 255).astype(np.uint8)
        return np.stack([arr, arr, arr], axis=2)

    def _hash_of(self, spark, payloads):
        from corpus_lab.operators.multimodal import dhash_images
        rows = [(str(i), "image", p, "image/*", None, None, None)
                for i, p in enumerate(payloads)]
        df = spark.createDataFrame(
            rows, "media_id string, kind string, payload binary, "
                  "mime string, width int, height int, duration_ms int")
        out = dhash_images(df).orderBy("media_id").collect()
        return [(r["decoded"], r["dhash"]) for r in out]

    def test_format_invariance_png_vs_ppm(self, spark):
        from corpus_lab.operators.multimodal import encode_png, encode_ppm
        arr = self._img(1)
        (d1, h1), (d2, h2) = self._hash_of(
            spark, [encode_png(arr), encode_ppm(arr)])
        assert d1 and d2 and h1 == h2

    def test_scale_invariance_and_distinct_images(self, spark):
        from corpus_lab.operators.multimodal import (
            _resize_nn, encode_png,
        )
        arr = self._img(2, 64, 64)
        big = _resize_nn(arr, 128, 128)  # NN upscale: same picture
        other = self._img(9, 64, 64)[:, ::-1]  # mirrored gradient:
        # a genuinely different picture (same-direction gradients hash
        # alike BY DESIGN — that is what makes dHash perceptual)
        hashes = self._hash_of(spark, [encode_png(arr), encode_png(big),
                                       encode_png(other)])
        h = [v for _, v in hashes]
        same = bin(h[0] ^ h[1]).count("1")
        diff = bin(h[0] ^ h[2]).count("1")
        assert same <= 4          # scaled copy: near-identical hash
        assert diff >= 12         # different picture: far apart

    def test_undecodable_and_non_image_rows(self, spark):
        from corpus_lab.operators.multimodal import encode_png
        rows = [("0", "image", encode_png(self._img(3)), "image/png",
                 None, None, None),
                ("1", "image", b"\x89PNG\r\n\x1a\ngarbage", "image/png",
                 None, None, None),
                ("2", "audio", b"RIFFnope", "audio/wav", None, None, None)]
        df = spark.createDataFrame(
            rows, "media_id string, kind string, payload binary, "
                  "mime string, width int, height int, duration_ms int")
        from corpus_lab.operators.multimodal import dhash_images
        out = {r["media_id"]: r for r in dhash_images(df).collect()}
        assert out["0"]["decoded"] and out["0"]["dhash"] is not None
        assert not out["1"]["decoded"] and out["1"]["dhash"] is None
        assert "2" not in out  # non-images never reach Python

    def test_int64_width_guard(self, spark):
        from corpus_lab.operators.multimodal import dhash_images
        import pytest as _pytest
        df = spark.createDataFrame(
            [], "media_id string, kind string, payload binary, "
                "mime string, width int, height int, duration_ms int")
        with _pytest.raises(ValueError, match="int64-safe"):
            dhash_images(df, hash_w=8, hash_h=8)


class TestDhashWide:
    """120-bit array-banded dHash: the documented >=10M-image scale path
    (the 56-bit hash's radius-2 collision floor reached within 2x of
    signal at 10M — BENCH/BASELINE.md round 4)."""

    _img = staticmethod(TestDhash._img)

    def _media_df(self, spark, payloads):
        rows = [(str(i), "image", p, "image/*", None, None, None)
                for i, p in enumerate(payloads)]
        return spark.createDataFrame(
            rows, "media_id string, kind string, payload binary, "
                  "mime string, width int, height int, duration_ms int")

    def test_band_split_matches_python_reference(self, spark):
        """Concatenating the 4 x 30-bit bands reproduces the full
        120-bit integer a sequential reference packs directly."""
        import numpy as np
        from corpus_lab.operators.multimodal import (
            _resize_nn, dhash_wide_images, encode_png)
        arr = self._img(5, 48, 40)
        out = dhash_wide_images(self._media_df(
            spark, [encode_png(arr)])).collect()[0]
        assert out["decoded"] and len(out["sig"]) == 4
        gray = (arr[:, :, 0].astype(np.int64) + arr[:, :, 1]
                + arr[:, :, 2]) // 3
        g = _resize_nn(gray, 16, 8)
        bits = (g[:, :-1] > g[:, 1:]).ravel()
        full = sum(int(b) << k for k, b in enumerate(bits))
        got = sum(int(band) << (30 * j)
                  for j, band in enumerate(out["sig"]))
        assert got == full

    def test_reencode_hamming_zero_and_mining(self, spark):
        """Byte-different re-encode of the same picture collides at
        hamming 0; a perturbed copy lands within radius 2; distinct
        pictures produce no pair — mined by the generic array-banded
        simhash machinery verbatim."""
        import numpy as np
        from corpus_lab.operators.multimodal import (
            dhash_wide_images, encode_png, encode_ppm)
        from corpus_lab.operators.text_dedup import (
            simhash_bands_near_dup_pairs)
        arr = self._img(7, 64, 48)
        pert = arr.copy()
        pert[10, 10] = np.minimum(pert[10, 10] + 64, 255)
        other = self._img(23, 64, 48)[:, ::-1]
        sig = dhash_wide_images(self._media_df(spark, [
            encode_png(arr), encode_ppm(arr), encode_png(pert),
            encode_png(other)])).filter("decoded") \
            .select(F.col("media_id"), "sig")
        pairs = {(r["a"], r["b"]): r["hamming"]
                 for r in simhash_bands_near_dup_pairs(
                     None, max_hamming=2, id_col="media_id",
                     band_bits=30, n_bands=4, sig=sig).collect()}
        assert pairs[("0", "1")] == 0          # re-encode: exact
        assert ("0", "2") in pairs             # perturbed: radius <= 2
        assert not any("3" in p for p in pairs)

    def test_band_divisibility_guard(self, spark):
        from corpus_lab.operators.multimodal import dhash_wide_images
        import pytest as _pytest
        df = self._media_df(spark, [])
        with _pytest.raises(ValueError, match="equal bands"):
            dhash_wide_images(df, hash_w=13, hash_h=7, n_bands=4)


class TestAudioFingerprint:
    """Envelope hash: stable under lossy ADPCM re-encode of the same
    clip, far apart for different clips, skip-row on garbage."""

    def _fp_of(self, spark, rows):
        from corpus_lab.operators.multimodal import audio_envelope_hash
        df = spark.createDataFrame(
            rows, "media_id string, kind string, payload binary, "
                  "mime string, width int, height int, duration_ms int")
        return {r["media_id"]: (r["decoded"], r["fingerprint"])
                for r in audio_envelope_hash(df).collect()}

    def test_adpcm_reencode_keeps_envelope(self, spark):
        from corpus_lab.operators.multimodal import (
            encode_adpcm_wav, encode_wav,
        )
        rng = np.random.default_rng(5)
        # a clip with real envelope structure: quiet/loud alternation
        env = np.repeat(rng.integers(200, 12000, 16), 128)
        sig = (np.sin(np.arange(env.size) * 0.31) * env).astype(np.int16)
        out = self._fp_of(spark, [
            ("pcm", "audio", encode_wav(sig, 8000), "audio/wav",
             None, None, None),
            ("adpcm", "audio", encode_adpcm_wav(sig, 8000), "audio/wav",
             None, None, None),
        ])
        (d1, f1), (d2, f2) = out["pcm"], out["adpcm"]
        assert d1 and d2
        assert bin(f1 ^ f2).count("1") <= 4  # lossy codec, same envelope

    def test_distinct_clips_differ(self, spark):
        from corpus_lab.operators.multimodal import encode_wav
        rng = np.random.default_rng(6)
        a = np.repeat(rng.integers(100, 12000, 16), 128).astype(np.int16)
        b = np.repeat(rng.integers(100, 12000, 16)[::-1], 128).astype(np.int16)
        out = self._fp_of(spark, [
            ("a", "audio", encode_wav(a, 8000), "audio/wav", None, None, None),
            ("b", "audio", encode_wav(b, 8000), "audio/wav", None, None, None),
        ])
        assert bin(out["a"][1] ^ out["b"][1]).count("1") >= 10

    def test_skip_rows_and_kind_filter(self, spark):
        from corpus_lab.operators.multimodal import encode_png
        rows = [("0", "audio", b"RIFFgarbage", "audio/wav", None, None, None),
                ("1", "image", encode_png(np.zeros((4, 4, 3), np.uint8)),
                 "image/png", None, None, None)]
        out = self._fp_of(spark, rows)
        assert out["0"] == (False, None)
        assert "1" not in out

    def test_width_guard(self, spark):
        from corpus_lab.operators.multimodal import audio_envelope_hash
        df = spark.createDataFrame(
            [], "media_id string, kind string, payload binary, "
                "mime string, width int, height int, duration_ms int")
        with pytest.raises(ValueError, match="int64-safe"):
            audio_envelope_hash(df, n_blocks=64)


class TestFrameDhash:
    def test_shared_chain_with_still_images(self, spark):
        """A one-frame video and the same picture as a PNG hash
        identically — the video leg reuses the still-image chain."""
        from corpus_lab.kernel.jpegx import encode_mjpeg
        from corpus_lab.operators.multimodal import (
            dhash_images, encode_png, frame_dhash,
        )
        rng = np.random.default_rng(8)
        gray = rng.integers(0, 256, (32, 40)).astype(np.uint8)
        rgb = np.stack([gray, gray, gray], axis=2)
        ddl = ("media_id string, kind string, payload binary, mime string, "
               "width int, height int, duration_ms int")
        vid = spark.createDataFrame(
            [("v", "video", encode_mjpeg([gray]), "video/x-motion-jpeg",
              None, None, None)], ddl)
        img = spark.createDataFrame(
            [("i", "image", encode_png(rgb), "image/png",
              None, None, None)], ddl)
        hv = frame_dhash(vid).collect()
        hi = dhash_images(img).collect()
        assert len(hv) == 1 and hv[0]["frame_idx"] == 0
        assert hv[0]["dhash"] == hi[0]["dhash"]

    def test_stride_and_skip_rows(self, spark):
        from corpus_lab.kernel.jpegx import encode_mjpeg
        from corpus_lab.operators.multimodal import frame_dhash
        rng = np.random.default_rng(9)
        frames = [rng.integers(0, 256, (16, 16)).astype(np.uint8)
                  for _ in range(5)]
        ddl = ("media_id string, kind string, payload binary, mime string, "
               "width int, height int, duration_ms int")
        df = spark.createDataFrame(
            [("v", "video", encode_mjpeg(frames), "video/x-motion-jpeg",
              None, None, None),
             ("bad", "video", b"\xff\xd8garbage", "video/x-motion-jpeg",
              None, None, None)], ddl)
        out = frame_dhash(df, every_n=2).collect()
        assert sorted(r["frame_idx"] for r in out) == [0, 2, 4]
        assert all(r["media_id"] == "v" for r in out)  # bad row skipped


class TestFrameSharePairs:
    def _frames(self, spark, rows):
        ddl = "media_id string, frame_idx int, fkey bigint"
        return spark.createDataFrame(rows, ddl)

    def test_planted_duplicate_and_containment(self, spark):
        from corpus_lab.operators.multimodal import frame_share_pairs
        rows = [
            ("a", 0, 10), ("a", 1, 11), ("a", 2, 12),      # 3 frames
            ("b", 0, 10), ("b", 1, 11), ("b", 2, 12),      # dup of a
            ("c", 0, 10), ("c", 1, 11),                    # contained
            ("d", 0, 90), ("d", 1, 91), ("d", 2, 92),      # disjoint
        ]
        out = {(r["a"], r["b"]): (r["shared"], r["jaccard"])
               for r in frame_share_pairs(
                   self._frames(spark, rows), min_share=0.5,
                   key_col="fkey").collect()}
        assert out[("a", "b")] == (3, 1.0)
        # c vs a: 2 shared / (2+3-2)=3 -> 0.666667 passes
        assert out[("a", "c")][0] == 2
        assert abs(out[("a", "c")][1] - 0.666667) < 1e-6
        assert out[("b", "c")] == out[("a", "c")]
        assert not any("d" in k for k in out)

    def test_within_video_repeats_count_once(self, spark):
        from corpus_lab.operators.multimodal import frame_share_pairs
        rows = [("a", 0, 5), ("a", 1, 5), ("a", 2, 5),
                ("b", 0, 5)]
        out = frame_share_pairs(self._frames(spark, rows), min_share=1.0,
                                key_col="fkey").collect()
        assert len(out) == 1 and out[0]["jaccard"] == 1.0

    def test_hot_frame_prune(self, spark):
        from corpus_lab.operators.multimodal import frame_share_pairs
        # frame key 1 is in every video (the slate frame)
        rows = [("a", 0, 1), ("a", 1, 10),
                ("b", 0, 1), ("b", 1, 10),
                ("c", 0, 1), ("c", 1, 30)]
        pruned = frame_share_pairs(self._frames(spark, rows), min_share=0.5,
                                   key_col="fkey",
                                   max_videos_per_hash=2).collect()
        # slate frame dropped: only a-b still share a real frame (1/1)
        assert [(r["a"], r["b"], r["jaccard"]) for r in pruned] \
            == [("a", "b", 1.0)]

    def test_min_share_validation_and_plan(self, spark):
        from corpus_lab.operators.multimodal import frame_share_pairs
        with pytest.raises(ValueError):
            frame_share_pairs(self._frames(spark, [("a", 0, 1)]),
                              min_share=0.0, key_col="fkey")
        plan = frame_share_pairs(
            self._frames(spark, [("a", 0, 1), ("b", 0, 1)]),
            min_share=0.5, key_col="fkey")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestContentColSynth:
    def test_audio_content_duplicates(self, spark):
        from corpus_lab.operators.multimodal import synth_pcm_int_media
        df = spark.range(4).withColumn(
            "cid", F.when(F.col("id") % 2 == 1, F.col("id") - 1)
                    .otherwise(F.col("id")))
        out = {r["media_id"]: bytes(r["payload"])
               for r in synth_pcm_int_media(
                   df, id_col="id", content_col="cid").collect()}
        assert set(out) == {"0", "1", "2", "3"}
        assert out["0"] == out["1"] and out["2"] == out["3"]
        assert out["0"] != out["2"]

    def test_mjpeg_content_duplicates_and_default(self, spark):
        from corpus_lab.operators.multimodal import synth_mjpeg_media
        df = spark.range(2).withColumn("cid", F.lit(7))
        out = {r["media_id"]: bytes(r["payload"])
               for r in synth_mjpeg_media(
                   df, id_col="id", content_col="cid").collect()}
        assert out["0"] == out["1"]
        # default content_col=id_col unchanged
        base = {r["media_id"]: bytes(r["payload"])
                for r in synth_mjpeg_media(
                    spark.range(2), id_col="id").collect()}
        assert base["0"] != base["1"]
