"""Multimodal tests: BMP/WAV/PPM decode is REAL (pure NumPy — r4);
compressed codecs stay stubbed (no PIL/ffmpeg in the container)."""

import struct

import pytest
from pyspark.sql import functions as F

from frizbee_spark.operators.multimodal import (
    _decode_bmp,
    _decode_ppm,
    _decode_wav,
    decode_media,
    media_stats,
    sample_frames,
    sniff_media_type,
    synth_media,
    synth_media_blob,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + b"\x00" * 100),
        (2, b"\xff\xd8\xff\xe0" + b"\x11" * 5000),
        (3, b"RIFF\x24\x00\x00\x00WAVE" + b"\x22" * 9000),
        (4, b"plain text bytes, no magic"),
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, media binary")


@pytest.mark.spark
class TestMultimodal:
    def test_sniff(self, media):
        got = {r["doc_id"]: r["media_type"] for r in sniff_media_type(media).collect()}
        assert got[1] == "image/png"
        assert got[2] == "image/jpeg"
        assert got[3] == "audio/wav"
        assert got[4] == "application/octet-stream"

    def test_media_stats(self, media):
        got = {r["doc_id"]: r for r in media_stats(media).collect()}
        assert got[1]["n_bytes"] == 108
        assert got[5]["n_bytes"] == 0
        # constant-byte payload -> near-zero entropy; header adds a little
        assert got[2]["entropy"] < 0.1
        assert got[2]["content_hash"] != got[3]["content_hash"]

    def test_decode_requires_stub_optin_for_compressed(self, media):
        try:
            import PIL  # noqa: F401
            pytest.skip("PIL unexpectedly present")
        except ImportError:
            pass
        # the raise is executor-side (one bad blob names itself), so it
        # surfaces wrapped in Spark's PythonException — match the message
        with pytest.raises(Exception, match="allow_stub"):
            decode_media(media).collect()

    def test_decode_stub_deterministic(self, media):
        # every blob in this fixture is compressed/malformed/None ->
        # all take the stub path (the malformed RIFF has no fmt/data)
        a = sorted(map(tuple, decode_media(media, allow_stub=True).collect()))
        b = sorted(map(tuple, decode_media(media, allow_stub=True).collect()))
        assert a == b
        for row in a:
            assert row[-1] == "stub"  # decoder column marks the fake

    def test_decode_real_roundtrip(self, spark):
        """Encode->decode round trip over all five real codecs via the
        Spark operator: planted dims / duration / fill must come back
        exactly (VERDICT r3 item 6 — the stub became real; PNG+GIF r5)."""
        import numpy as np

        ids = list(range(120))  # all formats, incl. BMP row-padding
        df = synth_media(spark.range(120).withColumnRenamed("id", "doc_id"))
        got = {r["doc_id"]: r for r in decode_media(df).collect()}
        assert len(got) == len(ids)
        for d in ids:
            r = got[d]
            assert r["decoder"] == "numpy"
            if d % 8 == 6:
                w, h = 3 + d % 19, 2 + d % 7
                assert (r["media_type"], r["width"], r["height"],
                        r["n_channels"]) == ("image/gif", w, h, 3)
                assert r["mean_value"] == float(
                    np.mean((d + np.arange(h * w)) % 253))
                continue
            if d % 4 == 3:
                w, h = 4 + d % 21, 2 + d % 13
                ch = {0: 1, 1: 3, 2: 4}[d % 3]
                assert (r["media_type"], r["width"], r["height"],
                        r["n_channels"]) == ("image/png", w, h, ch)
                want = float(np.mean((d + np.arange(w * h * ch)) % 251))
                assert r["mean_value"] == want
                continue
            m = d % 3
            if m == 0:
                assert (r["media_type"], r["width"], r["height"],
                        r["n_channels"]) == ("image/bmp", 4 + d % 29,
                                             3 + d % 17, 3)
                assert r["mean_value"] == float(d % 251)  # padding excluded
            elif m == 1:
                nf = 400 + (d % 37) * 16
                assert (r["media_type"], r["n_channels"],
                        r["sample_rate"]) == ("audio/wav", 1 + d % 2, 8000)
                assert r["duration_s"] == nf / 8000
                assert r["mean_value"] == float(d % 1000 - 500)
            else:
                assert (r["media_type"], r["width"], r["height"],
                        r["n_channels"]) == ("image/ppm", 5 + d % 23,
                                             2 + d % 11, 3)
                assert r["mean_value"] == float(d % 256)

    def test_decode_edge_formats(self):
        """Driver-side parser edge cases: top-down BMP, 8-bit WAV,
        P5 PGM with comments, malformed inputs -> None."""
        w, h, c = 2, 2, 7
        row = (w * 3 + 3) // 4 * 4
        hdr = (b"BM" + struct.pack("<IHHI", 54 + row * h, 0, 0, 54)
               + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0,
                             row * h, 0, 0, 0, 0))
        px = bytearray(row * h)
        for r in range(h):
            px[r * row:r * row + w * 3] = bytes([c]) * (w * 3)
        assert _decode_bmp(hdr + bytes(px)) == (
            "image/bmp", 2, 2, 3, 0, 0.0, 7.0)

        data = bytes([200]) * 16
        wav = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
               + b"fmt " + struct.pack("<I", 16)
               + struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
               + b"data" + struct.pack("<I", len(data)) + data)
        assert _decode_wav(wav) == ("audio/wav", 0, 0, 1, 8000, 0.002, 200.0)

        assert _decode_ppm(b"P5\n# c\n3 2\n255\n" + bytes([9]) * 6) == (
            "image/pgm", 3, 2, 1, 0, 0.0, 9.0)

        # malformed: bogus RIFF chunk, truncated BMP, short PPM
        assert _decode_wav(b"RIFF\x24\x00\x00\x00WAVE" + b"\x22" * 9000) is None
        assert _decode_bmp(synth_media_blob(0)[:40]) is None
        assert _decode_ppm(b"P6\n3 2\n255\n" + b"\x00" * 5) is None

    def test_png_filters_and_variants(self):
        """Driver-side PNG coverage: every row filter type reconstructs
        (the fixture rotates filters 0-4 by row), gray/RGB/RGBA channel
        layouts decode, and out-of-scope variants return None instead of
        garbage."""
        import zlib

        import numpy as np

        from frizbee_spark.operators.multimodal import (
            _decode_png, _png_encode)

        # ids 0..4 rotate the starting filter; %3 rotates color type
        for d in range(15):
            b = _png_encode(d)
            got = _decode_png(b)
            w, h = 4 + d % 21, 2 + d % 13
            ch = {0: 1, 1: 3, 2: 4}[d % 3]
            want = float(np.mean((d + np.arange(w * h * ch)) % 251))
            assert got == ("image/png", w, h, ch, 0, 0.0, want), d

        def patch(b, off, val):
            return b[:off] + bytes([val]) + b[off + 1:]

        good = _png_encode(7)
        # IHDR layout: sig(8) len(4) 'IHDR'(4) w(4) h(4) depth ctype ...
        assert _decode_png(patch(good, 24, 16)) is None      # 16-bit depth
        assert _decode_png(patch(good, 25, 3)) is None       # palette
        assert _decode_png(patch(good, 28, 1)) is None       # Adam7
        assert _decode_png(good[:40]) is None                # truncated
        assert _decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64) is None
        # corrupt the zlib stream -> clean None, not an exception
        idat_off = good.find(b"IDAT") + 4
        assert _decode_png(patch(good, idat_off + 1, 0xFF)) is None

        # hand-built 1x1 gray PNGs: filter byte 5 -> None; stream whose
        # decompressed length mismatches h*(stride+1) -> None
        def tiny(raw_scanlines):
            def chunk(typ, data):
                return (struct.pack(">I", len(data)) + typ + data
                        + struct.pack(">I", zlib.crc32(typ + data)))
            ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw_scanlines))
                    + chunk(b"IEND", b""))

        assert _decode_png(tiny(b"\x00\x2a")) == \
            ("image/png", 1, 1, 1, 0, 0.0, 42.0)
        assert _decode_png(tiny(b"\x05\x2a")) is None    # filter 5
        assert _decode_png(tiny(b"\x00\x2a\x00")) is None  # length mismatch

    def test_sniff_new_formats(self, spark):
        rows = [(1, synth_media_blob(0)), (2, synth_media_blob(1)),
                (3, synth_media_blob(2))]
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        got = {r["doc_id"]: r["media_type"]
               for r in sniff_media_type(df).collect()}
        assert got == {1: "image/bmp", 2: "audio/wav", 3: "image/ppm"}

    def test_sample_frames_fanout(self, media):
        got = sample_frames(media, every_n_bytes=1000, max_frames=4).collect()
        by_doc = {}
        for r in got:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert len(by_doc[2]) == 4  # 5000 bytes / 1000 capped at 4
        assert len(by_doc[1]) == 1  # small payload -> 1 frame
        offsets = sorted(r["frame_offset"] for r in by_doc[3])
        assert offsets == [0, 1000, 2000, 3000]
        assert all(len(r["frame"]) <= 64 for r in got)

    def test_decode_jpeg_through_operator(self, spark):
        """Real baseline-JPEG blobs (both chroma samplings) decode
        through the Spark operator: exact dims/channels, decoder='numpy',
        mean within lossy tolerance of the source image (round 5)."""
        import numpy as np
        from frizbee_spark.functions.jpeg import encode_jpeg

        yy, xx = np.mgrid[0:45, 0:61]
        img = np.stack([(xx * 4) % 256, (yy * 4) % 256,
                        ((xx + yy) * 2) % 256], axis=-1).astype(np.uint8)
        rows = [(1, encode_jpeg(img, quality=95)),
                (2, encode_jpeg(img, quality=95, subsample=True)),
                (3, encode_jpeg(img[..., 0], quality=95))]  # grayscale
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        got = {r["doc_id"]: r for r in decode_media(df).collect()}
        for d in (1, 2, 3):
            r = got[d]
            assert r["decoder"] == "numpy"
            assert r["media_type"] == "image/jpeg"
            assert (r["width"], r["height"]) == (61, 45)
            assert r["n_channels"] == (1 if d == 3 else 3)
            src_mean = float(img[..., 0].mean() if d == 3 else img.mean())
            assert abs(r["mean_value"] - src_mean) < 3.0

    def test_decode_progressive_jpeg_stays_stubbed(self, spark):
        """A progressive (SOF2) JPEG is out of decoder scope: it must
        fall through to the stub path, not crash or mis-decode."""
        import numpy as np
        from frizbee_spark.functions.jpeg import encode_jpeg

        blob = bytearray(encode_jpeg(
            np.full((16, 16), 128, dtype=np.uint8)))
        blob[blob.index(b"\xff\xc0") + 1] = 0xC2
        df = spark.createDataFrame(
            [(1, bytes(blob))], "doc_id long, media binary")
        with pytest.raises(Exception, match="allow_stub"):
            decode_media(df).collect()
        row = decode_media(df, allow_stub=True).collect()[0]
        assert row["decoder"] == "stub"

    def test_gif_lzw_roundtrip_width_boundaries(self):
        """Encoder and decoder are independent implementations; the
        roundtrip must survive every code-width growth (9->10->11->12)
        and the clear-on-full resync, plus the KwKwK self-reference."""
        import numpy as np
        from frizbee_spark.operators.multimodal import (
            _gif_lzw_decode, _gif_lzw_encode)

        rng = np.random.RandomState(7)
        for n in (1, 300, 5000, 80000):
            for alpha in (4, 256):
                idx = rng.randint(0, alpha, n).astype(np.uint8).tobytes()
                mc = max(2, (alpha - 1).bit_length())
                assert _gif_lzw_decode(_gif_lzw_encode(idx, mc), mc, n) == idx
        rep = b"abcd" * 40000                      # deep dict + clears
        assert _gif_lzw_decode(_gif_lzw_encode(rep, 8), 8, len(rep)) == rep
        kwk = b"\x01" * 500                        # code == len(table)
        assert _gif_lzw_decode(_gif_lzw_encode(kwk, 2), 2, 500) == kwk

    def test_gif_interlace_row_placement(self):
        """The mean is order-invariant, so the oracle can't see a wrong
        interlace reorder — assert exact pixel placement here instead."""
        import numpy as np
        from frizbee_spark.operators.multimodal import (
            _decode_gif_pixels, _gif_encode)

        for d in (6, 22, 38, 70, 102, 1000006):   # % 16 == 6 -> interlaced
            w, h = 3 + d % 19, 2 + d % 7
            _, _, grid, pal = _decode_gif_pixels(_gif_encode(d))
            want = ((d + np.arange(h * w)) % 253).reshape(h, w)
            assert (grid == want).all()
            assert (pal[:, 0] == pal[:, 1]).all()  # grayscale palette

    def test_gif_malformed_rejected(self):
        from frizbee_spark.operators.multimodal import (
            _decode_gif, _gif_encode)

        good = _gif_encode(14)
        assert _decode_gif(good) is not None
        assert _decode_gif(good[:20]) is None           # truncated
        assert _decode_gif(b"GIF89a" + b"\x00" * 7) is None  # no image
        bad = bytearray(good)
        bad[5] = ord("x")                               # bad version
        assert _decode_gif(bytes(bad)) is None

    def test_decode_gif_through_operator(self, spark):
        import numpy as np
        from frizbee_spark.operators.multimodal import _gif_encode

        rows = [(d, _gif_encode(d)) for d in (6, 14, 30)]
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        got = {r["doc_id"]: r for r in decode_media(df).collect()}
        for d, _ in rows:
            r = got[d]
            w, h = 3 + d % 19, 2 + d % 7
            assert r["decoder"] == "numpy"
            assert r["media_type"] == "image/gif"
            assert (r["width"], r["height"], r["n_channels"]) == (w, h, 3)
            assert r["sample_rate"] == 0 and r["duration_s"] == 0.0
            exp = float(np.mean((d + np.arange(h * w)) % 253))
            assert r["mean_value"] == exp

    def test_gif_local_color_table_and_87a(self):
        """GIF87a with NO global table and a 4-entry LOCAL color table at
        min_code=2: the LCT override, small-palette code width, and the
        87a header all decode; a palette-less GIF is rejected."""
        import struct

        import numpy as np

        from frizbee_spark.operators.multimodal import (
            _decode_gif, _decode_gif_pixels, _gif_lzw_encode)

        w, h = 5, 3
        idx = np.arange(w * h, dtype=np.uint8) % 4
        lct = bytes(v for i in (10, 40, 90, 200) for v in (i, 2*i % 256, 255-i))
        data = _gif_lzw_encode(idx.tobytes(), 2)
        out = bytearray()
        out += b"GIF87a" + struct.pack("<HHBBB", w, h, 0x00, 0, 0)
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x81)  # LCT, 4
        out += lct
        out.append(2)
        for i in range(0, len(data), 255):
            c = data[i:i + 255]
            out.append(len(c))
            out += c
        out += b"\x00\x3b"
        gw, gh, grid, pal = _decode_gif_pixels(bytes(out))
        assert (gw, gh) == (w, h) and (grid == idx.reshape(h, w)).all()
        assert pal.shape == (4, 3) and tuple(pal[2]) == (90, 180, 165)
        got = _decode_gif(bytes(out))
        assert got[6] == float(np.array([pal[i] for i in idx]).mean())
        # image descriptor with neither global nor local palette: reject
        bare = bytearray()
        bare += b"GIF87a" + struct.pack("<HHBBB", w, h, 0x00, 0, 0)
        bare += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x00)
        bare += bytes([2]) + b"\x00\x3b"
        assert _decode_gif(bytes(bare)) is None


class TestContainerMeta:
    """MP4 box-walk / MP3 frame-walk metadata: pure-Python parser parity
    vs the planted fixture formulas, plus the edge paths (64-bit
    largesize, v1 mvhd, ID3 skip/stop, truncated tail, VBR average)."""

    def _want(self, d):
        from frizbee_spark.operators.multimodal import (
            _MP3_BITRATE_KBPS, _MP3_SR)
        if d % 2 == 0:
            ts = (600, 1000, 90000, 44100)[d % 4]
            dur = ts * (1 + d % 29) + d % 97
            n = 1 + d % 3
            mdat_n = 32 + d % 211
            return ("video/mp4", dur * 1000 // ts, ts, n, (n + 1) // 2,
                    n // 2, (mdat_n * 8 * ts) // dur)
        kbps = _MP3_BITRATE_KBPS[5 + d % 9]
        sr = _MP3_SR[d % 3]
        nf = 4 + d % 23
        return ("audio/mpeg", nf * 1152 * 1000 // sr, sr, 1, 0, 1,
                kbps * 1000)

    def test_fixture_parity(self):
        # covers every residue class the fixture branches on: 64-bit
        # largesize (id%6==0), v1 mvhd (id%10==2), streaming layout
        # (id%8 in (0,2)), ID3v2 prefix (id%4==1), ID3v1 trailer
        # (id%5==0), all 3 samplerates x 9 bitrates
        from frizbee_spark.operators.multimodal import (
            _parse_mp3_meta, _parse_mp4_meta, synth_container_blob)
        for d in range(360):
            b = synth_container_blob(d)
            got = _parse_mp4_meta(b) or _parse_mp3_meta(b)
            assert got == self._want(d), d

    def test_mp3_truncated_tail_frame_ignored(self):
        from frizbee_spark.operators.multimodal import (
            _parse_mp3_meta, synth_container_blob)
        d = 7  # odd, no ID3v1 trailer -> blob ends exactly at a frame end
        full = _parse_mp3_meta(synth_container_blob(d))
        cut = _parse_mp3_meta(synth_container_blob(d)[:-10])
        nf = 4 + d % 23
        sr = full[2]
        assert cut[1] == (nf - 1) * 1152 * 1000 // sr  # one frame fewer

    def test_mp3_vbr_average_bitrate(self):
        from frizbee_spark.operators.multimodal import _parse_mp3_meta
        out = bytearray()
        for bi, pad in ((9, 0), (14, 1)):  # 128 kbps then 320 kbps
            kbps = {9: 128, 14: 320}[bi]
            flen = 144 * kbps * 1000 // 44100 + pad
            out += bytes([0xFF, 0xFB, (bi << 4) | (0 << 2) | (pad << 1),
                          0x44]) + b"\xaa" * (flen - 4)
        got = _parse_mp3_meta(bytes(out))
        assert got[6] == (128 + 320) * 1000 // 2
        assert got[1] == 2 * 1152 * 1000 // 44100

    def test_mp3_sample_rate_change_ends_stream(self):
        # 3 frames at 44.1 kHz, then 2 at 32 kHz: the walk stops at the
        # rate change, so duration and rate are the first frames' alone
        from frizbee_spark.operators.multimodal import _parse_mp3_meta
        out = bytearray()
        for sri, sr in ((0, 44100),) * 3 + ((2, 32000),) * 2:
            flen = 144 * 128 * 1000 // sr
            out += bytes([0xFF, 0xFB, (9 << 4) | (sri << 2), 0x44]) \
                + b"\xaa" * (flen - 4)
        got = _parse_mp3_meta(bytes(out))
        assert got[1:3] == (3 * 1152 * 1000 // 44100, 44100)
        assert got[6] == 128 * 1000

    def test_malformed_mp4_stops_cleanly(self):
        import struct as s
        from frizbee_spark.operators.multimodal import _parse_mp4_meta
        ftyp = s.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
        # box claiming to extend past EOF: walk stops, no mvhd -> None
        assert _parse_mp4_meta(ftyp + s.pack(">I", 9999) + b"moov") is None
        # zero-size moov box (to-EOF) with a truncated mvhd body: no crash
        assert _parse_mp4_meta(
            ftyp + s.pack(">I", 0) + b"moov" + b"\x00\x00\x00\x09mvhd\x01"
        ) is None

    @pytest.mark.spark
    def test_operator_mixed_corpus(self, spark):
        from frizbee_spark.operators.multimodal import (
            container_meta, synth_container, synth_container_blob)
        ids = spark.range(0, 12).withColumnRenamed("id", "doc_id")
        rows = {r["doc_id"]: r for r in
                container_meta(synth_container(ids)).collect()}
        assert len(rows) == 12
        for d in range(12):
            r = rows[d]
            want = self._want(d)
            assert (r["container"], r["duration_ms"], r["time_base"],
                    r["n_streams"], r["n_video"], r["n_audio"],
                    r["bit_rate"]) == want
        # non-container blobs parse as octet-stream zeros (total operator)
        other = spark.createDataFrame(
            [(100, b"plain text"), (101, None),
             (102, synth_container_blob(3))],
            "doc_id long, media binary")
        got = {r["doc_id"]: r for r in container_meta(other).collect()}
        assert got[100]["container"] == "application/octet-stream"
        assert got[101]["duration_ms"] == 0
        assert got[102]["container"] == "audio/mpeg"

    def test_container_parsers_total_under_mutation(self):
        # web-scale dirty-data hardening: seeded byte flips, truncations,
        # and splices of valid fixtures must never raise — the operator
        # is advertised total (octet-stream fallback), so the parsers
        # must stop cleanly on ANY malformed structure
        import random
        from frizbee_spark.operators.multimodal import (
            _parse_mp3_meta, _parse_mp4_meta, synth_container_blob)

        rng = random.Random(20260821)
        for trial in range(400):
            b = bytearray(synth_container_blob(rng.randrange(200)))
            mode = trial % 4
            if mode == 0:  # flip up to 8 bytes
                for _ in range(rng.randrange(1, 9)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            elif mode == 1:  # truncate anywhere
                del b[rng.randrange(len(b)):]
            elif mode == 2:  # splice two blobs at random cut points
                c = synth_container_blob(rng.randrange(200))
                b = b[:rng.randrange(len(b))] + c[rng.randrange(len(c)):]
            else:  # random garbage prefix
                b = bytearray(rng.randbytes(rng.randrange(64))) + b
            out = _parse_mp4_meta(bytes(b)) or _parse_mp3_meta(bytes(b))
            if out is not None:  # whatever parses must be well-typed
                assert out[0] in ("video/mp4", "audio/mpeg")
                assert all(isinstance(x, int) and x >= 0 for x in out[1:])
