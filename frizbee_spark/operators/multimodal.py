"""Multimodal (image/audio/video) column plumbing over opaque binary.

Pattern for 100 TB multimodal curation: media lives as `binary` columns
(or object-store URIs) beside typed metadata; decode / feature-extract /
resize / frame-sample run as vectorized Arrow UDFs via ``mapInPandas`` so
each task streams record batches without materializing whole partitions.

Decode coverage: BMP (BI_RGB 8/24/32bpp), WAV (PCM 8/16-bit),
GIF87a/89a (variable-width LZW, global/local palettes, interlace,
first frame), PPM/PGM
(binary P6/P5), PNG (8-bit gray/RGB/LA/RGBA, non-interlaced — stdlib
zlib inflate + NumPy unfiltering of all 5 filter types), and baseline
JPEG (SOF0 JFIF: Huffman entropy decode, matrix IDCT, 4:4:4/4:2:0/4:2:2
chroma upsample, restart markers — functions/jpeg.py) are decoded for
REAL in pure NumPy (no PIL/ffmpeg needed). The remaining compressed
codecs (MP3/MP4, progressive JPEG, palette/16-bit/Adam7 PNG) need
decode libraries absent from this container: those blobs raise
NotImplementedError unless ``allow_stub=True``, in which case a clearly
marked deterministic fake (hash-derived dims/durations, decoder='stub')
keeps the distributed plumbing exercisable.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import byte_entropy_batch, hash64_batch, hash64_bytes

# magic-byte sniffing is real (not stubbed) — pure byte compares
_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"BM", "image/bmp"),
    (b"P6", "image/ppm"),
    (b"P5", "image/pgm"),
    (b"RIFF", "audio/wav"),
    (b"ID3", "audio/mp3"),
    (b"\x00\x00\x00", "video/mp4"),
]


def sniff_media_type(df: DataFrame, binary_col: str = "media") -> DataFrame:
    """Magic-byte content sniffing as a Catalyst expression chain."""
    col = F.col(binary_col)
    expr = F.lit("application/octet-stream")
    for magic, mime in reversed(_MAGIC):
        hexed = magic.hex()
        expr = F.when(
            F.hex(F.substring(col, 1, len(magic))) == hexed.upper(), mime
        ).otherwise(expr)
    return df.withColumn("media_type", expr)


def media_stats(df: DataFrame, id_col: str = "doc_id", binary_col: str = "media") -> DataFrame:
    """Byte-level stats every payload gets regardless of codec: size,
    64-bit content hash, byte entropy. Vectorized Arrow UDF (entropy needs
    a histogram — not expressible in SQL builtins)."""
    work = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("_m"))

    def run(batches):
        for pdf in batches:
            blobs = [bytes(b) if b is not None else b"" for b in pdf["_m"]]
            n = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=len(blobs))
            h = hash64_batch(blobs).view(np.int64)
            ent = byte_entropy_batch(blobs)
            out = pdf[["doc_id"]].copy()
            out["n_bytes"] = n
            out["content_hash"] = h
            out["entropy"] = np.round(ent, 4)
            yield out

    return work.mapInPandas(
        run, schema="doc_id long, n_bytes long, content_hash long, entropy double"
    )


def _decode_bmp(b: bytes):
    """BMP (BITMAPINFOHEADER, BI_RGB 8/24/32bpp): dims + per-byte pixel
    mean, row padding excluded. Returns None when malformed/compressed."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    data_off, = struct.unpack_from("<I", b, 10)
    hdr_size, = struct.unpack_from("<I", b, 14)
    if hdr_size < 40:  # BITMAPCOREHEADER etc. — out of scope
        return None
    w, h_signed = struct.unpack_from("<ii", b, 18)
    bpp, = struct.unpack_from("<H", b, 28)
    comp, = struct.unpack_from("<I", b, 30)
    h = abs(h_signed)  # negative height = top-down row order
    if comp != 0 or bpp not in (8, 24, 32) or w <= 0 or h == 0:
        return None
    ch = bpp // 8
    row = (w * ch + 3) // 4 * 4  # rows padded to 4-byte boundaries
    if data_off + row * h > len(b):
        return None
    px = np.frombuffer(b, dtype=np.uint8,
                       count=row * h, offset=data_off).reshape(h, row)
    mean = float(px[:, : w * ch].mean())
    return ("image/bmp", w, h, ch, 0, 0.0, mean)


def _decode_wav(b: bytes):
    """WAV RIFF chunk walk (PCM 8/16-bit): channels, sample rate,
    duration, sample mean. Returns None when malformed/non-PCM."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        size, = struct.unpack_from("<I", b, pos + 4)
        if pos + 8 + size > len(b):
            return None  # truncated / bogus chunk size
        if cid == b"fmt " and size >= 16:
            fmt = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data = b[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        return None
    audio_fmt, ch, sr, _brate, block_align, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16) or ch < 1 or sr <= 0:
        return None
    if block_align != ch * bits // 8 or block_align == 0:
        return None
    n_frames = len(data) // block_align
    samp = np.frombuffer(
        data, dtype=np.int16 if bits == 16 else np.uint8,
        count=n_frames * ch)
    mean = float(samp.mean()) if samp.size else 0.0
    return ("audio/wav", 0, 0, ch, sr, n_frames / sr, mean)


def _decode_ppm(b: bytes):
    """Binary PPM (P6) / PGM (P5), maxval <= 255: dims + pixel-byte
    mean. Handles whitespace + '#' comments in the header."""
    if len(b) < 2 or b[:1] != b"P" or b[1:2] not in b"56":
        return None
    ch = 3 if b[1:2] == b"6" else 1
    toks, pos = [], 2
    while len(toks) < 3 and pos < len(b):
        c = b[pos:pos + 1]
        if c in b" \t\r\n":
            pos += 1
        elif c == b"#":
            nl = b.find(b"\n", pos)
            if nl < 0:
                return None
            pos = nl + 1
        elif c.isdigit():
            end = pos
            while end < len(b) and b[end:end + 1].isdigit():
                end += 1
            toks.append(int(b[pos:end]))
            pos = end
        else:
            return None
    if len(toks) < 3 or pos >= len(b):
        return None
    w, h, maxval = toks
    if w <= 0 or h <= 0 or not (0 < maxval <= 255):
        return None
    pos += 1  # exactly ONE whitespace byte separates maxval from pixels
    n = w * h * ch
    if pos + n > len(b):
        return None
    px = np.frombuffer(b, dtype=np.uint8, count=n, offset=pos)
    mime = "image/ppm" if ch == 3 else "image/pgm"
    return (mime, w, h, ch, 0, 0.0, float(px.mean()))


def _png_unfilter_row(line, prev, rec, f, ch):
    """Reconstruct one PNG scanline in place (rec) from the filtered
    bytes (line) and the previous reconstructed row (prev); all int64.
    Filters per the PNG spec §9: 0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth. Sub is a per-channel-lane prefix sum (vectorized); Average/
    Paeth depend on the just-reconstructed left pixel, so they walk
    pixels with the ch lanes vectorized."""
    w = line.size // ch
    if f == 0:
        rec[:] = line
    elif f == 1:  # Sub: x_i = raw_i + x_(i-ch) -> cumsum per lane
        rec[:] = (line.reshape(w, ch).cumsum(axis=0) % 256).reshape(-1)
    elif f == 2:  # Up
        rec[:] = (line + prev) % 256
    elif f == 3:  # Average
        lr = line.reshape(w, ch)
        pr = prev.reshape(w, ch)
        out = rec.reshape(w, ch)
        left = np.zeros(ch, dtype=np.int64)
        for i in range(w):
            left = (lr[i] + (left + pr[i]) // 2) % 256
            out[i] = left
    elif f == 4:  # Paeth
        lr = line.reshape(w, ch)
        pr = prev.reshape(w, ch)
        out = rec.reshape(w, ch)
        left = np.zeros(ch, dtype=np.int64)
        upleft = np.zeros(ch, dtype=np.int64)
        for i in range(w):
            up = pr[i]
            p = left + up - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, up, upleft))
            left = (lr[i] + pred) % 256
            out[i] = left
            upleft = up
    else:
        return False
    return True


def _decode_png(b: bytes):
    """PNG via stdlib zlib + NumPy unfiltering (all 5 filter types):
    8-bit gray/RGB/gray-alpha/RGBA, non-interlaced. Palette, 16-bit, and
    Adam7 return None (out of scope). Returns the same tuple shape as
    the other decoders: (mime, w, h, ch, 0, 0.0, mean_pixel_byte)."""
    import zlib

    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(b):
        ln, = struct.unpack_from(">I", b, pos)
        typ = b[pos + 4:pos + 8]
        if pos + 12 + ln > len(b):
            return None
        if typ == b"IHDR":
            if ln != 13:
                return None
            ihdr = struct.unpack_from(">IIBBBBB", b, pos + 8)
        elif typ == b"IDAT":
            idat.append(b[pos + 8:pos + 8 + ln])
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        return None
    w, h, depth, ctype, comp, filt, inter = ihdr
    ch = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if depth != 8 or ch is None or comp != 0 or filt != 0 or inter != 0:
        return None
    if w <= 0 or h <= 0 or w * h * ch > 1 << 28:  # 256 MB decoded cap
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * ch
    if len(raw) != h * (stride + 1):
        return None
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    total = 0
    prev = np.zeros(stride, dtype=np.int64)
    rec = np.empty(stride, dtype=np.int64)
    for r in range(h):
        if not _png_unfilter_row(raw[r, 1:].astype(np.int64), prev, rec,
                                 int(raw[r, 0]), ch):
            return None
        total += int(rec.sum())
        prev, rec = rec, prev  # reuse buffers; prev now holds row r
    return ("image/png", w, h, ch, 0, 0.0, total / (h * stride))


def _gif_lzw_decode(data: bytes, min_code: int, expected: int):
    """GIF-variant LZW (LSB-first bit packing, clear/EOI codes, 12-bit
    cap, deferred-clear tolerant). Returns exactly ``expected`` index
    bytes or None on a malformed stream."""
    clear = 1 << min_code
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code + 1
    out = bytearray()
    acc = nbits = 0
    prev = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = list(base)
                width = min_code + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out[:expected]) if len(out) >= expected else None
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            if len(table) == (1 << width) and width < 12:
                width += 1
            out += entry
            prev = entry
            if len(out) >= expected:
                return bytes(out[:expected])
    return None


#: interlace passes per the GIF89a spec appendix E: (first row, step)
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _decode_gif_pixels(b: bytes):
    """First frame of a GIF87a/89a: header + logical screen descriptor,
    global/local color table, extension skip, LZW decode, interlace
    row reorder. Returns (w, h, idx[h, w] uint8, palette[n, 3] uint8)
    or None. Animation is out of scope by design — frame 1 only (the
    curation signal; later frames are deltas needing composition)."""
    if len(b) < 13 or b[:4] != b"GIF8" or b[4:6] not in (b"7a", b"9a"):
        return None
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(b):
            return None
        palette = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(b):
        blk = b[pos]
        pos += 1
        if blk == 0x3B:  # trailer before any image
            return None
        if blk == 0x21:  # extension: label + sub-blocks until 0
            pos += 1
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if blk != 0x2C:
            return None
        if pos + 9 > len(b):
            return None
        _lf, _tp, w, h, ipk = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        if ipk & 0x80:  # local color table overrides
            n = 2 << (ipk & 0x07)
            if pos + 3 * n > len(b):
                return None
            palette = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if palette is None or w <= 0 or h <= 0 or w * h > 1 << 28:
            return None
        if pos >= len(b):
            return None
        min_code = b[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            return None
        chunks = []
        while pos < len(b) and b[pos] != 0:
            ln = b[pos]
            chunks.append(b[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        idx = _gif_lzw_decode(b"".join(chunks), min_code, w * h)
        if idx is None:
            return None
        grid = np.frombuffer(idx, np.uint8).reshape(h, w)
        if grid.max() >= len(palette):
            return None
        if ipk & 0x40:  # interlaced: stream row i -> display row order[i]
            order = [r for s, st in _GIF_PASSES for r in range(s, h, st)]
            disp = np.empty_like(grid)
            disp[order] = grid
            grid = disp
        return (w, h, grid, palette)
    return None


def _decode_gif(b: bytes):
    """GIF first frame via :func:`_decode_gif_pixels`; mean_value is the
    mean palette-mapped channel byte (matching the PNG/BMP convention).
    Same tuple shape as the other decoders."""
    got = _decode_gif_pixels(b)
    if got is None:
        return None
    w, h, grid, palette = got
    total = int(palette[grid].astype(np.int64).sum())
    return ("image/gif", w, h, 3, 0, 0.0, total / (w * h * 3))


def _decode_jpeg_blob(b: bytes):
    """Baseline JFIF via the pure-NumPy codec in functions/jpeg.py
    (Huffman entropy decode + matrix IDCT + chroma upsample; 4:4:4 /
    4:2:0 / 4:2:2, restart markers, 16-bit DQT). Progressive /
    arithmetic / truncated blobs return None (out of scope) — same
    convention as the other decoders. Returns (mime, w, h, ch, 0, 0.0,
    mean_pixel_value)."""
    if len(b) < 3 or b[:3] != b"\xff\xd8\xff":
        return None
    from ..functions.jpeg import decode_jpeg

    try:
        # 256 MB decoded cap like PNG — enforced at SOF parse, before
        # any plane allocation (decode-bomb guard for untrusted blobs)
        w, h, ch, pix = decode_jpeg(b, max_pixels=1 << 28)
    except ValueError:
        return None
    return ("image/jpeg", w, h, ch, 0, 0.0, float(pix.mean()))


def decode_media(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "media",
    allow_stub: bool = False,
) -> DataFrame:
    """Decode media metadata + content stats from binary blobs.

    REAL pure-NumPy decode for BMP (BI_RGB 8/24/32bpp), WAV (PCM
    8/16-bit), PPM/PGM (binary), PNG (8-bit gray/RGB/LA/RGBA,
    non-interlaced; stdlib zlib + all-5-filter NumPy unfiltering), and
    baseline JPEG (SOF0: Huffman + matrix IDCT + chroma upsample, PSNR
    roundtrip-tested vs the fixture encoder in functions/jpeg.py) —
    emitting (media_type, width, height, n_channels, sample_rate,
    duration_s, mean_value, decoder='numpy'). Inapplicable fields are 0
    (images have no sample_rate/duration; audio has no dims) so the
    output is null-free. ``mean_value`` is the mean pixel byte (row
    padding excluded for BMP), mean decoded pixel (PNG/JPEG), or mean
    PCM sample — a value any oracle can verify on planted fixtures
    (JPEG's lossy mean is encoder-defined, so its contract coverage is
    the pytest roundtrip suite rather than a DuckDB oracle).

    The remaining compressed codecs (MP3/MP4, progressive JPEG, exotic
    PNGs) need PIL/ffmpeg, absent in this container: such blobs raise
    NotImplementedError (executor-side, so one bad blob names itself)
    unless ``allow_stub=True``, which emits the deterministic
    hash-derived fake marked decoder='stub'.
    """
    work = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("_m"))

    def run(batches):
        for pdf in batches:
            rows = []
            for d, raw in zip(pdf["doc_id"], pdf["_m"]):
                b = bytes(raw) if raw is not None else b""
                got = (_decode_bmp(b) or _decode_wav(b) or _decode_ppm(b)
                       or _decode_png(b) or _decode_gif(b)
                       or _decode_jpeg_blob(b))
                if got is not None:
                    rows.append((d, *got, "numpy"))
                    continue
                if not allow_stub:
                    raise NotImplementedError(
                        f"doc_id={d}: not a decodable BMP/WAV/PPM/PNG/GIF/"
                        "JPEG blob (PNG coverage: 8-bit gray/RGB/LA/RGBA "
                        "non-interlaced; GIF: first frame; JPEG coverage: "
                        "baseline SOF0); MP3/MP4, progressive JPEG, and "
                        "exotic PNGs need PIL/ffmpeg (not in this "
                        "container) — pass allow_stub=True for the "
                        "deterministic fake decoder"
                    )
                # deterministic fake: dims/duration from hash bits (STUB)
                h = int(hash64_bytes(b))
                rows.append((
                    d, "application/octet-stream",
                    h % 1920 + 16, (h >> 16) % 1080 + 16, 0, 0,
                    round(((h >> 32) % 600_000) / 1e3, 3), 0.0, "stub",
                ))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_type", "width", "height",
                         "n_channels", "sample_rate", "duration_s",
                         "mean_value", "decoder"],
            )

    return work.mapInPandas(
        run,
        schema="doc_id long, media_type string, width long, height long, "
               "n_channels long, sample_rate long, duration_s double, "
               "mean_value double, decoder string",
    )


# -- deterministic synthetic media (fixture encoders) -----------------------
#
# Pure functions of doc_id: the driver query encodes blobs with these,
# decodes them with decode_media, and the DuckDB oracle recomputes the
# SAME planted values from doc_id arithmetic — so a mis-parsed header or
# mishandled row padding hash-mismatches. n_frames is a multiple of 16 at
# sample_rate 8000 so duration terminates within 3 decimals (no
# round-half ambiguity between engines).

SYNTH_WAV_SR = 8000


def _png_encode(doc_id: int) -> bytes:
    """Deterministic PNG fixture: dims/color-type from doc_id arithmetic,
    pixel j = (doc_id + j) % 251 (a full gradient, so no filter is
    degenerate), row r filtered with type (doc_id + r) % 5 — every
    unfilter path is exercised and the planted mean is recomputable by
    the oracle as avg((doc_id + j) % 251)."""
    import zlib

    w = 4 + doc_id % 21
    h = 2 + doc_id % 13
    ctype = (0, 2, 6)[doc_id % 3]
    ch = {0: 1, 2: 3, 6: 4}[ctype]
    stride = w * ch
    px = ((doc_id + np.arange(h * stride, dtype=np.int64)) % 251).reshape(
        h, stride)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        x = px[r]
        f = (doc_id + r) % 5
        left = np.zeros(stride, dtype=np.int64)
        left[ch:] = x[:-ch]
        upleft = np.zeros(stride, dtype=np.int64)
        upleft[ch:] = prev[:-ch]
        if f == 0:
            raw = x
        elif f == 1:
            raw = x - left
        elif f == 2:
            raw = x - prev
        elif f == 3:
            raw = x - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - upleft))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            raw = x - pred
        out.append(f)
        out += (raw % 256).astype(np.uint8).tobytes()
        prev = x

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out)))
            + chunk(b"IEND", b""))


def _gif_lzw_encode(indices: bytes, min_code: int = 8) -> bytes:
    """Greedy dictionary LZW encoder (GIF variant: LSB-first packing,
    leading clear code, clear-on-full at 4096). Independent of the
    decoder — the roundtrip tests cross every code-width boundary."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code + 1
    emit(clear, width)
    cur = b""
    for ch in indices:
        nxt = cur + bytes([ch])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            # the decoder assigns entry k only after reading code k+1,
            # so it sits one entry behind the encoder: switch width one
            # code LATER than the encoder's own table size suggests
            # (bump at 2^w + 1, not 2^w)
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        cur = bytes([ch])
    if cur:
        emit(table[cur], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_encode(doc_id: int) -> bytes:
    """Deterministic GIF89a fixture: 256-entry grayscale global color
    table, pixel index j = (doc_id + j) % 253 (display order), LZW via
    :func:`_gif_lzw_encode`, interlaced when doc_id % 16 == 6 (rows
    written in pass order), plus a graphic-control extension so the
    decoder's extension skip is exercised. Planted mean =
    avg((doc_id + j) % 253) — grayscale palette makes the channel mean
    equal the index mean, one exact integer division for the oracle."""
    w = 3 + doc_id % 19
    h = 2 + doc_id % 7
    interlaced = doc_id % 16 == 6
    grid = ((doc_id + np.arange(h * w, dtype=np.int64)) % 253).astype(
        np.uint8).reshape(h, w)
    rows = grid
    if interlaced:
        order = [r for s, st in _GIF_PASSES for r in range(s, h, st)]
        rows = grid[order]  # stream order
    data = _gif_lzw_encode(rows.tobytes())
    gct = bytes(v for i in range(256) for v in (i, i, i))
    out = bytearray()
    out += b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += gct
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE: no transparency
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0x40 if interlaced else 0)
    out.append(8)  # LZW min code size
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def synth_media_blob(doc_id: int) -> bytes:
    """doc_id % 8 == 6 -> GIF (LZW, grayscale palette, interlace mix);
    else doc_id % 4 == 3 -> PNG (gradient pixels, all 5 row filters);
    else doc_id % 3: 0 -> 24bpp BMP, 1 -> 16-bit PCM WAV, 2 -> P6 PPM."""
    if doc_id % 8 == 6:
        return _gif_encode(doc_id)
    if doc_id % 4 == 3:
        return _png_encode(doc_id)
    m = doc_id % 3
    if m == 0:
        w, h, c = 4 + doc_id % 29, 3 + doc_id % 17, doc_id % 251
        row = (w * 3 + 3) // 4 * 4
        size = 54 + row * h
        hdr = (b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
               + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                             row * h, 2835, 2835, 0, 0))
        px = bytearray(row * h)
        for r in range(h):  # pixel bytes constant c; PADDING stays 0
            px[r * row:r * row + w * 3] = bytes([c]) * (w * 3)
        return hdr + bytes(px)
    if m == 1:
        ch = 1 + doc_id % 2
        n_frames = 400 + (doc_id % 37) * 16
        val = doc_id % 1000 - 500
        data = struct.pack("<h", val) * (n_frames * ch)
        fmt = struct.pack("<HHIIHH", 1, ch, SYNTH_WAV_SR,
                          SYNTH_WAV_SR * ch * 2, ch * 2, 16)
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
    w, h, c = 5 + doc_id % 23, 2 + doc_id % 11, doc_id % 256
    return (b"P6\n# synth fixture\n%d %d\n255\n" % (w, h)
            + bytes([c]) * (w * h * 3))


def synth_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach the deterministic fixture blob for each id (Arrow UDF)."""
    work = df.select(F.col(id_col).alias("doc_id"))

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media": [synth_media_blob(int(d)) for d in pdf["doc_id"]],
            })

    return work.mapInPandas(run, schema="doc_id long, media binary")


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 4096,
    max_frames: int = 8,
    id_col: str = "doc_id",
    binary_col: str = "media",
) -> DataFrame:
    """Frame sampling stand-in: emit one row per sampled byte-offset with
    a fixed-size slice ("frame"). Real frame decode is the stubbed step;
    the explode-style fan-out, offset bookkeeping, and binary slicing are
    the actual Spark plumbing a video pipeline needs."""
    work = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("_m"))

    def run(batches):
        for pdf in batches:
            ids, offs, frames = [], [], []
            for d, b in zip(pdf["doc_id"], pdf["_m"]):
                b = b or b""
                for j in range(min(max_frames, max(len(b) // every_n_bytes, 1))):
                    off = j * every_n_bytes
                    ids.append(d)
                    offs.append(off)
                    frames.append(bytes(b[off : off + 64]))
            yield pd.DataFrame({"doc_id": ids, "frame_offset": offs, "frame": frames})

    return work.mapInPandas(run, schema="doc_id long, frame_offset long, frame binary")


# -- container metadata (MP4 box walk / MP3 frame walk) ---------------------
# REAL header/frame parsing, metadata only — no sample decode (full MP3/MP4
# audio/video decode is the documented codec gap; what a web-scale media
# curation pass needs FIRST is duration / stream-count / bitrate filtering,
# which costs a header walk, not a decoder). Reference parity: frizbee has
# no media path; this extends the multimodal plumbing the pipeline needs.

# MPEG-1 Layer III bitrate table, kbps (ISO/IEC 11172-3, Table B.2).
_MP3_BITRATE_KBPS = {1: 32, 2: 40, 3: 48, 4: 56, 5: 64, 6: 80, 7: 96,
                     8: 112, 9: 128, 10: 160, 11: 192, 12: 224, 13: 256,
                     14: 320}
_MP3_SR = {0: 44100, 1: 48000, 2: 32000}


def _mp4_boxes(b: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for sibling ISO-BMFF boxes in
    b[start:end]. Handles 64-bit largesize (size==1) and to-EOF (size==0);
    stops cleanly on any malformed size instead of raising."""
    off = start
    while off + 8 <= end:
        size = int.from_bytes(b[off:off + 4], "big")
        typ = b[off + 4:off + 8]
        body = off + 8
        if size == 1:
            if off + 16 > end:
                return
            size = int.from_bytes(b[off + 8:off + 16], "big")
            body = off + 16
        elif size == 0:  # last box extends to end of enclosing scope
            size = end - off
        if size < body - off or off + size > end:
            return
        yield typ, body, off + size
        off += size


def _parse_mp4_meta(b: bytes):
    """ISO-BMFF walk: mvhd timescale/duration (v0 32-bit and v1 64-bit),
    per-trak mdia/hdlr handler type, total mdat payload bytes. Works for
    both faststart (moov before mdat) and streaming (mdat first) layouts."""
    if len(b) < 12 or b[4:8] != b"ftyp":
        return None
    timescale = duration = 0
    n_video = n_audio = n_tracks = 0
    mdat_bytes = 0
    for typ, s, e in _mp4_boxes(b, 0, len(b)):
        if typ == b"mdat":
            mdat_bytes += e - s
        elif typ == b"moov":
            for t2, s2, e2 in _mp4_boxes(b, s, e):
                if t2 == b"mvhd" and s2 + 4 <= e2:
                    if b[s2] == 1:  # v1: 64-bit create/modify/duration
                        timescale = int.from_bytes(b[s2 + 20:s2 + 24], "big")
                        duration = int.from_bytes(b[s2 + 24:s2 + 32], "big")
                    else:
                        timescale = int.from_bytes(b[s2 + 12:s2 + 16], "big")
                        duration = int.from_bytes(b[s2 + 16:s2 + 20], "big")
                elif t2 == b"trak":
                    n_tracks += 1
                    handler = b""
                    for t3, s3, e3 in _mp4_boxes(b, s2, e2):
                        if t3 == b"mdia":
                            for t4, s4, _e4 in _mp4_boxes(b, s3, e3):
                                if t4 == b"hdlr" and s4 + 12 <= _e4:
                                    handler = b[s4 + 8:s4 + 12]
                    if handler == b"vide":
                        n_video += 1
                    elif handler == b"soun":
                        n_audio += 1
    if not timescale:
        return None
    duration_ms = duration * 1000 // timescale
    bit_rate = (mdat_bytes * 8 * timescale) // duration if duration else 0
    return ("video/mp4", duration_ms, timescale, n_tracks, n_video,
            n_audio, bit_rate)


def _parse_mp3_meta(b: bytes):
    """MPEG-1 Layer III frame walk: skip an ID3v2 prefix (syncsafe size),
    then step frame to frame via the header length formula
    144*bitrate/samplerate + padding. CBR/VBR both handled (bit_rate is
    the per-frame average). Stops at the first non-frame byte (e.g. an
    ID3v1 'TAG' trailer) or at the first frame whose sample rate differs
    from the first frame's (every frame's duration is 1152 samples at the
    stream's one rate), and ignores a truncated tail frame."""
    off = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        sz = 0
        for i in range(6, 10):
            if b[i] & 0x80:
                return None  # invalid syncsafe size
            sz = (sz << 7) | (b[i] & 0x7F)
        off = 10 + sz
    n_frames = samples = kbps_sum = sr = 0
    while off + 4 <= len(b):
        h = b[off:off + 4]
        if h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
            break
        if (h[1] >> 3) & 0x03 != 0x03 or (h[1] >> 1) & 0x03 != 0x01:
            break  # only MPEG-1 Layer III
        bi, sri = h[2] >> 4, (h[2] >> 2) & 0x03
        pad = (h[2] >> 1) & 1
        if bi not in _MP3_BITRATE_KBPS or sri not in _MP3_SR:
            break  # free-format/bad bitrate or reserved samplerate
        kbps, rate = _MP3_BITRATE_KBPS[bi], _MP3_SR[sri]
        if n_frames and rate != sr:
            break  # sample rate changed mid-stream: a malformed tail
        sr = rate
        flen = 144 * kbps * 1000 // sr + pad
        if off + flen > len(b):
            break  # truncated tail frame: not counted
        n_frames += 1
        samples += 1152
        kbps_sum += kbps
        off += flen
    if not n_frames:
        return None
    return ("audio/mpeg", samples * 1000 // sr, sr, 1, 0, 1,
            kbps_sum * 1000 // n_frames)


def container_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "media",
) -> DataFrame:
    """Container-level media metadata from binary blobs: MP4 (ISO-BMFF box
    walk) and MP3 (frame-header walk), emitting (container, duration_ms,
    time_base, n_streams, n_video, n_audio, bit_rate) — all integers, so
    the result is exactly comparable across engines. Blobs that are
    neither parse as ('application/octet-stream', 0, ...): the operator
    is total over mixed corpora, and a duration/bitrate filter composes
    directly on top. Arrow-batched mapInPandas; header parsing over
    heterogeneous binary is inherently per-item, the surrounding
    plumbing is vectorized and partition-parallel."""
    work = df.select(F.col(id_col).alias("doc_id"),
                     F.col(binary_col).alias("_m"))

    def run(batches):
        for pdf in batches:
            rows = []
            for d, raw in zip(pdf["doc_id"], pdf["_m"]):
                b = bytes(raw) if raw is not None else b""
                got = _parse_mp4_meta(b) or _parse_mp3_meta(b)
                if got is None:
                    got = ("application/octet-stream", 0, 0, 0, 0, 0, 0)
                rows.append((d, *got))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "container", "duration_ms", "time_base",
                         "n_streams", "n_video", "n_audio", "bit_rate"],
            )

    return work.mapInPandas(
        run,
        schema="doc_id long, container string, duration_ms long, "
               "time_base long, n_streams long, n_video long, "
               "n_audio long, bit_rate long",
    )


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def synth_container_blob(doc_id: int) -> bytes:
    """Deterministic container fixture (pure function of doc_id, same
    planted-oracle pattern as synth_media_blob): even ids -> MP4 with
    planted mvhd timescale/duration and alternating vide/soun traks
    (64-bit mdat largesize when id%6==0, mvhd v1 when id%10==2,
    streaming mdat-before-moov layout when id%8 in (0,2)); odd ids ->
    MPEG-1 Layer III CBR frames with per-frame padding bits (ID3v2
    prefix when id%4==1, ID3v1 'TAG' trailer when id%5==0)."""
    if doc_id % 2 == 0:
        ts = (600, 1000, 90000, 44100)[doc_id % 4]
        dur = ts * (1 + doc_id % 29) + doc_id % 97
        n_tracks = 1 + doc_id % 3
        if doc_id % 10 == 2:  # version-1 mvhd: 64-bit times
            mvhd = _mp4_box(b"mvhd", b"\x01" + b"\x00" * 3 + b"\x00" * 16
                            + struct.pack(">I", ts) + struct.pack(">Q", dur)
                            + b"\x00" * 80)
        else:
            mvhd = _mp4_box(b"mvhd", b"\x00" * 4 + b"\x00" * 8
                            + struct.pack(">II", ts, dur) + b"\x00" * 80)
        traks = b""
        for i in range(n_tracks):
            handler = b"vide" if (doc_id + i) % 2 == 0 else b"soun"
            hdlr = _mp4_box(b"hdlr", b"\x00" * 8 + handler + b"\x00" * 13)
            traks += _mp4_box(b"trak", _mp4_box(b"mdia", hdlr))
        moov = _mp4_box(b"moov", mvhd + traks)
        mdat_n = 32 + doc_id % 211
        payload = bytes([doc_id % 251]) * mdat_n
        if doc_id % 6 == 0:  # 64-bit largesize path
            mdat = (struct.pack(">I", 1) + b"mdat"
                    + struct.pack(">Q", 16 + mdat_n) + payload)
        else:
            mdat = _mp4_box(b"mdat", payload)
        ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512))
        free = _mp4_box(b"free", b"\x00" * (doc_id % 16))
        if doc_id % 8 in (0, 2):  # streaming layout: mdat first
            return ftyp + free + mdat + moov
        return ftyp + free + moov + mdat
    bi = 5 + doc_id % 9  # bitrate index 5..13 -> 64..256 kbps
    kbps = _MP3_BITRATE_KBPS[bi]
    sri = doc_id % 3
    sr = _MP3_SR[sri]
    n_frames = 4 + doc_id % 23
    out = bytearray()
    if doc_id % 4 == 1:  # ID3v2 prefix the parser must skip
        body = 10 + doc_id % 60
        out += (b"ID3\x03\x00\x00"
                + bytes([(body >> 21) & 0x7F, (body >> 14) & 0x7F,
                         (body >> 7) & 0x7F, body & 0x7F])
                + b"\x00" * body)
    for f in range(n_frames):
        pad = (doc_id + f) % 2
        flen = 144 * kbps * 1000 // sr + pad
        out += bytes([0xFF, 0xFB, (bi << 4) | (sri << 2) | (pad << 1),
                      0x44])
        out += b"\xaa" * (flen - 4)  # 0xAA never false-syncs
    if doc_id % 5 == 0:  # ID3v1 trailer: frame walk must stop cleanly
        out += b"TAG" + b"\x00" * 125
    return bytes(out)


def synth_container(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach the deterministic container fixture blob per id (Arrow UDF)."""
    work = df.select(F.col(id_col).alias("doc_id"))

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media": [synth_container_blob(int(d))
                          for d in pdf["doc_id"]],
            })

    return work.mapInPandas(run, schema="doc_id long, media binary")
