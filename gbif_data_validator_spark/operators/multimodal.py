"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed through Arrow-batched ``mapInPandas``.

Decode support comes in two tiers:
- REAL decoders (pure numpy/stdlib, no codec libraries): binary PPM
  (P6), uncompressed 24-bit BMP (BI_RGB, bottom-up or top-down),
  RIFF/WAVE PCM (8/16-bit), GIF87a/89a (real variable-width LZW,
  global/local palettes, interlace), and PNG (real DEFLATE via stdlib
  zlib + full scanline unfiltering incl. Paeth; 8-bit gray/RGB/
  palette/RGBA) — byte-exact, tested against hand-built fixtures.
- Remaining codecs (JPEG/WebP/MP3/...) are not available in this
  environment: ``decode_image``/``decode_audio`` raise
  NotImplementedError for them unless ``fake=True``, which substitutes a
  deterministic content-hash-derived double so the Spark-side plumbing —
  schema, batch iteration, partition behavior, UDF signature — stays
  real and testable end-to-end either way.

Scale notes: binary payloads dominate bytes, so (a) the media column must be
column-pruned out of any pass not touching it (same discipline as
html:binary — SURVEY.md §7.4), (b) ``mapInPandas`` streams Arrow batches so
one task never materializes a partition of raw media, and (c)
``spark.sql.files.maxPartitionBytes`` bounds per-task payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata struct carried next to the opaque payload.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image/jpeg, audio/wav, ...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("meta", MEDIA_META_SCHEMA),
    ]
)

#: Output of the feature-extraction pass.
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

N_FEATURES = 16


def sniff_media(payload: bytes | None) -> str | None:
    """Magic-byte sniff for the formats this module decodes for real:
    'ppm' (binary P6), 'bmp' (BM container), 'gif', 'png', 'jpeg'
    (FFD8FF), 'webp' (RIFF/WEBP), 'wav' (RIFF/WAVE). None for anything
    else (remaining compressed codecs → stub tier)."""
    if not payload or len(payload) < 12:
        return None
    if payload[:2] == b"P6":
        return "ppm"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    # --- sniff-only tier (detected, not decoded — Tika breadth): the
    # declared-type-vs-bytes check works for these; decode-dependent
    # checks are skipped VISIBLY (media_meta_checks)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if payload[:4] == b"\x00\x00\x01\x00":
        return "ico"
    if payload[4:8] == b"ftyp":
        brand = payload[8:12]
        if brand in (b"avif", b"avis"):
            return "avif"
        if brand in (b"heic", b"heix", b"hevc", b"mif1", b"msf1"):
            return "heic"
        if brand in (b"M4A ", b"M4B ", b"M4P "):
            return "m4a"  # audio-only MP4 brands (iTunes audio)
        return "mp4"
    if payload[:4] == b"OggS":
        return "ogg"
    if payload[:4] == b"fLaC":
        return "flac"
    if payload[:3] == b"ID3":
        return "mp3"
    if payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0:
        # bare MPEG frame sync: require valid version/layer/bitrate/
        # samplerate bits too, else any 0xFF-leading binary (unknown image
        # codecs included) would misflag as audio (ADVICE r04)
        version = (payload[1] >> 3) & 0x3
        layer = (payload[1] >> 1) & 0x3
        bitrate_idx = payload[2] >> 4
        samplerate_idx = (payload[2] >> 2) & 0x3
        # bitrate index 0 is the legal free-format rate; only 0xF is
        # forbidden (ISO 11172-3)
        if (version != 1 and layer != 0
                and bitrate_idx != 0xF and samplerate_idx != 3):
            return "mp3"
    if payload[:4] == b"\x1a\x45\xdf\xa3":
        return "mkv"
    head = payload[:256].lstrip()
    if head.startswith(b"<svg") or (
        head.startswith(b"<?xml") and b"<svg" in payload[:256]
    ):
        return "svg"
    return None


def _decode_ppm(b: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval ≤ 255) → HxWx3 uint8. Header grammar per
    netpbm: 'P6', then width/height/maxval as whitespace-separated ASCII
    ints with '#'-to-EOL comments allowed, then ONE whitespace byte, then
    raw RGB rows."""
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("ppm: truncated header")
        tokens.append(int(b[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("ppm: 16-bit maxval not supported")
    need = w * h * 3
    data = np.frombuffer(b, dtype=np.uint8, count=need, offset=pos)
    return data.reshape(h, w, 3).copy()


def _decode_bmp(b: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BI_RGB) → HxWx3 uint8 (BGR→RGB,
    4-byte-padded rows, bottom-up unless height is negative)."""
    import struct

    if len(b) < 34:
        raise ValueError("bmp: truncated header")
    off = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    bits = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    if bits != 24 or comp != 0:
        raise NotImplementedError(
            f"bmp: only uncompressed 24-bit supported (bits={bits}, "
            f"compression={comp})"
        )
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def _gif_lzw(data: bytes, min_code_size: int) -> "list[int]":
    """GIF variable-width LZW decompression (LSB-first bit packing,
    code width grows to 12 bits, clear/end codes per GIF89a appendix F).
    Returns the pixel index stream."""
    clear = 1 << min_code_size
    end = clear + 1
    out: list[int] = []
    table: list[bytes] = []

    def reset():
        nonlocal table, width, next_code
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        next_code = end + 1

    width = next_code = 0
    reset()
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                reset()
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                entry = table[code]
            elif code < next_code:
                entry = table[code]
                table.append(prev + entry[:1])
                next_code += 1
            elif code == next_code:
                entry = prev + prev[:1]
                table.append(entry)
                next_code += 1
            else:
                raise ValueError(f"gif: LZW code {code} out of range")
            if prev is not None and next_code >= (1 << width) and width < 12:
                width += 1
            out.extend(entry)
            prev = entry
    return out


def _decode_gif(b: bytes) -> np.ndarray:
    """GIF87a/89a, first frame → HxWx3 uint8: real LZW decompression
    (pure stdlib), global or local color table, interlaced or not;
    extensions (GCE/comment/application) are skipped. Transparency is
    ignored (the transparent index renders as its palette color)."""
    import struct

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    sw, sh, packed = struct.unpack_from("<HHB", b, 6)
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(b):
        block = b[pos]
        if block == 0x21:  # extension: label + sub-blocks until terminator
            pos += 2
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _, _, w, h, ipacked = struct.unpack_from("<HHHHB", b, pos + 1)
            pos += 10
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                palette = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if palette is None:
                raise ValueError("gif: no color table")
            min_code_size = b[pos]
            pos += 1
            chunks = []
            while b[pos] != 0:
                ln = b[pos]
                chunks.append(b[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = _gif_lzw(b"".join(chunks), min_code_size)
            if len(idx) < w * h:
                raise ValueError("gif: truncated pixel data")
            img = np.asarray(idx[: w * h], np.uint8).reshape(h, w)
            if ipacked & 0x40:  # Adam-style 4-pass GIF interlace
                deinter = np.empty_like(img)
                src = 0
                for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                    rows = range(start, h, step)
                    deinter[list(rows)] = img[src : src + len(rows)]
                    src += len(rows)
                img = deinter
            return palette[img].copy()
        elif block == 0x3B:  # trailer before any image
            break
        else:
            raise ValueError(f"gif: unexpected block 0x{block:02x}")
    raise ValueError("gif: no image block")


def _decode_png(b: bytes) -> np.ndarray:
    """PNG → HxWx3 uint8: REAL DEFLATE decompression via stdlib zlib +
    scanline unfiltering (None/Sub/Up/Average/Paeth per the spec).
    Supports bit depth 8, color types 0 (gray), 2 (RGB), 3 (palette),
    6 (RGBA — alpha dropped), and Adam7 interlace (each of the 7
    reduced images unfiltered independently per the spec, then
    scattered); 16-bit depth raises NotImplementedError."""
    import struct
    import zlib

    pos = 8
    width = height = None
    depth = ctype = interlace = 0
    idat = []
    plte = None
    while pos < len(b):
        if pos + 8 > len(b):
            raise ValueError("png: truncated chunk header")
        ln, typ = struct.unpack_from(">I4s", b, pos)
        body = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            if len(body) < 13:
                raise ValueError("png: truncated IHDR")
            width, height, depth, ctype, _, _, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
        elif typ == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
    if width is None:
        raise ValueError("png: missing IHDR")
    if depth != 8:
        raise NotImplementedError(f"png: only 8-bit supported (depth={depth})")
    nch = {0: 1, 2: 3, 3: 1, 6: 4}.get(ctype)
    if nch is None:
        raise NotImplementedError(f"png: color type {ctype} not supported")
    raw = zlib.decompress(b"".join(idat))

    def unfilter(buf, off, w, h):
        """Unfilter h scanlines of w pixels starting at byte off;
        returns (h, w*nch) uint8 and the byte offset after them."""
        stride = w * nch
        out = np.zeros((h, stride), np.uint8)
        prev = np.zeros(stride, np.int32)
        for y in range(h):
            f = buf[off]
            line = np.frombuffer(buf, np.uint8, stride, off + 1).astype(np.int32)
            off += stride + 1
            cur = np.zeros(stride, np.int32)
            if f == 0:
                cur = line
            elif f == 2:  # Up
                cur = (line + prev) & 0xFF
            else:  # Sub/Average/Paeth need the in-progress row
                for x in range(stride):
                    a = cur[x - nch] if x >= nch else 0
                    bb = prev[x]
                    c = prev[x - nch] if x >= nch else 0
                    if f == 1:
                        pred = a
                    elif f == 3:
                        pred = (a + bb) // 2
                    elif f == 4:
                        p = a + bb - c
                        pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                        pred = (
                            a if pa <= pb and pa <= pc else (bb if pb <= pc else c)
                        )
                    else:
                        raise ValueError(f"png: bad filter {f}")
                    cur[x] = (line[x] + pred) & 0xFF
            out[y] = cur
            prev = cur
        return out, off

    if interlace == 0:
        img, _ = unfilter(raw, 0, width, height)
        img = img.reshape(height, width, nch)
    elif interlace == 1:  # Adam7: 7 reduced images, each filtered alone
        img = np.zeros((height, width, nch), np.uint8)
        off = 0
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, off = unfilter(raw, off, pw, ph)
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, nch)
    else:
        raise NotImplementedError(f"png: interlace method {interlace}")
    if ctype == 0:
        return np.repeat(img, 3, axis=2).copy()
    if ctype == 3:
        if plte is None:
            raise ValueError("png: palette image without PLTE")
        return plte[img[:, :, 0]].copy()
    return img[:, :, :3].copy()


def _decode_wav(b: bytes) -> np.ndarray:
    """RIFF/WAVE PCM (format 1, 8- or 16-bit) → 1-D float32 in [-1, 1]
    (channels interleaved as stored). Chunk-walks the container, so
    extra chunks (LIST, fact) are fine."""
    import struct

    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt or data chunk")
    audio_format, _ch, _rate, _, _, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(f"wav: only PCM supported (format={audio_format})")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif bits == 8:
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"wav: {bits}-bit PCM not supported")
    return samples


# --------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 sequential DCT, Huffman) — from scratch
# --------------------------------------------------------------------------

#: zigzag scan order: k-th entropy-coded coefficient -> linear index in
#: the natural (row-major) 8x8 block
_JPEG_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

#: 8x8 IDCT basis: A[u, x] = c(u)/2 * cos((2x+1) u pi / 16); the 2-D
#: inverse transform is A.T @ F @ A
_IDCT_A = np.array([
    [(np.sqrt(0.5) if u == 0 else 1.0) / 2.0
     * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
    for u in range(8)
])


class _JpegBits:
    """MSB-first bit reader over an entropy-coded segment with 0xFF00
    byte-unstuffing; restart markers surface via `at_restart` +
    `sync_restart` (byte-aligned, per the spec)."""

    def __init__(self, data: bytes, pos: int):
        self.d, self.p, self.cur, self.cnt = data, pos, 0, 0

    def _load(self) -> None:
        if self.p >= len(self.d):
            raise ValueError("jpeg: truncated entropy segment")
        byte = self.d[self.p]
        if byte == 0xFF:
            nxt = self.d[self.p + 1] if self.p + 1 < len(self.d) else None
            if nxt == 0x00:
                self.p += 2
            else:
                raise ValueError("jpeg: marker inside entropy segment")
        else:
            self.p += 1
        self.cur, self.cnt = byte, 8

    def bit(self) -> int:
        if self.cnt == 0:
            self._load()
        self.cnt -= 1
        return (self.cur >> self.cnt) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def at_marker(self) -> "int | None":
        """The marker byte ahead (reader byte-aligned first), or None."""
        if self.p + 1 < len(self.d) and self.d[self.p] == 0xFF and self.d[
            self.p + 1
        ] != 0x00:
            return self.d[self.p + 1]
        return None

    def sync_restart(self, n: int) -> None:
        """Consume the expected RSTn marker and re-align."""
        self.cnt = 0
        m = self.at_marker()
        if m != 0xD0 + (n & 7):
            raise ValueError(f"jpeg: expected RST{n & 7}, found {m}")
        self.p += 2


def _jpeg_huff_table(counts: "list[int]", symbols: bytes) -> dict:
    """Canonical Huffman (T.81 annex C): (length, code) -> symbol."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            table[(ln, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_decode_sym(r: _JpegBits, table: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | r.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_seq_ac(r: _JpegBits, ac: dict, zz: np.ndarray) -> None:
    """Sequential AC decode for one block into the zigzag coefficient
    row (T.81 F.2.2.2)."""
    k = 1
    while k < 64:
        rs = _jpeg_decode_sym(r, ac)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("jpeg: AC run past block end")
        zz[k] = _jpeg_extend(r.bits(size), size)
        k += 1


def _jpeg_ac_first(r: _JpegBits, ac: dict, zz: np.ndarray, ss: int, se: int,
                   al: int, eobrun: int) -> int:
    """Progressive AC initial scan for one block (T.81 G.1.2.2): spectral
    band [ss, se] at approximation Al, with EOB-run lengths."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _jpeg_decode_sym(r, ac)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:
                k += 16
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += r.bits(run)
            break
        k += run
        if k > se:
            raise ValueError("jpeg: AC run past band end")
        zz[k] = _jpeg_extend(r.bits(size), size) << al
        k += 1
    return eobrun


def _jpeg_ac_refine(r: _JpegBits, ac: dict, zz: np.ndarray, ss: int, se: int,
                    al: int, eobrun: int) -> int:
    """Progressive AC refinement scan for one block (T.81 G.1.2.3):
    correction bits for history-nonzero coefficients interleaved with
    newly-significant ones; EOB-runs consume the block's remaining
    correction bits."""
    p1, m1 = 1 << al, -(1 << al)

    def correct(i: int) -> None:
        if r.bit() and (int(zz[i]) & p1) == 0:
            zz[i] += p1 if zz[i] > 0 else m1

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _jpeg_decode_sym(r, ac)
            run, size = rs >> 4, rs & 0x0F
            newval = 0
            if size == 0:
                if run < 15:
                    # refine EOB-run counts INCLUDE the current block
                    # (unlike _jpeg_ac_first, where the current block ends
                    # immediately): the tail below consumes this block's
                    # remaining correction bits and decrements — so EOB0
                    # still corrects the rest of this band, and EOBn
                    # covers exactly n further blocks
                    eobrun = 1 << run
                    if run:
                        eobrun += r.bits(run)
                    break
                # ZRL: pass over 16 zero-history coefficients
            else:
                if size != 1:
                    raise ValueError("jpeg: AC refine size != 1")
                newval = p1 if r.bit() else m1
            while k <= se:
                if zz[k] != 0:
                    correct(k)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if newval and k <= se:
                zz[k] = newval
            k += 1
    if eobrun > 0:
        for i in range(k, se + 1):
            if zz[i] != 0:
                correct(i)
        eobrun -= 1
    return eobrun


def _jpeg_huff(huff: dict, tc: int, th: int) -> dict:
    t = huff.get((tc, th))
    if t is None:
        raise ValueError(f"jpeg: missing huffman table ({tc},{th})")
    return t


def _jpeg_decode_scan(b, pos, frame, scomps, ss, se, ah, al,
                      huff, restart, coef, progressive) -> int:
    """Decode one entropy-coded scan into the per-component zigzag
    coefficient arrays; returns the byte position of the next marker.
    Handles interleaved MCU order (ns > 1) and non-interleaved
    per-component block raster (ns == 1 — T.81 A.2.2: data-unit counts
    from the COMPONENT dims, not MCU padding), sequential and all four
    progressive scan kinds (DC/AC x first/refine), DRI restarts resetting
    predictors and EOB-runs."""
    comps = {c["id"]: c for c in frame["comps"]}
    for cid, _, _ in scomps:
        if cid not in comps:
            raise ValueError(f"jpeg: scan references unknown component {cid}")
    if progressive:
        if ss == 0 and se != 0:
            raise ValueError("jpeg: progressive DC scan with Se != 0")
        if ss > 0 and len(scomps) != 1:
            raise ValueError("jpeg: interleaved progressive AC scan")
        if ss > se or se > 63:
            raise ValueError("jpeg: bad spectral selection")
    r = _JpegBits(b, pos)
    preds = {cid: 0 for cid, _, _ in scomps}
    state = {"eobrun": 0, "nrst": 0, "mcu": 0}

    def decode_unit(cid: int, by: int, bx: int, td: int, ta: int) -> None:
        zz = coef[cid][by, bx]
        if not progressive:
            t = _jpeg_decode_sym(r, _jpeg_huff(huff, 0, td))
            preds[cid] += _jpeg_extend(r.bits(t), t) if t else 0
            zz[0] = preds[cid]
            _jpeg_seq_ac(r, _jpeg_huff(huff, 1, ta), zz)
        elif ss == 0:
            if ah == 0:  # DC first
                t = _jpeg_decode_sym(r, _jpeg_huff(huff, 0, td))
                preds[cid] += _jpeg_extend(r.bits(t), t) if t else 0
                zz[0] = preds[cid] << al
            elif r.bit():  # DC refine: one appended bit
                zz[0] = int(zz[0]) | (1 << al)
        elif ah == 0:
            state["eobrun"] = _jpeg_ac_first(
                r, _jpeg_huff(huff, 1, ta), zz, ss, se, al, state["eobrun"])
        else:
            state["eobrun"] = _jpeg_ac_refine(
                r, _jpeg_huff(huff, 1, ta), zz, ss, se, al, state["eobrun"])

    def maybe_restart() -> None:
        if restart and state["mcu"] and state["mcu"] % restart == 0:
            r.sync_restart(state["nrst"])
            state["nrst"] = (state["nrst"] + 1) & 7
            state["eobrun"] = 0
            for cid in preds:
                preds[cid] = 0
        state["mcu"] += 1

    if len(scomps) == 1:
        cid, td, ta = scomps[0]
        c = comps[cid]
        cw = -(-frame["w"] * c["h"] // frame["hmax"])
        ch = -(-frame["h"] * c["v"] // frame["vmax"])
        for by in range(-(-ch // 8)):
            for bx in range(-(-cw // 8)):
                maybe_restart()
                decode_unit(cid, by, bx, td, ta)
    else:
        for m in range(frame["mcuy"] * frame["mcux"]):
            maybe_restart()
            my, mx = divmod(m, frame["mcux"])
            for cid, td, ta in scomps:
                c = comps[cid]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        decode_unit(cid, my * c["v"] + by,
                                    mx * c["h"] + bx, td, ta)
    # skip any padding bits / stray RSTs up to the next true marker
    p = r.p
    while p + 1 < len(b) and not (
        b[p] == 0xFF and b[p + 1] != 0x00 and not 0xD0 <= b[p + 1] <= 0xD7
    ):
        p += 1
    return p


def _decode_jpeg(b: bytes) -> np.ndarray:
    """JPEG (ITU-T T.81) -> HxWx3 uint8 — from-scratch: baseline /
    extended sequential (SOF0/SOF1) AND progressive (SOF2, spectral
    selection + successive approximation, round 5), 8-bit, Huffman, 1 or
    3 components, any sampling factors, interleaved and non-interleaved
    scans, DRI restarts. Scans accumulate into per-component coefficient
    arrays; one dequantize + IDCT + chroma-upsample + JFIF YCbCr->RGB
    pass at EOI. Arithmetic coding, hierarchical/lossless modes, 12-bit
    precision, and CMYK raise NotImplementedError (declared limits, same
    tier policy as PNG 16-bit)."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple, dict] = {}
    frame = None
    restart = 0
    progressive = False
    coef: dict[int, np.ndarray] = {}
    scanned: set[int] = set()
    while pos + 1 < len(b):
        if b[pos] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = b[pos + 1]
        if marker == 0xFF:  # T.81 B.1.1.2 fill byte(s) before a marker
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        if pos + 2 > len(b):
            raise ValueError("jpeg: truncated segment header")
        seglen = int.from_bytes(b[pos:pos + 2], "big")
        seg = b[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("jpeg: 16-bit quant tables")
                qt[tq] = np.frombuffer(
                    seg[i + 1:i + 65], dtype=np.uint8
                ).astype(np.float64)
                i += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive
            if frame is not None:
                raise ValueError("jpeg: multiple SOF markers")
            progressive = marker == 0xC2
            if seg[0] != 8:
                raise NotImplementedError("jpeg: only 8-bit precision")
            ih = int.from_bytes(seg[1:3], "big")
            iw = int.from_bytes(seg[3:5], "big")
            if ih == 0 or iw == 0:
                raise ValueError("jpeg: zero frame dimension")
            ncomp = seg[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"jpeg: {ncomp}-component (CMYK?) not supported"
                )
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = seg[6 + 3 * ci:9 + 3 * ci]
                sh, sv = samp >> 4, samp & 0x0F
                if not (1 <= sh <= 4 and 1 <= sv <= 4):
                    raise ValueError("jpeg: bad sampling factor")
                comps.append({"id": cid, "h": sh, "v": sv, "tq": tq})
            if len({c["id"] for c in comps}) != ncomp:
                raise ValueError("jpeg: duplicate component ids")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            frame = {
                "h": ih, "w": iw, "comps": comps, "hmax": hmax, "vmax": vmax,
                "mcux": -(-iw // (8 * hmax)), "mcuy": -(-ih // (8 * vmax)),
            }
            for c in comps:
                coef[c["id"]] = np.zeros(
                    (frame["mcuy"] * c["v"], frame["mcux"] * c["h"], 64),
                    dtype=np.int32,
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "jpeg: only sequential/progressive Huffman supported"
            )
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                counts = list(seg[i + 1:i + 17])
                nsym = sum(counts)
                huff[(tc, th)] = _jpeg_huff_table(
                    counts, seg[i + 17:i + 17 + nsym]
                )
                i += 17 + nsym
        elif marker == 0xDD:
            restart = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS — decode scan, continue to next marker
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0]
            if len(seg) < 4 + 2 * ns or not 1 <= ns <= len(frame["comps"]):
                raise ValueError("jpeg: bad scan header")
            scomps = []
            for si in range(ns):
                cid, tt = seg[1 + 2 * si], seg[2 + 2 * si]
                scomps.append((cid, tt >> 4, tt & 0x0F))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
            pos = _jpeg_decode_scan(
                b, pos + seglen, frame, scomps, ss, se, ah, al,
                huff, restart, coef, progressive,
            )
            scanned.update(cid for cid, _, _ in scomps)
            continue
        elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
            pass  # APPn / COM
        else:
            raise ValueError(f"jpeg: unexpected marker 0x{marker:02x}")
        pos += seglen
    if frame is None or not scanned:
        raise ValueError("jpeg: no scan data")
    missing = [c["id"] for c in frame["comps"] if c["id"] not in scanned]
    if missing:
        raise ValueError(f"jpeg: components without scan data: {missing}")
    ih, iw = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    out_planes = []
    for c in frame["comps"]:
        q = qt.get(c["tq"])
        if q is None:
            raise ValueError(f"jpeg: missing quant table {c['tq']}")
        arr = coef[c["id"]]
        nby, nbx = arr.shape[0], arr.shape[1]
        plane = np.zeros((nby * 8, nbx * 8))
        for by in range(nby):
            for bx in range(nbx):
                blk = np.zeros(64)
                blk[_JPEG_ZIGZAG] = arr[by, bx] * q
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = (
                    _IDCT_A.T @ blk.reshape(8, 8) @ _IDCT_A + 128.0
                )
        pl = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0),
            hmax // c["h"],
            axis=1,
        )[:ih, :iw]
        out_planes.append(pl)
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = out_planes
    rgb = np.stack(
        [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


#: Annex K luminance quantization table (natural order), quality-scaled
_JPEG_QL = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)


def _jpeg_emit_table(counts: "list[int]", symbols: "bytes") -> dict:
    """Canonical Huffman ENCODE table: symbol -> (code, length)."""
    enc, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            enc[symbols[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return enc


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)
        return bytes(self.out)


def encode_jpeg_gray(img: np.ndarray, quality: int = 90,
                     progressive: bool = False,
                     progressive_bands: "tuple | None" = None) -> bytes:
    """Grayscale baseline JPEG ENCODER (ITU-T T.81): forward DCT,
    Annex K luminance table scaled by the libjpeg quality formula,
    zigzag, canonical DC/AC Huffman with tables derived from the
    actually-emitted symbol histogram (two-pass). Accepts HxW or HxWx3
    uint8 (RGB averages to luma with the JFIF weights); dimensions must
    be multiples of 8 (callers pad). Round-trips through `_decode_jpeg`
    within quantization error — the symmetric half that lets pipelines
    synthesize REAL compressed fixtures without any codec library.

    ``progressive=True`` emits the SAME quantized coefficients as an
    SOF2 spectral-selection stream (scan 1: DC band 0-0; scan 2: AC band
    1-63, both at Ah=Al=0) — per-block baseline AC coding is a legal
    progressive AC-first scan (each EOB is an EOB-run of 1), so the
    decoder must reproduce the baseline encoding's pixels EXACTLY.
    ``progressive_bands`` further splits the AC spectrum into multiple
    scans (e.g. ``((1, 5), (6, 63))`` — the common libjpeg scan-script
    shape): run coding restarts per band, one SOS per band, same
    coefficients, so multi-band output must STILL decode identical to
    the baseline encoding."""
    if progressive_bands is not None and not progressive:
        raise ValueError(
            "progressive_bands requires progressive=True (a baseline "
            "stream cannot carry spectral-selection scans)")
    if img.ndim == 3:
        img = np.round(
            0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
        )
    ih, iw = img.shape
    if ih % 8 or iw % 8:
        raise ValueError("encode_jpeg_gray: dimensions must be multiples of 8")
    if not 1 <= quality <= 100:
        raise ValueError(f"encode_jpeg_gray: quality {quality} outside 1..100")
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    q = np.clip(np.floor((_JPEG_QL * scale + 50) / 100), 1, 255)

    blocks = []
    pred = 0
    for by in range(ih // 8):
        for bx in range(iw // 8):
            px = img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8].astype(
                np.float64
            ) - 128.0
            coef = _IDCT_A @ px @ _IDCT_A.T  # forward DCT (A orthonormal)
            # zz[k] = natural[_JPEG_ZIGZAG[k]] — same permutation the
            # decoder inverts with blk[_JPEG_ZIGZAG] = zz
            zz = np.round(coef.reshape(64) / q)[_JPEG_ZIGZAG]
            zz = zz.astype(np.int64)
            blocks.append((int(zz[0]) - pred, zz[1:]))
            pred = int(zz[0])

    def cat(v: int) -> int:
        return int(v).bit_length() if v >= 0 else int(-v).bit_length()

    # pass 1: symbol histograms -> canonical tables (1 count per length
    # bucketed greedily: all symbols at length ceil(log2(rank+2)) would
    # need a package-merge; a flat 8-bit table is simpler and spec-legal)
    dc_syms = sorted({cat(d) for d, _ in blocks})
    multiband = progressive and progressive_bands
    ac_syms = set()
    for _, ac in ([] if multiband else blocks):
        run = 0
        for v in ac:
            if v == 0:
                run += 1
                if run == 16:
                    ac_syms.add(0xF0)
                    run = 0
            else:
                ac_syms.add((run << 4) | cat(int(v)))
                run = 0
        ac_syms.add(0x00)
    ac_syms = sorted(ac_syms)  # empty in multiband mode (table built there)
    # flat 8-bit codes for every symbol (canonical, all length 8 —
    # valid for up to 255 symbols (8-bit codes must not be all-ones
    # prefix-free set; T.81 requires no code of all 1-bits at max
    # length, satisfied because we never assign 2^8 symbols)
    dc_counts = [0] * 16
    dc_counts[7] = len(dc_syms)
    ac_counts = [0] * 16
    ac_counts[7] = len(ac_syms)
    dc_enc = _jpeg_emit_table(dc_counts, bytes(dc_syms))
    ac_enc = _jpeg_emit_table(ac_counts, bytes(ac_syms))

    def put_dc(w: _JpegBitWriter, diff: int) -> None:
        t = cat(diff)
        w.put(*dc_enc[t])
        if t:
            w.put(diff if diff >= 0 else diff + (1 << t) - 1, t)

    def put_ac(w: _JpegBitWriter, ac: np.ndarray) -> None:
        run = 0
        last_nz = np.nonzero(ac)[0]
        last = last_nz[-1] if len(last_nz) else -1
        for i in range(last + 1):
            v = int(ac[i])
            if v == 0:
                run += 1
                if run == 16:
                    w.put(*ac_enc[0xF0])
                    run = 0
            else:
                t = cat(v)
                w.put(*ac_enc[(run << 4) | t])
                w.put(v if v >= 0 else v + (1 << t) - 1, t)
                run = 0
        if last < 62:
            w.put(*ac_enc[0x00])  # EOB (progressive: an EOB-run of 1)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(
            2, "big"
        ) + payload

    # DQT is stored in ZIGZAG order per the spec
    dqt = seg(0xDB, b"\x00" + bytes(int(v) for v in q[_JPEG_ZIGZAG]))
    dims = ih.to_bytes(2, "big") + iw.to_bytes(2, "big")
    dht = seg(0xC4, b"\x00" + bytes(dc_counts) + bytes(dc_syms)) + seg(
        0xC4, b"\x10" + bytes(ac_counts) + bytes(ac_syms)
    )
    if progressive and progressive_bands:
        # multi-band spectral split: per-band run coding, one SOS per
        # band. Bands must tile 1..63 contiguously. The AC symbol table
        # is recollected band-aware (run lengths reset at band edges,
        # so the single-band table may lack symbols the split needs).
        lo_expected = 1
        for lo, hi in progressive_bands:
            if lo != lo_expected or hi < lo or hi > 63:
                raise ValueError("progressive_bands must tile 1..63")
            lo_expected = hi + 1
        if lo_expected != 64:
            raise ValueError("progressive_bands must tile 1..63")

        # NOTE: this is deliberately a separate RLE walk from put_ac /
        # the pass-1 histogram loop — their byte output is pinned by
        # committed hex fixtures, so they must not change; band_ops is
        # the band-generalized form used only by the multiband path.
        def band_ops(ac: np.ndarray, lo: int, hi: int):
            vals = ac[lo - 1:hi]
            nzi = np.nonzero(vals)[0]
            last = nzi[-1] if len(nzi) else -1
            ops, run = [], 0
            for i in range(last + 1):
                v = int(vals[i])
                if v == 0:
                    run += 1
                    if run == 16:
                        ops.append((0xF0, None))
                        run = 0
                else:
                    ops.append(((run << 4) | cat(v), v))
                    run = 0
            if last < hi - lo:
                ops.append((0x00, None))  # EOB-run of 1 for this band
            return ops

        band_syms = {0x00}
        ops_cache = {}  # (block_idx, band) -> ops; reused by the emitters
        for bi, (_, ac) in enumerate(blocks):
            for band in progressive_bands:
                ops = band_ops(ac, *band)
                ops_cache[(bi, band)] = ops
                band_syms.update(sym for sym, _ in ops)
        b_ac_syms = sorted(band_syms)
        b_ac_counts = [0] * 16
        b_ac_counts[7] = len(b_ac_syms)
        b_ac_enc = _jpeg_emit_table(b_ac_counts, bytes(b_ac_syms))
        dht_b = seg(0xC4, b"\x00" + bytes(dc_counts) + bytes(dc_syms)) + seg(
            0xC4, b"\x10" + bytes(b_ac_counts) + bytes(b_ac_syms)
        )
        sof = seg(0xC2, b"\x08" + dims + b"\x01" + b"\x01\x11\x00")
        wdc = _JpegBitWriter()
        for diff, _ in blocks:
            put_dc(wdc, diff)
        out = (b"\xff\xd8" + dqt + sof + dht_b
               + seg(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x00\x00")
               + wdc.flush())
        for lo, hi in progressive_bands:
            wb = _JpegBitWriter()
            for bi in range(len(blocks)):
                for sym, v in ops_cache[(bi, (lo, hi))]:
                    wb.put(*b_ac_enc[sym])
                    if v is not None:
                        t = sym & 0x0F
                        wb.put(v if v >= 0 else v + (1 << t) - 1, t)
            out += seg(0xDA, b"\x01" + b"\x01\x00"
                       + bytes([lo, hi, 0])) + wb.flush()
        return out + b"\xff\xd9"
    if progressive:
        sof = seg(0xC2, b"\x08" + dims + b"\x01" + b"\x01\x11\x00")
        wdc, wac = _JpegBitWriter(), _JpegBitWriter()
        for diff, ac in blocks:
            put_dc(wdc, diff)
            put_ac(wac, ac)
        sos_dc = seg(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x00\x00")
        sos_ac = seg(0xDA, b"\x01" + b"\x01\x00" + b"\x01\x3f\x00")
        return (b"\xff\xd8" + dqt + sof + dht
                + sos_dc + wdc.flush() + sos_ac + wac.flush() + b"\xff\xd9")
    sof = seg(0xC0, b"\x08" + dims + b"\x01" + b"\x01\x11\x00")
    w = _JpegBitWriter()
    for diff, ac in blocks:
        put_dc(w, diff)
        put_ac(w, ac)
    data = w.flush()
    sos = seg(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x3f\x00")
    return b"\xff\xd8" + dqt + sof + dht + sos + data + b"\xff\xd9"


# ---------------------------------------------------------------------------
# WebP (VP8L lossless) — from-scratch per the public WebP Lossless
# Bitstream Specification, same real-decode tier as GIF/PNG/JPEG
# ---------------------------------------------------------------------------
# Reference analog: Tika-breadth media sniffing/decode
# (detect/MediaTypeAndFormatDetector.java:39-89) — WebP was the most
# likely real-user sniff hit still stubbed. Lossy VP8, animation, and
# ALPH-chunk alpha remain declared NotImplementedError limits (surfaced
# as findings, not crashes, by media_meta_checks).


class _VP8LBitReader:
    """LSB-first bit reader (VP8L convention: bits fill from the low end
    of each byte)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0          # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte_i, bit_i = divmod(self.pos, 8)
            if byte_i >= len(self.data):
                raise ValueError("webp: bitstream truncated")
            v |= ((self.data[byte_i] >> bit_i) & 1) << i
            self.pos += 1
        return v

    def read_bit(self) -> int:
        byte_i, bit_i = divmod(self.pos, 8)
        if byte_i >= len(self.data):
            raise ValueError("webp: bitstream truncated")
        self.pos += 1
        return (self.data[byte_i] >> bit_i) & 1


class _VP8LHuffman:
    """Canonical (DEFLATE-style) prefix code. ``lengths[sym]`` = 0 means
    unused. A single-symbol code decodes without consuming bits (the
    spec's zero-length code for simple one-symbol trees)."""

    def __init__(self, lengths: list[int]) -> None:
        nonzero = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if len(nonzero) == 1:
            self.single = nonzero[0][1]
            self.table: dict[tuple[int, int], int] = {}
            return
        self.single = None
        # canonical assignment: shorter codes first, symbol order within
        # a length (RFC 1951 §3.2.2)
        bl_count: dict[int, int] = {}
        for l, _ in nonzero:
            bl_count[l] = bl_count.get(l, 0) + 1
        code = 0
        next_code: dict[int, int] = {}
        for l in range(1, max(bl_count) + 1):
            code = (code + bl_count.get(l - 1, 0)) << 1
            next_code[l] = code
        self.table = {}
        for l, s in sorted(nonzero):
            self.table[(l, next_code[l])] = s
            next_code[l] += 1

    def decode(self, br: _VP8LBitReader) -> int:
        if self.single is not None:
            return self.single
        code, length = 0, 0
        while length <= 15:
            # the stream stores each code MSB-first
            code = (code << 1) | br.read_bit()
            length += 1
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("webp: invalid huffman code")


#: code-length-code read order (spec §5.2.2)
_VP8L_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

#: distance codes 1..120 → (dx, dy) neighbour offsets (spec §4.2.2);
#: dist = dy*xsize + dx, clamped to ≥ 1
_VP8L_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2), (2, 1), (-2, 1),
    (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3), (3, 1), (-3, 1), (2, 3), (-2, 3),
    (3, 2), (-3, 2), (0, 4), (4, 0), (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3),
    (2, 4), (-2, 4), (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2), (4, 4), (-4, 4),
    (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0), (1, 6), (-1, 6), (6, 1), (-6, 1),
    (2, 6), (-2, 6), (6, 2), (-6, 2), (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6),
    (6, 3), (-6, 3), (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2), (3, 7), (-3, 7),
    (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5), (8, 0), (4, 7), (-4, 7), (7, 4),
    (-7, 4), (8, 1), (8, 2), (6, 6), (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5),
    (8, 4), (6, 7), (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def _vp8l_read_code_lengths(br: _VP8LBitReader, alphabet: int) -> list[int]:
    """Spec §5.2.2: code-length-coded Huffman lengths, with 16/17/18
    repeat codes and the optional max_symbol read cap."""
    clc_lengths = [0] * 19
    num_clc = 4 + br.read(4)
    for i in range(num_clc):
        clc_lengths[_VP8L_CLC_ORDER[i]] = br.read(3)
    clc = _VP8LHuffman(clc_lengths)
    if br.read_bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    sym = 0
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        c = clc.decode(br)
        if c < 16:
            lengths[sym] = c
            sym += 1
            if c != 0:
                prev = c
        elif c == 16:
            for _ in range(3 + br.read(2)):
                if sym < alphabet:
                    lengths[sym] = prev
                    sym += 1
        elif c == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    return lengths


def _vp8l_read_code(br: _VP8LBitReader, alphabet: int) -> _VP8LHuffman:
    """One prefix code: 'simple' (1-2 symbols inline) or length-coded."""
    if br.read_bit():  # simple
        num_symbols = br.read_bit() + 1
        first = br.read(8) if br.read_bit() else br.read_bit()
        lengths = [0] * alphabet
        if num_symbols == 1:
            lengths[first] = 1  # decoded as zero-bit single-symbol code
        else:
            second = br.read(8)
            if first >= alphabet or second >= alphabet:
                raise ValueError("webp: simple code symbol out of range")
            lengths[first] = 1
            lengths[second] = 1
            # canonical order: the FIRST stored symbol takes code 0 —
            # enforce via explicit table
            h = _VP8LHuffman.__new__(_VP8LHuffman)
            h.single = None
            h.table = {(1, 0): first, (1, 1): second}
            return h
        return _VP8LHuffman(lengths)
    return _VP8LHuffman(_vp8l_read_code_lengths(br, alphabet))


def _vp8l_prefix_value(br: _VP8LBitReader, prefix_code: int) -> int:
    """LZ77 length/distance prefix decoding (spec §4.2.2)."""
    if prefix_code < 4:
        return prefix_code + 1
    extra = (prefix_code - 2) >> 1
    offset = (2 + (prefix_code & 1)) << extra
    return offset + br.read(extra) + 1


def _vp8l_decode_image(
    br: _VP8LBitReader, w: int, h: int, is_level0: bool
) -> "tuple[np.ndarray, list]":
    """Decode one entropy-coded ARGB image (spec §5): optional transforms
    (level 0 only), optional entropy (meta-Huffman) image, optional color
    cache, Huffman groups, LZ77 + cache pixel stream. Returns
    (pixels uint32 [h*w] in ARGB, transforms list) — transforms are
    (type, data) to be inverted by the caller in reverse order."""
    transforms: list = []
    xsize = w
    if is_level0:
        while br.read_bit():
            ttype = br.read(2)
            if any(t[0] == ttype for t in transforms):
                raise ValueError("webp: duplicate transform")
            if ttype == 2:  # subtract-green: no data
                transforms.append((2, None))
            elif ttype in (0, 1):  # predictor / color
                size_bits = br.read(3) + 2
                bw = -(-xsize // (1 << size_bits))
                bh = -(-h // (1 << size_bits))
                sub, _ = _vp8l_decode_image(br, bw, bh, False)
                transforms.append((ttype, (size_bits, sub)))
            else:  # 3: color indexing
                n_colors = br.read(8) + 1
                pal_deltas, _ = _vp8l_decode_image(br, n_colors, 1, False)
                palette = np.cumsum(
                    pal_deltas.view(np.uint8).reshape(-1, 4).astype(np.uint32),
                    axis=0, dtype=np.uint32,
                ) & 0xFF
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append((3, (n_colors, width_bits, palette, xsize)))
                xsize = -(-xsize // (1 << width_bits))
    # entropy (meta-Huffman) image
    meta = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        mw = -(-xsize // (1 << meta_bits))
        mh = -(-h // (1 << meta_bits))
        meta_img, _ = _vp8l_decode_image(br, mw, mh, False)
        # meta index = (red << 8) | green
        meta = (((meta_img >> 16) & 0xFF) << 8) | ((meta_img >> 8) & 0xFF)
        meta = meta.astype(np.int64)
        n_groups = int(meta.max()) + 1
        meta_w = mw
    # color cache
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"webp: invalid color-cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    # huffman groups: 5 codes each
    green_alpha = 256 + 24 + cache_size
    groups = []
    for _ in range(n_groups):
        g = _vp8l_read_code(br, green_alpha)
        r = _vp8l_read_code(br, 256)
        b_ = _vp8l_read_code(br, 256)
        a = _vp8l_read_code(br, 256)
        d = _vp8l_read_code(br, 40)
        groups.append((g, r, b_, a, d))
    # pixel stream
    n = xsize * h
    px = np.zeros(n, dtype=np.uint32)
    i = 0
    while i < n:
        if meta is not None:
            x, y = i % xsize, i // xsize
            gi = int(meta[(y >> meta_bits) * meta_w + (x >> meta_bits)])
            if gi >= n_groups:
                raise ValueError("webp: meta index out of range")
            gcode, rcode, bcode, acode, dcode = groups[gi]
        else:
            gcode, rcode, bcode, acode, dcode = groups[0]
        s = gcode.decode(br)
        if s < 256:  # literal
            red = rcode.decode(br)
            blue = bcode.decode(br)
            alpha = acode.decode(br)
            argb = (alpha << 24) | (red << 16) | (s << 8) | blue
            px[i] = argb
            if cache_size:
                cache[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
            i += 1
        elif s < 256 + 24:  # LZ77 backward reference
            length = _vp8l_prefix_value(br, s - 256)
            dist_code = _vp8l_prefix_value(br, dcode.decode(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _VP8L_DIST_MAP[dist_code - 1]
                dist = max(dy * xsize + dx, 1)
            if dist > i or i + length > n:
                raise ValueError("webp: LZ77 reference out of range")
            for k in range(length):
                argb = int(px[i - dist + k])
                px[i + k] = argb
                if cache_size:
                    cache[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
            i += length
        else:  # color-cache hit
            idx = s - 256 - 24
            if idx >= cache_size:
                raise ValueError("webp: cache index out of range")
            px[i] = cache[idx]
            i += 1
    return px, transforms


def _vp8l_apply_inverse_transforms(
    px: "np.ndarray", w: int, h: int, transforms: list
) -> "np.ndarray":
    """Invert transforms in reverse reading order (spec §3)."""
    for ttype, data in reversed(transforms):
        if ttype == 3:  # color indexing
            n_colors, width_bits, palette, full_w = data
            if width_bits > 0:
                packed_w = -(-full_w // (1 << width_bits))
                ppp = 1 << width_bits      # pixels per packed pixel
                bits = 8 >> width_bits     # bits per index
                idx = np.zeros(full_w * h, dtype=np.int64)
                green = (px >> 8) & 0xFF
                for y in range(h):
                    for x in range(full_w):
                        packed = int(green[y * packed_w + x // ppp])
                        shift = (x % ppp) * bits
                        idx[y * full_w + x] = (packed >> shift) & ((1 << bits) - 1)
            else:
                idx = ((px >> 8) & 0xFF).astype(np.int64)
            out = np.zeros(full_w * h, dtype=np.uint32)
            valid = idx < n_colors
            # palette rows are little-endian uint32 byte views: B,G,R,A
            pal_argb = (
                (palette[:, 3].astype(np.uint32) << 24)
                | (palette[:, 2].astype(np.uint32) << 16)
                | (palette[:, 1].astype(np.uint32) << 8)
                | palette[:, 0].astype(np.uint32)
            )
            out[valid] = pal_argb[idx[valid]]
            px = out
        elif ttype == 2:  # subtract-green
            g = (px >> 8) & 0xFF
            r = (((px >> 16) & 0xFF) + g) & 0xFF
            b = ((px & 0xFF) + g) & 0xFF
            px = (px & 0xFF00FF00) | (r << 16) | b
        elif ttype == 0:  # predictor
            size_bits, sub = data
            px = _vp8l_inverse_predictor(px, w, h, size_bits, sub)
        else:  # 1: color transform
            size_bits, sub = data
            px = _vp8l_inverse_color_transform(px, w, h, size_bits, sub)
    return px


def _vp8l_avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) // 2) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) // 2) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) // 2) << 8
        | ((((a) & 0xFF) + ((b) & 0xFF)) // 2)
    )


def _vp8l_inverse_predictor(
    px: "np.ndarray", w: int, h: int, size_bits: int, modes: "np.ndarray"
) -> "np.ndarray":
    """Spec §4.2.1: 14 predictor modes, per-channel addition mod 256.
    Boundary rules: (0,0) predicts opaque black; row 0 predicts L;
    column 0 predicts T. TR for the last column is the leftmost pixel of
    the current row (the contiguous-memory neighbour, matching the
    reference decoder's layout semantics)."""
    mode_w = -(-w // (1 << size_bits))
    out = px.astype(np.int64).copy()

    def chan_add(res: int, pred: int) -> int:
        return (
            ((((res >> 24) & 0xFF) + ((pred >> 24) & 0xFF)) & 0xFF) << 24
            | ((((res >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF) << 16
            | ((((res >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8
            | ((((res) & 0xFF) + ((pred) & 0xFF)) & 0xFF)
        )

    def clamp(v: int) -> int:
        return 0 if v < 0 else (255 if v > 255 else v)

    for i in range(w * h):
        x, y = i % w, i // w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = int(out[i - 1])
        elif x == 0:
            pred = int(out[i - w])
        else:
            mode = (int(modes[(y >> size_bits) * mode_w + (x >> size_bits)]) >> 8) & 0xFF
            L = int(out[i - 1])
            T = int(out[i - w])
            TL = int(out[i - w - 1])
            TR = int(out[i - w + 1])  # valid at x = w-1: leftmost of row y
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = L
            elif mode == 2:
                pred = T
            elif mode == 3:
                pred = TR
            elif mode == 4:
                pred = TL
            elif mode == 5:
                pred = _vp8l_avg2(_vp8l_avg2(L, TR), T)
            elif mode == 6:
                pred = _vp8l_avg2(L, TL)
            elif mode == 7:
                pred = _vp8l_avg2(L, T)
            elif mode == 8:
                pred = _vp8l_avg2(TL, T)
            elif mode == 9:
                pred = _vp8l_avg2(T, TR)
            elif mode == 10:
                pred = _vp8l_avg2(_vp8l_avg2(L, TL), _vp8l_avg2(T, TR))
            elif mode == 11:  # Select
                p = 0
                for sh in (24, 16, 8, 0):
                    pl = abs(((TL >> sh) & 0xFF) - ((T >> sh) & 0xFF))
                    pt = abs(((TL >> sh) & 0xFF) - ((L >> sh) & 0xFF))
                    p += pl - pt
                pred = L if p <= 0 else T
            elif mode == 12:  # ClampAddSubtractFull
                pred = 0
                for sh in (24, 16, 8, 0):
                    v = clamp(((L >> sh) & 0xFF) + ((T >> sh) & 0xFF) - ((TL >> sh) & 0xFF))
                    pred |= v << sh
            elif mode == 13:  # ClampAddSubtractHalf
                ave = _vp8l_avg2(L, T)
                pred = 0
                for sh in (24, 16, 8, 0):
                    a = (ave >> sh) & 0xFF
                    t = (TL >> sh) & 0xFF
                    v = clamp(a + (a - t) // 2)
                    pred |= v << sh
            else:
                raise ValueError(f"webp: invalid predictor mode {mode}")
        out[i] = chan_add(int(px[i]), pred)
    return out.astype(np.uint32)


def _vp8l_inverse_color_transform(
    px: "np.ndarray", w: int, h: int, size_bits: int, sub: "np.ndarray"
) -> "np.ndarray":
    """Spec §4.2.3: per-block ColorTransformElement (g2r in blue, g2b in
    green, r2b in red channel of the transform pixel); deltas are
    signed-byte products >> 5, added mod 256."""
    block_w = -(-w // (1 << size_bits))

    def s8(v: int) -> int:
        return v - 256 if v >= 128 else v

    out = px.copy()
    for i in range(w * h):
        x, y = i % w, i // w
        cte = int(sub[(y >> size_bits) * block_w + (x >> size_bits)])
        g2r = s8(cte & 0xFF)
        g2b = s8((cte >> 8) & 0xFF)
        r2b = s8((cte >> 16) & 0xFF)
        v = int(px[i])
        a = (v >> 24) & 0xFF
        r = (v >> 16) & 0xFF
        g = (v >> 8) & 0xFF
        b = v & 0xFF
        sg = s8(g)
        r = (r + ((g2r * sg) >> 5)) & 0xFF
        b = (b + ((g2b * sg) >> 5) + ((r2b * s8(r)) >> 5)) & 0xFF
        out[i] = (a << 24) | (r << 16) | (g << 8) | b
    return out


#: pixel cap for the pure-Python VP8L tier: the entropy decode and
#: predictor inverse are per-pixel Python (the sequential data
#: dependencies don't vectorize), so a 100-MP photo would burn a task
#: for minutes — beyond the cap is a DECLARED limit (finding, not a
#: stall); 4M pixels ≈ 22 MP decodes in seconds
_MAX_VP8L_PIXELS = 1 << 22


def _decode_vp8l(data: bytes) -> np.ndarray:
    """VP8L chunk payload → HxWx3 uint8 (alpha dropped, PNG-RGBA
    convention)."""
    if not data or data[0] != 0x2F:
        raise ValueError("webp: bad VP8L signature")
    br = _VP8LBitReader(data[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    if w * h > _MAX_VP8L_PIXELS:
        raise NotImplementedError(
            f"webp: {w}x{h} exceeds the pure-Python tier's "
            f"{_MAX_VP8L_PIXELS}-pixel cap (declared limit)"
        )
    br.read_bit()          # alpha hint
    if br.read(3) != 0:
        raise NotImplementedError("webp: VP8L version != 0")
    px, transforms = _vp8l_decode_image(br, w, h, True)
    px = _vp8l_apply_inverse_transforms(px, w, h, transforms)
    r = ((px >> 16) & 0xFF).astype(np.uint8)
    g = ((px >> 8) & 0xFF).astype(np.uint8)
    b = (px & 0xFF).astype(np.uint8)
    return np.stack([r, g, b], axis=-1).reshape(h, w, 3)


def _decode_webp(b: bytes) -> np.ndarray:
    """RIFF/WEBP container → HxWx3 uint8. Lossless (VP8L) decodes for
    real (from-scratch per the public spec); lossy VP8 and animation
    raise NotImplementedError (declared limits, same tier policy as
    progressive JPEG)."""
    if b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("webp: not a RIFF/WEBP container")
    pos = 12
    while pos + 8 <= len(b):
        fourcc = b[pos:pos + 4]
        size = int.from_bytes(b[pos + 4:pos + 8], "little")
        payload = b[pos + 8:pos + 8 + size]
        if len(payload) < size:
            raise ValueError("webp: truncated chunk")
        if fourcc == b"VP8L":
            return _decode_vp8l(payload)
        if fourcc == b"VP8 ":
            raise NotImplementedError("webp: lossy VP8 not supported")
        if fourcc in (b"ANIM", b"ANMF"):
            raise NotImplementedError("webp: animation not supported")
        # VP8X / ICCP / EXIF / XMP / ALPH: keep scanning for image data
        pos += 8 + size + (size & 1)
    raise ValueError("webp: no image chunk found")


class _VP8LBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.out.append(0)
            if (value >> i) & 1:
                self.out[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) % 8

    def write_code(self, code: int, length: int) -> None:
        """Huffman code bits, MSB of the code first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)


def _huffman_lengths(hist: "dict[int, int]", max_len: int = 15) -> "dict[int, int]":
    """Code lengths from a symbol histogram (heap Huffman); falls back to
    flat lengths if the tree exceeds max_len (valid, just not optimal)."""
    import heapq
    import itertools

    syms = [s for s, c in hist.items() if c > 0]
    if len(syms) == 1:
        return {syms[0]: 1}
    cnt = itertools.count()
    heap = [(hist[s], next(cnt), (s,)) for s in syms]
    heapq.heapify(heap)
    depth: dict[int, int] = {s: 0 for s in syms}
    while len(heap) > 1:
        c1, _, g1 = heapq.heappop(heap)
        c2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (c1 + c2, next(cnt), g1 + g2))
    if max(depth.values()) > max_len:
        flat = max(len(syms).bit_length(), 1)
        return {s: flat for s in syms}
    return depth


def _canonical_codes(lengths: "dict[int, int]") -> "dict[int, tuple[int, int]]":
    """symbol → (code, length), canonical per RFC 1951."""
    bl_count: dict[int, int] = {}
    for l in lengths.values():
        bl_count[l] = bl_count.get(l, 0) + 1
    code = 0
    next_code: dict[int, int] = {}
    for l in range(1, max(bl_count) + 1):
        code = (code + bl_count.get(l - 1, 0)) << 1
        next_code[l] = code
    out: dict[int, tuple[int, int]] = {}
    for l, s in sorted((l, s) for s, l in lengths.items()):
        out[s] = (next_code[l], l)
        next_code[l] += 1
    return out


def _vp8l_write_code(bw: _VP8LBitWriter, lengths_by_sym: "dict[int, int]",
                     alphabet: int) -> "dict[int, tuple[int, int]]":
    """Write one prefix code (simple when ≤2 symbols, else length-coded
    with no repeat codes) and return the symbol→(code,len) table."""
    syms = sorted(lengths_by_sym)
    # 'simple' codes inline symbol VALUES in ≤8 bits, so they only apply
    # to symbols 0..255 (libwebp has the same restriction)
    if len(syms) == 1 and syms[0] <= 255:
        bw.write(1, 1)            # simple
        bw.write(0, 1)            # one symbol
        s = syms[0]
        if s >= 2:
            bw.write(1, 1)
            bw.write(s, 8)
        else:
            bw.write(0, 1)
            bw.write(s, 1)
        return {s: (0, 0)}        # zero-bit code
    if len(syms) == 2 and syms[1] <= 255:
        bw.write(1, 1)            # simple
        bw.write(1, 1)            # two symbols
        s0, s1 = syms
        if s0 >= 2:
            bw.write(1, 1)
            bw.write(s0, 8)
        else:
            bw.write(0, 1)
            bw.write(s0, 1)
        bw.write(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    bw.write(0, 1)                # normal (length-coded)
    # defensive: an over-subscribed length set (Kraft > 1) cannot form a
    # prefix code and would emit undecodable bits
    if sum(2.0 ** -l for l in lengths_by_sym.values()) > 1.0 + 1e-12:
        raise ValueError("_vp8l_write_code: over-subscribed code lengths")
    seq = [lengths_by_sym.get(s, 0) for s in range(alphabet)]
    clc_hist: dict[int, int] = {}
    for v in seq:
        clc_hist[v] = clc_hist.get(v, 0) + 1
    clc_lengths = _huffman_lengths(clc_hist, max_len=7)
    clc_codes = _canonical_codes(clc_lengths)
    bw.write(19 - 4, 4)           # num_code_lengths = 19
    for sym in _VP8L_CLC_ORDER:
        bw.write(clc_lengths.get(sym, 0), 3)
    bw.write(0, 1)                # no max_symbol cap
    for v in seq:
        c, l = clc_codes[v]
        bw.write_code(c, l)
    return _canonical_codes(lengths_by_sym)


def encode_webp_lossless(img: np.ndarray) -> bytes:
    """WebP VP8L lossless ENCODER (literal-only: no transforms, no LZ77,
    no color cache — a valid, decodable stream that any spec decoder
    reads back bit-exactly). HxWx3 or HxW uint8 → RIFF/WEBP bytes. The
    symmetric half that lets pipelines synthesize REAL .webp fixtures
    without a codec library (same role as encode_jpeg_gray)."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    h, w = img.shape[:2]
    if not (0 < w <= 16384 and 0 < h <= 16384):
        raise ValueError("encode_webp_lossless: dimensions outside 1..16384")
    r = img[..., 0].astype(np.uint32).ravel()
    g = img[..., 1].astype(np.uint32).ravel()
    b = img[..., 2].astype(np.uint32).ravel()
    bw = _VP8LBitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)                # no alpha
    bw.write(0, 3)                # version 0
    bw.write(0, 1)                # no transforms
    bw.write(0, 1)                # no entropy image
    bw.write(0, 1)                # no color cache

    def hist(vals) -> dict[int, int]:
        out: dict[int, int] = {}
        for v in vals.tolist():
            out[v] = out.get(v, 0) + 1
        return out

    g_codes = _vp8l_write_code(bw, _huffman_lengths(hist(g)), 256 + 24)
    r_codes = _vp8l_write_code(bw, _huffman_lengths(hist(r)), 256)
    b_codes = _vp8l_write_code(bw, _huffman_lengths(hist(b)), 256)
    a_codes = _vp8l_write_code(bw, {255: 1}, 256)
    _vp8l_write_code(bw, {0: 1}, 40)   # distance code, never used
    for i in range(w * h):
        c, l = g_codes[int(g[i])]
        bw.write_code(c, l)
        c, l = r_codes[int(r[i])]
        bw.write_code(c, l)
        c, l = b_codes[int(b[i])]
        bw.write_code(c, l)
        c, l = a_codes[255]
        bw.write_code(c, l)
    payload = b"\x2f" + bytes(bw.out)
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode an image payload to an HxWx3 uint8 array. REAL for the
    codec-free formats (P6 PPM, uncompressed 24-bit BMP — see module
    doc); compressed codecs raise NotImplementedError unless
    ``fake=True`` substitutes the deterministic content-hash double."""
    kind = sniff_media(payload)
    decoders = {"ppm": _decode_ppm, "bmp": _decode_bmp, "gif": _decode_gif,
                "png": _decode_png, "jpeg": _decode_jpeg, "webp": _decode_webp}
    if kind in decoders:
        import struct

        try:
            return decoders[kind](payload)
        except (struct.error, IndexError) as e:
            # error-tier normalization at the dispatch boundary: a
            # truncated container must surface as the declared
            # finding-grade ValueError, never a raw struct/index error
            # from inside a parser (fuzz-pinned in test_properties)
            raise ValueError(f"{kind}: truncated or corrupt container ({e})") from e
    if not fake:
        raise NotImplementedError(
            "avif/heic/... codecs not available in this environment; "
            "P6 PPM, uncompressed BMP, GIF (LZW), PNG (zlib DEFLATE), "
            "baseline JPEG (from-scratch T.81), and lossless WebP (VP8L) "
            "decode for real — pass fake=True for the deterministic test "
            "double"
        )
    return _fake_decode_image(payload)


def _fake_decode_image(payload: bytes) -> np.ndarray:
    """The deterministic content-hash test double: a 4x4 RGB image whose
    pixels are the payload's first bytes — stable across runs and
    partitionings, used wherever a codec is unavailable or a sniffable
    payload turns out undecodable (finding-not-crash fallback)."""
    h = np.frombuffer(payload[:64].ljust(64, b"\0"), dtype=np.uint8)
    side = 4
    return np.tile(h[: side * side * 3], 1).reshape(side, side, 3)[:side, :side, :3]


def encode_ppm(img: np.ndarray) -> bytes:
    """HxWx3 uint8 → binary PPM (P6) bytes — the re-encode half of the
    real-decode tier (round-trips byte-exactly through ``_decode_ppm``)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def decode_audio(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode an audio payload to a 1-D float32 waveform in [-1, 1]. REAL
    for RIFF/WAVE PCM (8/16-bit); compressed codecs raise
    NotImplementedError unless ``fake=True`` substitutes the
    deterministic double."""
    if sniff_media(payload) == "wav":
        import struct

        try:
            return _decode_wav(payload)
        except (struct.error, IndexError) as e:
            raise ValueError(f"wav: truncated or corrupt container ({e})") from e
    if not fake:
        raise NotImplementedError(
            "compressed audio codecs not available in this environment; "
            "only RIFF/WAVE PCM decodes for real — pass fake=True for the "
            "deterministic test double"
        )
    arr = np.frombuffer(payload[:1024], dtype=np.uint8).astype(np.float32)
    return (arr - 127.5) / 127.5


def _features_from_bytes(payload: bytes) -> list[float]:
    """Deterministic fake feature vector: byte-histogram moments — a stand-in
    with the exact shape/dtype a real extractor would produce."""
    if payload is None or len(payload) == 0:
        return [0.0] * N_FEATURES
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=N_FEATURES)[:N_FEATURES]
    return (hist / max(len(arr), 1)).astype(np.float32).tolist()


def extract_media_features(media_df: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """media table → features table via mapInPandas (Arrow batch iterator).
    The real pipeline swaps ``_features_from_bytes`` for a codec+model call;
    everything else (schema, batching, distribution) is production-shaped."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["meta"].map(
                        lambda m: (m or {}).get("media_type")
                    ),
                    "n_bytes": pdf["media"].map(lambda b: 0 if b is None else len(b)),
                    "features": pdf["media"].map(_features_from_bytes),
                }
            )

    return media_df.mapInPandas(process, schema=FEATURES_SCHEMA)


def resize_images(
    media_df: DataFrame, width: int, height: int, batch_size_hint: int = 256
) -> DataFrame:
    """Image resize pass: decode → nearest-neighbor resample → re-encode,
    streamed through mapInPandas so no task materializes a partition of
    decoded pixels. Output rows keep the media schema with updated meta
    (width/height) and the resized payload; non-image rows pass through
    untouched. Every sniffable format (PPM/BMP/GIF/PNG/JPEG) takes the
    REAL decode path and re-encodes as P6 PPM; the remaining codecs fall
    back to the deterministic fake decode + raw-RGB encode, so the
    resample arithmetic and all Spark-side plumbing run identically
    either way."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_media, out_meta = [], []
            for media, meta in zip(pdf["media"], pdf["meta"]):
                if (
                    media is not None
                    and meta is not None
                    and ((meta.get("media_type") if isinstance(meta, dict) else meta["media_type"]) or "").startswith("image/")
                ):
                    real = sniff_media(media) in (
                        "ppm", "bmp", "gif", "png", "jpeg", "webp"
                    )
                    try:
                        img = decode_image(media, fake=not real)
                    except (NotImplementedError, ValueError):
                        # sniffable but undecodable (progressive JPEG,
                        # truncated/corrupt payload): finding-not-crash —
                        # media_meta_checks owns the MEDIA_DECODE_ERROR
                        # row; the resize pass falls back to the
                        # deterministic fake decode instead of failing
                        # the whole Spark job
                        real = False
                        img = _fake_decode_image(media)
                    ys = (np.arange(height) * img.shape[0] // height).clip(0, img.shape[0] - 1)
                    xs = (np.arange(width) * img.shape[1] // width).clip(0, img.shape[1] - 1)
                    resized = img[ys][:, xs].astype(np.uint8)
                    m = dict(meta)
                    m["width"], m["height"] = width, height
                    if real:
                        media = encode_ppm(resized)
                        m["media_type"] = "image/x-portable-pixmap"
                    else:
                        media = resized.tobytes()  # raw-RGB "encode"
                        m["media_type"] = "image/raw-rgb"
                    meta = m
                # non-image / null-meta rows pass through UNTOUCHED — a NULL
                # meta must stay NULL, not become a struct of null fields
                out_media.append(media)
                out_meta.append(meta)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": out_media, "meta": out_meta}
            )

    return media_df.mapInPandas(process, schema=MEDIA_SCHEMA)


def frame_sample_plan(media_df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expand each VIDEO row (media_type
    video/*; rows with no positive duration have no frames) into (doc_id,
    frame_ts_ms) rows from metadata only — no decode, pure JVM explode.
    The decode of each planned frame is the stubbed step."""
    return (
        media_df.where(
            F.col("meta.media_type").startswith("video/")
            & (F.coalesce(F.col("meta.duration_ms"), F.lit(0)) > 0)
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.col("meta.duration_ms") - 1,
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


def synth_media(spark, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes) for tests."""
    df = spark.range(0, n_rows)
    payload = F.encode(
        F.concat(F.lit("media-payload-"), F.sha2(F.concat(F.col("id").cast("string"), F.lit(seed)), 256)),
        "UTF-8",
    )
    meta = F.struct(
        F.when(F.col("id") % 3 == 0, "image/jpeg")
        .when(F.col("id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.lit(640).alias("width"),
        F.lit(480).alias("height"),
        (F.col("id") % 5000 + 1000).cast("int").alias("duration_ms"),
    )
    return df.select(
        F.col("id").alias("doc_id"), payload.alias("media"), meta.alias("meta")
    )


# --------------------------------------------------------------------------
# Perceptual image dedup (dHash)
# --------------------------------------------------------------------------


def _dhash_from_bytes(payload: "bytes | None", fake: bool = False) -> "int | None":
    """64-bit difference hash: decode → grayscale → nearest-neighbor
    downsample to 9×8 (the module's resample arithmetic) → bit r*8+c set
    when g[r,c] > g[r,c+1]. Deterministic integer/float ops end to end;
    packed as a SIGNED 64-bit value (Spark LongType two's complement).
    A corrupt-but-sniffable payload (truncated PPM, bad LZW stream)
    hashes to None — excluded from pairing, never a task crash;
    `media_meta_checks` owns surfacing it as MEDIA_DECODE_ERROR."""
    if payload is None or len(payload) == 0:
        return None
    try:
        img = decode_image(payload, fake=fake or sniff_media(payload) is None)
    except Exception:  # noqa: BLE001 — corrupt container → no signature
        return None
    g = img.astype(np.float64).mean(axis=2)
    h, w = g.shape
    ys = (np.arange(8) * h // 8).clip(0, h - 1)
    xs = (np.arange(9) * w // 9).clip(0, w - 1)
    small = g[ys][:, xs]
    bits = 0
    for r in range(8):
        for c in range(8):
            if small[r, c] > small[r, c + 1]:
                bits |= 1 << (r * 8 + c)
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def image_dhash(media_df: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """media table → ``(doc_id, sig)`` 64-bit perceptual dHash per IMAGE
    row (meta.media_type image/*; other modalities and NULL payloads are
    excluded). Every decodable format takes the REAL decode path;
    sniff-only formats (tiff/avif/..., detected but not decodable here)
    yield NULL signatures and drop out of pairing visibly; unsniffable
    bytes fall back to the deterministic fake decode so plumbing and
    hash arithmetic run identically either way. Arrow-batched
    mapInPandas — no task materializes a partition of decoded pixels."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, media, meta in zip(pdf["doc_id"], pdf["media"], pdf["meta"]):
                mt = (
                    (meta.get("media_type") if isinstance(meta, dict) else meta["media_type"])
                    if meta is not None
                    else None
                )
                if media is None or not (mt or "").startswith("image/"):
                    continue
                ids.append(doc_id)
                sigs.append(_dhash_from_bytes(bytes(media)))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "sig": pd.Series(sigs, dtype="Int64")})

    return media_df.mapInPandas(process, schema="doc_id long, sig long")


def _phash_from_bytes(payload: "bytes | None", fake: bool = False) -> "int | None":
    """64-bit DCT perceptual hash (pHash): decode → grayscale →
    nearest-neighbor downsample to 32×32 (the module's resample
    arithmetic) → 2D DCT-II (the same separable cosine basis the JPEG
    decoder uses) → the 8×8 lowest-frequency block → bit r*8+c set when
    the coefficient exceeds the block's median (DC excluded from the
    median so flat images stay stable). The SPECTRAL twin of the spatial
    dHash: dHash keys on local gradients (robust to re-encode, brittle
    under blur/scale), pHash keys on global low-frequency structure
    (robust to blur/resize/gamma) — running both and pairing each through
    the shared Hamming core covers both failure modes. Deterministic
    float64 ops; signed 64-bit pack; corrupt payloads hash to None
    (finding-not-crash, as dHash)."""
    if payload is None or len(payload) == 0:
        return None
    try:
        img = decode_image(payload, fake=fake or sniff_media(payload) is None)
    except Exception:  # noqa: BLE001 — corrupt container → no signature
        return None
    g = img.astype(np.float64).mean(axis=2)
    h, w = g.shape
    ys = (np.arange(32) * h // 32).clip(0, h - 1)
    xs = (np.arange(32) * w // 32).clip(0, w - 1)
    small = g[ys][:, xs]
    n = 32
    k = np.arange(n)
    basis = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
    coef = basis @ small @ basis.T
    block = coef[:8, :8]
    flat = block.ravel()
    med = np.median(flat[1:])  # DC excluded
    bits = 0
    for r in range(8):
        for c in range(8):
            if block[r, c] > med:
                bits |= 1 << (r * 8 + c)
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def image_phash(media_df: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """media table → ``(doc_id, sig)`` 64-bit DCT pHash per IMAGE row —
    same contract, exclusions, and Arrow-batched plumbing as
    ``image_dhash``; only the signature function differs."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, media, meta in zip(pdf["doc_id"], pdf["media"], pdf["meta"]):
                mt = (
                    (meta.get("media_type") if isinstance(meta, dict) else meta["media_type"])
                    if meta is not None
                    else None
                )
                if media is None or not (mt or "").startswith("image/"):
                    continue
                ids.append(doc_id)
                sigs.append(_phash_from_bytes(bytes(media)))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "sig": pd.Series(sigs, dtype="Int64")})

    return media_df.mapInPandas(process, schema="doc_id long, sig long")


def image_phash_pairs(
    media_df: DataFrame, max_hamming: int = 6, max_bucket: int = 1000
) -> DataFrame:
    """Near-duplicate IMAGE pairs by spectral similarity:
    Hamming(pHash) ≤ ``max_hamming`` through the same pigeonhole
    posting-list core as dHash/simhash (one shuffle, no self-join,
    capped buckets). Rows-only by nature (needs the decoder);
    determinism + blur-robustness pinned in tests."""
    from .dedup import hamming_sig_pairs

    return hamming_sig_pairs(
        image_phash(media_df), max_hamming=max_hamming, max_bucket=max_bucket
    )


def image_dhash_pairs(
    media_df: DataFrame, max_hamming: int = 6, max_bucket: int = 1000
) -> DataFrame:
    """Near-duplicate IMAGE pairs: Hamming(dHash) ≤ ``max_hamming`` via
    the same pigeonhole posting-list core as text simhash
    (operators/dedup.py::hamming_sig_pairs — one shuffle, no self-join,
    capped buckets). Extends the dedup family to the multimodal column:
    re-encoded/resized copies of an image keep a near-identical dHash
    while byte-level fingerprints see different blobs. Rows-only by
    nature (the signature needs the decoder); determinism and the
    planted-duplicate recall are pinned in tests/test_multimodal.py."""
    from .dedup import hamming_sig_pairs

    return hamming_sig_pairs(
        image_dhash(media_df), max_hamming=max_hamming, max_bucket=max_bucket
    )


# --------------------------------------------------------------------------
# Perceptual audio dedup (energy-envelope hash)
# --------------------------------------------------------------------------


def _audio_hash_from_bytes(payload: "bytes | None") -> "int | None":
    """64-bit energy-envelope hash: decode → |waveform| → mean energy in
    65 equal-width windows → bit i set when env[i] > env[i+1] (the dHash
    idea on the time axis). Volume-scale sensitive only through ties —
    comparisons survive uniform gain; re-encoded/truncated-tail copies
    keep most bits. Deterministic float64 ops; signed 64-bit pack.
    Corrupt-but-sniffable payloads hash to None (no task crash —
    `media_meta_checks` owns the MEDIA_DECODE_ERROR finding)."""
    if payload is None or len(payload) == 0:
        return None
    try:
        wave = decode_audio(
            bytes(payload), fake=sniff_media(bytes(payload)) != "wav"
        )
    except Exception:  # noqa: BLE001 — corrupt container → no signature
        return None
    n = wave.shape[0]
    if n < 65:
        wave = np.pad(wave, (0, 65 - n))
        n = 65
    env = np.abs(wave.astype(np.float64))
    edges = (np.arange(66) * n) // 65
    means = np.add.reduceat(env, edges[:-1]) / np.diff(edges)
    bits = 0
    for i in range(64):
        if means[i] > means[i + 1]:
            bits |= 1 << i
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def audio_hash(media_df: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """media table → ``(doc_id, sig)`` 64-bit envelope hash per AUDIO row
    (meta.media_type audio/*; other modalities and NULL payloads are
    excluded). RIFF/WAVE PCM takes the REAL decode path; other audio
    bytes fall back to the deterministic fake decode. Arrow-batched
    mapInPandas, same contract as `image_dhash`."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, media, meta in zip(pdf["doc_id"], pdf["media"], pdf["meta"]):
                mt = (
                    (meta.get("media_type") if isinstance(meta, dict) else meta["media_type"])
                    if meta is not None
                    else None
                )
                if media is None or not (mt or "").startswith("audio/"):
                    continue
                ids.append(doc_id)
                sigs.append(_audio_hash_from_bytes(bytes(media)))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "sig": pd.Series(sigs, dtype="Int64")})

    return media_df.mapInPandas(process, schema="doc_id long, sig long")


def audio_hash_pairs(
    media_df: DataFrame, max_hamming: int = 6, max_bucket: int = 1000
) -> DataFrame:
    """Near-duplicate AUDIO pairs: Hamming(envelope hash) ≤ ``max_hamming``
    through the shared pigeonhole core (operators/dedup.py::
    hamming_sig_pairs) — the audio face of the multimodal dedup family.
    Rows-only by nature (decoder-dependent); recall/determinism pinned in
    tests/test_multimodal.py."""
    from .dedup import hamming_sig_pairs

    return hamming_sig_pairs(
        audio_hash(media_df), max_hamming=max_hamming, max_bucket=max_bucket
    )


# --------------------------------------------------------------------------
# Metadata-vs-content validation
# --------------------------------------------------------------------------

#: sniffed kind → canonical media_type prefix family for the declared-type
#: check ('image/...' rows whose bytes sniff as WAV are mislabeled)
_KIND_FAMILY = {"ppm": "image/", "bmp": "image/", "gif": "image/",
                "png": "image/", "jpeg": "image/", "webp": "image/",
                "wav": "audio/"}

#: formats DETECTED by magic bytes but not decoded — the Tika-breadth
#: tier (reference: detect/MediaTypeAndFormatDetector.java:39-89 sniffs
#: far more types than it parses). media_meta_checks verifies the
#: declared type FAMILY against the bytes for these and skips the
#: decode-dependent checks visibly; decoders stay the declared-limit
#: NotImplementedError tier.
_SNIFF_ONLY_FAMILY = {
    "tiff": "image/", "ico": "image/", "avif": "image/", "heic": "image/",
    "svg": "image/", "mp3": "audio/", "ogg": "audio/", "flac": "audio/",
    "mp4": "video/", "mkv": "video/", "m4a": "audio/",
}
_KIND_FAMILY.update(_SNIFF_ONLY_FAMILY)

#: container kinds whose bytes alone cannot pin the modality: a generic
#: ftyp brand (isom/mp42/...) is used by both .mp4 video and .m4a audio,
#: and ogg carries both Vorbis audio and Theora video — accept either
#: declared family before flagging MEDIA_TYPE_MISMATCH (ADVICE r04)
_AMBIGUOUS_FAMILIES = {
    "mp4": ("video/", "audio/"),
    "ogg": ("audio/", "video/"),
}


def header_dims(payload: bytes, kind: str) -> "tuple[int, int] | None":
    """(width, height) from container/frame headers ALONE — the dims
    check for image formats whose pixel data this module does not decode:
    the tiff/ico sniff-only tier (TIFF 6.0 IFD entries, ICONDIR directory)
    and lossy-VP8 webp (frame header past the 3-byte frame tag), all
    trivial public-spec header reads (r04 verdict tasks #6/#7). Returns
    None when the header is absent/truncated — the caller skips the dims
    check visibly, never guesses."""
    try:
        if kind == "tiff":
            endian = {"II": "little", "MM": "big"}.get(
                payload[:2].decode("latin-1"))
            if endian is None or int.from_bytes(payload[2:4], endian) != 42:
                return None
            off = int.from_bytes(payload[4:8], endian)
            n = int.from_bytes(payload[off:off + 2], endian)
            w = h = None
            for i in range(n):
                e = payload[off + 2 + 12 * i: off + 14 + 12 * i]
                if len(e) < 12:
                    return None
                tag = int.from_bytes(e[0:2], endian)
                typ = int.from_bytes(e[2:4], endian)
                if tag in (256, 257):
                    val = (int.from_bytes(e[8:10], endian) if typ == 3
                           else int.from_bytes(e[8:12], endian))
                    if tag == 256:
                        w = val
                    else:
                        h = val
            return (w, h) if w is not None and h is not None else None
        if kind == "ico":
            n = int.from_bytes(payload[4:6], "little")
            if n < 1:
                return None
            best = None
            for i in range(n):  # multi-size icons: report the LARGEST
                e = payload[6 + 16 * i: 8 + 16 * i]
                if len(e) < 2:
                    break
                w, h = e[0] or 256, e[1] or 256
                if best is None or w * h > best[0] * best[1]:
                    best = (w, h)
            return best
        if kind == "webp":
            pos = 12
            while pos + 8 <= len(payload):
                fourcc = payload[pos:pos + 4]
                size = int.from_bytes(payload[pos + 4:pos + 8], "little")
                p = payload[pos + 8:pos + 8 + size]
                if fourcc == b"VP8X" and len(p) >= 10:
                    return (int.from_bytes(p[4:7], "little") + 1,
                            int.from_bytes(p[7:10], "little") + 1)
                if fourcc == b"VP8 " and len(p) >= 10:
                    if p[3:6] != b"\x9d\x01\x2a":  # keyframe start code
                        return None
                    return (int.from_bytes(p[6:8], "little") & 0x3FFF,
                            int.from_bytes(p[8:10], "little") & 0x3FFF)
                if fourcc == b"VP8L" and len(p) >= 5 and p[0] == 0x2F:
                    bits = int.from_bytes(p[1:5], "little")
                    return ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
                pos += 8 + size + (size & 1)
    except (IndexError, ValueError):
        return None
    return None


def _meta_field(meta, name: str):
    """``meta[name]`` for a dict or a Row; None when the struct has no such
    field (an audio-only meta schema carries no width/height)."""
    if isinstance(meta, dict):
        return meta.get(name)
    return meta[name] if name in getattr(meta, "__fields__", ()) else None


def media_meta_checks(media_df: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """Metadata-vs-content validation for the media column → violation
    rows ``(doc_id, check_id, expected, found)``:

    - ``MEDIA_TYPE_MISMATCH``: the payload's magic bytes sniff to a
      different modality family than ``meta.media_type`` declares (an
      'image/png' that is really a WAV).
    - ``MEDIA_DIMS_MISMATCH``: REAL-decodable image whose pixel dims
      disagree with ``meta.width``/``meta.height``.
    - ``MEDIA_PAYLOAD_EMPTY``: declared media row with NULL/empty bytes.
    - ``MEDIA_DECODE_ERROR``: sniffed-decodable payload whose decode
      raises (truncated/corrupt container) — a finding, never a crash.

    The multimodal face of the engine's record-structure pass: the
    reference validates that a resource's declared structure matches its
    bytes (format sniffing, Tika-analog `plans/preflight.py`); this does
    the same for binary media. Only sniffable-format rows get dims
    checks (compressed codecs would need the stubbed decoders); every
    skip is type-visible, nothing silently passes. Arrow-batched
    mapInPandas; violations-only output (bounded by bad rows).
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, media, meta in zip(pdf["doc_id"], pdf["media"], pdf["meta"]):
                if meta is None:
                    continue
                mt = _meta_field(meta, "media_type") or ""
                if media is None or len(media) == 0:
                    out.append((doc_id, "MEDIA_PAYLOAD_EMPTY",
                                "non-empty payload", "0 bytes"))
                    continue
                payload = bytes(media)
                kind = sniff_media(payload)
                if kind is None:
                    continue  # unsniffable codec: dims check not claimable
                fam = _KIND_FAMILY[kind]
                fams = _AMBIGUOUS_FAMILIES.get(kind, (fam,))
                if not any(mt.startswith(f) for f in fams):
                    out.append((doc_id, "MEDIA_TYPE_MISMATCH",
                                f"{'|'.join(fams)}* (sniffed {kind})", mt))
                    continue
                w = _meta_field(meta, "width")
                h = _meta_field(meta, "height")

                def dims_check(fw: int, fh: int) -> None:
                    if w is not None and h is not None and (
                        int(fw) != int(w) or int(fh) != int(h)
                    ):
                        out.append((doc_id, "MEDIA_DIMS_MISMATCH",
                                    f"{int(w)}x{int(h)}", f"{fw}x{fh}"))

                if kind in _SNIFF_ONLY_FAMILY:
                    # detected but not decodable here: decode checks are
                    # not claimable — visible skip, not a finding (the
                    # payload may be perfectly valid). tiff/ico still get
                    # the dims check from trivial header reads.
                    dims = (header_dims(payload, kind)
                            if fam == "image/" else None)
                    if dims:
                        dims_check(*dims)
                    continue
                try:
                    if fam == "image/":
                        img = decode_image(payload)
                        dims_check(int(img.shape[1]), int(img.shape[0]))
                    else:
                        decode_audio(payload)
                except NotImplementedError:
                    # declared codec limit (e.g. lossy-VP8 webp): the
                    # payload may be perfectly valid, so no false
                    # MEDIA_DECODE_ERROR — but dims stay checkable from
                    # the frame header where the container carries them
                    dims = (header_dims(payload, kind)
                            if fam == "image/" else None)
                    if dims:
                        dims_check(*dims)
                except Exception as exc:  # noqa: BLE001 — finding, not crash
                    out.append((doc_id, "MEDIA_DECODE_ERROR",
                                f"decodable {kind}", str(exc)[:120]))
            yield pd.DataFrame(
                out, columns=["doc_id", "check_id", "expected", "found"]
            ) if out else pd.DataFrame(
                {"doc_id": pd.Series([], dtype="int64"),
                 "check_id": pd.Series([], dtype="str"),
                 "expected": pd.Series([], dtype="str"),
                 "found": pd.Series([], dtype="str")}
            )

    return media_df.mapInPandas(
        process, schema="doc_id long, check_id string, expected string, found string"
    )
