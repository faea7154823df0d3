"""Real media codecs in pure stdlib + numpy: PNG (RFC 2083), GIF (87a/89a,
LZW), JPEG (baseline SOF0 and progressive SOF2), WAV PCM, and uncompressed
AVI video.

No imaging/AV library is required: PNG needs only zlib (stdlib) plus the
five scanline filters, GIF is a palette + a ~100-line LZW, WAV PCM /
uncompressed AVI are plain struct parsing, and JPEG is canonical huffman
tables (read from the stream itself) + an 8x8 DCT matmul, with progressive
scans adding spectral selection and successive approximation — so ALL of
these formats get REAL decoders (and encoders, used by tests and the
synthetic-media generator). Compressed video (H.264 etc.) and other image
formats (WebP, TIFF) stay stubbed in operators/multimodal.py — those really
are libraries, not kernels.

Supported PNG subset (documented, asserted): 8-bit depth, color types
0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA), no interlace. All five row
filters (None/Sub/Up/Average/Paeth) decode; the encoder writes filter 0.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(img: np.ndarray) -> bytes:
    """uint8 array (H,W) or (H,W,C) with C in {1,2,3,4} → PNG bytes
    (filter 0 rows, one IDAT)."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def png_decode(buf: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (H,W,C). Raises ValueError on formats outside
    the supported subset (depth != 8, interlace, palette)."""
    if not buf.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos, idat, meta = len(_PNG_SIG), [], None
    while pos < len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        payload = buf[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or interlace != 0 or ctype not in _CHANNELS:
                raise ValueError(
                    f"unsupported PNG (depth={depth} ctype={ctype} "
                    f"interlace={interlace})"
                )
            meta = (w, h, _CHANNELS[ctype])
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if meta is None or not idat:
        raise ValueError("truncated PNG")
    w, h, c = meta
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("bad PNG payload size")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, data = rows[:, 0], rows[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    zero_row = bytes(stride)
    for y in range(h):
        f, cur = int(filters[y]), data[y]
        if f == 0:
            out[y] = cur
        elif f == 2:  # Up — fully vectorized (uint8 wraps mod 256)
            out[y] = cur + (out[y - 1] if y else 0)
        elif f in (1, 3, 4):
            # Sub/Average/Paeth have an in-row prefix dependency, so the
            # scan is sequential — plain-int bytearray arithmetic (no numpy
            # scalar boxing: ~30x on libpng's adaptive-filtered rows)
            if f == 1:  # Sub is a lag-c prefix sum → cumsum mod 256 per channel
                out[y] = (
                    np.cumsum(cur.reshape(w, c).astype(np.int64), axis=0) % 256
                ).astype(np.uint8).reshape(stride)
                continue
            prev = out[y - 1].tobytes() if y else zero_row
            line = bytearray(cur.tobytes())
            if f == 3:
                for x in range(stride):
                    left = line[x - c] if x >= c else 0
                    line[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
            else:
                for x in range(stride):
                    a = line[x - c] if x >= c else 0
                    b = prev[x]
                    cc = prev[x - c] if x >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = cc
                    line[x] = (line[x] + pred) & 0xFF
            out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
        else:
            raise ValueError(f"bad filter {f}")
    return out.reshape(h, w, c)


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (the deterministic, dependency-free choice)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


# --- WAV PCM ---------------------------------------------------------------


def wav_encode(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 mono/stereo PCM array (N,) or (N,2) → RIFF/WAVE bytes."""
    a = np.asarray(samples, dtype="<i2")
    ch = 1 if a.ndim == 1 else a.shape[1]
    data = a.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM-16 bytes → (int16 array (N,) or (N,ch), sample_rate)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, rate, ch, data = 12, None, None, None
    while pos + 8 <= len(buf):
        tag, length = buf[pos : pos + 4], struct.unpack_from("<I", buf, pos + 4)[0]
        payload = buf[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length % 2)
        if tag == b"fmt ":
            audio_fmt, ch, rate = struct.unpack_from("<HHI", payload)
            if audio_fmt != 1 or struct.unpack_from("<H", payload, 14)[0] != 16:
                raise ValueError("only PCM-16 supported")
        elif tag == b"data":
            data = payload
    if rate is None or data is None:
        raise ValueError("truncated WAV")
    a = np.frombuffer(data, dtype="<i2")
    if ch and ch > 1:
        a = a.reshape(-1, ch)
    return a, rate


# --- GIF (87a/89a, LZW) ----------------------------------------------------
#
# GIF is kernel-grade like PNG: a palette + LZW, both fully specified and
# implementable in numpy/stdlib. Supported subset (asserted): single frame,
# global color table, interlace supported on decode; the encoder writes
# non-interlaced GIF87a with a power-of-two global table.


def gif_encode(idx: np.ndarray, palette: np.ndarray) -> bytes:
    """(H,W) uint8 palette indices + (P,3) uint8 palette → GIF87a bytes."""
    a = np.asarray(idx, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = a.shape
    p = len(pal)
    if p < 2 or p > 256 or a.max(initial=0) >= p:
        raise ValueError("palette must hold 2..256 entries covering all indices")
    # pad palette to the next power of two >= 2
    bits = max(1, (p - 1).bit_length())
    table = np.zeros((1 << bits, 3), dtype=np.uint8)
    table[:p] = pal
    out = [b"GIF87a", struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0),
           table.tobytes(),
           struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)]
    min_code = max(2, bits)
    out.append(bytes([min_code]))
    out.append(_lzw_encode(a.ravel(), min_code))
    out.append(b"\x00;")
    return b"".join(out)


def _lzw_encode(pixels: np.ndarray, min_code: int) -> bytes:
    """GIF-flavor LZW with sub-block framing."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code, width = end + 1, min_code + 1
    bitbuf = bitlen = 0
    body = bytearray()

    def emit(code: int):
        nonlocal bitbuf, bitlen
        bitbuf |= code << bitlen
        bitlen += width
        while bitlen >= 8:
            body.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitlen -= 8

    emit(clear)
    cur = b""
    for px in pixels.tobytes():
        nxt = cur + bytes([px])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        table[nxt] = next_code
        next_code += 1
        if next_code > (1 << width):
            width += 1
        if next_code >= 4095:  # reset before the 12-bit ceiling
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code, width = end + 1, min_code + 1
        cur = bytes([px])
    if cur:
        emit(table[cur])
    emit(end)
    if bitlen:
        body.append(bitbuf & 0xFF)
    # 255-byte sub-block framing
    out = bytearray()
    for i in range(0, len(body), 255):
        chunk = body[i : i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    return bytes(out)


def _lzw_decode(data: bytes, min_code: int, n_pixels: int) -> np.ndarray:
    clear, end = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code + 1
    bitbuf = bitlen = pos = 0
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code + 1
        prev = None

    reset()
    while len(out) < n_pixels and pos <= len(data):
        while bitlen < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            bitbuf |= data[pos] << bitlen
            bitlen += 8
            pos += 1
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitlen -= width
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < n_pixels:
        raise ValueError("LZW stream ended early")
    return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_decode(buf: bytes) -> np.ndarray:
    """GIF bytes → uint8 RGB array (H,W,3). First frame only; local color
    tables and interlace are handled, later frames/extensions skipped."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
    pos = 13
    global_table = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_table = np.frombuffer(buf, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(buf):
        block = buf[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while buf[pos]:
                pos += 1 + buf[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, iw, ih, ip = struct.unpack_from("<HHHHB", buf, pos)
        pos += 9
        table = global_table
        if ip & 0x80:
            n = 2 << (ip & 0x07)
            table = np.frombuffer(buf, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if table is None:
            raise ValueError("GIF frame has no color table")
        min_code = buf[pos]
        pos += 1
        data = bytearray()
        while buf[pos]:
            ln = buf[pos]
            data.extend(buf[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(data), min_code, iw * ih)
        if ip & 0x40:  # interlaced: rows arrive in 4 passes
            rows = idx.reshape(ih, iw)
            out_rows = np.empty_like(rows)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                n_rows = len(range(start, ih, step))
                out_rows[start::step] = rows[src : src + n_rows]
                src += n_rows
            idx = out_rows.ravel()
        if idx.max(initial=0) >= len(table):
            raise ValueError("palette index out of range")
        return table[idx.reshape(ih, iw)]
    raise ValueError("no image block in GIF")


# --- AVI (RIFF video: uncompressed RGB or MJPEG) ---------------------------
#
# AVI is kernel-grade for two codecs: RIFF chunk framing +
# BITMAPINFOHEADER with raw bottom-up BGR frames ('00db', BI_RGB), or
# MJPEG ('00dc' chunks that are each a whole baseline JPEG — decoded by
# this module's own jpeg codec). Inter-frame codecs (H.264 etc.) stay
# stubbed in operators/multimodal.py.

_MJPG = 0x47504A4D  # 'MJPG' little-endian fourcc in biCompression


def avi_encode(frames: np.ndarray, fps: int = 10, codec: str = "rgb") -> bytes:
    """(N,H,W,3) uint8 RGB frames → AVI bytes. codec='rgb' writes
    uncompressed DIB/BI_RGB; codec='mjpg' writes one baseline JPEG per
    frame (MJPEG)."""
    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim != 4 or a.shape[3] != 3:
        raise ValueError("frames must be (N,H,W,3) uint8")
    if codec not in ("rgb", "mjpg"):
        raise ValueError("codec must be 'rgb' or 'mjpg'")
    n, h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    frame_size = stride * h

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return tag + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) % 2 else b""
        )

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    mjpg = codec == "mjpg"
    avih = struct.pack(
        "<14I", 1_000_000 // fps, frame_size * fps, 0, 0x10, n, 0, 1,
        frame_size, w, h, 0, 0, 0, 0,
    )
    strh = b"vids" + (b"MJPG" if mjpg else b"DIB ") + struct.pack(
        "<10I4H", 0, 0, 0, 1, fps, 0, n, frame_size, 0xFFFFFFFF, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, _MJPG if mjpg else 0,
        frame_size, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))

    rows = []
    pad = b"\x00" * (stride - w * 3)
    for f in range(n):
        if mjpg:
            rows.append(chunk(b"00dc", jpeg_encode(a[f])))
        else:
            bgr = a[f, ::-1, :, ::-1]  # bottom-up rows, RGB→BGR
            rows.append(chunk(b"00db", b"".join(bgr[y].tobytes() + pad for y in range(h))))
    movi = lst(b"movi", b"".join(rows))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_decode(buf: bytes) -> tuple[np.ndarray, float]:
    """AVI bytes → ((N,H,W,3) uint8 RGB frames, fps). Handles BI_RGB
    (uncompressed 24-bit) and MJPEG streams; other codecs raise."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    dims = fps = None
    bitcount = None
    mjpg = False
    frames_raw: list[bytes] = []

    def walk(lo: int, hi: int):
        nonlocal dims, fps, bitcount, mjpg
        pos = lo
        while pos + 8 <= hi:
            tag = buf[pos : pos + 4]
            (length,) = struct.unpack_from("<I", buf, pos + 4)
            data_lo = pos + 8
            data_hi = data_lo + length
            if tag == b"LIST":
                walk(data_lo + 4, data_hi)
            elif tag == b"avih":
                f = struct.unpack_from("<14I", buf, data_lo)
                dims = (f[8], f[9])
            elif tag == b"strh" and buf[data_lo : data_lo + 4] == b"vids":
                scale, rate = struct.unpack_from("<II", buf, data_lo + 20)
                if scale:
                    fps = rate / scale
            elif tag == b"strf" and bitcount is None:
                hdr = struct.unpack_from("<IiiHHI", buf, data_lo)
                bitcount, compression = hdr[4], hdr[5]
                if compression == _MJPG:
                    mjpg = True
                elif compression != 0 or bitcount != 24:
                    raise ValueError(
                        f"only BI_RGB 24-bit or MJPEG AVI supported "
                        f"(compression={compression} bits={bitcount})"
                    )
            elif tag in (b"00db", b"00dc"):
                frames_raw.append(buf[data_lo:data_hi])
            pos = data_hi + (length % 2)

    walk(12, len(buf))
    if dims is None or not frames_raw:
        raise ValueError("truncated AVI (no header or no frames)")
    w, h = dims
    out = np.empty((len(frames_raw), h, w, 3), dtype=np.uint8)
    stride = (w * 3 + 3) & ~3
    for i, raw in enumerate(frames_raw):
        if mjpg:
            img = jpeg_decode(bytes(raw))
            if img.ndim == 2:
                img = np.repeat(img[:, :, None], 3, axis=2)
            if img.shape[:2] != (h, w):
                raise ValueError("MJPEG frame dims disagree with AVI header")
            out[i] = img
        else:
            if len(raw) < stride * h:
                raise ValueError("short AVI frame")
            rows = np.frombuffer(raw, np.uint8, stride * h).reshape(h, stride)
            out[i] = rows[::-1, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    return out, float(fps or 0.0)


# --- JPEG (baseline sequential, huffman + DCT) -----------------------------
#
# Baseline JPEG turned out to be kernel-grade after all: canonical huffman
# tables are read from the stream itself (no Annex K tables needed), the
# 8x8 DCT is one numpy matmul pair, and the rest is marker parsing. The
# encoder writes its own canonical tables (12 DC symbols at 4 bits, all
# 162 AC symbols at 8 bits — valid Kraft, no all-ones code) with 1x1
# sampling (4:4:4), so every decoder can read it. Supported decode subset
# (asserted): baseline sequential (SOF0) AND progressive (SOF2, spectral
# selection + successive approximation per ITU T.81 G.1.2 — multi-scan
# coefficient accumulation with EOB-run and refinement-bit handling),
# 8-bit, 1x1 sampling per component (grayscale or 4:4:4), with
# DRI/restart-marker support in both modes. Subsampled chroma raises
# ValueError. jpeg_encode_progressive emits a 2-scan DC (first + refine)
# + per-component AC (first + refine) scan script so the decoder's
# successive-approximation paths are round-trip-testable in-repo: the
# progressive stream quantizes to the SAME coefficients as jpeg_encode,
# so decode(progressive) == decode(baseline) exactly.

_ZIGZAG = []
for _s in range(15):
    _d = [(r, _s - r) for r in range(max(0, _s - 7), min(8, _s + 1))]
    _ZIGZAG.extend([r * 8 + c for r, c in (_d if _s % 2 else _d[::-1])])
_ZIGZAG = np.array(_ZIGZAG, dtype=np.int64)

_DCT_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT_C[_k, _n] = np.sqrt((1 if _k == 0 else 2) / 8) * np.cos(
            (2 * _n + 1) * _k * np.pi / 16
        )

_FLAT_Q = np.full(64, 16, dtype=np.int64)  # flat table: DC-exact for even fills


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int):
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)


def _huff_spec():
    """(counts, symbols) for the encoder's canonical DC and AC tables."""
    dc_counts = [0] * 16
    dc_counts[3] = 12  # 12 categories, 4-bit codes (max code 1011, no all-ones)
    dc_syms = list(range(12))
    ac_counts = [0] * 16
    ac_syms = [0x00, 0xF0] + [
        (run << 4) | size for run in range(16) for size in range(1, 11)
    ]
    ac_counts[7] = len(ac_syms)  # all 8-bit codes (162 <= 256, max 0xA1)
    return (dc_counts, dc_syms), (ac_counts, ac_syms)


def _canonical_codes(counts, symbols):
    codes, code, i = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return codes


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_block(w: _BitWriter, coefs: np.ndarray, dc_codes, ac_codes, pred: int) -> int:
    zz = coefs[_ZIGZAG]
    diff = int(zz[0]) - pred
    s = _category(diff)
    c, ln = dc_codes[s]
    w.put(c, ln)
    if s:
        w.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, last + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]
            w.put(c, ln)
            run -= 16
        s = _category(v)
        c, ln = ac_codes[(run << 4) | s]
        w.put(c, ln)
        w.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        c, ln = ac_codes[0x00]
        w.put(c, ln)
    return int(zz[0])


def jpeg_encode(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H,W) grayscale or (H,W,3) RGB → baseline JPEG (4:4:4, own
    canonical huffman tables, flat quant table by default; DRI + RSTn
    markers every ``restart_interval`` MCUs when set)."""
    a = np.asarray(img, dtype=np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    q = (_FLAT_Q if qtable is None else np.asarray(qtable, dtype=np.int64)).ravel()
    if gray:
        comps = [a.astype(np.float64)]
    else:
        r, g, b = (a[:, :, i].astype(np.float64) for i in range(3))
        comps = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    ph, pw = (h + 7) & ~7, (w + 7) & ~7
    comps = [np.pad(c, ((0, ph - h), (0, pw - w)), mode="edge") for c in comps]

    (dc_counts, dc_syms), (ac_counts, ac_syms) = _huff_spec()
    dc_codes = _canonical_codes(dc_counts, dc_syms)
    ac_codes = _canonical_codes(ac_counts, ac_syms)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = [b"\xff\xd8", seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")]
    out.append(seg(0xFFDB, b"\x00" + bytes(int(x) for x in q[_ZIGZAG])))
    n_comp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, n_comp)  # true dims; decoders crop
    for cid in range(1, n_comp + 1):
        sof += bytes([cid, 0x11, 0])
    out.append(seg(0xFFC0, sof))
    out.append(seg(0xFFC4, b"\x00" + bytes(dc_counts) + bytes(dc_syms)))
    out.append(seg(0xFFC4, b"\x10" + bytes(ac_counts) + bytes(ac_syms)))
    if restart_interval:
        out.append(seg(0xFFDD, struct.pack(">H", restart_interval)))
    sos = bytes([n_comp]) + b"".join(bytes([cid, 0x00]) for cid in range(1, n_comp + 1))
    out.append(seg(0xFFDA, sos + b"\x00\x3f\x00"))

    wtr = _BitWriter()
    preds = [0] * n_comp
    qmat = q.reshape(8, 8).astype(np.float64)
    mcus_done = rst = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            if restart_interval and mcus_done == restart_interval:
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * n_comp
                mcus_done = 0
            for ci, comp in enumerate(comps):
                block = comp[by : by + 8, bx : bx + 8] - 128.0
                f = _DCT_C @ block @ _DCT_C.T
                coefs = np.round(f / qmat).astype(np.int64).ravel()
                preds[ci] = _encode_block(wtr, coefs, dc_codes, ac_codes, preds[ci])
            mcus_done += 1
    wtr.flush()
    out.append(bytes(wtr.out))
    out.append(b"\xff\xd9")
    return b"".join(out)


def _huff_spec_ac_progressive():
    """(counts, symbols) for the progressive encoder's AC table: the 162
    baseline run/size symbols plus the EOBn symbols (r<<4, r=0..14) that
    progressive EOB-run coding needs — 176 symbols, all 8-bit codes
    (Kraft 176/256 < 1, max code 0xAF, no all-ones)."""
    ac_counts = [0] * 16
    ac_syms = [r << 4 for r in range(16)] + [
        (run << 4) | size for run in range(16) for size in range(1, 11)
    ]
    ac_counts[7] = len(ac_syms)
    return ac_counts, ac_syms


def _put_category(w: _BitWriter, codes, v: int, run: int = 0):
    """Emit the (run<<4|size) huffman symbol + mantissa bits for value v."""
    s = _category(v)
    c, ln = codes[(run << 4) | s]
    w.put(c, ln)
    if s:
        w.put(v if v > 0 else v + (1 << s) - 1, s)


def jpeg_encode_progressive(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
    refine: bool = True,
) -> bytes:
    """uint8 (H,W) grayscale or (H,W,3) RGB → progressive JPEG (SOF2,
    4:4:4). Scan script: interleaved DC first (Al=1) + DC refinement, then
    per-component AC spectral scans (Ss=1..63) — split into an Al=1 first
    scan plus an Ah=1/Al=0 refinement scan when ``refine`` (exercising the
    full successive-approximation wire format, T.81 G.1.2.2/G.1.2.3), or a
    single Al=0 spectral-selection-only scan otherwise. Quantized
    coefficients are computed with the exact same math as ``jpeg_encode``,
    so decoding this stream yields byte-identical pixels to decoding the
    baseline stream."""
    a = np.asarray(img, dtype=np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    q = (_FLAT_Q if qtable is None else np.asarray(qtable, dtype=np.int64)).ravel()
    if gray:
        comps = [a.astype(np.float64)]
    else:
        r, g, b = (a[:, :, i].astype(np.float64) for i in range(3))
        comps = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    ph, pw = (h + 7) & ~7, (w + 7) & ~7
    comps = [np.pad(c, ((0, ph - h), (0, pw - w)), mode="edge") for c in comps]
    n_comp = len(comps)
    nby, nbx = ph // 8, pw // 8
    qmat = q.reshape(8, 8).astype(np.float64)
    # quantized coefficient store, zigzag order — per-block matmul kept
    # IDENTICAL to jpeg_encode so both encoders quantize to the same ints
    zz = [np.empty((nby, nbx, 64), dtype=np.int64) for _ in comps]
    for ci, comp in enumerate(comps):
        for iby in range(nby):
            for ibx in range(nbx):
                block = comp[iby * 8 : iby * 8 + 8, ibx * 8 : ibx * 8 + 8] - 128.0
                f = _DCT_C @ block @ _DCT_C.T
                zz[ci][iby, ibx] = np.round(f / qmat).astype(np.int64).ravel()[
                    _ZIGZAG
                ]

    (dc_counts, dc_syms), _ = _huff_spec()
    ac_counts, ac_syms = _huff_spec_ac_progressive()
    dc_codes = _canonical_codes(dc_counts, dc_syms)
    ac_codes = _canonical_codes(ac_counts, ac_syms)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = [b"\xff\xd8", seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")]
    out.append(seg(0xFFDB, b"\x00" + bytes(int(x) for x in q[_ZIGZAG])))
    sof = struct.pack(">BHHB", 8, h, w, n_comp)
    for cid in range(1, n_comp + 1):
        sof += bytes([cid, 0x11, 0])
    out.append(seg(0xFFC2, sof))
    out.append(seg(0xFFC4, b"\x00" + bytes(dc_counts) + bytes(dc_syms)))
    out.append(seg(0xFFC4, b"\x10" + bytes(ac_counts) + bytes(ac_syms)))
    if restart_interval:
        out.append(seg(0xFFDD, struct.pack(">H", restart_interval)))

    def sos(cids: list, ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(cids)])
        body += b"".join(bytes([cid, 0x00]) for cid in cids)
        return seg(0xFFDA, body + bytes([ss, se, (ah << 4) | al]))

    dc_al = 1 if refine else 0
    ac_al = 1 if refine else 0

    class _ScanWriter:
        """_BitWriter + per-scan restart-marker bookkeeping."""

        def __init__(self):
            self.w = _BitWriter()
            self.mcus = 0
            self.rst = 0

        def restart_boundary(self) -> bool:
            if restart_interval and self.mcus == restart_interval:
                self.w.flush()
                self.w.out += bytes([0xFF, 0xD0 + self.rst])
                self.rst = (self.rst + 1) % 8
                self.mcus = 0
                return True
            return False

        def finish(self) -> bytes:
            self.w.flush()
            return bytes(self.w.out)

    # --- scan 1: DC first, interleaved, point transform Al=dc_al ---
    sw = _ScanWriter()
    preds = [0] * n_comp
    for iby in range(nby):
        for ibx in range(nbx):
            if sw.restart_boundary():
                preds = [0] * n_comp
            for ci in range(n_comp):
                v = int(zz[ci][iby, ibx, 0]) >> dc_al  # arithmetic shift
                _put_category(sw.w, dc_codes, v - preds[ci])
                preds[ci] = v
            sw.mcus += 1
    out.append(sos(list(range(1, n_comp + 1)), 0, 0, 0, dc_al))
    out.append(sw.finish())

    # --- scan 2: DC refinement (one raw bit per block), Ah=dc_al, Al=0 ---
    if refine:
        sw = _ScanWriter()
        for iby in range(nby):
            for ibx in range(nbx):
                sw.restart_boundary()
                for ci in range(n_comp):
                    sw.w.put(int(zz[ci][iby, ibx, 0]) & 1, 1)
                sw.mcus += 1
        out.append(sos(list(range(1, n_comp + 1)), 0, 0, dc_al, 0))
        out.append(sw.finish())

    # --- AC scans: one component per scan (progressive AC scans are
    # non-interleaved by spec) ---
    for ci in range(n_comp):
        blocks = zz[ci]

        # AC first scan: code sign-magnitude-shifted coefficients with
        # EOB-run accumulation (T.81 G.1.2.2)
        sw = _ScanWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                rb = eobrun.bit_length() - 1
                c, ln = ac_codes[rb << 4]
                sw.w.put(c, ln)
                if rb:
                    sw.w.put(eobrun - (1 << rb), rb)
                eobrun = 0

        for iby in range(nby):
            for ibx in range(nbx):
                if restart_interval and sw.mcus == restart_interval:
                    flush_eob()
                    sw.restart_boundary()
                band = blocks[iby, ibx]
                vals = [0] * 64
                last = 0
                for k in range(1, 64):
                    v = int(band[k])
                    if v:
                        vals[k] = (abs(v) >> ac_al) * (1 if v > 0 else -1)
                        if vals[k]:
                            last = k
                sw.mcus += 1
                if last == 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                for k in range(1, last + 1):
                    v = vals[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        c, ln = ac_codes[0xF0]
                        sw.w.put(c, ln)
                        run -= 16
                    _put_category(sw.w, ac_codes, v, run)
                    run = 0
                if last < 63:
                    eobrun = 1
        flush_eob()
        out.append(sos([ci + 1], 1, 63, 0, ac_al))
        out.append(sw.finish())

        # AC refinement scan (T.81 G.1.2.3 / libjpeg encode_mcu_AC_refine):
        # correction bit per already-nonzero coefficient, ±1 for newly
        # nonzero ones, EOB runs carry their blocks' buffered correction bits
        if refine:
            sw = _ScanWriter()
            eobrun = 0
            pend: list[int] = []  # correction bits buffered across an EOB run

            def flush_eob_refine():
                nonlocal eobrun, pend
                if eobrun:
                    rb = eobrun.bit_length() - 1
                    c, ln = ac_codes[rb << 4]
                    sw.w.put(c, ln)
                    if rb:
                        sw.w.put(eobrun - (1 << rb), rb)
                    for bit in pend:
                        sw.w.put(bit, 1)
                    pend = []
                    eobrun = 0

            for iby in range(nby):
                for ibx in range(nbx):
                    if restart_interval and sw.mcus == restart_interval:
                        flush_eob_refine()
                        sw.restart_boundary()
                    band = blocks[iby, ibx]
                    sw.mcus += 1
                    temp = [abs(int(band[k])) >> 0 for k in range(64)]
                    # magnitudes at this scan's precision (Al=0); history
                    # (what prior scans sent) is temp >> 1
                    eob = 0
                    for k in range(1, 64):
                        if temp[k] == 1:
                            eob = k
                    run = 0
                    br: list[int] = []  # this block's pending correction bits
                    for k in range(1, 64):
                        t = temp[k]
                        if t == 0:
                            run += 1
                            continue
                        while run > 15 and k <= eob:
                            flush_eob_refine()
                            c, ln = ac_codes[0xF0]
                            sw.w.put(c, ln)
                            run -= 16
                            for bit in br:
                                sw.w.put(bit, 1)
                            br = []
                        if t > 1:
                            br.append(t & 1)
                            continue
                        # t == 1: newly nonzero at this precision
                        flush_eob_refine()
                        c, ln = ac_codes[(run << 4) | 1]
                        sw.w.put(c, ln)
                        sw.w.put(1 if int(band[k]) > 0 else 0, 1)
                        for bit in br:
                            sw.w.put(bit, 1)
                        br = []
                        run = 0
                    if run > 0 or br:
                        eobrun += 1
                        pend.extend(br)
                        if eobrun == 0x7FFF:
                            flush_eob_refine()
            flush_eob_refine()
            out.append(sos([ci + 1], 1, 63, 1, 0))
            out.append(sw.finish())

    out.append(b"\xff\xd9")
    return b"".join(out)


class _BitReader:
    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError(f"marker 0x{nxt:02x} inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def skip_restart(self):
        self.acc = self.nbits = 0
        while self.buf[self.pos] != 0xFF or not (0xD0 <= self.buf[self.pos + 1] <= 0xD7):
            self.pos += 1
        self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker):
        self.marker = marker


class _HuffTable:
    """Decode table: 256-entry first level for codes ≤ 8 bits (one peek +
    one drop — covers every code this module's encoder emits and the vast
    majority of standard-table codes), (code,length) dict fallback for
    longer codes."""

    def __init__(self, codes: dict):
        self.by_code = {(c, ln): s for s, (c, ln) in codes.items()}
        self.fast = [None] * 256
        for s, (c, ln) in codes.items():
            if ln <= 8:
                base = c << (8 - ln)
                for suffix in range(1 << (8 - ln)):
                    self.fast[base | suffix] = (s, ln)


def _huff_read(rd: _BitReader, table: _HuffTable) -> int:
    if rd.nbits >= 8 or rd.pos < len(rd.buf):
        try:
            while rd.nbits < 8:
                rd._fill()
            hit = table.fast[(rd.acc >> (rd.nbits - 8)) & 0xFF]
            if hit is not None:
                sym, ln = hit
                rd.nbits -= ln
                rd.acc &= (1 << rd.nbits) - 1
                return sym
        except (_RestartMarker, ValueError):
            # marker inside a <8-bit tail: the final code(s) of an interval
            # can fit wholly in the buffered bits, so fall through to the
            # bit-by-bit path; if the code truly straddles the marker,
            # rd.bits() re-raises _RestartMarker at the right moment (the
            # reader leaves the marker unconsumed, so raising is repeatable)
            pass
    code, length = 0, 0
    by_code = table.by_code
    while length < 17:
        code = (code << 1) | rd.bits(1)
        length += 1
        sym = by_code.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("bad huffman code")


def _extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def _prog_ac_first(rd, ac, blk, ss, se, al, eobrun):
    """Progressive AC first scan for one block (T.81 G.1.2.2). ``blk`` is
    the block's zigzag-order int64 coefficient view; returns the updated
    EOB-run counter (count includes the block that started the run)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _huff_read(rd, ac)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r != 15:
                eobrun = (1 << r) - 1  # this block ends now; run covers r more
                if r:
                    eobrun += rd.bits(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC index overrun in progressive scan")
        blk[k] = _extend(rd.bits(s), s) << al
        k += 1
    return eobrun


def _prog_ac_refine(rd, ac, blk, ss, se, al, eobrun):
    """Progressive AC refinement scan for one block (T.81 G.1.2.3):
    correction bit per already-nonzero coefficient, ±1<<al for newly
    nonzero ones, EOB runs carrying buffered correction bits."""
    p1, m1 = 1 << al, -1 << al

    def correct(k):
        c = int(blk[k])
        if rd.bits(1) and (c & p1) == 0:
            blk[k] = c + (p1 if c >= 0 else m1)

    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _huff_read(rd, ac)
            r, s = sym >> 4, sym & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r  # includes this block; decremented below
                    if r:
                        eobrun += rd.bits(r)
                    break
                # r == 15: ZRL — skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad refinement symbol")
                val = p1 if rd.bits(1) else m1
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_finish(planes: list, ih: int, iw: int) -> np.ndarray:
    """Crop + level-shift + (YCbCr→RGB when 3 planes) + round/clip —
    shared by the baseline and progressive decode paths so both produce
    bit-identical pixels from identical coefficients."""
    planes = [p[:ih, :iw] + 128.0 for p in planes]
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def _prog_reconstruct(stores, comps, qtables, dims) -> np.ndarray:
    """Dequantize + IDCT the accumulated progressive coefficient store.
    Per-block matmul identical to the baseline scan path."""
    ih, iw = dims
    ph, pw = (ih + 7) & ~7, (iw + 7) & ~7
    planes = []
    for ci, c in enumerate(comps):
        qt = qtables[c["tq"]]
        plane = np.zeros((ph, pw), dtype=np.float64)
        store = stores[ci]
        for by in range(store.shape[0]):
            for bx in range(store.shape[1]):
                coefs = np.zeros(64, dtype=np.int64)
                coefs[_ZIGZAG] = store[by, bx]
                f = coefs.reshape(8, 8) * qt
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _DCT_C.T @ f @ _DCT_C
                )
        planes.append(plane)
    return _jpeg_finish(planes, ih, iw)


def jpeg_decode(buf: bytes) -> np.ndarray:
    """JPEG bytes → uint8 (H,W) grayscale or (H,W,3) RGB.
    Subset: baseline (SOF0) and progressive (SOF2, spectral selection +
    successive approximation), 8-bit, 1x1 sampling (grayscale / 4:4:4);
    DRI honored in both modes."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    comps = None
    dims = None
    restart_interval = 0
    progressive = False
    stores = None  # progressive: per-component zigzag coefficient arrays
    scans_done = 0
    while pos < len(buf):
        if buf[pos] != 0xFF:
            pos += 1
            continue
        # JPEG allows any number of 0xFF fill bytes before a marker (B.1.1.2)
        while pos + 1 < len(buf) and buf[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(buf):
            break
        marker = buf[pos + 1]
        if marker in (0xD8, 0x01, 0x00) or 0xD0 <= marker <= 0xD7:
            # 0x00 = stuffed-byte tail left unread by a progressive scan
            pos += 2
            continue
        if marker == 0xD9:
            if progressive and scans_done:
                return _prog_reconstruct(stores, comps, qtables, dims)
            break
        (length,) = struct.unpack_from(">H", buf, pos + 2)
        body = buf[pos + 4 : pos + 2 + length]
        if marker == 0xDB:
            bpos = 0
            while bpos < len(body):
                pq, tq = body[bpos] >> 4, body[bpos] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                t = np.frombuffer(body, np.uint8, 64, bpos + 1).astype(np.int64)
                un = np.empty(64, dtype=np.int64)
                un[_ZIGZAG] = t
                qtables[tq] = un.reshape(8, 8)
                bpos += 65
        elif marker == 0xC4:
            bpos = 0
            while bpos < len(body):
                tc, th = body[bpos] >> 4, body[bpos] & 0x0F
                counts = list(body[bpos + 1 : bpos + 17])
                n = sum(counts)
                syms = list(body[bpos + 17 : bpos + 17 + n])
                codes = _canonical_codes(counts, syms)
                htables[(tc, th)] = _HuffTable(codes)
                bpos += 17 + n
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            _prec, ih, iw, nf = struct.unpack_from(">BHHB", body, 0)
            dims = (ih, iw)
            comps = []
            for i in range(nf):
                cid, samp, tq = body[6 + i * 3 : 9 + i * 3]
                if samp != 0x11:
                    raise ValueError("only 1x1 sampling (gray/4:4:4) supported")
                comps.append({"id": cid, "tq": tq})
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("only SOF0 (baseline) / SOF2 (progressive) supported")
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:
            ns = body[0]
            if progressive:
                scomps = []
                for i in range(ns):
                    cid, tt = body[1 + i * 2 : 3 + i * 2]
                    for idx, c in enumerate(comps):
                        if c["id"] == cid:
                            scomps.append((idx, tt >> 4, tt & 0x0F))
                ss, se, ahal = body[1 + ns * 2 : 4 + ns * 2]
                ah, al = ahal >> 4, ahal & 0x0F
                ih, iw = dims
                nby, nbx = ((ih + 7) & ~7) // 8, ((iw + 7) & ~7) // 8
                if stores is None:
                    stores = [np.zeros((nby, nbx, 64), np.int64) for _ in comps]
                rd = _BitReader(buf, pos + 2 + length)
                try:
                    if ss == 0:
                        if se != 0:
                            raise ValueError("bad progressive DC scan header")
                        preds = [0] * len(scomps)
                        mcus = 0
                        for by in range(nby):
                            for bx in range(nbx):
                                if restart_interval and mcus == restart_interval:
                                    rd.skip_restart()
                                    preds = [0] * len(scomps)
                                    mcus = 0
                                for si, (ci, td, _ta) in enumerate(scomps):
                                    blk = stores[ci][by, bx]
                                    if ah == 0:
                                        s = _huff_read(rd, htables[(0, td)])
                                        d = _extend(rd.bits(s), s) if s else 0
                                        preds[si] += d
                                        blk[0] = preds[si] << al
                                    else:
                                        blk[0] = int(blk[0]) | (rd.bits(1) << al)
                                mcus += 1
                    else:
                        if len(scomps) != 1 or se > 63 or ss > se:
                            raise ValueError("bad progressive AC scan header")
                        ci, _td, ta = scomps[0]
                        ac = htables[(1, ta)]
                        store = stores[ci]
                        eobrun = mcus = 0
                        for by in range(nby):
                            for bx in range(nbx):
                                if restart_interval and mcus == restart_interval:
                                    rd.skip_restart()
                                    eobrun = mcus = 0
                                blk = store[by, bx]
                                if ah == 0:
                                    eobrun = _prog_ac_first(
                                        rd, ac, blk, ss, se, al, eobrun
                                    )
                                else:
                                    eobrun = _prog_ac_refine(
                                        rd, ac, blk, ss, se, al, eobrun
                                    )
                                mcus += 1
                except _RestartMarker:
                    raise ValueError("restart marker misaligned with DRI")
                scans_done += 1
                pos = rd.pos
                continue
            for i in range(ns):
                cid, tt = body[1 + i * 2 : 3 + i * 2]
                for c in comps:
                    if c["id"] == cid:
                        c["td"], c["ta"] = tt >> 4, tt & 0x0F
            pos = pos + 2 + length
            ih, iw = dims
            ph, pw = (ih + 7) & ~7, (iw + 7) & ~7
            planes = [np.zeros((ph, pw), dtype=np.float64) for _ in comps]
            rd = _BitReader(buf, pos)
            preds = [0] * len(comps)
            mcus_done = 0
            for by in range(0, ph, 8):
                for bx in range(0, pw, 8):
                    if restart_interval and mcus_done == restart_interval:
                        rd.skip_restart()
                        preds = [0] * len(comps)
                        mcus_done = 0
                    try:
                        for ci, c in enumerate(comps):
                            zz = np.zeros(64, dtype=np.int64)
                            s = _huff_read(rd, htables[(0, c["td"])])
                            d = _extend(rd.bits(s), s) if s else 0
                            preds[ci] += d
                            zz[0] = preds[ci]
                            k = 1
                            while k < 64:
                                sym = _huff_read(rd, htables[(1, c["ta"])])
                                if sym == 0x00:
                                    break
                                if sym == 0xF0:
                                    k += 16
                                    continue
                                k += sym >> 4
                                size = sym & 0x0F
                                if k > 63:
                                    raise ValueError("AC index overrun")
                                zz[k] = _extend(rd.bits(size), size)
                                k += 1
                            coefs = np.zeros(64, dtype=np.int64)
                            coefs[_ZIGZAG] = zz
                            f = coefs.reshape(8, 8) * qtables[c["tq"]]
                            planes[ci][by : by + 8, bx : bx + 8] = (
                                _DCT_C.T @ f @ _DCT_C
                            )
                    except _RestartMarker:
                        raise ValueError("restart marker misaligned with DRI")
                    mcus_done += 1
            return _jpeg_finish(planes, ih, iw)
        pos = pos + 2 + length
    if progressive and scans_done:
        # conforming streams end with EOI, but decode what accumulated
        return _prog_reconstruct(stores, comps, qtables, dims)
    raise ValueError("truncated JPEG (no scan)")
