"""Pure-Python image codecs — the sandbox decode layer behind
:mod:`openmldb_spark.pipeline.multimodal` (split out at the house
<=900-line module bar; the public surface stays on ``multimodal``).

Everything here is stdlib+numpy with NO optional-library dependency:
uncompressed BMP, 8-bit PNG and baseline JPEG decode to real pixels
(the correctness ORACLE of the production-codec contract — see
``multimodal.JPEG_ORACLE_BUDGET_PER_TASK``). PIL-aware routing (which path a
payload takes when the production codec is importable) lives in
``multimodal``, not here.
"""

from __future__ import annotations

import hashlib

def _decode_image_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB decoder — deterministic fake. Derives (width, height, 8-dim
    feature) from a sha1 of the payload, so tests are reproducible.

    Raises NotImplementedError for empty payloads (a real decoder would too).
    """
    if not payload:
        raise NotImplementedError("empty payload: real decoder required")
    h = hashlib.sha1(payload).digest()
    width = 64 + h[0]
    height = 64 + h[1]
    feat = [b / 255.0 for b in h[2:10]]
    return width, height, feat


def _bmp_rgb(payload: bytes):
    """REAL decoder for uncompressed 24/32-bpp BMP — pure numpy, no image
    libs. Parses BITMAPFILEHEADER + BITMAPINFOHEADER, reads the padded
    bottom-up (or top-down) pixel raster, and returns HxWx3 uint8 RGB.

    Raises OSError on malformed/unsupported BMPs (same contract as a real
    codec: the caller nulls the decode columns).
    """
    import struct

    import numpy as np

    if len(payload) < 54:
        raise OSError("truncated BMP header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise OSError("bad BMP dimensions")
    if bpp not in (24, 32) or compression != 0:
        raise OSError(f"unsupported BMP ({bpp}bpp, compression={compression})")
    nch = bpp // 8
    stride = (bpp * width + 31) // 32 * 4  # rows pad to 4 bytes
    need = data_offset + stride * height
    if len(payload) < need:
        raise OSError("truncated BMP raster")
    raster = np.frombuffer(payload, np.uint8, stride * height, data_offset)
    rows = raster.reshape(height, stride)[:, : width * nch].reshape(
        height, width, nch
    )
    if not top_down:
        rows = rows[::-1]
    # BMP stores BGR(A): channels [2,1,0] -> RGB (alpha dropped)
    return np.ascontiguousarray(rows[:, :, 2::-1])


def _decode_bmp(payload: bytes) -> tuple[int, int, list[float]]:
    rgb = _bmp_rgb(payload)
    h, w = rgb.shape[:2]
    return w, h, _gray_features(_luma(rgb))


def _luma(rgb) -> "object":
    """ITU-R 601 luma of an HxWx3 uint8 array, scaled to [0, 1]."""
    return (
        0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    ) / 255.0


def _gray_features(gray) -> list[float]:
    """8-dim feature from a [0,1] grayscale array: 2x2 thumbnail =
    quadrant means (left/right, top/bottom halves; odd dims put the middle
    row/col in the second half, like a box filter) + mean/max/min/range —
    the shared output of every real decode path (BMP, PNG, PIL)."""
    height, width = gray.shape
    hs, ws = height // 2, width // 2
    quads = [
        gray[:hs or 1, :ws or 1],
        gray[:hs or 1, ws:],
        gray[hs:, :ws or 1],
        gray[hs:, ws:],
    ]
    px = [float(q.mean()) for q in quads]
    mean = sum(px) / 4.0
    return px + [mean, max(px), min(px), max(px) - min(px)]


def _png_rgb(payload: bytes):
    """REAL decoder for 8-bit non-interlaced PNG — stdlib zlib + numpy,
    no image libs. Walks the chunk stream (IHDR/PLTE/IDAT), inflates the
    raster, unfilters each scanline per the PNG spec (filters 0-4), and
    returns HxWx3 uint8 RGB. Covers color types 0 (gray), 2 (RGB), 3
    (palette), 4 (gray+alpha), 6 (RGBA) at bit depth 8 — the
    overwhelmingly common cases; 1/2/4/16-bit depths and interlaced
    images raise OSError (the caller nulls the decode columns), same
    contract as a real codec. Reference behavior parity: the reference has
    no image ops — this is the LLM-pipeline multimodal surface."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise OSError("not a PNG signature")
    pos = 8
    width = height = None
    color_type = bit_depth = interlace = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise OSError("truncated PNG chunk")
        pos += 12 + length  # length + tag + data + crc
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif tag == b"PLTE":
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise OSError("missing IHDR/IDAT")
    if width == 0 or height == 0:
        raise OSError("bad PNG dimensions")
    if bit_depth != 8 or interlace != 0:
        raise OSError(
            f"unsupported PNG (bit_depth={bit_depth}, interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise OSError(f"unsupported PNG color type {color_type}")
    if color_type == 3 and palette is None:
        raise OSError("palette PNG without PLTE")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise OSError(f"bad PNG zlib stream: {e}") from None
    stride = width * channels
    if len(raw) < (stride + 1) * height:
        raise OSError("truncated PNG raster")

    out = np.zeros((height, stride), dtype=np.uint8)
    zero = np.zeros(stride, dtype=np.int32)
    p = 0
    for y in range(height):
        ft = raw[p]
        p += 1
        line = np.frombuffer(raw, np.uint8, stride, p).astype(np.int32)
        p += stride
        prev = out[y - 1].astype(np.int32) if y else zero
        if ft == 0:  # None
            cur = line
        elif ft == 2:  # Up — vectorized (no left-neighbor dependency)
            cur = (line + prev) & 0xFF
        elif ft == 1:  # Sub — a per-channel prefix sum: vectorized cumsum
            cur = np.empty(stride, dtype=np.int32)
            for c in range(channels):
                cur[c::channels] = np.cumsum(line[c::channels]) & 0xFF
        elif ft in (3, 4):  # Average / Paeth: sequential in x
            cur = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                if ft == 3:
                    v = line[x] + ((a + prev[x]) >> 1)
                else:
                    b = prev[x]
                    c = prev[x - channels] if x >= channels else 0
                    pp = a + b - c
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = line[x] + pr
                cur[x] = v & 0xFF
        else:
            raise OSError(f"bad PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)

    px = out.reshape(height, width, channels)
    if color_type == 3:
        return np.ascontiguousarray(palette[px[:, :, 0]])
    if channels >= 3:  # RGB / RGBA (alpha dropped)
        return np.ascontiguousarray(px[:, :, :3])
    # gray / gray+alpha: replicate the luma channel (luma of (g,g,g) = g)
    return np.repeat(px[:, :, :1], 3, axis=2)


def _decode_png(payload: bytes) -> tuple[int, int, list[float]]:
    rgb = _png_rgb(payload)
    h, w = rgb.shape[:2]
    return w, h, _gray_features(_luma(rgb))


def _jpeg_gray(payload: bytes):
    """REAL decoder for baseline (SOF0/SOF1) sequential Huffman JPEG —
    pure stdlib+numpy, no image libs. Parses DQT/DHT/SOF/DRI/SOS, entropy-
    decodes every component's blocks (the interleaved MCU stream must be
    walked to stay in sync), but reconstructs ONLY the Y channel: the
    8-dim feature is grayscale stats, and JFIF luma IS the 0.299R+0.587G+
    0.114B gray the other decode paths compute — chroma upsampling and
    color conversion would be discarded work. Dequantize + zigzag + one
    vectorized 8x8 IDCT (precomputed DCT-III basis) per block.

    Progressive (SOF2), arithmetic-coded, lossless, and 12-bit JPEGs
    raise OSError (the caller nulls the decode columns) — the same
    library-grade contract as the BMP/PNG paths.
    """
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise OSError("not a JPEG signature")
    pos = 2
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], tuple] = {}  # (class, id) -> (maxcode tables)
    frame = None  # (h, w, comps) comps: [(cid, hsamp, vsamp, tq)]
    restart_interval = 0
    scan = None

    def build_huff(bits, vals):
        # canonical Huffman: per-length first code; decode via (length,
        # code) lookup dict — fast enough per image, no table explosion
        code = 0
        lut = {}
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                lut[(ln, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1
        return lut

    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise OSError("bad JPEG marker stream")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(seg, np.uint8, 64, i).astype(np.int32)
                    i += 64
                else:
                    tbl = np.frombuffer(seg, ">u2", 64, i).astype(np.int32)
                    i += 128
                qt[tq] = tbl
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                cnt = sum(bits)
                vals = list(seg[i + 17 : i + 17 + cnt])
                huff[(tc, th)] = build_huff(bits, vals)
                i += 17 + cnt
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline
            prec, h, w, nc = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8:
                raise OSError(f"unsupported JPEG precision {prec}")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise OSError(f"unsupported JPEG frame type 0x{marker:02x}")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan = [(seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 0xF)
                    for c in range(ns)]
            pos += seglen
            break
        pos += seglen
    if frame is None or scan is None:
        raise OSError("missing SOF/SOS")
    h, w, comps = frame
    if h == 0 or w == 0:
        raise OSError("bad JPEG dimensions")
    if len(scan) != len(comps):
        # non-interleaved multi-scan baseline: legal but rare — the
        # single-SOS walk below would leave later components undecoded
        raise OSError("non-interleaved multi-scan JPEG is not supported")

    # entropy-coded data: up to the next non-RST marker
    data = payload[pos:]

    class Bits:
        __slots__ = ("d", "i", "b", "nb")

        def __init__(self, d):
            self.d, self.i, self.b, self.nb = d, 0, 0, 0

        def _fill(self):
            while self.nb <= 24:
                if self.i >= len(self.d):
                    self.b = (self.b << 8) | 0
                    self.nb += 8
                    continue
                byte = self.d[self.i]
                self.i += 1
                if byte == 0xFF:
                    nxt = self.d[self.i] if self.i < len(self.d) else 0
                    if nxt == 0x00:
                        self.i += 1
                    else:
                        # a real marker: stop feeding here (pad with
                        # zeros), leave self.i AT the 0xFF so
                        # align_restart can find the RST marker
                        self.i -= 1
                        self.b = (self.b << 8) | 0
                        self.nb += 8
                        continue
                self.b = (self.b << 8) | byte
                self.nb += 8

        def get(self, k):
            if k == 0:
                return 0
            self._fill()
            v = (self.b >> (self.nb - k)) & ((1 << k) - 1)
            self.nb -= k
            self.b &= (1 << self.nb) - 1
            return v

        def align_restart(self):
            # drop to byte boundary and skip the RST marker
            self.nb -= self.nb % 8
            self.b &= (1 << self.nb) - 1 if self.nb else 0
            # locate the RST in the underlying stream: it was treated as
            # end-of-feed by _fill, so restart scanning from the marker.
            # A 0xFF whose next byte is 0x00 is a STUFFED data byte (the
            # pre-RST padding can legally end on 0xFF) — skip the pair and
            # keep scanning, else decode resumes mid-padding (ADVICE r8);
            # FF FF is a fill byte before the marker id.
            while self.i < len(self.d):
                if self.d[self.i] != 0xFF:
                    self.i += 1
                    continue
                nxt = self.d[self.i + 1] if self.i + 1 < len(self.d) else None
                if nxt == 0x00:
                    self.i += 2
                    continue
                if nxt == 0xFF:
                    self.i += 1
                    continue
                break
            if self.i + 1 < len(self.d) and 0xD0 <= self.d[self.i + 1] <= 0xD7:
                self.i += 2
            self.b, self.nb = 0, 0

    def huff_decode(bits, lut):
        code, ln = 0, 0
        for _ in range(16):
            code = (code << 1) | bits.get(1)
            ln += 1
            v = lut.get((ln, code))
            if v is not None:
                return v
        raise OSError("bad JPEG huffman code")

    def extend(v, t):
        return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v

    ZIGZAG = np.array([
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ])
    # DCT-III (inverse DCT) basis, orthonormal
    k = np.arange(8)
    A = np.cos((2 * k[:, None] + 1) * k[None, :] * np.pi / 16)
    A[:, 0] *= 1 / np.sqrt(2)
    A *= 0.5

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # Y plane buffer (first scan component = luma by JFIF convention)
    y_cid, y_dc, y_ac = scan[0]
    y_comp = next(c for c in comps if c[0] == y_cid)
    _, yh, yv, ytq = y_comp
    ydat = np.zeros((mcuy * yv * 8, mcux * yh * 8), dtype=np.float64)

    bits = Bits(data)
    pred = {cid: 0 for cid, _, _ in scan}
    comp_by_id = {c[0]: c for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bits.align_restart()
                pred = {cid: 0 for cid, _, _ in scan}
            mcu_count += 1
            for cid, dc_t, ac_t in scan:
                _, hs, vs, tq = comp_by_id[cid]
                q = qt.get(tq)
                if q is None:
                    raise OSError("missing JPEG quant table")
                dlut, alut = huff.get((0, dc_t)), huff.get((1, ac_t))
                if dlut is None or alut is None:
                    raise OSError("missing JPEG huffman table")
                for by in range(vs):
                    for bx in range(hs):
                        coef = np.zeros(64, dtype=np.int32)
                        t = huff_decode(bits, dlut)
                        diff = extend(bits.get(t), t)
                        pred[cid] += diff
                        coef[0] = pred[cid]
                        ki = 1
                        while ki < 64:
                            rs = huff_decode(bits, alut)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    ki += 16
                                    continue
                                break  # EOB
                            ki += r
                            if ki > 63:
                                raise OSError("JPEG AC run overflow")
                            coef[ki] = extend(bits.get(s), s)
                            ki += 1
                        if cid != y_cid:
                            continue  # chroma: bitstream walked, pixels unused
                        blk = np.zeros(64, dtype=np.float64)
                        blk[ZIGZAG] = coef * q
                        # f = M F M^T with M[x,u] = C(u)/2 cos((2x+1)uπ/16)
                        px = A @ blk.reshape(8, 8) @ A.T + 128.0
                        oy = (my * yv + by) * 8
                        ox = (mx * yh + bx) * 8
                        ydat[oy : oy + 8, ox : ox + 8] = px
    return np.clip(ydat[:h, :w], 0.0, 255.0) / 255.0


def _decode_jpeg(payload: bytes) -> tuple[int, int, list[float]]:
    gray = _jpeg_gray(payload)
    h, w = gray.shape
    return w, h, _gray_features(gray)


def _native(fn, payload: bytes):
    """Run a native decoder under the library-grade error contract: every
    malformed-payload failure surfaces as OSError (the Spark callers null
    the decode columns on OSError), never as a raw IndexError /
    struct.error / numpy ValueError that would abort the whole task —
    one corrupt image in a crawled batch must cost one row, not the job."""
    import struct
    import zlib

    try:
        return fn(payload)
    except OSError:
        raise
    except (
        ValueError,  # numpy frombuffer/reshape on truncated buffers
        IndexError,  # e.g. a palette index past the PLTE table
        KeyError,
        OverflowError,
        struct.error,
        zlib.error,
    ) as e:
        raise OSError(f"malformed payload: {e}") from None


