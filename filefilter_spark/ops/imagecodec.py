"""Image codec on ``zlib`` + ``struct`` + numpy (PNG + BMP + baseline
& progressive JPEG, plus GIF and TIFF elsewhere in this tier) backing
the multimodal kernels.

The engine depends on no Pillow/libvips/ffmpeg, so the real (non-fake)
decode path is implemented directly on those three:
PNG (8-bit gray / gray+alpha / RGB / RGBA / palette, non-interlaced),
BMP (24/32-bit uncompressed), baseline JFIF JPEG (SOF0/SOF1
sequential DCT, Huffman-coded, grayscale or YCbCr at any sampling
factors incl. 4:2:0/4:2:2/4:4:4, restart markers), and progressive
JPEG (SOF2: spectral selection + successive approximation, DC and AC
refinement scans, EOB runs) — the formats a training-data scrape
overwhelmingly contains. That keeps the kernels honest — real pixels
in, real pixels out — while staying inside the no-new-dependency
rule. Arithmetic-coded JPEG, WebP and inter-coded video remain
NotImplementedError: faking them would be worse than refusing.

The JPEG decoder follows ITU-T T.81 (§F.2 baseline sequential
decoding; §G.2 progressive decoding): per-block Huffman entropy
decode in Python, dequantize / dezigzag / IDCT as 8x8 numpy matrix
products, chroma upsample by pixel replication, BT.601 YCbCr→RGB.
Decoded pixels are validated in tests against an independent decoder
(Java ImageIO) within the usual inter-decoder IDCT tolerance — JPEG
decoding is not bit-exact across implementations by design (T.81
Annex A allows IDCT variance).

Scope note: these kernels run inside Arrow-batched ``mapInPandas``
(see ``ops/multimodal.py``), so per-image Python cost is the budget.
The PNG unfilter loop is per-scanline numpy where the filter allows
(None/Sub/Up) and per-byte only for Average/Paeth; the JPEG entropy
loop is per-symbol Python — fine for the thumbnail/metadata sizes
this tier targets. A production swap-in of a C codec changes only
these functions, never the Spark plan.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (before palette expansion)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class ImageFormatError(ValueError):
    """Payload is not a format this codec can decode."""


def sniff(data: bytes) -> str | None:
    if data.startswith(_PNG_SIG):
        return "png"
    if data[:2] == b"BM" and len(data) >= 26:
        return "bmp"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    return None


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a non-interlaced 8-bit PNG → (width, height, channels,
    raw interleaved pixel bytes). Palette images are expanded to RGB.
    Corrupt payloads raise :class:`ImageFormatError` (see decode_jpeg
    for why that contract matters at kernel level)."""
    try:
        return _decode_png(data)
    except ImageFormatError:
        raise
    except (IndexError, struct.error, ValueError, zlib.error, OverflowError) as e:
        raise ImageFormatError(f"corrupt PNG payload: {e!r}") from e


def _decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    if not data.startswith(_PNG_SIG):
        raise ImageFormatError("not a PNG")
    pos, ihdr, idat, plte = len(_PNG_SIG), None, [], None
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None or not idat:
        raise ImageFormatError("truncated PNG (missing IHDR/IDAT)")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
        raise ImageFormatError(
            f"unsupported PNG (depth={depth} color={color} interlace={interlace})"
        )
    if w == 0 or h == 0 or w * h > (1 << 28):
        # same guard as JPEG/TIFF: a crafted header must not allocate
        # gigabytes (and the IDAT inflate below is bounded by the
        # declared geometry, closing the decompression-bomb path)
        raise ImageFormatError(f"implausible PNG geometry {w}x{h}")
    ch = _PNG_CHANNELS[color]
    d = zlib.decompressobj()
    raw = d.decompress(b"".join(idat), h * (w * ch + 1))
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise ImageFormatError("PNG pixel data shorter than geometry")

    out = bytearray(h * stride)
    prev = bytearray(stride)
    for y in range(h):
        off = y * (stride + 1)
        filt = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if filt == 0:
            pass
        elif filt == 2:  # Up — vectorizable
            line = bytearray(
                (
                    (np.frombuffer(bytes(line), np.uint8).astype(np.uint16)
                     + np.frombuffer(bytes(prev), np.uint8)) & 0xFF
                ).astype(np.uint8).tobytes()
            )
        elif filt == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif filt == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif filt == 4:  # Paeth
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                ul = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        else:
            raise ImageFormatError(f"bad PNG filter {filt}")
        out[y * stride : (y + 1) * stride] = line
        prev = line

    if color == 3:  # palette → RGB
        if plte is None:
            raise ImageFormatError("palette PNG without PLTE")
        n_entries = len(plte) // 3
        rgb = bytearray(w * h * 3)
        for i, idx in enumerate(out):
            if idx >= n_entries:
                # a short slice assignment would silently SHRINK the
                # buffer and shift every later pixel (same guard as the
                # GIF path)
                raise ImageFormatError(
                    f"PNG palette index {idx} >= {n_entries} entries"
                )
            rgb[i * 3 : i * 3 + 3] = plte[idx * 3 : idx * 3 + 3]
        return w, h, 3, bytes(rgb)
    return w, h, ch, bytes(out)


def decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode an uncompressed 24/32-bit BMP → (w, h, channels, RGB(A)
    bytes, top-down). Corrupt payloads raise ImageFormatError."""
    try:
        return _decode_bmp(data)
    except ImageFormatError:
        raise
    except (IndexError, struct.error, ValueError, OverflowError) as e:
        raise ImageFormatError(f"corrupt BMP payload: {e!r}") from e


def _decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:2] != b"BM":
        raise ImageFormatError("not a BMP")
    pixel_off = struct.unpack("<I", data[10:14])[0]
    hdr_size = struct.unpack("<I", data[14:18])[0]
    if hdr_size < 40:
        raise ImageFormatError("BITMAPCOREHEADER unsupported")
    w, h_signed = struct.unpack("<ii", data[18:26])
    bpp, comp = struct.unpack("<HI", data[28:34])
    if comp != 0 or bpp not in (24, 32):
        raise ImageFormatError(f"unsupported BMP (bpp={bpp} compression={comp})")
    h, bottom_up = abs(h_signed), h_signed > 0
    if w <= 0 or h == 0 or w * h > (1 << 28):
        raise ImageFormatError(f"implausible BMP geometry {w}x{h_signed}")
    ch = bpp // 8
    row_bytes = (w * ch + 3) & ~3
    out = bytearray(w * h * ch)
    for y in range(h):
        src_y = (h - 1 - y) if bottom_up else y
        row = data[pixel_off + src_y * row_bytes :][: w * ch]
        # BGR(A) → RGB(A)
        for x in range(w):
            px = row[x * ch : (x + 1) * ch]
            dst = (y * w + x) * ch
            out[dst], out[dst + 1], out[dst + 2] = px[2], px[1], px[0]
            if ch == 4:
                out[dst + 3] = px[3]
    return w, h, ch, bytes(out)


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 sequential DCT, Huffman)
# ---------------------------------------------------------------------------

# zigzag scan order: position k in the entropy stream -> natural 8x8 index
_ZIGZAG = [
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

_IDCT_BASIS = None  # lazy 8x8 DCT-III basis (numpy)


def _idct_basis():
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        k = np.arange(8)
        # C[u, x] = c(u)/2 * cos((2x+1) u pi / 16); IDCT: C.T @ F @ C
        c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
        c[0] /= np.sqrt(2)
        _IDCT_BASIS = c
    return _IDCT_BASIS


class _BitReader:
    """MSB-first bit reader over entropy-coded JPEG data.

    Handles byte stuffing (0xFF 0x00 -> literal 0xFF). At any real
    marker (restart or EOI) it stops producing data and pads with
    zeros; callers resynchronize across restart markers explicitly via
    :meth:`restart` (T.81 §F.2.2.5: byte-align, consume RSTn).
    """

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0
        self.at_marker = False

    def _fill(self) -> None:
        d, p = self.data, self.pos
        if self.at_marker or p >= len(d):
            self.buf = (self.buf << 8) & 0xFFFFFFFF
            self.nbits += 8
            return
        b = d[p]
        if b == 0xFF:
            nxt = d[p + 1] if p + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos = p + 2
            else:  # real marker: stop here, caller decides
                self.at_marker = True
                self.buf = (self.buf << 8) & 0xFFFFFFFF
                self.nbits += 8
                return
        else:
            self.pos = p + 1
        self.buf = ((self.buf << 8) | b) & 0xFFFFFFFF
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume one RSTn marker."""
        self.nbits = 0
        d = self.data
        p = self.pos
        while p + 1 < len(d) and not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        if p + 1 >= len(d):
            raise ImageFormatError("expected JPEG restart marker")
        self.pos = p + 2
        self.at_marker = False


def _build_huffman(counts: bytes, symbols: bytes) -> dict[tuple[int, int], int]:
    """(code_length, code) -> symbol, per T.81 Annex C code assignment."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ImageFormatError("invalid JPEG Huffman code")


def _extend(v: int, n: int) -> int:
    # T.81 F.12: map an n-bit magnitude to its signed value
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a sequential (SOF0/SOF1) or progressive (SOF2) JFIF
    payload → (width, height, channels, interleaved pixel bytes): 1
    channel for grayscale, 3 (RGB, BT.601 from YCbCr) otherwise.

    Both modes share one architecture: every scan Huffman-decodes into
    per-component RAW quantized coefficient buffers (sequential = one
    full-band interleaved scan; progressive = the T.81 G.2 scan
    scripts — DC first/refine, AC spectral bands first/refine with
    EOB runs), and a single reconstruction pass dequantizes, IDCTs
    (batched 8x8 matrix products), upsamples chroma and converts
    color. Arithmetic coding and hierarchical mode refuse loudly.

    Corrupt payloads raise :class:`ImageFormatError` — never a raw
    IndexError/struct.error — so the mapInPandas kernels can route any
    bad row to their documented keep/drop policy instead of killing
    the task (a 100 TB scrape WILL contain truncated files).
    """
    try:
        return _decode_jpeg(data)
    except ImageFormatError:
        raise
    except (IndexError, struct.error, ValueError, KeyError, OverflowError) as e:
        raise ImageFormatError(f"corrupt JPEG payload: {e!r}") from e


def _huff_or_raise(huff, key):
    t = huff.get(key)
    if t is None:
        raise ImageFormatError(f"JPEG scan references missing Huffman table {key}")
    return t


class _ScanDecoder:
    """Entropy decode of one scan into raw-coefficient buffers.

    ``coefs[cid]`` is an int32 array (blocks_y, blocks_x, 64) in
    NATURAL (dezigzagged) order, sized to the interleaved MCU grid.
    Sequential scans are the special case Ss=0, Se=63, Ah=Al=0 with
    DC and AC decoded per block — the EOB/ZRL codes of baseline AC
    coding are exactly the Al=0 instance of the progressive AC-first
    algorithm, so one implementation serves both.
    """

    def __init__(self, data, pos, frame, coefs, huff, restart_interval):
        self.r = _BitReader(data, pos)
        self.frame = frame
        self.coefs = coefs
        self.huff = huff
        self.ri = restart_interval
        self.eob_run = 0
        self.pred: dict[int, int] = {}

    def _restart(self):
        self.r.restart()
        self.pred = {cid: 0 for cid in self.pred}
        self.eob_run = 0

    # -- per-block primitives (T.81 F.2.2 / G.2) ------------------------

    def _dc_first(self, coef, cid, dc_t, al):
        if dc_t is None:  # inconsistent scan header (e.g. refine flags)
            raise ImageFormatError("JPEG scan lacks a DC table where one is needed")
        s = _huff_decode(self.r, dc_t)
        if s > 15:  # valid DC magnitude categories are 0..15 (T.81 F.1.2.1)
            raise ImageFormatError(f"invalid JPEG DC magnitude category {s}")
        self.pred[cid] += _extend(self.r.receive(s), s)
        coef[0] = self.pred[cid] << al

    def _dc_refine(self, coef, al):
        if self.r.bit():
            coef[0] |= 1 << al

    def _ac_first(self, coef, ac_t, ss, se, al):
        if ac_t is None:
            raise ImageFormatError("JPEG scan lacks an AC table where one is needed")
        if self.eob_run > 0:
            self.eob_run -= 1
            return
        k = ss
        r = self.r
        while k <= se:
            rs = _huff_decode(r, ac_t)
            run, size = rs >> 4, rs & 15
            if size == 0:
                if run != 15:
                    self.eob_run = (1 << run) - 1
                    if run:
                        self.eob_run += r.receive(run)
                    break
                k += 16  # ZRL
                continue
            k += run
            if k > se:
                raise ImageFormatError("JPEG AC index overflow")
            coef[_ZIGZAG[k]] = _extend(r.receive(size), size) << al
            k += 1

    def _ac_refine(self, coef, ac_t, ss, se, al):
        # T.81 G.2.2 successive-approximation AC refinement (the
        # libjpeg decode_mcu_AC_refine control flow).
        p1, m1 = 1 << al, -(1 << al)
        r = self.r
        k = ss
        if self.eob_run == 0:
            while k <= se:
                rs = _huff_decode(r, ac_t)
                run, size = rs >> 4, rs & 15
                s_val = 0
                if size == 0:
                    if run != 15:
                        self.eob_run = 1 << run
                        if run:
                            self.eob_run += r.receive(run)
                        break
                    # run==15: sixteen zero-history coefficients
                else:
                    if size != 1:
                        raise ImageFormatError("JPEG AC refine size != 1")
                    s_val = p1 if r.bit() else m1
                while k <= se:
                    z = _ZIGZAG[k]
                    if coef[z] != 0:
                        if r.bit() and (coef[z] & p1) == 0:
                            coef[z] += p1 if coef[z] >= 0 else m1
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if s_val and k <= se:
                    coef[_ZIGZAG[k]] = s_val
                k += 1
        if self.eob_run > 0:
            while k <= se:
                z = _ZIGZAG[k]
                if coef[z] != 0:
                    if r.bit() and (coef[z] & p1) == 0:
                        coef[z] += p1 if coef[z] >= 0 else m1
                k += 1
            self.eob_run -= 1

    # -- whole-scan drivers ---------------------------------------------

    def run(self, scan, ss, se, ah, al):
        self.pred = {cid: 0 for cid, _, _ in scan}
        if len(scan) > 1:
            self._run_interleaved(scan, ss, se, ah, al)
        else:
            self._run_single(scan[0], ss, se, ah, al)

    def _run_interleaved(self, scan, ss, se, ah, al):
        if ss != 0:
            raise ImageFormatError("interleaved JPEG AC scan is invalid")
        w, h, comps, mcus_x, mcus_y, hmax, vmax = self.frame
        by_id = {cid: (hs, vs) for cid, hs, vs, _tq in comps}
        tables = {}
        for cid, td, ta in scan:
            dc_t = _huff_or_raise(self.huff, (0, td)) if ah == 0 else None
            ac_t = _huff_or_raise(self.huff, (1, ta)) if se != 0 else None
            tables[cid] = (dc_t, ac_t)
        for mcu in range(mcus_x * mcus_y):
            if self.ri and mcu and mcu % self.ri == 0:
                self._restart()
            my, mx = divmod(mcu, mcus_x)
            for cid, _td, _ta in scan:
                hs, vs = by_id[cid]
                arr = self.coefs[cid]
                dc_t, ac_t = tables[cid]
                for by in range(vs):
                    for bx in range(hs):
                        coef = arr[my * vs + by, mx * hs + bx]
                        if se == 0:  # DC-only progressive scan
                            if ah == 0:
                                self._dc_first(coef, cid, dc_t, al)
                            else:
                                self._dc_refine(coef, al)
                        else:  # sequential full band
                            self._dc_first(coef, cid, dc_t, al)
                            self._ac_first(coef, ac_t, 1, se, al)

    def _run_single(self, comp_scan, ss, se, ah, al):
        cid, td, ta = comp_scan
        w, h, comps, mcus_x, mcus_y, hmax, vmax = self.frame
        match = [(c[1], c[2]) for c in comps if c[0] == cid]
        if not match:
            raise ImageFormatError(f"JPEG scan references unknown component {cid}")
        hs, vs = match[0]
        # non-interleaved scans raster the COMPONENT's own block grid
        cw = -(-(w * hs) // hmax)  # ceil
        chh = -(-(h * vs) // vmax)
        bw, bh = -(-cw // 8), -(-chh // 8)
        arr = self.coefs[cid]
        dc_t = _huff_or_raise(self.huff, (0, td)) if ss == 0 and ah == 0 else None
        ac_t = _huff_or_raise(self.huff, (1, ta)) if se != 0 else None
        n = 0
        for by in range(bh):
            for bx in range(bw):
                if self.ri and n and n % self.ri == 0:
                    self._restart()
                n += 1
                coef = arr[by, bx]
                if ss == 0 and se == 0:
                    if ah == 0:
                        self._dc_first(coef, cid, dc_t, al)
                    else:
                        self._dc_refine(coef, al)
                elif ss == 0:  # sequential single-component scan
                    self._dc_first(coef, cid, dc_t, al)
                    self._ac_first(coef, ac_t, 1, se, al)
                elif ah == 0:
                    self._ac_first(coef, ac_t, ss, se, al)
                else:
                    self._ac_refine(coef, ac_t, ss, se, al)


def _decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:2] != b"\xff\xd8":
        raise ImageFormatError("not a JPEG")
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    sof = None  # (w, h, comps) with comps = [(cid, hs, vs, tq)]
    restart_interval = 0
    frame = None
    coefs: dict[int, "np.ndarray"] = {}
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            raise ImageFormatError("bad JPEG marker stream")
        # T.81 B.1.1.2: any number of 0xFF FILL bytes may precede a
        # marker — treating the second 0xFF as the marker id would read
        # a bogus segment length and skip real data.
        while i + 1 < len(data) and data[i + 1] == 0xFF:
            i += 1
        m = data[i + 1]
        if m == 0xD9:
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        seg = data[i + 4 : i + 2 + seg_len]
        if m == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:
                    raise ImageFormatError("16-bit JPEG quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                for k in range(64):
                    tbl[_ZIGZAG[k]] = seg[p + 1 + k]
                qt[tq] = tbl
                p += 65
        elif m == 0xC4:  # DHT (possibly several)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = seg[p + 1 : p + 17]
                n = sum(counts)
                huff[(tc, th)] = _build_huffman(counts, seg[p + 17 : p + 17 + n])
                p += 17 + n
        elif m in (0xC0, 0xC1, 0xC2):  # baseline / extended / progressive
            h_px, w_px = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 15, tq))
            sof = (w_px, h_px, comps)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ImageFormatError(
                f"unsupported JPEG coding process (SOF{m - 0xC0})"
            )
        elif m == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS
            if sof is None:
                raise ImageFormatError("JPEG SOS before SOF")
            if frame is None:
                w_px, h_px, comps = sof
                if not comps or w_px == 0 or h_px == 0 or w_px * h_px > (1 << 28):
                    raise ImageFormatError(
                        f"implausible JPEG geometry {w_px}x{h_px}"
                    )
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                if hmax == 0 or vmax == 0:
                    raise ImageFormatError("zero JPEG sampling factor")
                mcus_x = (w_px + 8 * hmax - 1) // (8 * hmax)
                mcus_y = (h_px + 8 * vmax - 1) // (8 * vmax)
                frame = (w_px, h_px, comps, mcus_x, mcus_y, hmax, vmax)
                for cid, hs, vs, _tq in comps:
                    coefs[cid] = np.zeros(
                        (mcus_y * vs, mcus_x * hs, 64), dtype=np.int32
                    )
            ns = seg[0]
            scan = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                for c in range(ns)
            ]
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            dec = _ScanDecoder(data, i + 2 + seg_len, frame, coefs, huff,
                               restart_interval)
            dec.run(scan, ss, se, ahal >> 4, ahal & 15)
            # resync: the entropy stream ends at the next real marker
            j = max(dec.r.pos, i + 2 + seg_len)
            while j + 1 < len(data) and not (
                data[j] == 0xFF
                and data[j + 1] != 0x00
                and not (0xD0 <= data[j + 1] <= 0xD7)
            ):
                j += 1
            i = j
            continue
        i += 2 + seg_len
    if frame is None:
        raise ImageFormatError("truncated JPEG (missing SOF/SOS)")

    # ---- reconstruction: dequantize, batched IDCT, upsample, color ----
    w_px, h_px, comps, mcus_x, mcus_y, hmax, vmax = frame
    basis = _idct_basis()
    planes = []
    for cid, hs, vs, tq in comps:
        if tq not in qt:
            raise ImageFormatError("JPEG component references missing quant table")
        arr = coefs[cid].astype(np.float64) * qt[tq][None, None, :]
        bh, bw = arr.shape[0], arr.shape[1]
        blocks = arr.reshape(bh * bw, 8, 8)
        px = np.matmul(np.matmul(basis.T, blocks), basis) + 128.0
        plane = (
            px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        if hs < hmax or vs < vmax:
            plane = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        planes.append(plane[:h_px, :w_px])

    if len(planes) == 1:
        gray = np.clip(planes[0] + 0.5, 0, 255).astype(np.uint8)
        return w_px, h_px, 1, gray.tobytes()
    if len(planes) != 3:
        raise ImageFormatError(f"unsupported JPEG component count {len(planes)}")
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=-1,
    )
    return w_px, h_px, 3, np.clip(rgb + 0.5, 0, 255).astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# GIF (87a/89a, LZW)
# ---------------------------------------------------------------------------


def decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode the FIRST frame of a GIF87a/89a payload → (width, height,
    3 or 4, RGB(A) bytes). Palette lookup is lossless, so output is
    exact. Animations: only frame 1 is decoded (the thumbnail/metadata
    contract of this tier); transparency (GIF89a GCE) yields RGBA.
    Corrupt payloads raise :class:`ImageFormatError`."""
    try:
        return _decode_gif(data)
    except ImageFormatError:
        raise
    except (IndexError, struct.error, ValueError, KeyError) as e:
        raise ImageFormatError(f"corrupt GIF payload: {e!r}") from e


def _decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ImageFormatError("not a GIF")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    transparent = None
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:  # graphic control
                flags, _delay, tidx = struct.unpack("<BHB", data[pos + 1 : pos + 5])
                if flags & 1:
                    transparent = tidx
            while data[pos]:  # skip sub-blocks
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ImageFormatError(f"unexpected GIF block 0x{b:02x}")
        # image descriptor
        left, top, w, h, ipacked = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
        pos += 10
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            table = data[pos : pos + 3 * n]
            pos += 3 * n
        if table is None:
            raise ImageFormatError("GIF image without a color table")
        interlaced = bool(ipacked & 0x40)
        min_code = data[pos]
        pos += 1
        chunks = []
        while data[pos]:
            ln = data[pos]
            chunks.append(data[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        indices = _lzw_decode(b"".join(chunks), min_code, w * h)
        if interlaced:
            rows = []
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                rows.extend(range(start, h, step))
            de = bytearray(w * h)
            for src_y, dst_y in enumerate(rows):
                de[dst_y * w : (dst_y + 1) * w] = indices[src_y * w : (src_y + 1) * w]
            indices = bytes(de)
        ch = 4 if transparent is not None else 3
        out = bytearray(w * h * ch)
        for i, idx in enumerate(indices):
            if 3 * idx + 3 > len(table):
                raise ImageFormatError(f"GIF index {idx} outside color table")
            out[i * ch : i * ch + 3] = table[3 * idx : 3 * idx + 3]
            if ch == 4:
                out[i * ch + 3] = 0 if idx == transparent else 255
        # first frame only; ignore sub-rectangle placement for frame 1
        # (encoders emit frame 1 at full logical-screen size; if not,
        # report the frame's own geometry honestly)
        del left, top, sw, sh
        return w, h, ch, bytes(out)
    raise ImageFormatError("GIF contains no image block")


def _lzw_decode(data: bytes, min_code: int, expect: int) -> bytes:
    """GIF-variant LZW: variable-width codes (min+1 .. 12 bits), clear
    and end codes, LSB-first bit packing."""
    if not 2 <= min_code <= 11:
        raise ImageFormatError(f"bad LZW minimum code size {min_code}")
    clear = 1 << min_code
    end = clear + 1
    out = bytearray()
    buf = nbits = 0
    width = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    for byte in data:
        buf |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = buf & ((1 << width) - 1)
            buf >>= width
            nbits -= width
            if code == clear:
                table = table[: clear + 2]
                width = min_code + 1
                prev = None
                continue
            if code == end:
                if len(out) < expect:
                    raise ImageFormatError("LZW ended before all pixels")
                return bytes(out[:expect])
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ImageFormatError("LZW code out of range")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= expect:
                return bytes(out[:expect])
    if len(out) < expect:
        raise ImageFormatError("LZW stream exhausted before all pixels")
    return bytes(out[:expect])


# ---------------------------------------------------------------------------
# TIFF (baseline rev 6.0: uncompressed / LZW / Deflate / PackBits, 8-bit)
# ---------------------------------------------------------------------------


def decode_tiff(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode the first IFD of a TIFF payload → (width, height,
    channels, interleaved bytes). Supports both byte orders, 8-bit
    chunky gray/RGB(A)/palette, strip layout, compression none (1),
    LZW (5, with EarlyChange + horizontal predictor), Deflate (8 /
    32946) and PackBits (32773). Tiled, planar, and exotic-depth
    TIFFs refuse loudly."""
    try:
        return _decode_tiff(data)
    except ImageFormatError:
        raise
    except (IndexError, struct.error, ValueError, KeyError, zlib.error) as e:
        raise ImageFormatError(f"corrupt TIFF payload: {e!r}") from e


def _decode_tiff(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:4] == b"II*\x00":
        e = "<"
    elif data[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ImageFormatError("not a TIFF")
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    (n_entries,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
    _TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4}
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(e + "HHI", data[off : off + 8])
        if typ not in _TYPE_SIZE:
            continue  # rationals/etc. — not needed for geometry/pixels
        size = _TYPE_SIZE[typ] * cnt
        if size <= 4:
            raw = data[off + 8 : off + 8 + size]
        else:
            (voff,) = struct.unpack(e + "I", data[off + 8 : off + 12])
            raw = data[voff : voff + size]
        fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack(e + fmt * cnt, raw))

    def one(tag: int, default: int | None = None) -> int:
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ImageFormatError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    w, h = one(256), one(257)
    if w == 0 or h == 0 or w * h > (1 << 28):
        raise ImageFormatError(f"implausible TIFF geometry {w}x{h}")
    spp = one(277, 1)
    bits = tags.get(258, [8] * spp)
    if any(b != 8 for b in bits):
        raise ImageFormatError(f"unsupported TIFF bit depths {bits}")
    comp = one(259, 1)
    photo = one(262, 1)
    planar = one(284, 1)
    predictor = one(317, 1)
    if planar != 1:
        raise ImageFormatError("planar TIFF unsupported (chunky only)")
    if photo not in (0, 1, 2, 3):
        # CMYK(5)/YCbCr(6)/CIELab(8) would decode byte-wise "fine" and
        # come back silently mislabeled as gray/RGB(A) — refuse loudly,
        # like every other unsupported variant in this file.
        raise ImageFormatError(f"unsupported TIFF photometric {photo}")
    if 322 in tags or 323 in tags:
        raise ImageFormatError("tiled TIFF unsupported (strips only)")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ImageFormatError("TIFF missing strip offsets/byte counts")
    rows_per_strip = one(278, h)

    raw = bytearray()
    row_bytes = w * spp
    for si, (soff, scnt) in enumerate(zip(offsets, counts)):
        strip = data[soff : soff + scnt]
        if len(strip) < scnt:
            raise ImageFormatError(f"truncated TIFF strip {si}")
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        want = n_rows * row_bytes
        if comp == 1:
            out = strip[:want]
        elif comp in (8, 32946):  # Deflate / old Deflate
            out = zlib.decompress(strip)[:want]
        elif comp == 5:
            out = _tiff_lzw_decode(strip, want)
        elif comp == 32773:
            out = _packbits_decode(strip, want)
        else:
            raise ImageFormatError(
                f"TIFF compression {comp} needs a codec library"
            )
        if len(out) < want:
            raise ImageFormatError(f"TIFF strip {si} shorter than geometry")
        raw += out
    if predictor == 2:  # horizontal differencing per row, per sample
        for y in range(h):
            base = y * row_bytes
            for i in range(spp, row_bytes):
                raw[base + i] = (raw[base + i] + raw[base + i - spp]) & 0xFF
    elif predictor != 1:
        raise ImageFormatError(f"TIFF predictor {predictor} unsupported")

    if photo == 3:  # palette: ColorMap is 3 planes of 16-bit values
        cmap = tags.get(320)
        if not cmap or spp != 1:
            raise ImageFormatError("palette TIFF missing ColorMap")
        n = len(cmap) // 3
        out = bytearray(w * h * 3)
        for i, idx in enumerate(raw[: w * h]):
            if idx >= n:
                raise ImageFormatError("TIFF palette index out of range")
            out[3 * i] = cmap[idx] >> 8
            out[3 * i + 1] = cmap[n + idx] >> 8
            out[3 * i + 2] = cmap[2 * n + idx] >> 8
        return w, h, 3, bytes(out)
    if photo == 0:  # WhiteIsZero → invert to the usual BlackIsZero
        raw = bytearray(255 - b for b in raw)
    if len(raw) < w * h * spp:
        # strips covered less than the declared geometry (corrupt
        # ImageLength/RowsPerStrip combination)
        raise ImageFormatError("TIFF pixel data shorter than geometry")
    return w, h, spp, bytes(raw[: w * h * spp])


def _tiff_lzw_decode(data: bytes, expect: int) -> bytes:
    """TIFF-variant LZW: MSB-first bit packing, 9-bit initial codes,
    CLEAR=256 / EOI=257, and the spec's EarlyChange: code width bumps
    when the table reaches 2^w - 1 (one entry EARLIER than GIF)."""
    CLEAR, EOI = 256, 257
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    buf = nbits = 0
    width = 9
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == EOI:
                return bytes(out[:expect])
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ImageFormatError("TIFF LZW code out of range")
            out += entry
            prev = entry
            if len(table) == (1 << width) - 1 and width < 12:  # EarlyChange
                width += 1
            if len(out) >= expect:
                return bytes(out[:expect])
    return bytes(out[:expect])


def _packbits_decode(data: bytes, expect: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expect:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1 bytes
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out[:expect])


def decode(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode any supported payload; raises ImageFormatError otherwise."""
    kind = sniff(data)
    if kind == "png":
        return decode_png(data)
    if kind == "bmp":
        return decode_bmp(data)
    if kind == "jpeg":
        return decode_jpeg(data)
    if kind == "gif":
        return decode_gif(data)
    if kind == "tiff":
        return decode_tiff(data)
    raise ImageFormatError(
        "unrecognized image payload (PNG/BMP/JPEG/GIF/TIFF supported)"
    )


# ---------------------------------------------------------------------------
# Baseline JPEG encoder (4:4:4 / grayscale) — primarily the test rig
# that exercises decode paths no public encoder emits by default
# (restart markers / DRI), and the re-encode half of a JPEG resize.
# ---------------------------------------------------------------------------

# Flat-depth Huffman tables: every symbol at one code length (12 DC
# magnitude categories at 4 bits; the 162 standard AC (run,size)
# symbols at 8 bits). Deliberately non-optimal — ~15% larger files —
# but trivially valid per T.81 Annex C (count < 2^len - 1, so the
# all-ones code stays unused) and decodable by any conformant reader.
_ENC_DC_SYMBOLS = bytes(range(12))
_ENC_AC_SYMBOLS = bytes(
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)


def _enc_huff_codes(depth: int, symbols: bytes) -> dict[int, tuple[int, int]]:
    return {sym: (depth, code) for code, sym in enumerate(symbols)}


class _BitWriter:
    """MSB-first bit emitter with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.buf >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.buf &= (1 << self.nbits) - 1

    def pad_align(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)  # 1-fill

    def marker(self, m: int) -> None:
        self.pad_align()
        self.out += bytes([0xFF, m])


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, magnitude bits) per T.81 F.1.2.1/F.1.2.2."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def encode_jpeg(
    w: int,
    h: int,
    channels: int,
    pixels: bytes,
    quant: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """Encode 8-bit gray or RGB pixels as a baseline JFIF payload
    (4:4:4, flat quantization ``quant`` for every coefficient, flat
    Huffman tables, optional DRI/RSTn restart markers)."""
    if channels not in (1, 3):
        raise ValueError("encode_jpeg supports 1 (gray) or 3 (RGB) channels")
    if not 1 <= quant <= 255:
        raise ValueError("quant must be in 1..255")
    arr = np.frombuffer(pixels, np.uint8).reshape(h, w, channels).astype(np.float64)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    else:
        planes = [arr[..., 0]]

    bw, bh = -(-w // 8), -(-h // 8)
    basis = _idct_basis()  # FDCT is the transpose pair: C @ f @ C.T
    dc_codes = _enc_huff_codes(4, _ENC_DC_SYMBOLS)
    ac_codes = _enc_huff_codes(8, _ENC_AC_SYMBOLS)
    zz = _ZIGZAG

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT: one flat table, id 0
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([quant]) * 64
    # SOF0
    nc = channels
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for c in range(nc):
        out += bytes([c + 1, 0x11, 0])  # 1x1 sampling, quant table 0
    # DHT: DC table 0 (12 syms @ 4 bits), AC table 0 (162 syms @ 8 bits)
    dc_counts = bytes(12 if i == 4 else 0 for i in range(1, 17))
    ac_counts = bytes(162 if i == 8 else 0 for i in range(1, 17))
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + 12) + b"\x00" + dc_counts + _ENC_DC_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + 162) + b"\x10" + ac_counts + _ENC_AC_SYMBOLS
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for c in range(nc):
        out += bytes([c + 1, 0x00])
    out += bytes([0, 63, 0])

    wtr = _BitWriter()
    pred = [0] * nc
    n_mcu = bw * bh
    rst = 0
    for mcu in range(n_mcu):
        if restart_interval and mcu and mcu % restart_interval == 0:
            wtr.marker(0xD0 + rst)
            rst = (rst + 1) % 8
            pred = [0] * nc
        by, bx = divmod(mcu, bw)
        for ci, plane in enumerate(planes):
            block = np.full((8, 8), 128.0)
            ys, xs = min(8, h - by * 8), min(8, w - bx * 8)
            block[:ys, :xs] = plane[by * 8 : by * 8 + ys, bx * 8 : bx * 8 + xs]
            coef = basis @ (block - 128.0) @ basis.T
            q = np.round(coef / quant).astype(int)
            # DC
            diff = int(q[0, 0]) - pred[ci]
            pred[ci] = int(q[0, 0])
            s, bits = _magnitude(diff)
            d, code = dc_codes[s]
            wtr.write(code, d)
            if s:
                wtr.write(bits, s)
            # AC with ZRL/EOB
            flat = q.reshape(64)
            run = 0
            for k in range(1, 64):
                v = int(flat[zz[k]])
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    d, code = ac_codes[0xF0]
                    wtr.write(code, d)
                    run -= 16
                s, bits = _magnitude(v)
                if s > 10:
                    raise ValueError("coefficient magnitude beyond baseline range")
                d, code = ac_codes[(run << 4) | s]
                wtr.write(code, d)
                wtr.write(bits, s)
                run = 0
            if run:
                d, code = ac_codes[0x00]  # EOB
                wtr.write(code, d)
    wtr.pad_align()
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_png(w: int, h: int, channels: int, pixels: bytes) -> bytes:
    """Minimal PNG writer (filter 0 rows, one IDAT) — the re-encode
    side of the real resize kernel."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = w * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(h)
    )

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def resize_nearest(
    w: int, h: int, channels: int, pixels: bytes, new_w: int, new_h: int
) -> bytes:
    """Nearest-neighbor resample."""
    arr = np.frombuffer(pixels, np.uint8).reshape(h, w, channels)
    ys = (np.arange(new_h) * h // new_h).clip(0, h - 1)
    xs = (np.arange(new_w) * w // new_w).clip(0, w - 1)
    return arr[ys][:, xs].tobytes()
