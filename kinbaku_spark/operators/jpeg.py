"""Baseline-sequential JPEG codec in pure stdlib + numpy (no PIL/cv2 in
this environment — VERDICT r04 next-round #8, closing MJPEG the way
DIB-AVI closed uncompressed video).

Encoder: 4:4:4 or 4:2:0 (half-up 2x2-mean chroma downsampling), ITU-T
T.81 Annex K quantization tables (quality-50) and Annex K typical Huffman
tables, full 2-D DCT on every 8x8 block, zigzag + DPCM-DC +
run-length/magnitude Huffman entropy coding, 0xFF byte stuffing, optional
DRI/RSTn restart intervals. Deterministic byte-for-byte.

Decoder: general baseline decoder — parses DQT/SOF0/DHT/SOS/DRI, rebuilds
the canonical Huffman codes from the DHT segments in the FILE (so any
spec-valid table works, not just ours), entropy-decodes with EXTEND and
RSTn resync (byte-align + DC-predictor reset), dequantizes, un-zigzags,
float IDCT, replicate-upsamples subsampled components, YCbCr->RGB.
Supports 8-bit streams with sampling factors up to 2x2 (4:4:4, 4:2:0,
4:2:2) and 1-component grayscale; raises ValueError on
progressive/12-bit streams rather than guessing.

Determinism contract (shared with the DuckDB oracles): every rounding is
``floor(x + 0.5 + 1e-9)`` — half-up with an epsilon that absorbs float
DCT noise (~1e-13) so exact-half ties resolve identically to the oracle's
exact FLOOR(x + 0.5) arithmetic. For a CONSTANT block value v this gives
the closed form the x_video_decode_mjpeg oracle states:

    decoded(v) = clip( 2 * floor((v - 128)/2 + 0.5) + 128 , 0, 255 )

(DC of a constant block is 8(v-128); luma q[0][0] = 16; all AC quantize
to zero; IDCT of a DC-only block is constant F00*q/8.)

Reference parity note: the reference (kerighan/kinbaku) has no media
surface at all; this extends the multimodal pipeline family
(operators/codecs.py) — same mapInPandas executor-side shape.
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K.1 quantization tables (quality 50)
QT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)
QT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# ITU-T T.81 Annex K.3 typical Huffman tables: (bits[1..16], values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_EPS = 1e-9  # half-up tie bias absorbing ~1e-13 float DCT noise

# decoded Huffman tables keyed by the raw DHT (bits+vals) bytes — an MJPEG
# stream repeats the identical four tables in every frame's JPEG. Bounded:
# past the cap new tables are built per decode instead of cached (correct,
# just slower), so per-image optimized tables cannot leak memory forever.
_DHT_CACHE: dict = {}
_DHT_CACHE_MAX = 256


def _zigzag():
    """(row, col) pairs in zigzag order, generated (not transcribed)."""
    order = []
    for s in range(15):
        rng = range(min(s, 7), max(0, s - 7) - 1, -1)  # rows high->low
        cells = [(r, s - r) for r in rng]
        if s % 2 == 1:
            cells.reverse()  # odd diagonals run top-right -> bottom-left
        order.extend(cells)
    return order


# standard zigzag starts (0,0),(0,1),(1,0),(2,0),(1,1),(0,2),(0,3),...
ZIGZAG = _zigzag()
assert ZIGZAG[:6] == [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2)]
assert len(set(ZIGZAG)) == 64
# flat raveled index of the j-th zigzag cell: a[r*8+c] — lets both codec
# directions replace the 64-iteration per-block Python loop with one
# numpy fancy-index (the decode hot spot in the census profile)
_ZZ_FLAT = np.array([r * 8 + c for r, c in ZIGZAG])


def _dct_matrix() -> np.ndarray:
    c = np.zeros((8, 8))
    for u in range(8):
        for x in range(8):
            cu = (1 / np.sqrt(2)) if u == 0 else 1.0
            c[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


_C = _dct_matrix()


def make_jpeg_codec():
    """Closure factory (same pattern as make_media_codecs): executor-side
    pipelines close over the returned functions. Every helper they call is
    defined in here, so cloudpickle ships it by value with them: a codec
    runs where ``kinbaku_spark`` cannot be imported. (The module-level
    tables and arrays they read pickle by value too.)"""

    def _round_half_up(x):
        return np.floor(x + 0.5 + _EPS)


    def _canonical_codes(bits, vals):
        """(symbol -> (code, length)) per the T.81 canonical construction;
        validates the length counts describe a real prefix code."""
        codes, code = {}, 0
        k = 0
        total = 0
        for length in range(1, 17):
            total = (total + bits[length - 1]) << 1
            for _ in range(bits[length - 1]):
                if k >= len(vals):
                    raise ValueError("JPEG: DHT value list shorter than counts")
                codes[vals[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1
        if total > (1 << 17) or k != len(vals) or k != sum(bits):
            raise ValueError("JPEG: invalid Huffman length counts")
        return codes


    class _BitWriter:
        def __init__(self):
            self.out = bytearray()
            self.acc = 0
            self.n = 0

        def write(self, value: int, length: int) -> None:
            self.acc = (self.acc << length) | (value & ((1 << length) - 1))
            self.n += length
            while self.n >= 8:
                self.n -= 8
                byte = (self.acc >> self.n) & 0xFF
                self.out.append(byte)
                if byte == 0xFF:
                    self.out.append(0x00)  # byte stuffing

        def flush(self) -> bytes:
            if self.n:
                pad = 8 - self.n
                self.write((1 << pad) - 1, pad)  # fill with 1-bits
            return bytes(self.out)


    class _BitReader:
        def __init__(self, data: bytes, pos: int):
            self.data = data
            self.pos = pos
            self.acc = 0
            self.n = 0

        def read_bit(self) -> int:
            if self.n == 0:
                if self.pos >= len(self.data):
                    raise ValueError("JPEG: entropy stream truncated")
                byte = self.data[self.pos]
                self.pos += 1
                if byte == 0xFF:
                    nxt = self.data[self.pos] if self.pos < len(self.data) else None
                    if nxt == 0x00:
                        self.pos += 1  # stuffed byte
                    else:
                        raise ValueError("JPEG: unexpected marker in entropy data")
                self.acc = byte
                self.n = 8
            self.n -= 1
            return (self.acc >> self.n) & 1

        def read_bits(self, length: int) -> int:
            v = 0
            for _ in range(length):
                v = (v << 1) | self.read_bit()
            return v

        def sync_restart(self) -> int:
            """Byte-align, scan past pad/stuffed bytes to the next RSTn
            marker, consume it, and return n (0-7)."""
            self.n = 0
            while self.pos + 1 < len(self.data):
                if self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00:
                    marker = self.data[self.pos + 1]
                    if 0xD0 <= marker <= 0xD7:
                        self.pos += 2
                        return marker - 0xD0
                    raise ValueError("JPEG: expected restart marker")
                self.pos += 1
            raise ValueError("JPEG: truncated at restart marker")


    def _magnitude(v: int) -> tuple[int, int]:
        """(category, raw bits) for a DC diff / AC coefficient."""
        if v == 0:
            return 0, 0
        a = abs(v)
        t = a.bit_length()
        bits = v if v > 0 else v + (1 << t) - 1
        return t, bits


    def _extend(v: int, t: int) -> int:
        return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

    enc_tables = {
        0: (_canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS),
            _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)),
        1: (_canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS),
            _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)),
    }

    def _encode_block(bw, block, qt, dc_codes, ac_codes, prev_dc):
        coeffs = _C @ (block.astype(np.float64) - 128.0) @ _C.T
        # half-up everywhere (module docstring): the oracle's closed form
        # is FLOOR(x + 0.5), so quantization must not round half away
        # from zero like libjpeg does
        q = _round_half_up(coeffs / qt).astype(np.int64)
        zz = q.ravel()[_ZZ_FLAT].tolist()
        # DC (DPCM)
        t, bits = _magnitude(zz[0] - prev_dc)
        code, length = dc_codes[t]
        bw.write(code, length)
        if t:
            bw.write(bits, t)
        # AC run-length
        run = 0
        last_nz = 0
        for i in range(63, 0, -1):
            if zz[i] != 0:
                last_nz = i
                break
        for i in range(1, last_nz + 1):
            if zz[i] == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]  # ZRL
                bw.write(code, length)
                run -= 16
            t, bits = _magnitude(zz[i])
            code, length = ac_codes[(run << 4) | t]
            bw.write(code, length)
            bw.write(bits, t)
            run = 0
        if last_nz < 63:
            code, length = ac_codes[0x00]  # EOB
            bw.write(code, length)
        return zz[0]

    def _downsample(p: np.ndarray, fx: int, fy: int) -> np.ndarray:
        """fx x fy mean with the half-up discipline (edge-replicated to
        factor-multiple dims first) — the deterministic chroma reduction
        (2x2 for 4:2:0, 2x1 for 4:2:2)."""
        hh, ww = p.shape
        pe = np.pad(p, ((0, -hh % fy), (0, -ww % fx)), mode="edge")
        acc = sum(
            pe[dy::fy, dx::fx] for dy in range(fy) for dx in range(fx)
        ) / float(fx * fy)
        return _round_half_up(acc)

    def encode_jpeg(
        arr,
        subsampling: str = "444",
        restart_interval: int = 0,
        component_order=None,
    ) -> bytes:
        """HxWx3 uint8 RGB (or HxW grayscale) -> baseline JFIF bytes.

        ``subsampling``: "444" (one block per component per MCU) or "420"
        (Y at 2x2 sampling, chroma 2x2-mean-downsampled — the dominant
        real-world JPEG layout). ``restart_interval`` > 0 emits a DRI
        segment and an RSTn marker every N MCUs (DC predictors reset) —
        the resync machinery hardware MJPEG encoders emit.
        ``component_order`` permutes the (Y, Cb, Cr) declaration/interleave
        order in SOF/SOS, e.g. (1, 0, 2) — component IDs stay the JFIF
        1=Y/2=Cb/3=Cr so any id-aware decoder recovers the same pixels
        (exercises the decode path ADVICE r05 flagged)."""
        a = np.asarray(arr, dtype=np.uint8)
        gray = a.ndim == 2
        if not gray and (a.ndim != 3 or a.shape[2] != 3):
            raise ValueError("encode_jpeg expects HxWx3 RGB or HxW gray")
        if subsampling not in ("444", "422", "420"):
            raise ValueError("subsampling must be '444', '422', or '420'")
        h, w = a.shape[0], a.shape[1]
        if gray:
            planes = [a.astype(np.float64)]
        else:
            r = a[:, :, 0].astype(np.float64)
            g = a[:, :, 1].astype(np.float64)
            b = a[:, :, 2].astype(np.float64)
            y = _round_half_up(0.299 * r + 0.587 * g + 0.114 * b)
            cb = _round_half_up(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
            cr = _round_half_up(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
            planes = [np.clip(p, 0, 255) for p in (y, cb, cr)]

        def dqt(tid, qt):
            zz = bytes(int(qt[r, c]) for r, c in ZIGZAG)
            return _seg(0xDB, bytes([tid]) + zz)

        def dht(cls, tid, bits, vals):
            return _seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

        def _seg(marker, body):
            return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

        ncomp = 1 if gray else 3
        if gray:
            factors = [(1, 1)]
        elif subsampling == "420":
            factors = [(2, 2), (1, 1), (1, 1)]
            planes = [planes[0]] + [_downsample(p, 2, 2) for p in planes[1:]]
        elif subsampling == "422":
            factors = [(2, 1), (1, 1), (1, 1)]
            planes = [planes[0]] + [_downsample(p, 2, 1) for p in planes[1:]]
        else:
            factors = [(1, 1)] * 3
        order = (
            tuple(component_order)
            if component_order is not None
            else tuple(range(ncomp))
        )
        if sorted(order) != list(range(ncomp)):
            raise ValueError(
                f"component_order must be a permutation of 0..{ncomp - 1}"
            )
        planes = [planes[i] for i in order]
        factors = [factors[i] for i in order]
        h_max = max(f[0] for f in factors)
        v_max = max(f[1] for f in factors)
        sof_comps = b"".join(
            bytes([order[c] + 1, (factors[c][0] << 4) | factors[c][1],
                   0 if order[c] == 0 else 1])
            for c in range(ncomp)
        )
        sos_comps = b"".join(
            bytes([order[c] + 1, 0x00 if order[c] == 0 else 0x11])
            for c in range(ncomp)
        )
        head = (
            b"\xff\xd8"  # SOI
            + _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + dqt(0, QT_LUMA)
            + (dqt(1, QT_CHROMA) if not gray else b"")
            + _seg(0xC0, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
            + dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
            + dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
            + (
                dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
                + dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
                if not gray
                else b""
            )
            + (
                _seg(0xDD, struct.pack(">H", restart_interval))
                if restart_interval
                else b""
            )
            + _seg(0xDA, bytes([ncomp]) + sos_comps + b"\x00\x3f\x00")
        )
        mcu_cols = -(-w // (8 * h_max))
        mcu_rows = -(-h // (8 * v_max))
        qts = [QT_LUMA if order[c] == 0 else QT_CHROMA for c in range(ncomp)]
        tids = [0 if order[c] == 0 else 1 for c in range(ncomp)]
        # pad each plane to its MCU-grid extent (content dims first: the
        # chroma planes were downsampled above)
        padded = []
        for c in range(ncomp):
            fh, fv = factors[c]
            ph, pw = mcu_rows * 8 * fv, mcu_cols * 8 * fh
            p = planes[c]
            padded.append(
                np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
            )
        bw = _BitWriter()
        prev = [0] * ncomp
        out = bytearray(head)
        mcu_n = 0
        rst = 0
        for my in range(mcu_rows):
            for mx in range(mcu_cols):
                if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                    out += bw.flush()
                    bw = _BitWriter()
                    out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                    prev = [0] * ncomp
                for c in range(ncomp):
                    fh, fv = factors[c]
                    dc_codes, ac_codes = enc_tables[tids[c]]
                    for by in range(fv):
                        for bx in range(fh):
                            r0 = (my * fv + by) * 8
                            c0 = (mx * fh + bx) * 8
                            block = padded[c][r0:r0 + 8, c0:c0 + 8]
                            prev[c] = _encode_block(
                                bw, block, qts[c], dc_codes, ac_codes, prev[c]
                            )
                mcu_n += 1
        out += bw.flush()
        out += b"\xff\xd9"
        return bytes(out)

    def decode_jpeg(payload: bytes, max_pixels: int = 1 << 26):
        """Baseline JFIF bytes -> HxWx3 uint8 RGB (grayscale replicated
        to 3 channels). General: tables come from the file's own
        DQT/DHT segments.

        Hostile-input contract (the 100-TB executor-safety bar, fuzz-
        locked in tests): any malformed payload raises ValueError — never
        IndexError/StopIteration/struct.error — and declared dimensions
        above ``max_pixels`` (default 2^26 ≈ an 8K×8K frame) raise before
        any allocation, so a corrupted SOF cannot OOM an executor."""
        try:
            return _decode_jpeg(payload, max_pixels)
        except (IndexError, StopIteration, struct.error) as e:
            # a corrupted length/count walked past a buffer or table —
            # the decoder boundary speaks ValueError only
            raise ValueError(
                f"JPEG: malformed stream ({type(e).__name__})"
            ) from None

    def _decode_jpeg(payload: bytes, max_pixels: int):
        if payload[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG")
        pos = 2
        qts: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], dict] = {}
        h = w = None
        comps: list[tuple[int, int, int]] = []  # (id, sampling, qt_id)
        scan: list[tuple[int, int, int]] = []  # (comp_idx, dc_tid, ac_tid)
        data_start = None
        restart_interval = 0
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError("JPEG: marker sync lost")
            # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
            # marker code
            while payload[pos + 1] == 0xFF and pos + 4 <= len(payload):
                pos += 1
            marker = payload[pos + 1]
            if marker == 0xD9:
                break
            (seglen,) = struct.unpack_from(">H", payload, pos + 2)
            if pos + 2 + seglen > len(payload):
                raise ValueError("JPEG: truncated segment")
            body = payload[pos + 4:pos + 2 + seglen]
            if marker == 0xDB:
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 0xF
                    if pq != 0:
                        raise ValueError("JPEG: 16-bit quant tables unsupported")
                    qt = np.zeros(64, np.int64)
                    qt[_ZZ_FLAT] = np.frombuffer(
                        body, np.uint8, 64, i + 1
                    ).astype(np.int64)
                    qts[tq] = qt.reshape(8, 8)
                    i += 65
            elif marker in (0xC1, 0xC2, 0xC3):
                raise ValueError("JPEG: only baseline (SOF0) supported")
            elif marker == 0xC0:
                prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
                if prec != 8:
                    raise ValueError("JPEG: only 8-bit precision supported")
                if h == 0 or w == 0 or h * w > max_pixels:
                    raise ValueError(
                        f"JPEG: declared dimensions {w}x{h} outside the"
                        f" decode bound (max_pixels={max_pixels})"
                    )
                for c in range(nc):
                    cid, samp, tq = body[6 + 3 * c:9 + 3 * c]
                    fh, fv = samp >> 4, samp & 0xF
                    if fh not in (1, 2) or fv not in (1, 2):
                        raise ValueError(
                            "JPEG: sampling factors beyond 2x2 unsupported"
                        )
                    comps.append((cid, samp, tq))
            elif marker == 0xC4:
                i = 0
                while i < len(body):
                    cls, tid = body[i] >> 4, body[i] & 0xF
                    bits = list(body[i + 1:i + 17])
                    n = sum(bits)
                    key = bytes(body[i + 1:i + 17 + n])
                    table = _DHT_CACHE.get(key)
                    if table is None:
                        vals = list(body[i + 17:i + 17 + n])
                        codes = _canonical_codes(bits, vals)
                        # invert: (length, code) -> symbol
                        table = {
                            (length, code): sym
                            for sym, (code, length) in codes.items()
                        }
                        # bounded cache: MJPEG repeats the same 4 tables
                        # per frame (the hit case); per-image optimized
                        # tables — or a hostile DHT spam — must not grow
                        # executor memory forever
                        if len(_DHT_CACHE) < _DHT_CACHE_MAX:
                            _DHT_CACHE[key] = table
                    huff[(cls, tid)] = table
                    i += 17 + n
            elif marker == 0xDD:
                (restart_interval,) = struct.unpack_from(">H", body, 0)
            elif marker == 0xDA:
                ns = body[0]
                # T.81 baseline bounds Ns <= 4; without this, a tiny
                # hostile SOS declaring 255 (possibly duplicate) component
                # refs would allocate 255 full-size planes below and
                # defeat the max_pixels guard
                if ns == 0 or ns > 4:
                    raise ValueError(f"JPEG: SOS component count {ns} invalid")
                for c in range(ns):
                    cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                    idx = next(
                        i for i, (id_, _, _) in enumerate(comps) if id_ == cid
                    )
                    if any(s[0] == idx for s in scan):
                        raise ValueError("JPEG: duplicate component in SOS")
                    scan.append((idx, tt >> 4, tt & 0xF))
                data_start = pos + 2 + seglen
                break
            pos += 2 + seglen
        if h is None or data_start is None or not scan:
            raise ValueError("JPEG: missing SOF0/SOS")

        def read_symbol(br, table):
            code, length = 0, 0
            while length < 16:
                code = (code << 1) | br.read_bit()
                length += 1
                sym = table.get((length, code))
                if sym is not None:
                    return sym
            raise ValueError("JPEG: invalid Huffman code")

        br = _BitReader(payload, data_start)
        # sampling-aware MCU geometry: comp i contributes fh x fv blocks
        # per MCU; its plane is (mcu_rows*8*fv, mcu_cols*8*fh)
        sfac = []
        for ci, _dct, _act in scan:
            samp = comps[ci][1]
            sfac.append((samp >> 4, samp & 0xF))
        h_max = max(f[0] for f in sfac)
        v_max = max(f[1] for f in sfac)
        mcu_cols = -(-w // (8 * h_max))
        mcu_rows = -(-h // (8 * v_max))
        planes = [
            np.zeros((mcu_rows * 8 * fv, mcu_cols * 8 * fh), np.float64)
            for fh, fv in sfac
        ]
        prev = [0] * len(scan)
        # resolve per-scan tables once; qt is pre-raveled into zigzag
        # order so per-block dequant+unzigzag is one fancy-index
        resolved = []
        for ci, dct, act in scan:
            dc_tab, ac_tab = huff.get((0, dct)), huff.get((1, act))
            if dc_tab is None or ac_tab is None:
                raise ValueError("JPEG: scan references missing DHT")
            qt = qts.get(comps[ci][2])
            if qt is None:
                raise ValueError("JPEG: scan references missing DQT")
            resolved.append((dc_tab, ac_tab, qt.ravel()[_ZZ_FLAT].astype(float)))

        def read_block(s, dc_tab, ac_tab, qt_zz):
            zz = [0] * 64
            t = read_symbol(br, dc_tab)
            diff = _extend(br.read_bits(t), t) if t else 0
            prev[s] += diff
            zz[0] = prev[s]
            k = 1
            while k < 64:
                sym = read_symbol(br, ac_tab)
                if sym == 0x00:  # EOB
                    break
                run, t = sym >> 4, sym & 0xF
                if t == 0:
                    if run != 15:
                        raise ValueError("JPEG: bad AC symbol")
                    k += 16  # ZRL
                    continue
                k += run
                if k > 63:
                    raise ValueError("JPEG: AC run past block end")
                zz[k] = _extend(br.read_bits(t), t)
                k += 1
            f = np.zeros(64, np.float64)
            f[_ZZ_FLAT] = np.asarray(zz, np.float64) * qt_zz
            return _C.T @ f.reshape(8, 8) @ _C + 128.0

        mcu_n = 0
        for my in range(mcu_rows):
            for mx in range(mcu_cols):
                if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                    br.sync_restart()  # byte-align, consume RSTn
                    for s in range(len(prev)):
                        prev[s] = 0
                for s, (dc_tab, ac_tab, qt_zz) in enumerate(resolved):
                    fh, fv = sfac[s]
                    for by in range(fv):
                        for bx in range(fh):
                            block = read_block(s, dc_tab, ac_tab, qt_zz)
                            r0 = (my * fv + by) * 8
                            c0 = (mx * fh + bx) * 8
                            planes[s][r0:r0 + 8, c0:c0 + 8] = block
                mcu_n += 1
        # crop each plane to its content dims, then replicate-upsample the
        # subsampled components to full resolution
        full = []
        for s, p in enumerate(planes):
            fh, fv = sfac[s]
            ch = -(-h * fv // v_max)
            cw = -(-w * fh // h_max)
            p = p[:ch, :cw]
            if fv != v_max:
                p = np.repeat(p, v_max // fv, axis=0)
            if fh != h_max:
                p = np.repeat(p, h_max // fh, axis=1)
            full.append(p[:h, :w])
        planes = full
        if len(planes) == 1:
            g = np.clip(_round_half_up(planes[0]), 0, 255).astype(np.uint8)
            return np.stack([g, g, g], axis=2)
        # a spec-valid SOS may list components in any order; assign color
        # roles by SOF component id (smallest id = luma, then chroma in id
        # order — JFIF convention), not by scan position (ADVICE r05)
        by_cid = sorted(zip((comps[ci][0] for ci, _, _ in scan), planes))
        y, cb, cr = (p for _, p in by_cid)
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.stack(
            [np.clip(_round_half_up(p), 0, 255) for p in (r, g, b)], axis=2
        )
        return rgb.astype(np.uint8)

    return {"encode_jpeg": encode_jpeg, "decode_jpeg": decode_jpeg}
