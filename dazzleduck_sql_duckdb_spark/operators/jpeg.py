"""Baseline JPEG codec in pure numpy + stdlib — no external codec library.

Moves the last real image format off the declared stub
(multimodal.py stub_decoder): decode_jpeg handles baseline sequential
DCT JFIF streams (SOF0) — grayscale and YCbCr with 4:4:4 / 4:2:2 /
4:2:0 sampling, DRI/RSTn restart markers, multi-table DQT/DHT —
and encode_jpeg produces baseline grayscale / 4:4:4 RGB streams with
the ITU T.81 Annex K standard tables, so the pair round-trips without
any library. Written against the public JPEG spec (ITU-T T.81 / JFIF);
the reference engine has no media surface at all (SURVEY.md §2 —
engine-added training-pipeline operator).

Exactness note for the oracle gate (plans/multimodal.py
multimodal_jpeg_features): with an all-ones quantization table, an 8x8
block of ONE constant value v encodes to a DC-only coefficient
8*(v-128) (the AC terms of a constant block are mathematical zeros;
their float residue is ~1e-12, far below the 0.5 rounding cut) and
decodes back to exactly v — so uniform-block images survive the FULL
entropy-code -> dequant -> IDCT path byte-exactly, which lets a SQL
oracle mirror the decoded pixels with integer arithmetic while still
exercising every stage of the real codec.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- DCT basis

# Orthonormal 8x8 DCT-II basis M[u, x] = C(u)/2 * cos((2x+1) u pi / 16):
# S = M @ s @ M.T, s = M.T @ S @ M (M @ M.T == I).
_M = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)

# zigzag order: ZIGZAG[i] = (row, col) of the i-th coefficient
_ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]
_ZZ_ROWS = np.array([r for r, _ in _ZIGZAG])
_ZZ_COLS = np.array([c for _, c in _ZIGZAG])

# ---------------------------------------- ITU T.81 Annex K Huffman tables
# (bits[1..16] counts, then values) — the tables every baseline encoder
# ships; the DECODER reads whatever tables the stream carries.

_STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
_STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
    ],
)


# ------------------------------------------------------------- decode side


class _HuffTable:
    """Table-driven Huffman decoder: one 2^16-entry lookup per symbol
    (the flat-LUT form of T.81 F.2.2.3 — every 16-bit window whose
    prefix is a code maps to (length << 8) | symbol). A per-bit
    MINCODE/MAXCODE walk dominated realistic-frame decode (~90% of
    wall in decode/read_bit/receive, cProfile 256x256 q8); the LUT
    does one list index + one bit-skip per symbol. The
    LUT is built lazily on first decode (one numpy slice-fill pass,
    shared across every block of the image) and decoded symbols are
    bit-identical by construction."""

    # LUTs cached by table CONTENT across images: virtually every JPEG
    # stream reuses the T.81 Annex K standard tables, and the build
    # (a 65536-entry fill + tolist) costs ~2 ms/table — per-frame
    # builds would dominate small-frame (MJPEG) decode. Bounded:
    # cleared wholesale past _LUT_CACHE_MAX distinct tables.
    _LUT_CACHE: dict[tuple, list[int]] = {}
    _LUT_CACHE_MAX = 16

    def __init__(self, bits: list[int], values: list[int]):
        self.bits = list(bits)
        self.values = values
        self._lut: list[int] | None = None

    def _build_lut(self) -> list[int]:
        key = (tuple(self.bits), tuple(self.values))
        cached = _HuffTable._LUT_CACHE.get(key)
        if cached is not None:
            self._lut = cached
            return cached
        lut = np.zeros(1 << 16, np.int32)  # 0 = invalid prefix
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(self.bits[ln - 1]):
                lo = code << (16 - ln)
                hi = (code + 1) << (16 - ln)
                lut[lo:hi] = (ln << 8) | self.values[k]
                code += 1
                k += 1
            code <<= 1
        self._lut = lut.tolist()  # python list: faster scalar indexing
        if len(_HuffTable._LUT_CACHE) >= _HuffTable._LUT_CACHE_MAX:
            _HuffTable._LUT_CACHE.clear()
        _HuffTable._LUT_CACHE[key] = self._lut
        return self._lut

    def decode(self, br: "_BitReader") -> int:
        lut = self._lut
        if lut is None:
            lut = self._build_lut()
        entry = lut[br.peek16()]
        if entry == 0:
            raise ValueError("corrupt JPEG: invalid huffman code")
        br.skip(entry >> 8)
        return entry & 0xFF


_ACC_MASK = (1 << 40) - 1  # fill never buffers past 23+8 bits


class _BitReader:
    """MSB-first bit reader over byte-unstuffed scan data, with a
    multi-byte accumulator so the LUT decoder can PEEK 16 bits at
    once. Peeking may extend past the data end with virtual zero
    bits; CONSUMING past the end still raises (the old per-bit
    reader's exhaustion contract)."""

    def __init__(self, data: bytes):
        self.data = data
        self.limit = len(data) * 8
        self.pos = 0        # next real byte to load
        self.acc = 0
        self.nbits = 0      # buffered, unconsumed bits
        self.overrun = 0    # virtual zero bits loaded past the end

    def seek_byte(self, byte_pos: int) -> None:
        self.pos = byte_pos
        self.acc = 0
        self.nbits = 0
        self.overrun = 0

    def _fill(self, need: int) -> None:
        data, n = self.data, len(self.data)
        while self.nbits < need:
            if self.pos < n:
                self.acc = ((self.acc << 8) | data[self.pos]) & _ACC_MASK
                self.pos += 1
            else:
                self.acc = (self.acc << 8) & _ACC_MASK
                self.overrun += 8
            self.nbits += 8

    def peek16(self) -> int:
        if self.nbits < 16:
            self._fill(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n
        if self.pos * 8 + self.overrun - self.nbits > self.limit:
            raise ValueError("corrupt JPEG: scan data exhausted")

    def read_bit(self) -> int:
        return self.receive(1)

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill(n)
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.skip(n)
        return v

    def align(self) -> None:
        rem = (self.pos * 8 + self.overrun - self.nbits) & 7
        if rem:
            self.skip(8 - rem)


def _unstuff(scan: bytes) -> tuple[bytes, list[int]]:
    """Remove 0xFF00 byte stuffing; split at RSTn markers. Returns the
    concatenated entropy bytes and the segment start offsets."""
    out = bytearray()
    starts = [0]
    i, n = 0, len(scan)
    while i < n:
        b = scan[i]
        if b == 0xFF:
            m = scan[i + 1] if i + 1 < n else 0xD9
            if m == 0x00:
                out.append(0xFF)
                i += 2
                continue
            if 0xD0 <= m <= 0xD7:  # RSTn
                starts.append(len(out))
                i += 2
                continue
            break  # next real marker: end of scan
        out.append(b)
        i += 1
    return bytes(out), starts


# Frame-size cap for decode: 16M pixels (4096x4096).
# Tunable by corpora with known-larger frames; the point is that the
# bound is checked from the ~10-byte SOF header before any allocation.
_MAX_DECODE_PIXELS = 16_000_000


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JPEG -> uint8 (h, w) grayscale or (h, w, 3) RGB.

    Supports: SOF0 (baseline sequential DCT), 8-bit precision, 1 or 3
    components, sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0),
    multiple DQT/DHT segments, DRI restart intervals. Progressive
    (SOF2) and arithmetic coding raise.

    Error contract (fuzz-pinned in tests/test_jpeg_fuzz.py): corrupt
    or unsupported input raises ValueError — truncated segments and
    out-of-range table ids surface as the typed error, never as a
    stray struct.error/IndexError/KeyError and never as garbage
    pixels of the wrong shape. A malformed web corpus must fail the
    row, not poison the batch. MemoryError/OverflowError are in the
    caught tuple as a last line of defense: the
    _MAX_DECODE_PIXELS cap below rejects oversized frames before any
    allocation, but an allocation that still fails must surface as
    the typed row error, not OOM-kill the executor's batch."""
    try:
        return _decode_jpeg_impl(payload)
    except (struct.error, IndexError, KeyError,
            MemoryError, OverflowError) as e:
        raise ValueError(f"corrupt JPEG: {type(e).__name__}: {e}") from e


def _decode_jpeg_impl(payload: bytes) -> np.ndarray:
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}  # (class, id)
    frame = None
    restart_interval = 0
    i, n = 2, len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError(f"bad marker alignment at {i}")
        # T.81 B.1.1.2: any marker may be preceded by any number of
        # 0xFF fill bytes — skip them before reading the marker code
        # (our own encoder never pads, but other baseline encoders do)
        while i + 1 < n and payload[i + 1] == 0xFF:
            i += 1
        if i + 4 > n:
            break
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, i + 2)
        body = payload[i + 4 : i + 2 + seglen]
        i += 2 + seglen
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported")
                tbl = np.zeros((8, 8), np.int32)
                vals = np.frombuffer(body, np.uint8, 64, j + 1)
                tbl[_ZZ_ROWS, _ZZ_COLS] = vals
                qt[tq] = tbl
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = list(body[j + 1 : j + 17])
                nvals = sum(bits)
                values = list(body[j + 17 : j + 17 + nvals])
                huff[(tc, th)] = _HuffTable(bits, values)
                j += 17 + nvals
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if h < 1 or w < 1:
                raise ValueError("corrupt JPEG: zero frame dimension")
            if nc not in (1, 3):
                raise ValueError(
                    f"unsupported component count {nc} (1 or 3)"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                sh, sv = hv >> 4, hv & 0x0F
                # supported sampling grid is 1..2 per axis (4:4:4 /
                # 4:2:2 / 4:2:0, per the docstring); 0 is corrupt
                # (divides the MCU geometry), >2 is out of scope
                if not (1 <= sh <= 2 and 1 <= sv <= 2):
                    raise ValueError(
                        f"corrupt/unsupported sampling factors "
                        f"{sh}x{sv} (1..2 per axis)"
                    )
                comps.append({"id": cid, "h": sh, "v": sv, "tq": tq})
            # Bound the decode footprint BEFORE any allocation: a
            # <100-byte crafted header (65535x65535, 3
            # components) would otherwise request ~100+ GB across
            # zz_all + the per-component planes — np.zeros can raise
            # MemoryError or the cgroup can OOM-kill the executor on
            # one row. The coefficient store costs ~24 bytes/pixel at
            # 4:4:4, so the cap bounds decode memory to ~400 MB.
            if h * w > _MAX_DECODE_PIXELS:
                raise ValueError(
                    f"corrupt/oversized JPEG: frame {w}x{h} exceeds "
                    f"the {_MAX_DECODE_PIXELS}-pixel decode cap"
                )
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"only baseline SOF0 supported (got SOF marker "
                f"0x{marker:02X})"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = body[0]
            scan_tabs = {}
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                scan_tabs[cs] = (tt >> 4, tt & 0x0F)
            scan = payload[i:]
            return _decode_scan(
                frame, qt, huff, scan_tabs, scan, restart_interval
            )
        # else: APPn/COM/etc — skipped
    raise ValueError("no SOS marker found")


def _decode_scan(frame, qt, huff, scan_tabs, scan, restart_interval):
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    data, seg_starts = _unstuff(scan)

    # ---- inlined entropy decode: the bit/huffman layer is the
    # wall-clock of realistic-frame decode and it is CALL-BOUND in
    # pure Python (cProfile: ~640k function calls per 256x256 frame
    # through decode/peek/skip/receive). The LUT tables (_HuffTable)
    # plus bit state held in LOCALS drop it to a handful of local int
    # ops per coefficient — same symbols, bit-identical pixels. The
    # _BitReader class stays as the readable reference implementation
    # (and the seek/align contract documentation).
    dlen = len(data)
    limit = dlen * 8
    acc = nbits = pos = overrun = 0
    luts = {key: (t._lut or t._build_lut()) for key, t in huff.items()}

    # per-component coefficient planes (MCU-padded)
    planes = {
        c["id"]: np.zeros(
            (mcuy * c["v"] * 8, mcux * c["h"] * 8), np.float64
        )
        for c in comps
    }
    pred = {c["id"]: 0 for c in comps}
    seg = 1
    n_mcu = mcux * mcuy
    # phase-1 outputs: all zigzag coefficient vectors (one row per
    # block, decode order) + per-component block placement, so the
    # dequant + 2D IDCT runs ONCE as a batched (B, 8, 8) matmul in
    # phase 2 instead of 2 tiny matmuls per block (per-block numpy
    # was ~half the decode wall after the entropy inlining)
    blocks_per_mcu = sum(c["h"] * c["v"] for c in comps)
    # int64: the DC predictor accumulates diffs across blocks, and on
    # corrupt-but-decodable streams the running value can exceed int32
    # long before any per-block check fires — the store must not be
    # the thing that overflows (fuzz-pinned)
    zz_all = np.zeros((n_mcu * blocks_per_mcu, 64), np.int64)
    placement = {c["id"]: ([], [], []) for c in comps}  # (bi, y0, x0)
    bi = 0
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            if seg < len(seg_starts):  # align + seek to next segment
                pos, acc, nbits, overrun = seg_starts[seg], 0, 0, 0
                seg += 1
            else:  # align to the next byte boundary
                rem = (pos * 8 + overrun - nbits) & 7
                if rem:
                    nbits -= 8 - rem
            pred = {c["id"]: 0 for c in comps}
        my, mx = divmod(m, mcux)
        for c in comps:
            cid = c["id"]
            dc_lut = luts[(0, scan_tabs[cid][0])]
            ac_lut = luts[(1, scan_tabs[cid][1])]
            place = placement[cid]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    zz = [0] * 64
                    # -- DC coefficient
                    while nbits < 16:
                        if pos < dlen:
                            acc = ((acc << 8) | data[pos]) & _ACC_MASK
                            pos += 1
                        else:
                            acc = (acc << 8) & _ACC_MASK
                            overrun += 8
                        nbits += 8
                    entry = dc_lut[(acc >> (nbits - 16)) & 0xFFFF]
                    if entry == 0:
                        raise ValueError(
                            "corrupt JPEG: invalid huffman code"
                        )
                    s = entry & 0xFF
                    nbits -= entry >> 8
                    if s > 11:
                        # T.81 F.1.2.1.1: baseline 8-bit DC categories
                        # are 0..11 — larger values only come from a
                        # corrupt DHT; 12..15 would decode to silently
                        # garbage predictor swings and >15 makes 1<<s
                        # a bignum, so both classes error here
                        raise ValueError(
                            "corrupt JPEG: DC category out of range"
                        )
                    if s:
                        while nbits < s:
                            if pos < dlen:
                                acc = ((acc << 8) | data[pos]) & _ACC_MASK
                                pos += 1
                            else:
                                acc = (acc << 8) & _ACC_MASK
                                overrun += 8
                            nbits += 8
                        v = (acc >> (nbits - s)) & ((1 << s) - 1)
                        nbits -= s
                        pred[cid] += (
                            v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        )
                    zz[0] = pred[cid]
                    # -- AC run-length coefficients
                    k = 1
                    while k < 64:
                        while nbits < 16:
                            if pos < dlen:
                                acc = ((acc << 8) | data[pos]) & _ACC_MASK
                                pos += 1
                            else:
                                acc = (acc << 8) & _ACC_MASK
                                overrun += 8
                            nbits += 8
                        entry = ac_lut[(acc >> (nbits - 16)) & 0xFFFF]
                        if entry == 0:
                            raise ValueError(
                                "corrupt JPEG: invalid huffman code"
                            )
                        rs = entry & 0xFF
                        nbits -= entry >> 8
                        s = rs & 0x0F
                        if s == 0:
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        if s > 10:
                            # T.81 Table F.2: baseline 8-bit AC
                            # categories are 1..10 (coefficients fit
                            # 10 bits post-quant); 11..15 only come
                            # from a corrupt DHT — same silent-garbage
                            # class as the DC guard above
                            raise ValueError(
                                "corrupt JPEG: AC category out of range"
                            )
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("corrupt JPEG: AC overrun")
                        while nbits < s:
                            if pos < dlen:
                                acc = ((acc << 8) | data[pos]) & _ACC_MASK
                                pos += 1
                            else:
                                acc = (acc << 8) & _ACC_MASK
                                overrun += 8
                            nbits += 8
                        v = (acc >> (nbits - s)) & ((1 << s) - 1)
                        nbits -= s
                        zz[k] = (
                            v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                        )
                        k += 1
                    # consuming past the data end is corruption (the
                    # exhaustion contract, checked per block — peeks
                    # legitimately extend past the end with zero bits)
                    if pos * 8 + overrun - nbits > limit:
                        raise ValueError(
                            "corrupt JPEG: scan data exhausted"
                        )
                    zz_all[bi] = zz
                    place[0].append(bi)
                    place[1].append((my * c["v"] + by) * 8)
                    place[2].append((mx * c["h"] + bx) * 8)
                    bi += 1

    # phase 2: batched dequant + 2D IDCT per component, then scatter
    for c in comps:
        cid = c["id"]
        bis, y0s, x0s = placement[cid]
        if not bis:
            continue
        coef = np.zeros((len(bis), 8, 8), np.float64)
        coef[:, _ZZ_ROWS, _ZZ_COLS] = zz_all[bis]
        coef *= qt[c["tq"]]
        blks = _M.T @ coef @ _M + 128.0
        plane = planes[cid]
        for j, (y0, x0) in enumerate(zip(y0s, x0s)):
            plane[y0 : y0 + 8, x0 : x0 + 8] = blks[j]

    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        # upsample to full resolution by pixel replication
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ------------------------------------------------------------- encode side


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.acc = (self.acc << (8 - self.nbits)) | (
                (1 << (8 - self.nbits)) - 1
            )  # pad with 1s per spec
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0


def _encode_codes(bits: list[int], values: list[int]) -> dict[int, tuple]:
    """symbol -> (code, length) for a canonical table."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _magnitude(v: int) -> tuple[int, int]:
    """signed value -> (category, appended bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    n = a.bit_length()
    bits = v if v > 0 else v + (1 << n) - 1
    return n, bits


def _encode_block(
    bw: _BitWriter, zz: np.ndarray, pred: int, dc_codes, ac_codes
) -> int:
    dc = int(zz[0])
    n, bits = _magnitude(dc - pred)
    code, ln = dc_codes[n]
    bw.write(code, ln)
    if n:
        bw.write(bits, n)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s, bits = _magnitude(v)
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(bits, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return dc


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _dqt_body(tid: int, q: np.ndarray) -> bytes:
    return bytes([tid]) + bytes(int(q[r, c]) for r, c in _ZIGZAG)


def _dht_body(tc: int, th: int, table) -> bytes:
    bits, values = table
    return bytes([(tc << 4) | th]) + bytes(bits) + bytes(values)


def _pad_plane(p: np.ndarray, mult: int, wmult: int | None = None) -> np.ndarray:
    """Edge-replicate pad dims up to multiples of `mult` (height) and
    `wmult` (width; defaults to `mult`)."""
    h, w = p.shape
    wm = mult if wmult is None else wmult
    ph, pw = -(-h // mult) * mult, -(-w // wm) * wm
    pp = np.empty((ph, pw), np.float64)
    pp[:h, :w] = p
    pp[h:, :w] = p[h - 1 : h, :]
    pp[:, w:] = pp[:, w - 1 : w]
    return pp


def encode_jpeg(
    img: np.ndarray,
    *,
    quant: np.ndarray | int = 1,
    subsample: bool | str = False,
    restart_interval: int = 0,
) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB -> baseline JFIF bytes.

    `quant`: an int fills the whole table with that value (1 = the
    near-lossless table the oracle gate uses), or pass a full (8, 8)
    array. RGB is 4:4:4 by default; `subsample=True` (or "420")
    encodes 4:2:0 (2x2 luma sampling, chroma block-mean downsampled),
    `subsample="422"` encodes 4:2:2 (2x1 luma sampling, horizontal
    chroma pair-mean). A nonzero
    `restart_interval` emits DRI + RSTn markers every that many MCUs.
    Standard T.81 Annex K luma/chroma Huffman tables throughout."""
    a = np.asarray(img, dtype=np.float64)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    q = (
        np.full((8, 8), int(quant), np.int32)
        if np.isscalar(quant)
        else np.asarray(quant, np.int32)
    )
    if gray:
        planes = [a]
    else:  # RGB -> YCbCr (BT.601, the JFIF convention)
        r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
    mode = (
        None if gray or not subsample
        else (subsample if isinstance(subsample, str) else "420")
    )
    if mode not in (None, "420", "422"):
        raise ValueError(f"unsupported subsample mode {subsample!r}")
    if mode == "420":
        ypad = _pad_plane(planes[0], 16)
        chroma = []
        for p in planes[1:]:
            pp = _pad_plane(p, 16)
            # 2x2 block-mean downsample
            chroma.append(
                pp.reshape(pp.shape[0] // 2, 2, pp.shape[1] // 2, 2)
                .mean(axis=(1, 3))
            )
        padded = [ypad, *chroma]
        samp = [(2, 2), (1, 1), (1, 1)]
        mcux, mcuy = ypad.shape[1] // 16, ypad.shape[0] // 16
    elif mode == "422":
        # 2x1 luma sampling: MCU is 16 wide x 8 tall; chroma halves
        # horizontally only (pair means), full vertical resolution
        ypad = _pad_plane(planes[0], 8, 16)
        chroma = []
        for p in planes[1:]:
            pp = _pad_plane(p, 8, 16)
            chroma.append(
                pp.reshape(pp.shape[0], pp.shape[1] // 2, 2).mean(axis=2)
            )
        padded = [ypad, *chroma]
        samp = [(2, 1), (1, 1), (1, 1)]
        mcux, mcuy = ypad.shape[1] // 16, ypad.shape[0] // 8
    else:
        padded = [_pad_plane(p, 8) for p in planes]
        samp = [(1, 1)] * len(planes)
        mcux, mcuy = padded[0].shape[1] // 8, padded[0].shape[0] // 8

    dc_l = _encode_codes(*_STD_DC_LUMA)
    ac_l = _encode_codes(*_STD_AC_LUMA)
    dc_c = _encode_codes(*_STD_DC_CHROMA)
    ac_c = _encode_codes(*_STD_AC_CHROMA)
    scan = bytearray()
    bw = _BitWriter()
    pred = [0] * len(planes)
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            scan += bw.out
            scan += bytes([0xFF, 0xD0 + ((m // restart_interval - 1) % 8)])
            bw = _BitWriter()
            pred = [0] * len(planes)
        my, mx = divmod(m, mcux)
        for ci, p in enumerate(padded):
            sh, sv = samp[ci]
            for by in range(sv):
                for bx in range(sh):
                    y0 = (my * sv + by) * 8
                    x0 = (mx * sh + bx) * 8
                    blk = p[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                    coef = _M @ blk @ _M.T
                    zz = np.round(
                        coef[_ZZ_ROWS, _ZZ_COLS] / q[_ZZ_ROWS, _ZZ_COLS]
                    ).astype(np.int64)
                    dcc, acc = (dc_l, ac_l) if ci == 0 else (dc_c, ac_c)
                    pred[ci] = _encode_block(bw, zz, pred[ci], dcc, acc)
    bw.flush()
    scan += bw.out

    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    sos = bytes([nc])
    for ci in range(nc):
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(
        0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )  # APP0
    out += _seg(0xDB, _dqt_body(0, q))
    out += _seg(0xC4, _dht_body(0, 0, _STD_DC_LUMA))
    out += _seg(0xC4, _dht_body(1, 0, _STD_AC_LUMA))
    if not gray:
        out += _seg(0xDB, _dqt_body(1, q))
        out += _seg(0xC4, _dht_body(0, 1, _STD_DC_CHROMA))
        out += _seg(0xC4, _dht_body(1, 1, _STD_AC_CHROMA))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xC0, sof)
    out += _seg(0xDA, sos)
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)
