"""Stdlib-only JPEG codec (ITU-T.81 sequential and progressive DCT).

Closes the "compressed codecs remain guarded" gap left after round 6's
PNG/BMP/WAV/AVI stdlib codecs: baseline JPEG needs nothing beyond
`struct` + numpy (Huffman is pure Python, the 8×8 DCT/IDCT is two tiny
matmuls), so the `decode_image` seam in ops/multimodal.py can run a
REAL compressed-format pixel path.

Scope (documented, raises outside it):
- decode: baseline sequential DCT (SOF0), 8-bit extended sequential
  (SOF1) AND progressive DCT (SOF2, ITU-T.81 Annex G: spectral
  selection, successive approximation, EOBn runs, DC/AC refinement
  scans), 8-bit, grayscale or color with any integer-ratio sampling
  (4:4:4, 4:2:0, 4:2:2, 4:4:0, 4:1:1 — interleaved MCUs, replication
  chroma upsample, JFIF YCbCr→RGB), Huffman tables read from the
  file's DHT segments (any valid tables, not just Annex K), restart
  intervals (DRI + RSTn); arithmetic coding and lossless SOFs raise.
- encode: real pipeline — level shift, float 2-D DCT-II, quantize
  (round-to-nearest), zigzag, DC-diff + AC run-length Huffman with
  byte stuffing — emitting a spec-conformant JFIF stream whose DQT /
  DHT / SOF0 (or SOF2) / SOS segments the decoder (or any JPEG reader)
  parses.

One transform stage serves every layout. Encode: ``_planes`` (level
shift, YCbCr, chroma mean) → ``_coef_blocks`` (the one batched FDCT +
quantizer) → ``_mcu_walk`` (interleaved MCU order) → per-symbol
Huffman, behind one ``_frame_header``. Decode: ``_scan`` entropy-decodes
every scan, sequential or progressive, into per-component coefficient
arrays; after the last one ``_idct_planes`` dequantizes and inverts
every block in one batched pass.

Determinism: the corpus generator (ops/multimodal.synth_jpeg_media)
feeds piecewise-constant blocks whose DC coefficients quantize and
reconstruct EXACTLY (values chosen so S00 = 8·(p−128) is a multiple of
the quantizer), so decoded pixels equal the closed-form rule bit-for-
bit and a DuckDB oracle can recompute them; arbitrary images round-trip
lossily like any JPEG (tested with tolerance).

Scale note: same as imagecodec.py — this runs inside Arrow-batched
mapInPandas; swap in libjpeg-turbo via the identical seam for a real
100 TB corpus.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Tuple

import numpy as np

# ---------------------------------------------------------------------------
# DCT basis (orthonormal 8-point DCT-II; JPEG's FDCT/IDCT pair)
# ---------------------------------------------------------------------------

_T = np.zeros((8, 8))
for _k in range(8):
    _a = np.sqrt(0.125) if _k == 0 else 0.5
    for _n in range(8):
        _T[_k, _n] = _a * np.cos((2 * _n + 1) * _k * np.pi / 16.0)


def _zigzag_order() -> List[Tuple[int, int]]:
    """The spec's zigzag scan, generated (not hardcoded): walk the 15
    anti-diagonals, alternating direction, upper-left to lower-right."""
    out = []
    for s in range(15):
        cells = [(r, s - r) for r in range(8) if 0 <= s - r < 8]
        out.extend(cells if s % 2 else cells[::-1])
    return out


_ZZ = _zigzag_order()
_ZZ_IDX = np.array([r * 8 + c for r, c in _ZZ])   # zigzag → raster
_UNZZ = np.argsort(_ZZ_IDX)                        # raster → zigzag

# Spec-conformant custom Huffman tables (JPEG permits any canonical
# tables carried in DHT; the decoder reads them from the file, so
# Annex-K files decode too). DC: 12 categories, all 4-bit codes.
# AC: EOB, ZRL and every (run 0-15, size 1-10) at 8 bits (162 ≤ 256).
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_VALS = ([0x00, 0xF0]
            + [(r << 4) | s for r in range(16) for s in range(1, 11)])
_AC_BITS = [0] * 7 + [len(_AC_VALS)] + [0] * 8
# Progressive AC table: every (run 0-15, size 0-10) symbol — size 0 is
# EOBn for run 0-14 (end-of-band run category) and ZRL for run 15 —
# all at 8 bits (176 ≤ 256, canonical).
_ACP_VALS = [(r << 4) | s for r in range(16) for s in range(11)]
_ACP_BITS = [0] * 7 + [len(_ACP_VALS)] + [0] * 8


def _canonical_codes(bits: List[int],
                     vals: List[int]) -> Dict[int, Tuple[int, int]]:
    """value -> (code, length) via the JPEG canonical algorithm."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)
_ACP_ENC = _canonical_codes(_ACP_BITS, _ACP_VALS)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            b = (self._acc >> (self._n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:           # byte stuffing
                self.buf.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:                 # pad to byte boundary with 1-bits
            pad = 8 - self._n
            self.put((1 << pad) - 1, pad)


def _category(v: int) -> int:
    return abs(v).bit_length()


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


# ---------------------------------------------------------------------------
# Encoder: one transform stage for every layout
# ---------------------------------------------------------------------------

def _planes(width: int, height: int, data: bytes, channels: int,
            hv: Tuple[int, int]):
    """Level-shifted sample planes and their (h, v) sampling factors:
    grayscale, or JFIF YCbCr with chroma mean-subsampled by the luma
    factors ``hv`` — (1, 1) 4:4:4, (2, 1) 4:2:2, (2, 2) 4:2:0.
    Dimensions must be whole MCUs (8h × 8v)."""
    h, v = hv
    if width % (8 * h) or height % (8 * v):
        raise ValueError(f"JPEG encoding needs multiple-of-{8 * h} width "
                         f"and multiple-of-{8 * v} height")
    if channels == 1:
        img = np.frombuffer(bytes(data), dtype=np.uint8) \
            .reshape(height, width).astype(np.float64) - 128.0
        return [img], [(1, 1)]
    if channels != 3:
        raise ValueError("channels must be 1 or 3")
    arr = np.frombuffer(bytes(data), dtype=np.uint8) \
        .reshape(height, width, 3).astype(np.float64)
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0           # Y (shifted)
    chroma = [-0.168736 * r - 0.331264 * g + 0.5 * b,       # Cb - 128
              0.5 * r - 0.418688 * g - 0.081312 * b]        # Cr - 128
    if hv != (1, 1):
        chroma = [c.reshape(height // v, v, width // h, h).mean(axis=(1, 3))
                  for c in chroma]
    return [y] + chroma, [hv, (1, 1), (1, 1)]


def _coef_blocks(plane: "np.ndarray", q: "np.ndarray") -> "np.ndarray":
    """FDCT + quantize every 8×8 block of a (level-shifted) plane →
    (bh, bw, 64) int array in zigzag order."""
    h, w = plane.shape
    bh, bw = h // 8, w // 8
    tiles = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    # batched matmul in the association (_T @ blk) @ _T.T — float
    # contraction order changes round-at-.5 results, so another order
    # changes the streams (tests pin them byte for byte)
    coefs = np.matmul(np.matmul(_T, tiles), _T.T)
    cq = np.round(coefs / q).astype(np.int64)
    return cq.reshape(bh, bw, 64)[:, :, _ZZ_IDX]


def _mcu_walk(samp: List[Tuple[int, int]], mbh: int, mbw: int):
    """Interleaved MCU order (ITU-T.81 §A.2.3): MCUs in raster order,
    each component's h×v blocks in raster order within the MCU, as
    (component, block row, block column) per block — an MCU is
    sum(h·v) consecutive entries. With one (1, 1) component it is the
    raster walk of a non-interleaved scan (§A.2.2)."""
    return [(ci, my * v + sv, mx * h + sh)
            for my in range(mbh) for mx in range(mbw)
            for ci, (h, v) in enumerate(samp)
            for sv in range(v) for sh in range(h)]


def _frame_header(sof: int, width: int, height: int, q: "np.ndarray",
                  samp: List[Tuple[int, int]], ac_bits: List[int],
                  ac_vals: List[int], restart_interval: int = 0) -> bytearray:
    """Every segment before the first SOS: SOI, JFIF APP0, DQT (id 0),
    SOFn with component ids 1.. and their sampling factors, the DC and
    AC DHTs (id 0) and, when restarts are on, DRI."""
    out = bytearray(b"\xff\xd8")                        # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz = bytes(int(q[r][c]) for r, c in _ZZ)
    out += _seg(0xFFDB, b"\x00" + zz)                   # DQT, 8-bit, id 0
    comps = b"".join(bytes([ci + 1, (h << 4) | v, 0])
                     for ci, (h, v) in enumerate(samp))
    out += _seg(sof, struct.pack(">BHHB", 8, height, width, len(samp))
                + comps)
    out += _seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    return out


def _sos(comp_ids: List[int], ss: int, se: int, ah: int, al: int) -> bytes:
    return _seg(0xFFDA, bytes([len(comp_ids)])
                + b"".join(bytes([cid, 0x00]) for cid in comp_ids)
                + bytes([ss, se, (ah << 4) | al]))


def _transform(width: int, height: int, data: bytes, channels: int,
               hv: Tuple[int, int], quant: int):
    """The encoders' shared front half: planes → FDCT + quantize →
    each component's zigzag blocks as nested lists [by][bx][64] (one
    ``tolist()`` per plane, so entropy coding reads Python ints), and
    the MCU walk over them."""
    planes, samp = _planes(width, height, data, channels, hv)
    q = np.full((8, 8), float(quant))
    rows = [_coef_blocks(p, q).tolist() for p in planes]
    walk = _mcu_walk(samp, height // (8 * hv[1]), width // (8 * hv[0]))
    return q, samp, rows, walk


def _encode_baseline(width: int, height: int, data: bytes, channels: int,
                     hv: Tuple[int, int], quant: int,
                     restart_interval: int = 0) -> bytes:
    """A baseline (SOF0) stream: one interleaved scan, each block's
    DC diff then AC run-lengths in MCU order, independent DC
    predictors per component (ITU-T.81 §A.2), and RSTn markers every
    ``restart_interval`` MCUs when it is positive."""
    q, samp, rows, walk = _transform(width, height, data, channels, hv,
                                     quant)
    out = _frame_header(0xFFC0, width, height, q, samp, _AC_BITS, _AC_VALS,
                        restart_interval)
    out += _sos(list(range(1, len(samp) + 1)), 0, 63, 0, 0)
    w = _BitWriter()
    put = w.put
    prev = [0] * len(samp)
    every = restart_interval * sum(h * v for h, v in samp)
    rst = 0
    for n, (ci, by, bx) in enumerate(walk):
        if every and n and n % every == 0:
            w.flush()
            w.buf += bytes((0xFF, 0xD0 + (rst & 7)))
            rst += 1
            prev = [0] * len(samp)
        zzc = rows[ci][by][bx]
        diff = zzc[0] - prev[ci]
        prev[ci] = zzc[0]
        s = _category(diff)
        put(*_DC_ENC[s])
        if s:
            put(diff if diff > 0 else diff + (1 << s) - 1, s)
        last = 63
        while last and not zzc[last]:
            last -= 1
        run = 0
        for v in zzc[1:last + 1]:
            if v == 0:
                run += 1
                continue
            while run > 15:
                put(*_AC_ENC[0xF0])                     # ZRL
                run -= 16
            s = _category(v)
            if s > 10:
                raise ValueError("AC coefficient too large")
            put(*_AC_ENC[(run << 4) | s])
            put(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 63:
            put(*_AC_ENC[0x00])                         # EOB
    w.flush()
    return bytes(out + w.buf + b"\xff\xd9")             # EOI


def encode_jpeg_gray(width: int, height: int, pixels: bytes,
                     quant: int = 16,
                     restart_interval: int = 0) -> bytes:
    """Encode an 8-bit grayscale image (dimensions must be multiples
    of 8) as a baseline JFIF stream with a flat quantization table of
    ``quant``. ``restart_interval`` > 0 emits a DRI segment and RSTn
    markers every that many MCUs (predictors reset, ITU-T.81 §E.1.2) —
    the error-resilience device most real encoders use."""
    return _encode_baseline(width, height, pixels, 1, (1, 1), quant,
                            restart_interval)


def encode_jpeg_color(width: int, height: int, rgb: bytes,
                      quant: int = 16) -> bytes:
    """Encode 8-bit interleaved RGB (w*h*3 bytes, multiple-of-8 dims)
    as a baseline 4:4:4 color JFIF stream: JFIF RGB→YCbCr, then one
    interleaved MCU (Y, Cb, Cr block) per 8×8 tile with independent DC
    predictors per component (ITU-T.81 §A.2)."""
    return _encode_baseline(width, height, rgb, 3, (1, 1), quant)


def encode_jpeg_color_422(width: int, height: int, rgb: bytes,
                          quant: int = 16) -> bytes:
    """Encode interleaved RGB as baseline 4:2:2 (the common
    video-derived layout): Y sampled 0x21 (two Y blocks per MCU, side
    by side), chroma 0x11 and horizontally 1×2-mean-subsampled.
    Width must be a multiple of 16, height of 8 (one MCU row = one
    block row)."""
    return _encode_baseline(width, height, rgb, 3, (2, 1), quant)


def encode_jpeg_color_420(width: int, height: int, rgb: bytes,
                          quant: int = 16) -> bytes:
    """Encode interleaved RGB as baseline 4:2:0 (the dominant
    real-world layout): Y at full resolution (sampling 0x22), chroma
    2×2-mean-subsampled (0x11); each MCU carries four Y blocks then
    one Cb and one Cr (ITU-T.81 §A.2.3 interleave order). Dimensions
    must be multiples of 16."""
    return _encode_baseline(width, height, rgb, 3, (2, 2), quant)


# ---------------------------------------------------------------------------
# Progressive encoder (SOF2, ITU-T.81 Annex G)
# ---------------------------------------------------------------------------

class _ProgressiveWriter:
    """Emits the entropy data of progressive scans over pre-computed
    zigzag coefficient blocks — the libjpeg encode_mcu_{DC,AC}_{first,
    refine} algorithms (jcphuff.c), including EOBn runs and buffered
    correction bits."""

    def __init__(self):
        self.w = _BitWriter()
        self.eobrun = 0
        # TWO correction-bit buffers (jcphuff.c BE vs BR): bits owned
        # by the pending EOB run (completed blocks) flush with the EOBn
        # code; bits of the CURRENT block since the last symbol flush
        # right after that block's next symbol. Merging them re-orders
        # bits across the block boundary and desyncs the decoder.
        self.corr_run: List[int] = []
        self.corr_cur: List[int] = []

    def _emit_eobrun(self) -> None:
        if self.eobrun > 0:
            n = self.eobrun.bit_length() - 1
            code, length = _ACP_ENC[n << 4]
            self.w.put(code, length)
            if n:
                self.w.put(self.eobrun - (1 << n), n)
            self.eobrun = 0
            for b in self.corr_run:
                self.w.put(b, 1)
            self.corr_run = []

    def _emit_cur(self) -> None:
        for b in self.corr_cur:
            self.w.put(b, 1)
        self.corr_cur = []

    def dc_first(self, blocks, al: int) -> None:
        """Interleaved DC scan, Ah=0: point-transformed DC diffs.
        ``blocks`` holds (comp_index, zigzag block) in MCU order."""
        preds: Dict[int, int] = {}
        for ci, blk in blocks:
            v = blk[0] >> al                     # arithmetic shift (§G.1.2.1)
            diff = v - preds.get(ci, 0)
            preds[ci] = v
            s = _category(diff)
            code, length = _DC_ENC[s]
            self.w.put(code, length)
            if s:
                self.w.put(diff if diff > 0 else diff + (1 << s) - 1, s)

    def dc_refine(self, blocks, al: int) -> None:
        for _ci, blk in blocks:
            self.w.put((blk[0] >> al) & 1, 1)

    def ac_first(self, blocks, ss: int, se: int, al: int) -> None:
        def pt(v: int) -> int:                   # toward-zero (§G.1.2.2)
            return v >> al if v >= 0 else -((-v) >> al)

        for blk in blocks:
            r = 0
            for k in range(ss, se + 1):
                t = pt(blk[k])
                if t == 0:
                    r += 1
                    continue
                self._emit_eobrun()
                while r > 15:
                    code, length = _ACP_ENC[0xF0]
                    self.w.put(code, length)
                    r -= 16
                s = _category(t)
                code, length = _ACP_ENC[(r << 4) | s]
                self.w.put(code, length)
                self.w.put(t if t > 0 else t + (1 << s) - 1, s)
                r = 0
            if r:
                self.eobrun += 1
                if self.eobrun == 0x7FFF:
                    self._emit_eobrun()

    def ac_refine(self, blocks, ss: int, se: int, al: int) -> None:
        for blk in blocks:
            absv = [abs(v) >> al for v in blk[ss:se + 1]]
            eob = ss - 1                         # last newly-significant
            for i, t in enumerate(absv):
                if t == 1:
                    eob = ss + i
            r = 0
            for k in range(ss, se + 1):
                t = absv[k - ss]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob:
                    self._emit_eobrun()
                    code, length = _ACP_ENC[0xF0]
                    self.w.put(code, length)
                    r -= 16
                    self._emit_cur()
                if t > 1:                        # already significant
                    self.corr_cur.append(t & 1)
                    continue
                self._emit_eobrun()
                code, length = _ACP_ENC[(r << 4) | 1]
                self.w.put(code, length)
                self.w.put(1 if blk[k] > 0 else 0, 1)
                self._emit_cur()
                r = 0
            if r or self.corr_cur:
                self.eobrun += 1
                self.corr_run += self.corr_cur
                self.corr_cur = []
                if self.eobrun == 0x7FFF or len(self.corr_run) > 900:
                    self._emit_eobrun()

    def finish_scan(self) -> bytes:
        self._emit_eobrun()
        self.w.flush()
        out = bytes(self.w.buf)
        self.w = _BitWriter()
        return out


def encode_jpeg_progressive(width: int, height: int, pixels: bytes,
                            channels: int = 1,
                            quant: int = 16,
                            subsampling: str = "444") -> bytes:
    """Encode as PROGRESSIVE JPEG (SOF2): grayscale, 4:4:4 or 4:2:0
    color (``subsampling="420"``, multiple-of-16 dims — the dominant
    real-world progressive layout), flat quantizer. Scan script (the
    common spectral-selection + successive-approximation shape):

        1. DC, all components, Al=1
        2. DC refinement, Ah=1 → Al=0 (raw bits)
        3. per component: AC band 1-5 then 6-63, Al=1 (EOBn runs)
        4. per component: the same bands refined Ah=1 → Al=0
           (correction bits)

    After every scan the coefficients are bit-exact equal to the
    sequential encoder's, so the closed-form-exact corpus rule decodes
    identically through either path."""
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    hv = (2, 2) if channels == 3 and subsampling == "420" else (1, 1)
    q, samp, rows, walk = _transform(width, height, pixels, channels, hv,
                                     quant)
    out = _frame_header(0xFFC2, width, height, q, samp, _ACP_BITS,
                        _ACP_VALS)
    all_ids = list(range(1, len(samp) + 1))
    dc_blocks = [(ci, rows[ci][by][bx]) for ci, by, bx in walk]
    pw = _ProgressiveWriter()
    out += _sos(all_ids, 0, 0, 0, 1)             # scan 1: DC, Al=1
    pw.dc_first(dc_blocks, 1)
    out += pw.finish_scan()
    out += _sos(all_ids, 0, 0, 1, 0)             # scan 2: DC refine
    pw.dc_refine(dc_blocks, 0)
    out += pw.finish_scan()
    # AC first (Al=1), then AC refine (Al=0): per component, over its
    # OWN block grid in raster order (§A.2.2)
    for ah, al, scan in ((0, 1, pw.ac_first), (1, 0, pw.ac_refine)):
        for ci, comp in enumerate(rows):
            blocks = [blk for row in comp for blk in row]
            for lo, hi in ((1, 5), (6, 63)):
                out += _sos([ci + 1], lo, hi, ah, al)
                scan(blocks, lo, hi, al)
                out += pw.finish_scan()
    return bytes(out + b"\xff\xd9")              # EOI


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

class _HuffTable:
    """Canonical Huffman decode table built from a DHT (BITS, VALS)."""

    def __init__(self, bits: List[int], vals: List[int]):
        self.lookup: Dict[Tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lookup[(length, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def read(self, br: "_BitReader") -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.bit()
            v = self.lookup.get((length, code))
            if v is not None:
                return v
        raise ValueError("invalid Huffman code")


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1           # stuffed byte
                else:
                    raise ValueError(f"marker 0xFF{nxt:02x} mid-scan")
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def restart(self, expect: int) -> None:
        """Consume an RSTn marker at a byte boundary (ITU-T.81 §E.1.2):
        discard pad bits, verify the marker modulo-8 sequence number,
        advance past it."""
        self._n = 0
        if self.data[self.pos] != 0xFF:
            raise ValueError("expected restart marker")
        m = self.data[self.pos + 1]
        if m != 0xD0 + (expect & 7):
            raise ValueError(
                f"restart marker out of sequence: 0xFF{m:02x}")
        self.pos += 2

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def receive_extend(self, s: int) -> int:
        if s == 0:
            return 0
        v = self.receive(s)
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(data: bytes) -> Tuple[int, int, int, bytes]:
    """Decode a JPEG → (width, height, channels, pixels), channels 1
    (grayscale) or 3 (RGB).

    Reads 8-bit baseline (SOF0), extended sequential (SOF1) and
    progressive (SOF2) streams with 1 or 3 components at any integral
    sampling, restart intervals and the file's own DHT tables. Real
    entropy decode: canonical Huffman, DC prediction, AC run-length/
    EOB/ZRL (plus EOBn runs and refinement bits when progressive) into
    per-component coefficient arrays; then one batched dequantize (DQT),
    inverse zigzag and float IDCT, chroma upsample, YCbCr→RGB, level
    shift + clamp."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: Dict[int, np.ndarray] = {}
    dc_tabs: Dict[int, _HuffTable] = {}
    ac_tabs: Dict[int, _HuffTable] = {}
    width = height = -1
    comps: list = []
    restart_interval = 0
    progressive = False
    scans = 0
    coef: list = []          # per-comp (bh_pad, bw_pad, 64) zigzag coeffs
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = struct.unpack(">H", data[pos:pos + 2])[0]
        pos += 2
        if marker == 0xFFD9:                            # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        if marker == 0xFFDB:                            # DQT
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit DQT unsupported")
                # kept in the file's zigzag order, like the coefficients
                qt[tq] = np.array(list(body[o + 1:o + 65]), float)
                o += 65
        elif marker == 0xFFC4:                          # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0x0F
                bits = list(body[o + 1:o + 17])
                n = sum(bits)
                vals = list(body[o + 17:o + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = \
                    _HuffTable(bits, vals)
                o += 17 + n
        elif marker in (0xFFC0, 0xFFC1, 0xFFC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2
            # progressive. An 8-bit SOF1 stream decodes EXACTLY like
            # SOF0 (T.81 §B.2.2 — the extension only widens precision
            # to 12 bits and the table budget, both gated below).
            progressive = marker == 0xFFC2
            prec, height, width, ncomp = struct.unpack(
                ">BHHB", body[:6])
            if prec != 8 or ncomp not in (1, 3):
                raise NotImplementedError(
                    "only 8-bit 1- or 3-component baseline supported")
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = body[6 + 3 * ci:9 + 3 * ci]
                comps.append((cid, samp >> 4, samp & 0x0F, tq))
            # Sampling is generic in the MCU walk: any per-component
            # (h, v) in 1..4 whose ratios to (hmax, vmax) divide evenly
            # (the replication upsample needs integer ratios). Covers
            # grayscale, 4:4:4, 4:2:0 (2,2), 4:2:2 (2,1), 4:4:0 (1,2)
            # and 4:1:1 (4,1).
            hmax = max(h for _, h, _v, _ in comps)
            vmax = max(v for _, _h, v, _ in comps)
            for _, h, v, _ in comps:
                if not (1 <= h <= 4 and 1 <= v <= 4
                        and hmax % h == 0 and vmax % v == 0):
                    raise NotImplementedError(
                        f"unsupported sampling factors ({h},{v})")
            mbw = (width + 8 * hmax - 1) // (8 * hmax)
            mbh = (height + 8 * vmax - 1) // (8 * vmax)
            coef = [np.zeros((mbh * v, mbw * h, 64), dtype=np.int32)
                    for _, h, v, _ in comps]
        elif marker in (0xFFC3, 0xFFC9, 0xFFCA):
            raise NotImplementedError(
                f"unsupported SOF 0x{marker:04x} (lossless / "
                f"arithmetic coding — the QM-coder state table is "
                f"not reproducible from the spec text alone)")
        elif marker == 0xFFDD:                          # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xFFDA:                          # SOS
            if not comps:
                raise ValueError("SOS before SOF")
            pos = _scan(data, pos + seglen, body, comps, dc_tabs, ac_tabs,
                        coef, (width, height, hmax, vmax, mbw, mbh),
                        restart_interval, progressive)
            scans += 1
            continue
        pos += seglen
    if not scans:
        raise ValueError("no scan data found")
    return _assemble(comps, _idct_planes(comps, coef, qt), width, height,
                     hmax, vmax)


def _next_marker(data: bytes, p: int) -> int:
    """Position of the next marker at/after ``p`` (skipping entropy
    pad bits and stuffed 0xFF00 pairs)."""
    while p < len(data) - 1:
        if data[p] == 0xFF and data[p + 1] != 0x00:
            return p
        p += 1
    return len(data)


def _scan(data: bytes, pos: int, body: bytes, comps, dc_tabs, ac_tabs,
          coef, frame, restart_interval: int, progressive: bool) -> int:
    """Decode ONE scan whose entropy data starts at ``pos`` into the
    accumulated ``coef`` arrays and return the stream position of the
    next marker.

    A sequential (SOF0/SOF1) scan codes every block whole: its DC diff,
    then its AC run-lengths up to EOB. That is a DC-first step and an
    AC-first step over band 1..63 with no point transform, so it runs
    through the same block steps as a progressive scan.

    Progressive scans (ITU-T.81 §G.2) cover the full feature set:
    interleaved or single-component DC scans, DC successive-
    approximation refinement (one raw bit per block), single-component
    AC scans with spectral selection (Ss..Se), AC first scans with EOBn
    run codes, AC refinement scans with correction bits (the libjpeg
    decode_mcu_AC_refine algorithm). Restart intervals reset the
    predictors and the EOB run."""
    width, height, hmax, vmax, mbw, mbh = frame
    ns = body[0]
    if progressive:
        ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
        ah, al = a >> 4, a & 0x0F
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ss and ns != 1:
            raise ValueError("progressive AC scan must be one component")
    else:
        ss, se, ah, al = 0, 63, 0, 0
    scomps = []                                  # (ci, dc table, ac table)
    for i in range(ns):
        cid, tb = body[1 + 2 * i], body[2 + 2 * i]
        ci = next(j for j, c in enumerate(comps) if c[0] == cid)
        scomps.append((ci, dc_tabs[tb >> 4] if ss == 0 and ah == 0 else None,
                       ac_tabs[tb & 0x0F] if se else None))
    if ns > 1:
        samp = [comps[ci][1:3] for ci, _, _ in scomps]
        walk = _mcu_walk(samp, mbh, mbw)
        every = restart_interval * sum(h * v for h, v in samp)
    else:
        # a non-interleaved scan covers the component's OWN block
        # grid (§A.2.2), not the MCU-padded one
        _, h, v, _ = comps[scomps[0][0]]
        walk = _mcu_walk([(1, 1)], (-(-height * v // vmax) + 7) // 8,
                         (-(-width * h // hmax) + 7) // 8)
        every = restart_interval
    br = _BitReader(data, pos)
    lo = max(ss, 1)                              # first AC index coded
    p1, m1 = 1 << al, -(1 << al)
    eobrun = 0

    def ac_first(blk, tab) -> None:
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = lo
        while k <= se:
            rs = tab.read(br)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:                      # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1 + br.receive(r)   # EOB / EOBn
                break
            k += r
            if k > se:
                raise ValueError("AC index overflow")
            blk[k] = br.receive_extend(s) << al
            k += 1

    def ac_refine(blk, tab) -> None:
        nonlocal eobrun
        k = lo
        if eobrun == 0:
            while k <= se:
                rs = tab.read(br)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) + br.receive(r)
                        break                    # remainder below
                    s = 0                        # ZRL: skip 16 zeros
                else:
                    if s != 1:
                        raise ValueError("bad AC refinement code")
                    s = p1 if br.bit() else m1
                # walk r zero-history coefficients, emitting a
                # correction bit for every nonzero-history one passed
                while k <= se:
                    c = int(blk[k])
                    if c != 0:
                        if br.bit() and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if s and k <= se:
                    blk[k] = s
                k += 1
        if eobrun > 0:
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if br.bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1

    ac = ac_refine if ah else ac_first
    pred = [0] * ns
    rst_seq = 0
    for n, (j, by, bx) in enumerate(walk):
        if every and n and n % every == 0:
            br.restart(rst_seq)
            rst_seq = (rst_seq + 1) & 7
            pred = [0] * ns
            eobrun = 0
        ci, dct, act = scomps[j]
        blk = coef[ci][by, bx]
        if ss == 0:
            if ah:                               # DC refinement bit
                if br.bit():
                    blk[0] |= p1
            else:
                pred[j] += br.receive_extend(dct.read(br))
                blk[0] = pred[j] << al
        if se:
            ac(blk, act)
    return _next_marker(data, br.pos)


def _idct_planes(comps, coef, qt) -> List["np.ndarray"]:
    """Dequantize, un-zigzag and IDCT every block of every component,
    one batched pass each → level-shifted spatial planes."""
    planes = []
    for ci, (_cid, _h, _v, tq) in enumerate(comps):
        deq = coef[ci].astype(np.float64) * qt[tq]
        bh, bw = deq.shape[:2]
        # C-contiguous blocks: BLAS then takes every block by the same
        # kernel as a lone 8×8 block, where a strided operand falls
        # back to numpy's own loop, which sums in another order
        cmat = np.ascontiguousarray(deq[:, :, _UNZZ]).reshape(bh, bw, 8, 8)
        # association (_T.T @ X) @ _T — float order decides which
        # .5 pixels round up, so another order changes decoded pixels
        # (tests pin them)
        blk = np.matmul(np.matmul(_T.T, cmat), _T)
        planes.append(np.transpose(blk, (0, 2, 1, 3))
                      .reshape(bh * 8, bw * 8))
    return planes


def _assemble(comps, planes, width: int, height: int,
              hmax: int, vmax: int) -> Tuple[int, int, int, bytes]:
    """Spatial planes (level-shifted) → pixel bytes: replication
    chroma upsample + JFIF YCbCr→RGB (or grayscale clamp)."""
    if len(comps) == 1:
        px = np.clip(np.round(planes[0][:height, :width]) + 128,
                     0, 255).astype(np.uint8)
        return width, height, 1, px.tobytes()
    full = []
    for ci, (cid, ch, cv, _tq) in enumerate(comps):
        pl = planes[ci]
        if ch != hmax or cv != vmax:
            pl = np.repeat(np.repeat(pl, vmax // cv, axis=0),
                           hmax // ch, axis=1)
        full.append(pl[:height, :width])
    y = full[0] + 128.0
    cb, cr = full[1], full[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    px = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return width, height, 3, px.tobytes()
