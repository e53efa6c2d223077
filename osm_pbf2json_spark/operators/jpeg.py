"""Baseline JPEG (JFIF) codec — pure stdlib + NumPy, no codec libs.

Implements the subset of ITU-T T.81 that covers the dominant crawl image
formats: baseline sequential DCT (SOF0/1) AND progressive DCT (SOF2 —
spectral selection, successive approximation, EOB runs, Annex G), 8-bit
samples, Huffman entropy coding, grayscale or YCbCr with sampling
factors up to 2×2 (4:4:4 / 4:2:2 / 4:2:0), restart markers, APPn/COM
skipping. Arithmetic coding, hierarchical (SOF3/5..15), and 12-bit
precision raise NotImplementedError; malformed streams raise ValueError
(one uniform contract — see decode_jpeg).

The encoder (baseline, 4:4:4, Annex K tables) exists so decode can be
round-trip tested without golden binaries from external tools; the
decoder is additionally pinned by a hand-constructed spec-literal
golden in tests (solid-gray block with known DC coefficient).

No engine path calls this codec: the `multimodal.decode_media`
dispatcher that used it is gone, and the module stays only until its
tests are retired with it (ROADMAP direction 3).
"""

from __future__ import annotations

import struct

import numpy as np

# --- 8x8 DCT basis (orthonormal DCT-II) --------------------------------------

_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)
UNZIGZAG = np.argsort(ZIGZAG)


def _idct2(blocks: np.ndarray) -> np.ndarray:
    """(N,8,8) coefficient blocks → (N,8,8) spatial samples."""
    return np.einsum("ki,nkl,lj->nij", _C, blocks, _C)


def _fdct2(blocks: np.ndarray) -> np.ndarray:
    """(N,8,8) spatial → (N,8,8) coefficients."""
    return np.einsum("ik,nkl,jl->nij", _C, blocks, _C)


# --- Annex K tables (encoder) -------------------------------------------------

_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
    ]
)
_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ]
)

# standard Huffman specs (Annex K.3): (bits[1..16], huffval)
_DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _huff_codes(spec):
    """(bits, huffval) → {symbol: (code, length)} (canonical T.81 order)."""
    bits, vals = spec
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(spec):
    """(bits, huffval) → {(length, code): symbol}."""
    return {(ln, code): sym for sym, (code, ln) in _huff_codes(spec).items()}


# --- bit IO -------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    destuffing and restart-marker awareness."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.cur = 0
        self.nbits = 0

    def _fill(self):
        # trim consumed high bits first: without the mask, cur grows ~8
        # bits per input byte forever and every shift becomes O(len) —
        # measured quadratic decode time on real-size payloads
        self.cur &= (1 << self.nbits) - 1
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                # pad with 1-bits past EOI per spec
                self.cur = (self.cur << 8) | 0xFF
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: caller handles via sync_restart()
                    self.cur = (self.cur << 8) | 0xFF
                    self.nbits += 8
                    continue
                else:
                    # EOI / next segment: pad
                    self.cur = (self.cur << 8) | 0xFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.cur = (self.cur << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self):
        """Drop partial byte, consume the RSTn marker."""
        self.cur = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: magnitude-category value → signed."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_huff(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


# --- decoder ------------------------------------------------------------------


def decode_jpeg(payload: bytes, max_pixels: int = 64_000_000):
    """Baseline OR progressive JFIF bytes → (width, height, rgb uint8
    (h, w, 3)).

    Grayscale images are replicated to 3 channels. Raises
    NotImplementedError for arithmetic-coded / hierarchical / 12-bit
    streams and ValueError for malformed data — truncation, missing
    tables, and bad segment lengths are all normalized to ValueError
    here so callers get one exception contract. `max_pixels`
    bounds allocation against crafted headers (a 2-byte dimension field
    can declare a 65535² image — a 34 GB plane — from a 200-byte
    payload)."""
    try:
        return _decode_jpeg(payload, max_pixels)
    except (IndexError, KeyError, struct.error, OverflowError) as e:
        # OverflowError: garbage entropy data can walk the DC predictor
        # past int64 via valid-looking Huffman codes
        raise ValueError(
            f"malformed JPEG stream ({type(e).__name__}: {e})"
        ) from e


def _decode_jpeg(payload: bytes, max_pixels: int):
    d = payload
    if d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    comps = None  # [(cid, h, v, tq)]
    width = height = 0
    restart_interval = 0
    progressive = False
    adobe_transform = None  # APP14 color transform (0 = RGB, no YCbCr)
    geom = None  # cid -> (h, v, bx_tot, by_tot, cw, ch)
    coefs: dict[int, np.ndarray] = {}  # cid -> (by_tot, bx_tot, 64) zigzag
    pred: dict[int, int] = {}
    nscans = 0
    while pos < len(d):
        if d[pos] != 0xFF:
            pos += 1
            continue
        marker = d[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x00, 0x01) or 0xD0 <= marker <= 0xD8:
            # stuffed byte / TEM / RSTn / stray SOI: no length field
            continue
        (seglen,) = struct.unpack(">H", d[pos : pos + 2])
        seg = d[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq == 0:
                    q = np.frombuffer(seg[p : p + 64], np.uint8).astype(np.int32)
                    p += 64
                else:
                    q = np.frombuffer(seg[p : p + 128], ">u2").astype(np.int32)
                    p += 128
                qtabs[tq] = q
        elif marker == 0xC4:  # DHT (may appear between progressive scans)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                htabs[(tc, th)] = _huff_decode_table((bits, vals))
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            precision = seg[0]
            if precision != 8:
                raise NotImplementedError("only 8-bit precision")
            height, width = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            comps = []
            for i in range(nc):
                cid = seg[6 + 3 * i]
                hv = seg[7 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, seg[8 + 3 * i]))
            if width * height > max_pixels or width == 0 or height == 0:
                raise ValueError(f"unreasonable dimensions {width}x{height}")
            if any(h < 1 or h > 2 or v < 1 or v > 2 for _, h, v, _ in comps):
                raise NotImplementedError("sampling factors beyond 2x2")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
            geom = {}
            for cid, h, v, tq in comps:
                # cw/ch: the component's OWN block grid (T.81 A.1.1) —
                # non-interleaved scans traverse exactly these blocks,
                # NOT the MCU-padded grid
                cw = (-(-width * h // hmax) + 7) // 8
                ch = (-(-height * v // vmax) + 7) // 8
                geom[cid] = (h, v, mcus_x * h, mcus_y * v, cw, ch)
                coefs[cid] = np.zeros((mcus_y * v, mcus_x * h, 64), np.int32)
                pred[cid] = 0
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported JPEG coding process (SOF marker 0x{marker:02X}); "
                "baseline sequential and progressive DCT are implemented"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            adobe_transform = seg[11]  # 0 = RGB/CMYK passthrough
        elif marker == 0xDA:  # SOS — decode this scan's entropy data
            if comps is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs = seg[1 + 2 * i]
                tt = seg[2 + 2 * i]
                scan.append((cs, tt >> 4, tt & 0xF))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            pos = _decode_scan(
                d, pos + seglen, scan, ss, se, ah, al,
                htabs, coefs, pred, geom, restart_interval, progressive,
            )
            nscans += 1
            continue
        pos += seglen
    if comps is None or nscans == 0:
        raise ValueError("missing SOF/SOS")

    # dequantize + IDCT per component, batched over all blocks
    chans = []
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for cid, h, v, tq in comps:
        by_tot, bx_tot = coefs[cid].shape[:2]
        zz = coefs[cid].reshape(-1, 64)
        q = qtabs[tq]
        coef = (zz * q[None, :]).astype(np.float64)[:, UNZIGZAG].reshape(-1, 8, 8)
        spat = _idct2(coef) + 128.0
        pl = (
            spat.reshape(by_tot, bx_tot, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by_tot * 8, bx_tot * 8)
        )
        if h != hmax or v != vmax:
            # crop the subsampled plane to its valid extent (JPEG A.1.1:
            # ceil(dim * sampling / max_sampling)) BEFORE upsampling so
            # block-padding garbage can't bleed through the triangular
            # filter at the right/bottom edges
            cw = -(-width * h // hmax)
            ch = -(-height * v // vmax)
            pl = pl[:ch, :cw]
            pl = _upsample(pl, vmax // v, axis=0)
            pl = _upsample(pl, hmax // h, axis=1)
        chans.append(pl[:height, :width])

    if len(chans) == 1:
        yv = np.clip(np.round(chans[0]), 0, 255).astype(np.uint8)
        return width, height, np.stack([yv, yv, yv], axis=-1)
    if len(chans) != 3:
        raise NotImplementedError(f"{len(chans)}-component JPEG")
    cids = tuple(c[0] for c in comps)
    if adobe_transform == 0 or cids == (0x52, 0x47, 0x42):  # 'R','G','B'
        # Adobe APP14 transform 0 / RGB component ids: planes are stored
        # as R,G,B — applying the YCbCr matrix would silently produce
        # garbage colors, so refuse instead
        raise NotImplementedError("RGB-coded 3-component JPEG (no YCbCr)")
    Y, Cb, Cr = chans
    r = Y + 1.402 * (Cr - 128.0)
    g = Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)
    b = Y + 1.772 * (Cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return width, height, np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _upsample(pl: np.ndarray, factor: int, axis: int) -> np.ndarray:
    """Chroma upsampling along one axis. Factor 2 uses the IJG "fancy"
    triangular filter (out[2i] = (3·a[i] + a[i-1])/4, out[2i+1] =
    (3·a[i] + a[i+1])/4, edges replicated) — the libjpeg-family default,
    so decodes match javax.imageio/djpeg instead of showing replication
    blockiness at chroma edges (pinned against ImageIO in
    test_graft_ops). Other factors fall back to sample replication,
    exactly as libjpeg's int_upsample does for non-2 factors. Operates
    on the float plane; the caller's final round absorbs IJG's +1/+2
    integer biases (±1 max)."""
    if factor == 1:
        return pl
    if factor != 2 or pl.shape[axis] < 2:
        return np.repeat(pl, factor, axis=axis)
    a = pl if axis == 0 else pl.T
    prev = np.concatenate([a[:1], a[:-1]], axis=0)
    nxt = np.concatenate([a[1:], a[-1:]], axis=0)
    out = np.empty((a.shape[0] * 2, a.shape[1]), a.dtype)
    out[0::2] = (3.0 * a + prev) * 0.25
    out[1::2] = (3.0 * a + nxt) * 0.25
    return out if axis == 0 else out.T


def _decode_scan(
    d, pos, scan, ss, se, ah, al, htabs, coefs, pred, geom,
    restart_interval, progressive,
):
    """Decode one scan's entropy-coded data into the coefficient
    arrays; returns the byte position after the scan. Handles all four
    progressive scan kinds (T.81 Annex G): DC first (Ah=0, Ss=0), DC
    refine, AC first (Ss>0, single component, EOB runs), AC refine
    (correction bits) — plus baseline scans as the Ss=0..63 special
    case. Restart markers reset the DC predictors and the EOB run."""
    br = _BitReader(d, pos)
    eobrun = 0

    def maybe_restart(n_unit):
        nonlocal eobrun
        if restart_interval and n_unit and n_unit % restart_interval == 0:
            br.sync_restart()
            for c in pred:
                pred[c] = 0
            eobrun = 0

    if len(scan) == 1:
        # non-interleaved (T.81 A.2.2): traverse the component's OWN
        # block grid cw×ch, not the MCU-padded grid
        cid, td, ta = scan[0]
        _, _, _, _, cw, ch = geom[cid]
        arr = coefs[cid]
        n_unit = 0
        for by in range(ch):
            for bx in range(cw):
                maybe_restart(n_unit)
                n_unit += 1
                zz = arr[by, bx]
                if not progressive:
                    _decode_block_baseline(
                        br, htabs[(0, td)], htabs[(1, ta)], zz, pred, cid
                    )
                elif ss == 0:
                    _decode_dc(br, htabs, td, cid, pred, zz, ah, al)
                else:
                    eobrun = _decode_ac(
                        br, htabs[(1, ta)], zz, ss, se, ah, al, eobrun
                    )
    else:
        # interleaved MCU traversal (baseline, or progressive DC scan)
        if progressive and ss != 0:
            raise ValueError("interleaved progressive AC scan is illegal")
        any_cid = scan[0][0]
        _, v0, _, by_tot0, _, _ = geom[any_cid]
        mcus_y = by_tot0 // v0
        _, _, bx_tot0, _, _, _ = geom[any_cid]
        h0 = geom[any_cid][0]
        mcus_x = bx_tot0 // h0
        n_mcu = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                maybe_restart(n_mcu)
                n_mcu += 1
                for cid, td, ta in scan:
                    h, v = geom[cid][0], geom[cid][1]
                    arr = coefs[cid]
                    for by in range(v):
                        for bx in range(h):
                            zz = arr[my * v + by, mx * h + bx]
                            if progressive:
                                _decode_dc(br, htabs, td, cid, pred, zz, ah, al)
                            else:
                                _decode_block_baseline(
                                    br, htabs[(0, td)], htabs[(1, ta)],
                                    zz, pred, cid,
                                )
    return br.pos


def _check_mag(v: int, cap: int) -> int:
    """Magnitude categories are bounded by T.81 (DC <= 11, AC <= 10 for
    8-bit precision); a corrupt DHT can map symbols to huge categories,
    turning br.receive into a 2^200-bit int."""
    if v > cap:
        raise ValueError(f"magnitude category {v} exceeds T.81 bound {cap}")
    return v


def _decode_block_baseline(br, dct, act, zz, pred, cid):
    """Baseline DC diff + AC run-length for one full block (T.81 F.2)."""
    t = _check_mag(_decode_huff(br, dct), 11)
    diff = _extend(br.receive(t), t) if t else 0
    pred[cid] += diff
    zz[0] = pred[cid]
    k = 1
    while k < 64:
        rs = _decode_huff(br, act)
        r, ssss = rs >> 4, rs & 0xF
        if ssss == 0:
            if r == 15:
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC index out of range")
        zz[k] = _extend(br.receive(_check_mag(ssss, 10)), ssss)
        k += 1


def _decode_dc(br, htabs, td, cid, pred, zz, ah, al):
    """Progressive DC data unit: first scan codes diffs scaled by 2^Al;
    refinement appends one bit at position Al (T.81 G.1.2.1)."""
    if ah == 0:
        t = _check_mag(_decode_huff(br, htabs[(0, td)]), 11)
        diff = _extend(br.receive(t), t) if t else 0
        pred[cid] += diff
        zz[0] = pred[cid] << al
    else:
        if br.read_bit():
            zz[0] |= 1 << al
    return 0


def _decode_ac(br, act, zz, ss, se, ah, al, eobrun):
    """Progressive AC data unit for one block's Ss..Se band (T.81
    G.1.2.2/G.1.2.3): first scan places new coefficients scaled by 2^Al
    with EOB-run skips; refinement reads correction bits for coded
    coefficients and sign bits for newly nonzero ones."""
    if ah == 0:  # first scan of this band
        if eobrun > 0:
            return eobrun - 1
        k = ss
        while k <= se:
            rs = _decode_huff(br, act)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.receive(r)
                    return eobrun
                k += 16
                continue
            k += r
            if k > se:
                raise ValueError("AC index out of band")
            zz[k] = _extend(br.receive(_check_mag(s, 10)), s) << al
            k += 1
        return 0

    # refinement scan
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(br, act)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.receive(r)
                    break  # remaining coefficients handled in EOB sweep
            else:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                newval = p1 if br.read_bit() else m1
            # advance over r zero-history positions, emitting correction
            # bits for every nonzero-history coefficient passed
            while k <= se:
                if zz[k] != 0:
                    if br.read_bit() and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                zz[k] = newval
            k += 1
    if eobrun > 0:
        # EOB sweep: correction bits for remaining nonzero coefficients
        while k <= se:
            if zz[k] != 0 and br.read_bit() and (zz[k] & p1) == 0:
                zz[k] += p1 if zz[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


# --- encoder (baseline, 4:4:4, Annex K tables) --------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.cur = (self.cur << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                if self.cur == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.cur = 0
                self.nbits = 0

    def flush(self):
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _scale_q(base: np.ndarray, quality: int) -> np.ndarray:
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * s + 50) // 100, 1, 255).astype(np.int32)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def encode_jpeg(rgb: np.ndarray, quality: int = 90) -> bytes:
    """(h, w, 3) uint8 → baseline JFIF bytes (4:4:4, Annex K tables)."""
    h, w = rgb.shape[:2]
    img = rgb.astype(np.float64)
    Y = 0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
    Cb = 128.0 - 0.168736 * img[..., 0] - 0.331264 * img[..., 1] + 0.5 * img[..., 2]
    Cr = 128.0 + 0.5 * img[..., 0] - 0.418688 * img[..., 1] - 0.081312 * img[..., 2]

    qy = _scale_q(_Q_LUMA, quality)
    qc = _scale_q(_Q_CHROMA, quality)
    dc_l = _huff_codes(_DC_LUMA_SPEC)
    ac_l = _huff_codes(_AC_LUMA_SPEC)
    dc_c = _huff_codes(_DC_CHROMA_SPEC)
    ac_c = _huff_codes(_AC_CHROMA_SPEC)

    bw = (w + 7) // 8
    bh = (h + 7) // 8

    def blockify(plane):
        padded = np.empty((bh * 8, bw * 8))
        padded[:h, :w] = plane
        padded[h:, :w] = plane[-1:, :]
        padded[:, w:] = padded[:, w - 1 : w]
        return (
            padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
            - 128.0
        )

    quant = {}
    for name, plane, q in (("Y", Y, qy), ("Cb", Cb, qc), ("Cr", Cr, qc)):
        coef = _fdct2(blockify(plane))
        zz = coef.reshape(-1, 64)[:, ZIGZAG]
        quant[name] = np.round(zz / q[ZIGZAG][None, :]).astype(np.int32)

    bwr = _BitWriter()
    pred = {"Y": 0, "Cb": 0, "Cr": 0}
    tables = {
        "Y": (dc_l, ac_l),
        "Cb": (dc_c, ac_c),
        "Cr": (dc_c, ac_c),
    }
    for bi in range(bh * bw):
        for name in ("Y", "Cb", "Cr"):
            dct, act = tables[name]
            zz = quant[name][bi]
            diff = int(zz[0]) - pred[name]
            pred[name] = int(zz[0])
            t = _category(diff)
            code, ln = dct[t]
            bwr.write(code, ln)
            if t:
                bwr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
            run = 0
            last_nz = np.flatnonzero(zz[1:])
            last = int(last_nz[-1]) + 1 if len(last_nz) else 0
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = act[0xF0]  # ZRL
                    bwr.write(code, ln)
                    run -= 16
                ssss = _category(v)
                code, ln = act[(run << 4) | ssss]
                bwr.write(code, ln)
                bwr.write(v if v >= 0 else v + (1 << ssss) - 1, ssss)
                run = 0
            if last < 63:
                code, ln = act[0x00]  # EOB
                bwr.write(code, ln)
    bwr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(tc: int, th: int, spec) -> bytes:
        bits, vals = spec
        return bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(qy[ZIGZAG].tolist()))
    out += seg(0xDB, bytes([1]) + bytes(qc[ZIGZAG].tolist()))
    out += seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += seg(0xC4, dht(0, 0, _DC_LUMA_SPEC))
    out += seg(0xC4, dht(1, 0, _AC_LUMA_SPEC))
    out += seg(0xC4, dht(0, 1, _DC_CHROMA_SPEC))
    out += seg(0xC4, dht(1, 1, _AC_CHROMA_SPEC))
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bwr.out
    out += b"\xff\xd9"
    return bytes(out)
