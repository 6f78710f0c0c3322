"""Pure-stdlib baseline JPEG codec (ITU-T T.81 sequential DCT, SOF0/SOF1).

Closes the last in-container multimodal decode stub: PNG/BMP/WAV decode
real from scratch since round 4; compressed images previously required
the optional Pillow worker probe. This module decodes baseline
(non-progressive) JPEG with stdlib ``struct`` + numpy only:

  * marker parse (SOI/APPn/COM/DQT/DHT/SOF0/SOF1/DRI/SOS/EOI),
  * canonical Huffman tables rebuilt from the stream's own DHT segments
    (never assumes Annex K — the file is the source of truth),
  * entropy decode with 0xFF00 unstuffing and RST0–7 restart handling,
  * dequantize → de-zigzag → orthonormal 8×8 IDCT (one numpy matmul per
    block, no per-pixel Python loop),
  * generic h/v sampling-factor MCU layout (4:4:4, 4:2:2, 4:2:0, …)
    with sample-replication chroma upsampling, JFIF YCbCr→RGB.

Progressive (SOF2) and arithmetic-coded frames raise ValueError cleanly
so the caller's quarantine path (or the Pillow probe, when a deployment
installs it) takes over — same contract as decode_png's interlace gate.

``encode_jpeg_baseline`` exists so tests can build REAL fixtures and
prove a decode roundtrip without shipping binaries (same pattern as
``encode_png``): flat quantization tables make the only loss the
DCT→int rounding, so a roundtrip must reproduce pixels within ±2.

Like the PNG path, everything here is per-payload Python executed
inside Arrow-batched ``mapInPandas`` workers (operators/multimodal.py);
the JVM never sees pixel data and the cost parallelizes with the
operator's partition spread.

Reference parity note: the reference pipeline has no media path at all
(SURVEY.md §2.12 mandates one for a training-data engine); there is no
reference file to cite.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag index k -> natural (row-major) coefficient index (T.81 Figure 5)
ZIGZAG_NAT = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Decoded-size cap shared with the PNG path (imaging._MAX_DECODED_BYTES
# is re-imported there to keep one number); duplicated literal here to
# avoid a circular import — imaging imports this module.
_MAX_DECODED_BYTES = 256 * 1024 * 1024


def _dct_matrix() -> "np.ndarray":
    """Orthonormal 8-point DCT-II matrix A with A[u, x] =
    c(u)/2 · cos((2x+1)uπ/16); spatial = Aᵀ·F·A, F = A·spatial·Aᵀ."""
    x = np.arange(8)
    a = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    a[0] *= 1.0 / np.sqrt(2.0)
    return a


_A = _dct_matrix()
_AT = _A.T.copy()


def _build_huffman(bits: list[int], vals: bytes) -> dict[tuple[int, int], int]:
    """Canonical Huffman decode map {(code_length, code): symbol} from a
    DHT segment's BITS (16 counts) + HUFFVAL (T.81 Annex C)."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over an already-unstuffed entropy segment."""

    __slots__ = ("data", "pos", "buf", "cnt")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.cnt = 0

    def _fill(self, need: int) -> None:
        while self.cnt < need:
            if self.pos >= len(self.data):
                # T.81 F.2.2.5: a truncated final byte pads with 1-bits
                self.buf = (self.buf << 8) | 0xFF
            else:
                self.buf = (self.buf << 8) | self.data[self.pos]
                self.pos += 1
            self.cnt += 8

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        self.cnt -= n
        out = (self.buf >> self.cnt) & ((1 << n) - 1)
        self.buf &= (1 << self.cnt) - 1
        return out

    def decode_huffman(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.receive(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.12: map an s-bit magnitude to its signed value."""
    if s == 0:
        return 0
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def _split_entropy_segments(payload: bytes, pos: int) -> tuple[list[bytes], int]:
    """Collect the entropy-coded data after an SOS header: unstuff
    0xFF00, split at RST0–7, stop at the next real marker. Returns
    (segments, position of the terminating marker's 0xFF)."""
    segments: list[bytes] = []
    cur = bytearray()
    n = len(payload)
    while pos < n:
        b = payload[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            break
        m = payload[pos + 1]
        if m == 0x00:  # stuffed literal 0xFF
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:  # restart marker
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        elif m == 0xFF:  # fill byte before a marker
            pos += 1
        else:
            break
    segments.append(bytes(cur))
    return segments, pos


def decode_jpeg(payload: bytes) -> "np.ndarray":
    """Decode a baseline (SOF0/SOF1) JPEG to (h, w, c) uint8 — c=1 for
    grayscale, c=3 RGB. Raises ValueError on progressive/arithmetic/
    lossless frames, unknown Huffman/quant table refs, or hostile dims
    (bounded BEFORE any allocation, same rationale as decode_png)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}  # (class, id)
    frame = None  # (height, width, [(comp_id, h, v, tq), ...])
    restart_interval = 0
    img = None

    n = len(payload)
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD8:
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RST
            continue
        if marker == 0xFF:  # fill byte(s) before a marker (T.81 B.1.1.2)
            pos -= 1
            continue
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment header")
        (seg_len,) = struct.unpack(">H", payload[pos:pos + 2])
        if seg_len < 2 or pos + seg_len > n:
            raise ValueError("truncated JPEG segment")
        body = payload[pos + 2:pos + seg_len]
        pos += seg_len

        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    tab = np.frombuffer(body[i:i + 64], dtype=np.uint8).astype(np.int64)
                    i += 64
                else:
                    tab = np.frombuffer(body[i:i + 128], dtype=">u2").astype(np.int64)
                    i += 128
                if tab.size != 64:
                    raise ValueError("truncated JPEG DQT")
                qt[tq] = tab  # zigzag order, as stored
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                count = sum(bits)
                vals = body[i + 17:i + 17 + count]
                if len(vals) != count:
                    raise ValueError("truncated JPEG DHT")
                huff[(tc, th)] = _build_huffman(bits, vals)
                i += 17 + count
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. sequential
            precision, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            if height == 0 or width == 0:
                raise ValueError("zero-dimension JPEG")
            # cap PEAK decode memory, not just the uint8 output: the
            # scan decodes into float32 planes and the YCbCr->RGB pass
            # holds ~3 full-frame float32 temporaries, so budget
            # 16 bytes/sample against the shared cap (the PNG path's
            # 1x-uint8 accounting would under-count this decoder ~20x
            # and let a 242 MB-output JPEG OOM-kill the Arrow worker)
            if height * width * max(ncomp, 1) * 16 > _MAX_DECODED_BYTES:
                raise ValueError(
                    f"JPEG peak decode size {height * width * ncomp * 16} exceeds cap {_MAX_DECODED_BYTES}"
                )
            comps = []
            for c in range(ncomp):
                cid, hv, tqi = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                h, v = hv >> 4, hv & 0x0F
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    # T.81 bounds sampling factors to 1..4; a zero here
                    # would reach the MCU divisions as ZeroDivisionError,
                    # which is NOT in decode_image's quarantine set and
                    # would kill the whole Arrow stage on one bad blob
                    raise ValueError(f"JPEG sampling factor out of range: {h}x{v}")
                comps.append((cid, h, v, tqi))
            frame = (height, width, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG (progressive/lossless/arithmetic) unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if img is not None:
                # T.81 allows per-component sequential scans, but their
                # MCU layout is the NON-interleaved rule (no sampling
                # grid) — decoding them under the full-frame grid would
                # silently return the last scan's plane as the image.
                # Reject like SOF2; the Pillow probe handles them.
                raise ValueError("multi-scan JPEG unsupported")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tdta = body[1 + 2 * c], body[2 + 2 * c]
                scan.append((cs, tdta >> 4, tdta & 0x0F))
            if ns != len(frame[2]):
                raise ValueError("non-interleaved JPEG scan unsupported")
            segments, pos = _split_entropy_segments(payload, pos)
            img = _decode_scan(frame, scan, qt, huff, segments, restart_interval)
        # APPn (0xE0–0xEF) / COM (0xFE) / DNL etc.: skipped

    if img is None:
        raise ValueError("JPEG contained no decodable scan")
    return img


def _decode_scan(frame, scan, qt, huff, segments, restart_interval) -> "np.ndarray":
    height, width, comps = frame
    by_id = {cid: (h, v, tq) for cid, h, v, tq in comps}
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    planes: dict[int, np.ndarray] = {}
    meta = []  # (cid, h, v, dequant natural-order 8x8, dc_table, ac_table)
    for cid, td, ta in scan:
        if cid not in by_id:
            raise ValueError(f"JPEG scan references unknown component {cid}")
        h, v, tq = by_id[cid]
        if tq not in qt:
            raise ValueError(f"JPEG missing quant table {tq}")
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError("JPEG missing Huffman table")
        # float32, not float64: plane + conversion temporaries are the
        # peak-memory term the SOF cap budgets at 16 bytes/sample
        planes[cid] = np.zeros((mcuy * v * 8, mcux * h * 8), dtype=np.float32)
        meta.append((cid, h, v, qt[tq], huff[(0, td)], huff[(1, ta)]))

    dc_pred = {cid: 0 for cid, *_ in meta}
    seg_i = 0
    reader = _BitReader(segments[0])
    mcus_done = 0
    total_mcus = mcux * mcuy
    coef_z = np.zeros(64, dtype=np.int64)

    for m in range(total_mcus):
        if restart_interval and mcus_done == restart_interval:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("JPEG restart segment underrun")
            reader = _BitReader(segments[seg_i])
            dc_pred = {cid: 0 for cid, *_ in meta}
            mcus_done = 0
        my, mx = divmod(m, mcux)
        for cid, h, v, q, dc_tab, ac_tab in meta:
            for byy in range(v):
                for bxx in range(h):
                    coef_z[:] = 0
                    s = reader.decode_huffman(dc_tab)
                    if s > 11:
                        # 8-bit baseline DC categories are 0–11 (T.81
                        # F.1.2.1.1); a corrupted DHT symbol like 200
                        # would otherwise receive() a 2^200 int and
                        # blow up the int64 store with OverflowError —
                        # which is NOT in the quarantine's ValueError set
                        raise ValueError(f"invalid JPEG DC size category {s}")
                    dc_pred[cid] += _extend(reader.receive(s), s)
                    coef_z[0] = dc_pred[cid]
                    k = 1
                    while k < 64:
                        rs = reader.decode_huffman(ac_tab)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:  # ZRL: 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC coefficient overflow")
                        if s > 10:  # 8-bit baseline AC categories are 1–10
                            raise ValueError(f"invalid JPEG AC size category {s}")
                        coef_z[k] = _extend(reader.receive(s), s)
                        k += 1
                    block = np.zeros(64, dtype=np.float64)
                    block[ZIGZAG_NAT] = coef_z * q  # dequant + de-zigzag
                    spatial = _AT @ block.reshape(8, 8) @ _A
                    y0 = (my * v + byy) * 8
                    x0 = (mx * h + bxx) * 8
                    planes[cid][y0:y0 + 8, x0:x0 + 8] = spatial
        mcus_done += 1

    out_planes = []
    for cid, h, v, *_ in meta:
        p = planes[cid] + np.float32(128.0)
        if h != hmax or v != vmax:
            p = np.repeat(np.repeat(p, vmax // v, axis=0), hmax // h, axis=1)
        out_planes.append(p[:height, :width])

    if len(out_planes) == 1:
        gray = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    if len(out_planes) != 3:
        raise ValueError(f"unsupported JPEG component count {len(out_planes)}")
    y, cb, cr = out_planes
    cb -= np.float32(128.0)
    cr -= np.float32(128.0)
    r = y + np.float32(1.402) * cr
    g = y - np.float32(0.344136) * cb - np.float32(0.714136) * cr
    b = y + np.float32(1.772) * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder — test-fixture factory, same role as imaging.encode_png.
# ---------------------------------------------------------------------------

# Embedded DHT tables: FLAT-length canonical codes — every DC symbol
# (size categories 0–11) gets a 4-bit code, every AC symbol (EOB, ZRL,
# run 0–15 × size 1–10) an 8-bit code. Trivially prefix-free and Kraft-
# feasible (12/16, 164/256), and the canonical all-ones code (the 1-bit
# pad pattern) stays unassigned in both. Roundtrip correctness does NOT
# depend on matching Annex K: the decoder rebuilds its tables from the
# DHT the encoder writes; compression ratio is irrelevant for fixtures.
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = bytes(range(12))


def _ac_table() -> tuple[list[int], bytes]:
    syms = [0x00, 0xF0]  # EOB, ZRL
    for run in range(16):
        for size in range(1, 11):
            syms.append((run << 4) | size)
    bits = [0] * 16
    bits[7] = len(syms)  # all codes 8 bits long
    return bits, bytes(syms)


_AC_BITS, _AC_VALS = _ac_table()


def _encode_codes(bits: list[int], vals: bytes) -> dict[int, tuple[int, int]]:
    """Canonical {symbol: (length, code)} — inverse of _build_huffman."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    __slots__ = ("out", "buf", "cnt")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.cnt = 0

    def write(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | (code & ((1 << length) - 1))
        self.cnt += length
        while self.cnt >= 8:
            self.cnt -= 8
            byte = (self.buf >> self.cnt) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.buf &= (1 << self.cnt) - 1

    def flush(self) -> None:
        if self.cnt:
            pad = 8 - self.cnt
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per F.1.2.3


def _size_cat(v: int) -> int:
    return int(v).bit_length() if v else 0


def _encode_block(
    w: _BitWriter,
    coefs_z: "np.ndarray",
    dc_pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    diff = int(coefs_z[0]) - dc_pred
    s = _size_cat(abs(diff))
    length, code = dc_codes[s]
    w.write(code, length)
    if s:
        w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    nz = np.nonzero(coefs_z[1:])[0]
    last_nz = int(nz[-1]) + 1 if nz.size else 0
    for k in range(1, last_nz + 1):
        v = int(coefs_z[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = ac_codes[0xF0]
            w.write(code, length)
            run -= 16
        s = _size_cat(abs(v))
        length, code = ac_codes[(run << 4) | s]
        w.write(code, length)
        w.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        length, code = ac_codes[0x00]
        w.write(code, length)
    return int(coefs_z[0])


def encode_jpeg_baseline(
    pixels: "np.ndarray",
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Minimal baseline JPEG encoder for test fixtures: 8-bit grayscale
    (h, w) / (h, w, 1) or RGB (h, w, 3); ``subsample`` '444' or '420';
    flat quantization (1 for every coefficient, so the only loss is DCT
    rounding); optional DRI/RST emission so the
    decoder's restart path is testable."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("zero-dimension input")
    if subsample not in ("444", "420"):
        raise ValueError(f"unsupported subsample {subsample!r}")

    if gray:
        comps = [(1, 1, 1, 0)]  # id, h, v, tq
        planes = [arr.astype(np.float64) - 128.0]
    else:
        rf = arr.astype(np.float64)
        r, g, b = rf[:, :, 0], rf[:, :, 1], rf[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample == "420":
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            cb = _downsample2(cb)
            cr = _downsample2(cr)
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = [y - 128.0, cb - 128.0, cr - 128.0]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    padded = []
    for (cid, ch, cv, tq), p in zip(comps, planes):
        th, tw = mcuy * cv * 8, mcux * ch * 8
        pp = np.empty((th, tw), dtype=np.float64)
        ph, pw = p.shape
        pp[:ph, :pw] = p
        pp[ph:, :pw] = p[ph - 1:ph, :]  # edge replicate
        pp[:, pw:] = pp[:, pw - 1:pw]
        padded.append(pp)

    q_z = np.full(64, 1, dtype=np.int64)  # flat table, zigzag order
    dc_codes = _encode_codes(_DC_BITS, _DC_VALS)
    ac_codes = _encode_codes(_AC_BITS, _AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    used_tq = sorted({c[3] for c in comps})
    for tq in used_tq:
        out += seg(0xDB, bytes([tq]) + bytes(int(v) for v in q_z))
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += seg(0xC0, sof)
    for th in ({0} if gray else {0, 1}):
        out += seg(0xC4, bytes([0x00 | th]) + bytes(_DC_BITS) + _DC_VALS)
        out += seg(0xC4, bytes([0x10 | th]) + bytes(_AC_BITS) + _AC_VALS)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(comps)])
    for cid, ch, cv, tq in comps:
        t = 0 if gray else (0 if cid == 1 else 1)
        sos += bytes([cid, (t << 4) | t])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)

    writer = _BitWriter()
    dc_pred = {c[0]: 0 for c in comps}
    mcus_done = 0
    rst_i = 0
    for m in range(mcux * mcuy):
        if restart_interval and mcus_done == restart_interval:
            writer.flush()
            out += writer.out
            out += bytes([0xFF, 0xD0 + (rst_i % 8)])
            rst_i += 1
            writer = _BitWriter()
            dc_pred = {c[0]: 0 for c in comps}
            mcus_done = 0
        my, mx = divmod(m, mcux)
        for (cid, ch, cv, tq), p in zip(comps, padded):
            for byy in range(cv):
                for bxx in range(ch):
                    y0 = (my * cv + byy) * 8
                    x0 = (mx * ch + bxx) * 8
                    block = p[y0:y0 + 8, x0:x0 + 8]
                    f = _A @ block @ _AT
                    zz = np.round(f.reshape(64)[ZIGZAG_NAT] / q_z).astype(np.int64)
                    dc_pred[cid] = _encode_block(writer, zz, dc_pred[cid], dc_codes, ac_codes)
        mcus_done += 1
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


def _downsample2(p: "np.ndarray") -> "np.ndarray":
    """2×2 box average with edge replication for odd dims."""
    h, w = p.shape
    if h % 2:
        p = np.vstack([p, p[-1:, :]])
    if w % 2:
        p = np.hstack([p, p[:, -1:]])
    return (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0
