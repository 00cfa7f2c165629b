"""FLAC codec — stdlib + numpy only (public spec: RFC 9639 / xiph.org).

Lossless compressed audio is the other real training-data audio container
(WAV is handled in multimodal.py); FLAC needs no audio library — the format
is bit-level arithmetic:

* encode: STREAMINFO metadata block (+ MD5 of the raw samples), fixed-
  blocksize frames; per channel the best FIXED predictor (order 0-4 by
  sum-of-abs residual), residuals Rice-coded (per-frame parameter fit),
  CONSTANT subframes for flat blocks, VERBATIM as the incompressible
  fallback (which provably subsumes the Rice escape — see
  _write_residual), optional mid/side stereo decorrelation; CRC-8 frame
  headers and CRC-16 frame trailers.
* decode: STREAMINFO walk, frame sync + header parse (UTF-8-coded frame
  number, all blocksize/samplerate/samplesize encodings), subframes
  CONSTANT / VERBATIM / FIXED(0-4) / LPC(1-32) with wasted-bits, Rice
  methods 0 and 1 (4- and 5-bit parameters) with escaped partitions, all
  four channel assignments (independent, left/side, right/side, mid/side),
  both CRCs verified, MD5 verified against STREAMINFO when present.

Exactness oracle: FLAC is lossless, so decode(encode(x)) == x bit-for-bit —
the roundtrip test is exact equality, not bounded error.

Honest limits (NotImplementedError): sample sizes other than 8/16/24 bits,
variable-blocksize streams produced elsewhere decode fine (the header
carries the size); encode always writes fixed 16-bit.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Optional

import numpy as np

_CRC8_POLY = 0x07
_CRC16_POLY = 0x8005


def _crc_table(poly: int, width: int):
    table = []
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    for b in range(256):
        r = b << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) if r & top else (r << 1)
        table.append(r & mask)
    return table


_CRC8_TAB = _crc_table(_CRC8_POLY, 8)
_CRC16_TAB = _crc_table(_CRC16_POLY, 16)


def _crc8(data: bytes) -> int:
    r = 0
    for b in data:
        r = _CRC8_TAB[r ^ b]
    return r


def _crc16(data: bytes) -> int:
    r = 0
    for b in data:
        r = ((r << 8) & 0xFFFF) ^ _CRC16_TAB[((r >> 8) ^ b) & 0xFF]
    return r


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (v & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise NotImplementedError("FLAC: truncated stream")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= nbits
        v = (self.acc >> self.n) & ((1 << nbits) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v >= (1 << (nbits - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.n = 0
        self.acc = 0

    def byte_pos(self) -> int:
        assert self.n % 8 == 0
        return self.pos - self.n // 8


def _utf8_coded(n: int) -> bytes:
    """FLAC's UTF-8-style frame-number coding (RFC 9639 §9.1.5)."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (1 + 5 * nbytes)) and nbytes < 7:
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(lead | (n >> shift))
    for i in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _read_utf8_coded(br: _BitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise NotImplementedError("FLAC: bad UTF-8-coded number")
    n = b0 & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = br.read(8)
        if (b & 0xC0) != 0x80:
            raise NotImplementedError("FLAC: bad UTF-8 continuation")
        n = (n << 6) | (b & 0x3F)
    return n


def _zigzag(res: np.ndarray) -> np.ndarray:
    return np.where(res >= 0, res.astype(np.int64) << 1,
                    ((-res.astype(np.int64)) << 1) - 1)


def _rice_cost(res: np.ndarray, p: int) -> int:
    u = _zigzag(res)
    return int((u >> p).sum()) + len(res) * (p + 1)


def _best_rice_param(res: np.ndarray) -> int:
    if not len(res):
        return 0
    best_p, best_c = 0, _rice_cost(res, 0)
    for p in range(1, 15):
        c = _rice_cost(res, p)
        if c < best_c:
            best_p, best_c = p, c
    return best_p


def _write_residual(bw: _BitWriter, res: np.ndarray,
                    p: Optional[int] = None) -> None:
    """Rice method 0, partition order 0.

    No 0b1111 escape arm on the ENCODE side — it is provably unreachable
    from the one call site (``_encode_subframe``): there raw_bits >= bits,
    and the VERBATIM fallback already fires whenever
    ``rice_cost >= (n - order) * bits``; the escape condition
    ``rice_cost > n * raw_bits >= n * bits > (n - order) * bits`` is
    therefore strictly stronger, so any block that could escape has
    already been written VERBATIM (pinned by
    test_flac_pathological_blocks_go_verbatim).  DECODING escaped
    partitions from other encoders is fully supported (_read_residual)
    and tested via hand-built streams."""
    bw.write(0, 2)       # residual method: 4-bit Rice
    bw.write(0, 4)       # partition order 0 -> one partition
    if p is None:
        p = _best_rice_param(res)
    bw.write(p, 4)
    for u in _zigzag(res):
        bw.write_unary(int(u) >> p)
        bw.write(int(u) & ((1 << p) - 1), p)


def _encode_subframe(bw: _BitWriter, x: np.ndarray, bits: int) -> None:
    x = x.astype(np.int64)
    n = len(x)
    if n and (x == x[0]).all():
        bw.write(0, 1)
        bw.write(0b000000, 6)        # CONSTANT
        bw.write(0, 1)
        bw.write(int(x[0]) & ((1 << bits) - 1), bits)
        return
    # pick the fixed order with the smallest sum-of-abs residual
    best_o, best_res, best_cost = 0, x, int(np.abs(x).sum())
    cur = x
    for o in range(1, 5):
        if n <= o:
            break
        cur = np.diff(cur)
        cost = int(np.abs(cur).sum())
        if cost < best_cost:
            best_o, best_res, best_cost = o, cur, cost
    # verbatim fallback when prediction cannot win (tiny/noisy blocks)
    res = best_res
    p = _best_rice_param(res)
    approx = best_o * bits + _rice_cost(res, p)
    if approx >= n * bits:
        bw.write(0, 1)
        bw.write(0b000001, 6)        # VERBATIM
        bw.write(0, 1)
        for v in x:
            bw.write(int(v) & ((1 << bits) - 1), bits)
        return
    bw.write(0, 1)
    bw.write(0b001000 | best_o, 6)   # FIXED, order best_o
    bw.write(0, 1)                   # no wasted bits
    for v in x[:best_o]:             # warmup samples
        bw.write(int(v) & ((1 << bits) - 1), bits)
    _write_residual(bw, res, p=p)


_BLOCKSIZE_CODES = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5, 256: 8,
                    512: 9, 1024: 10, 2048: 11, 4096: 12, 8192: 13,
                    16384: 14, 32768: 15}
_RATE_CODES = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5, 22050: 6,
               24000: 7, 32000: 8, 44100: 9, 48000: 10, 96000: 11}


def encode_flac(samples, sample_rate: int, n_channels: int = 1,
                block_size: int = 4096, mid_side: bool = False) -> bytes:
    """FLAC stream from an int16 interleaved sample array.

    ``mid_side=True`` (stereo only) writes mid/side-decorrelated frames —
    the decode path for channel assignments 8-10 needs real streams to be
    tested against.  Lossless: decode_flac returns the exact input.
    """
    x = np.asarray(samples, dtype=np.int64)
    if n_channels > 1:
        if len(x) % n_channels:
            raise NotImplementedError("FLAC: partial final interframe")
        chans = [x[c::n_channels] for c in range(n_channels)]
    else:
        chans = [x]
    n_frames_total = len(chans[0])
    bits = 16

    info = _BitWriter()
    info.write(block_size, 16)
    info.write(block_size, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(n_channels - 1, 3)
    info.write(bits - 1, 5)
    info.write(n_frames_total, 36)
    md5 = hashlib.md5(np.asarray(samples, dtype="<i2").tobytes()).digest()

    out = bytearray(b"fLaC")
    out += bytes([0x80]) + (34).to_bytes(3, "big")  # last block, STREAMINFO
    out += info.bytes() + md5

    bs_code = _BLOCKSIZE_CODES.get(block_size, 7)   # 7: 16-bit size at end
    # non-table rates use code 0 = "rate in STREAMINFO" (exact, vs the
    # kHz-truncating code 12)
    sr_code = _RATE_CODES.get(sample_rate, 0)

    frame_no = 0
    for start in range(0, max(n_frames_total, 1), block_size):
        blk = [c[start:start + block_size] for c in chans]
        nb = len(blk[0])
        if nb == 0:
            break
        this_bs = bs_code if nb == block_size else (
            6 if nb <= 256 else 7)
        header = _BitWriter()
        header.write(0b11111111111110, 14)
        header.write(0, 1)           # reserved
        header.write(0, 1)           # fixed blocksize strategy
        header.write(this_bs, 4)
        header.write(sr_code, 4)
        use_ms = mid_side and n_channels == 2
        header.write(10 if use_ms else n_channels - 1, 4)
        header.write(0b100, 3)       # 16 bits per sample
        header.write(0, 1)           # reserved
        hb = bytearray(header.bytes())
        hb += _utf8_coded(frame_no)
        if this_bs == 6:
            hb.append(nb - 1)
        elif this_bs == 7:
            hb += struct.pack(">H", nb - 1)
        hb.append(_crc8(bytes(hb)))

        body = _BitWriter()
        if use_ms:
            mid = (blk[0] + blk[1]) >> 1
            side = blk[0] - blk[1]
            _encode_subframe(body, mid, bits)
            _encode_subframe(body, side, bits + 1)
        else:
            for c in range(n_channels):
                _encode_subframe(body, blk[c], bits)
        body.align()
        frame = bytes(hb) + body.bytes()
        out += frame + struct.pack(">H", _crc16(frame))
        frame_no += 1
    return bytes(out)


def _read_residual(br: _BitReader, nb: int, order: int) -> np.ndarray:
    method = br.read(2)
    if method > 1:
        raise NotImplementedError("FLAC: reserved residual method")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    po = br.read(4)
    if nb % (1 << po):
        raise NotImplementedError("FLAC: bad partition order")
    out = np.empty(nb - order, dtype=np.int64)
    w = 0
    for part in range(1 << po):
        cnt = (nb >> po) - (order if part == 0 else 0)
        p = br.read(pbits)
        if p == escape:
            raw = br.read(5)
            for i in range(cnt):
                out[w] = br.read_signed(raw) if raw else 0
                w += 1
        else:
            for i in range(cnt):
                q = br.read_unary()
                u = (q << p) | br.read(p)
                out[w] = (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)
                w += 1
    return out


def _decode_subframe(br: _BitReader, nb: int, bits: int) -> np.ndarray:
    if br.read(1) != 0:
        raise NotImplementedError("FLAC: bad subframe pad bit")
    t = br.read(6)
    wasted = 0
    if br.read(1):                   # wasted-bits flag: unary count - 1
        wasted = 1 + br.read_unary()
        bits -= wasted
    if t == 0:                       # CONSTANT
        x = np.full(nb, br.read_signed(bits), dtype=np.int64)
    elif t == 1:                     # VERBATIM
        x = np.array([br.read_signed(bits) for _ in range(nb)],
                     dtype=np.int64)
    elif 8 <= t <= 12:               # FIXED 0-4
        order = t - 8
        warm = np.array([br.read_signed(bits) for _ in range(order)],
                        dtype=np.int64)
        res = _read_residual(br, nb, order)
        # res = Δ^order x, so reconstruction is ``order``-fold integration:
        # cumsum seeded with the warmup's j-th finite difference at its
        # last position — vectorized, no per-sample Python loop
        x = np.empty(nb, dtype=np.int64)
        x[:order] = warm
        diffs = [warm]
        for _ in range(order - 1):
            diffs.append(np.diff(diffs[-1]))
        cur = res
        for j in range(order - 1, -1, -1):
            cur = diffs[j][-1] + np.cumsum(cur)
        x[order:] = cur
    elif t >= 32:                    # LPC, order t-31
        order = t - 31
        warm = [br.read_signed(bits) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise NotImplementedError("FLAC: invalid LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise NotImplementedError("FLAC: negative LPC shift")
        coefs = [br.read_signed(prec) for _ in range(order)]
        res = _read_residual(br, nb, order)
        x = np.empty(nb, dtype=np.int64)
        x[:order] = warm
        for i in range(order, nb):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * x[i - 1 - j]
            x[i] = res[i - order] + (pred >> shift)
    else:
        raise NotImplementedError(f"FLAC: reserved subframe type {t}")
    return x << wasted


_BS_TABLE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608, 8: 256, 9: 512,
             10: 1024, 11: 2048, 12: 4096, 13: 8192, 14: 16384, 15: 32768}
_SR_TABLE = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
             7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000}
_SS_TABLE = {1: 8, 4: 16, 5: 20, 6: 24}


def decode_flac(content: bytes):
    """(sample_rate, n_channels, interleaved int32 sample array) from a
    FLAC stream; CRC-8/CRC-16 and (when present) the STREAMINFO MD5 are
    verified — a corrupted stream raises instead of returning garbage."""
    if content[:4] != b"fLaC":
        raise NotImplementedError("not a FLAC stream")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(content):
            raise NotImplementedError("FLAC: truncated metadata header")
        hdr = content[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        ln = int.from_bytes(content[pos + 1:pos + 4], "big")
        if pos + 4 + ln > len(content):
            raise NotImplementedError("FLAC: truncated metadata block")
        if btype == 0:
            info = content[pos + 4:pos + 4 + ln]
        pos += 4 + ln
        if last:
            break
    si_rate = si_channels = si_bits = si_total = None
    si_md5 = None
    if info is not None and len(info) >= 34:
        br = _BitReader(info)
        br.read(16)
        br.read(16)
        br.read(24)
        br.read(24)
        si_rate = br.read(20)
        si_channels = br.read(3) + 1
        si_bits = br.read(5) + 1
        si_total = br.read(36)
        si_md5 = info[18:34]

    chans_all: list = []
    rate = si_rate
    nch = None
    while pos < len(content) - 1:
        frame_start = pos
        br = _BitReader(content, pos)
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise NotImplementedError("FLAC: lost frame sync")
        br.read(1)
        br.read(1)                    # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        chan_code = br.read(4)
        ss_code = br.read(3)
        br.read(1)
        _read_utf8_coded(br)
        if bs_code == 0:
            raise NotImplementedError("FLAC: reserved blocksize code")
        if bs_code == 6:
            nb = br.read(8) + 1
        elif bs_code == 7:
            nb = br.read(16) + 1
        else:
            nb = _BS_TABLE[bs_code]
        if sr_code == 0:
            pass                      # use STREAMINFO rate
        elif sr_code in _SR_TABLE:
            rate = _SR_TABLE[sr_code]
        elif sr_code == 12:
            rate = br.read(8) * 1000
        elif sr_code == 13:
            rate = br.read(16)
        elif sr_code == 14:
            rate = br.read(16) * 10
        else:
            raise NotImplementedError("FLAC: invalid sample-rate code")
        if ss_code == 0:
            bits = si_bits
            if bits is None:
                raise NotImplementedError("FLAC: no sample size available")
        elif ss_code in _SS_TABLE:
            bits = _SS_TABLE[ss_code]
        else:
            raise NotImplementedError(
                f"FLAC: sample-size code {ss_code} unsupported")
        header_crc = br.read(8)
        hdr_bytes = content[frame_start:br.byte_pos() - 1]
        if _crc8(hdr_bytes) != header_crc:
            raise NotImplementedError("FLAC: frame header CRC mismatch")

        if chan_code <= 7:
            n = chan_code + 1
            subs = [_decode_subframe(br, nb, bits) for _ in range(n)]
        elif chan_code == 8:          # left/side
            left = _decode_subframe(br, nb, bits)
            side = _decode_subframe(br, nb, bits + 1)
            subs = [left, left - side]
        elif chan_code == 9:          # right/side
            side = _decode_subframe(br, nb, bits + 1)
            right = _decode_subframe(br, nb, bits)
            subs = [right + side, right]
        elif chan_code == 10:         # mid/side
            mid = _decode_subframe(br, nb, bits)
            side = _decode_subframe(br, nb, bits + 1)
            left = mid + ((side + (side & 1)) >> 1)
            subs = [left, left - side]
        else:
            raise NotImplementedError("FLAC: reserved channel assignment")
        br.align()
        body_end = br.byte_pos()
        frame_crc = struct.unpack_from(">H", content, body_end)[0]
        if _crc16(content[frame_start:body_end]) != frame_crc:
            raise NotImplementedError("FLAC: frame CRC-16 mismatch")
        pos = body_end + 2
        if nch is None:
            nch = len(subs)
        chans_all.append(subs)
        if si_total and sum(len(f[0]) for f in chans_all) >= si_total:
            break

    if not chans_all:
        raise NotImplementedError("FLAC: no frames")
    chans = [np.concatenate([f[c] for f in chans_all])
             for c in range(nch)]
    if si_total:
        chans = [c[:si_total] for c in chans]
    inter = np.empty(len(chans[0]) * nch, dtype=np.int64)
    for c in range(nch):
        inter[c::nch] = chans[c]
    if si_md5 and si_md5 != b"\x00" * 16 and si_bits == 16:
        if hashlib.md5(inter.astype("<i2").tobytes()).digest() != si_md5:
            raise NotImplementedError("FLAC: MD5 signature mismatch")
    return rate, nch, inter.astype(np.int32)
