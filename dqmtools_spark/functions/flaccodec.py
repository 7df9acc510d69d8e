"""Pure-Python FLAC decoder — no external libraries.

Decoder scope (malformed input raises ``ValueError``, valid-but-
unsupported variants raise ``NotImplementedError``; the multimodal
guard degrades both to a null feature):

- STREAMINFO metadata (other metadata blocks skipped),
- frame headers: all block-size / sample-rate / sample-size codes,
  UTF-8-style frame numbers, fixed and variable blocking,
- subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32,
  wasted-bits shifts,
- Rice residuals: 4- and 5-bit parameters, partition orders 0-15,
  escape-to-raw partitions,
- stereo decorrelation: independent, left/side, right/side, mid/side
  (side channel carries its spec-mandated extra bit),
- 8/12/16/20/24/32-bit sample sizes, any channel count for
  independent assignment.

CRC-8 (frame header) and CRC-16 (frame) bytes are consumed and
VERIFIED — a corrupt frame is a ValueError, not garbage samples.

The fixture encoder emits CONSTANT / VERBATIM / FIXED(0-2) subframes
with real Rice coding (4-bit parameters, 5-bit past 14) and optional
left/side / mid/side decorrelation, so decoder tests get sample-exact
round trips against numpy integers; the LPC path is tested against a
hand-built bitstream whose recurrence is recomputed independently in
the test.

Semantics analog: the reference decodes opaque per-row payloads with
external unpackers (``dump_pds_ana_info.py:125-163``).
"""

from __future__ import annotations

import struct

import numpy as np

_SR_TABLE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_BPS_TABLE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _MSBReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise ValueError("FLAC bitstream truncated")
            self.buf = (self.buf << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= nbits
        v = (self.buf >> self.n) & ((1 << nbits) - 1)
        self.buf &= (1 << self.n) - 1
        return v

    def read_signed(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v >= (1 << (nbits - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.n = 0
        self.buf = 0

    def byte_pos(self) -> int:
        """Position of the next unread byte (only valid when aligned)."""
        return self.pos


def _read_utf8_number(r: _MSBReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > 6:
        raise ValueError("bad UTF-8-coded frame number")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = r.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad UTF-8 continuation in frame number")
        v = (v << 6) | (c & 0x3F)
    return v


def parse_streaminfo(data: bytes) -> dict:
    """fLaC header -> {sample_rate, channels, bps, total_samples,
    frames_start} (offset of the first audio frame)."""
    if len(data) < 8 or data[:4] != b"fLaC":
        raise ValueError("not a FLAC (missing fLaC)")
    pos = 4
    info = None
    while pos + 4 <= len(data):
        hdr = data[pos]
        last, btype = hdr & 0x80, hdr & 0x7F
        size = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + size]
        if len(body) < size:
            raise ValueError("truncated metadata block")
        if btype == 0:  # STREAMINFO
            if size < 34:
                raise ValueError("STREAMINFO too small")
            bits = int.from_bytes(body[10:18], "big")
            sr = bits >> 44
            ch = ((bits >> 41) & 0x07) + 1
            bps = ((bits >> 36) & 0x1F) + 1
            total = bits & ((1 << 36) - 1)
            info = {
                "sample_rate": sr,
                "channels": ch,
                "bps": bps,
                "total_samples": total,
            }
        pos += 4 + size
        if last:
            break
    if info is None:
        raise ValueError("missing STREAMINFO")
    info["frames_start"] = pos
    return info


def decode_flac(data: bytes) -> tuple[int, int, np.ndarray]:
    """FLAC bytes -> (sample_rate, channels, samples) with samples an
    int64 array of shape (n_frames, channels)."""
    info = parse_streaminfo(data)
    pos = info["frames_start"]
    chunks = []
    got = 0
    total = info["total_samples"]
    while pos + 2 <= len(data) and (total == 0 or got < total):
        block, pos = _decode_frame(data, pos, info)
        chunks.append(block)
        got += block.shape[0]
    if not chunks:
        raise ValueError("FLAC has no audio frames")
    out = np.concatenate(chunks, axis=0)
    if total:
        out = out[:total]
    return info["sample_rate"], info["channels"], out


def _decode_frame(data: bytes, start: int, info: dict) -> tuple[np.ndarray, int]:
    r = _MSBReader(data, start)
    sync = r.read(14)
    if sync != 0b11111111111110:
        raise ValueError(f"bad frame sync at {start}")
    r.read(1)  # reserved
    r.read(1)  # blocking strategy
    bs_code = r.read(4)
    sr_code = r.read(4)
    chan_asgn = r.read(4)
    ss_code = r.read(3)
    r.read(1)  # reserved
    _read_utf8_number(r)
    if bs_code == 0:
        raise ValueError("reserved block size code")
    elif bs_code == 1:
        blocksize = 192
    elif bs_code <= 5:
        blocksize = 576 << (bs_code - 2)
    elif bs_code == 6:
        blocksize = r.read(8) + 1
    elif bs_code == 7:
        blocksize = r.read(16) + 1
    else:
        blocksize = 256 << (bs_code - 8)
    if sr_code == 12:
        r.read(8)
    elif sr_code in (13, 14):
        r.read(16)
    elif sr_code == 15:
        raise ValueError("invalid sample rate code")
    if ss_code == 0:
        bps = info["bps"]
    elif ss_code in _BPS_TABLE:
        bps = _BPS_TABLE[ss_code]
    else:
        raise ValueError("reserved sample size code")
    r.align()
    header_crc = data[r.byte_pos()]
    if _crc8(data[start : r.byte_pos()]) != header_crc:
        raise ValueError("frame header CRC-8 mismatch")
    r.read(8)  # consume the CRC byte

    if chan_asgn <= 7:
        n_ch = chan_asgn + 1
        if n_ch != info["channels"]:
            raise ValueError("frame/STREAMINFO channel mismatch")
        chans = [_decode_subframe(r, blocksize, bps) for _ in range(n_ch)]
    elif chan_asgn in (8, 9, 10):
        if info["channels"] != 2:
            raise ValueError("stereo decorrelation in non-stereo stream")
        if chan_asgn == 8:  # left/side
            left = _decode_subframe(r, blocksize, bps)
            side = _decode_subframe(r, blocksize, bps + 1)
            chans = [left, left - side]
        elif chan_asgn == 9:  # right/side
            side = _decode_subframe(r, blocksize, bps + 1)
            right = _decode_subframe(r, blocksize, bps)
            chans = [right + side, right]
        else:  # mid/side
            mid = _decode_subframe(r, blocksize, bps)
            side = _decode_subframe(r, blocksize, bps + 1)
            m2 = (mid << 1) | (side & 1)
            chans = [(m2 + side) >> 1, (m2 - side) >> 1]
    else:
        raise ValueError(f"reserved channel assignment {chan_asgn}")
    r.align()
    frame_crc = struct.unpack(">H", data[r.byte_pos() : r.byte_pos() + 2])[0]
    if _crc16(data[start : r.byte_pos()]) != frame_crc:
        raise ValueError("frame CRC-16 mismatch")
    end = r.byte_pos() + 2
    return np.stack(chans, axis=1), end


def _decode_subframe(r: _MSBReader, blocksize: int, bps: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("subframe padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.unary() + 1
        bps -= wasted
    if stype == 0:  # CONSTANT
        out = np.full(blocksize, r.read_signed(bps), dtype=np.int64)
    elif stype == 1:  # VERBATIM
        out = np.array([r.read_signed(bps) for _ in range(blocksize)], dtype=np.int64)
    elif 8 <= stype <= 12:  # FIXED
        order = stype & 0x07
        if order > 4:
            raise ValueError("fixed order > 4")
        if order > blocksize:
            raise ValueError("predictor order exceeds block size")
        out = _predicted(r, blocksize, bps, order, _FIXED_COEFS[order], 0)
    elif stype >= 32:  # LPC
        order = (stype & 0x1F) + 1
        if order > blocksize:
            raise ValueError("predictor order exceeds block size")
        warm = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4)
        if prec == 15:
            raise ValueError("invalid LPC precision")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        resid = _decode_residual(r, blocksize, order)
        out = np.empty(blocksize, dtype=np.int64)
        out[:order] = warm
        for i in range(order, blocksize):
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * int(out[i - 1 - j])
            out[i] = (acc >> shift) + resid[i - order]
    else:
        raise ValueError(f"reserved subframe type {stype}")
    return out << wasted if wasted else out


def _predicted(r, blocksize, bps, order, coefs, shift) -> np.ndarray:
    warm = [r.read_signed(bps) for _ in range(order)]
    resid = _decode_residual(r, blocksize, order)
    out = np.empty(blocksize, dtype=np.int64)
    out[:order] = warm
    for i in range(order, blocksize):
        acc = 0
        for j, c in enumerate(coefs):
            acc += c * int(out[i - 1 - j])
        out[i] = (acc >> shift) + resid[i - order]
    return out


def _decode_residual(r: _MSBReader, blocksize: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError("reserved residual coding method")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("block size not divisible by partition count")
    out: list[int] = []
    for p in range(nparts):
        n = blocksize // nparts - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("partition smaller than predictor order")
        param = r.read(plen)
        if param == escape:
            raw = r.read(5)
            out.extend(r.read_signed(raw) if raw else 0 for _ in range(n))
        else:
            for _ in range(n):
                q = r.unary()
                v = (q << param) | r.read(param)
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


# ------------------------------------------------------------ encoder


class _MSBWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, v: int, nbits: int) -> None:
        self.buf = (self.buf << nbits) | (v & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.buf >> self.n) & 0xFF)
        self.buf &= (1 << self.n) - 1

    def unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


def _rice_encode(w: _MSBWriter, resid: list[int], param: int) -> None:
    for v in resid:
        z = (abs(v) << 1) - (1 if v < 0 else 0)  # FLAC zigzag
        w.unary(z >> param)
        w.write(z & ((1 << param) - 1), param)


def _best_rice_param(resid: list[int]) -> int:
    """Rice parameter near log2 of the mean residual magnitude, capped
    at 30 (the 5-bit method's largest non-escape parameter).  A cap of
    14 would turn 32-bit residuals into unary runs of ~2^18 bits."""
    if not resid:
        return 0
    mean = sum(abs(v) for v in resid) / len(resid) + 1
    p = max(0, int(mean).bit_length() - 1)
    return min(p, 30)


def _encode_subframe(
    w: _MSBWriter, samples: np.ndarray, bps: int, mode: str
) -> None:
    x = [int(v) for v in samples]
    if mode == "constant":
        w.write(0, 1)
        w.write(0, 6)
        w.write(0, 1)
        w.write(x[0] & ((1 << bps) - 1), bps)
        return
    if mode == "verbatim":
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in x:
            w.write(v & ((1 << bps) - 1), bps)
        return
    # a FIXED subframe's warmup must fit in the block: clamp the order
    # for tail blocks shorter than it (spec: predictor order < block
    # size; hypothesis found the 1-sample-block desync)
    order = min(int(mode[-1]), len(x))  # "fixed0".."fixed2"
    coefs = _FIXED_COEFS[order]
    w.write(0, 1)
    w.write(8 | order, 6)
    w.write(0, 1)
    for v in x[:order]:
        w.write(v & ((1 << bps) - 1), bps)
    resid = [
        x[i] - sum(c * x[i - 1 - j] for j, c in enumerate(coefs))
        for i in range(order, len(x))
    ]
    param = _best_rice_param(resid)
    # method 0 (4-bit parameters, 15 = escape) whenever it can hold the
    # parameter, so such streams keep their bytes; method 1 (5-bit) past it
    method = 0 if param <= 14 else 1
    w.write(method, 2)
    w.write(0, 4)   # partition order 0
    w.write(param, 4 + method)
    _rice_encode(w, resid, param)


def encode_flac(
    sample_rate: int,
    samples: np.ndarray,
    *,
    bps: int = 16,
    blocksize: int = 4096,
    mode: str = "fixed2",
    stereo_mode: str = "independent",
) -> bytes:
    """Fixture encoder: int samples (n, ch) or (n,) -> FLAC bytes.
    ``mode``: constant | verbatim | fixed0 | fixed1 | fixed2 (constant
    requires genuinely constant blocks).  ``stereo_mode``: independent
    | left_side | right_side | mid_side (2-channel only)."""
    x = np.asarray(samples, dtype=np.int64)
    if x.ndim == 1:
        x = x[:, None]
    n, ch = x.shape
    if ch > 8:
        raise ValueError("too many channels")
    lim = 1 << (bps - 1)
    if x.max() >= lim or x.min() < -lim:
        raise ValueError(f"samples exceed {bps}-bit range")

    streaminfo = bytearray()
    streaminfo += struct.pack(">HH", blocksize, blocksize)
    streaminfo += b"\x00" * 6  # min/max frame size unknown
    bits = (sample_rate << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | n
    streaminfo += bits.to_bytes(8, "big")
    streaminfo += b"\x00" * 16  # md5 unset
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + bytes(streaminfo)

    for fidx, off in enumerate(range(0, n, blocksize)):
        block = x[off : off + blocksize]
        bs = block.shape[0]
        w = _MSBWriter()
        w.write(0b11111111111110, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocking
        w.write(7, 4)  # block size: 16-bit at end of header
        w.write(0, 4)  # sample rate: from STREAMINFO
        if stereo_mode == "independent":
            w.write(ch - 1, 4)
        elif stereo_mode in ("left_side", "right_side", "mid_side"):
            if ch != 2:
                raise ValueError("stereo decorrelation needs 2 channels")
            w.write({"left_side": 8, "right_side": 9, "mid_side": 10}[stereo_mode], 4)
        else:
            raise ValueError(f"unknown stereo_mode {stereo_mode}")
        ss = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps]
        w.write(ss, 3)
        w.write(0, 1)
        # UTF-8 frame number (fixture keeps it < 128)
        if fidx >= 128:
            raise ValueError("fixture encoder supports < 128 frames")
        w.write(fidx, 8)
        w.write(bs - 1, 16)
        w.align()
        hdr = bytes(w.out)
        w.write(_crc8(hdr), 8)
        if stereo_mode == "independent":
            for c in range(ch):
                _encode_subframe(w, block[:, c], bps, mode)
        else:
            left, right = block[:, 0], block[:, 1]
            side = left - right
            if stereo_mode == "left_side":
                _encode_subframe(w, left, bps, mode)
                _encode_subframe(w, side, bps + 1, mode)
            elif stereo_mode == "right_side":
                _encode_subframe(w, side, bps + 1, mode)
                _encode_subframe(w, right, bps, mode)
            else:
                mid = (left + right) >> 1
                _encode_subframe(w, mid, bps, mode)
                _encode_subframe(w, side, bps + 1, mode)
        w.align()
        body = bytes(w.out)
        w.write(_crc16(body), 16)
        out += bytes(w.out)
    return bytes(out)


def flac_features(data: bytes, n_hist: int = 8) -> np.ndarray:
    """Same 16-dim audio feature vector as ``wavcodec.wav_features``,
    over decoded FLAC samples (normalized to [-1, 1) by the stream's
    bit depth)."""
    from dqmtools_spark.functions.wavcodec import signal_features

    info = parse_streaminfo(data)
    sr, ch, frames = decode_flac(data)
    scale = float(1 << (info["bps"] - 1))
    return signal_features(sr, frames.astype(np.float64) / scale, n_hist=n_hist)
