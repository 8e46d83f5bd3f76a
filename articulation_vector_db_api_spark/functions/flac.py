"""REAL FLAC codec — stdlib + numpy only, from the public spec
(RFC 9639 / the xiph.org format document).

FLAC is the lossless audio interchange format speech corpora actually
ship in (LibriSpeech, MLS, many call archives), so a 100 TB audio
pipeline meets it immediately after WAV. Lossless means the roundtrip
proof is absolute: arbitrary digest-derived samples must come back
bit-identical, and the container's own MD5 (STREAMINFO) is recomputed
on decode so any rice/predictor bit error fails integrity before it
can fail a test.

Decoder envelope: all six spec bit depths 8/12/16/20/24/32 (int16
out for <=16, int32 above; MD5 verified over the spec's sign-extended
ceil(bps/8)-byte little-endian packing),
mono or stereo (independent + left/side + right/side + mid/side
assignments; independent decode also covers >2 channels), constant /
verbatim / fixed-order-0..4 / LPC subframes, partitioned Rice
residuals (both 4- and 5-bit parameter methods, escape partitions),
wasted bits, fixed and variable blocking, CRC-8 frame-header and
CRC-16 frame checks. All six spec bit depths decode (8/12/16/20/24/
32). Structural damage raises ValueError.

Encoder (the test-vector generator, like encode_png / encode_tiff):
fixed-blocking frames, per-subframe choice of constant / fixed-order-k
(k = 0..4, rice-coded with per-partition parameters) / verbatim
fallback, independent or mid/side stereo.

The reference has no audio path (/root/reference/main.py is
text-only); this is engine surface for the multimodal column family.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

_RATE_CODES = {
    88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5, 22050: 6,
    24000: 7, 32000: 8, 44100: 9, 48000: 10, 96000: 11,
}


def _crc_table(poly: int, width: int) -> list[int]:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    table = []
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return table


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0."""
    crc = 0
    for byte in data:
        crc = _CRC8_TABLE[crc ^ byte]
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0."""
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16_TABLE[(crc >> 8) ^ byte]
    return crc


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.bit = pos * 8

    @property
    def byte_pos(self) -> int:
        return self.bit >> 3

    def aligned(self) -> bool:
        return self.bit % 8 == 0

    def align(self) -> None:
        self.bit = (self.bit + 7) & ~7

    def read(self, n: int) -> int:
        bit = self.bit
        end = bit + n
        if end > len(self.data) * 8:
            raise ValueError("truncated FLAC stream")
        last = (end + 7) >> 3
        chunk = int.from_bytes(self.data[bit >> 3 : last], "big")
        self.bit = end
        return (chunk >> ((last << 3) - end)) & ((1 << n) - 1)

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def read_unary(self) -> int:
        bit = self.bit
        data = self.data
        nbits = len(data) * 8
        n = 0
        # skip whole zero bytes from the current (partial) byte onward
        while True:
            if bit >= nbits:
                raise ValueError("truncated FLAC stream")
            byte = data[bit >> 3] & (0xFF >> (bit & 7))
            if byte:
                top = 7 - byte.bit_length() + 1  # position of first 1
                n += top - (bit & 7)
                self.bit = (bit & ~7) + top + 1
                return n
            n += 8 - (bit & 7)
            bit = (bit & ~7) + 8
            if n > 1 << 24:
                raise ValueError("runaway FLAC unary code")


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.out.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, n: int) -> None:
        while n >= 32:
            self.write(0, 32)
            n -= 32
        self.write(1, n + 1)  # n zero bits then a one bit

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


def _coded_number_encode(n: int) -> bytes:
    """FLAC's UTF-8-style variable-length number (frame/sample index)."""
    if n < 0x80:
        return bytes([n])
    for nbytes, lead in ((2, 0xC0), (3, 0xE0), (4, 0xF0), (5, 0xF8),
                         (6, 0xFC), (7, 0xFE)):
        if n < 1 << (5 * nbytes + 1):  # (7-nbytes) lead + 6*(nbytes-1)
            out = bytearray(nbytes)
            for i in range(nbytes - 1, 0, -1):
                out[i] = 0x80 | (n & 0x3F)
                n >>= 6
            out[0] = lead | n
            return bytes(out)
    raise ValueError("coded number out of range")


def _coded_number_decode(r: _BitReader) -> int:
    first = r.read(8)
    if first < 0x80:
        return first
    ones = 0
    while first & (0x80 >> ones):
        ones += 1
    if ones < 2 or ones > 7:
        raise ValueError("bad FLAC coded number lead byte")
    n = first & (0x7F >> ones)
    for _ in range(ones - 1):
        cont = r.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("bad FLAC coded number continuation")
        n = (n << 6) | (cont & 0x3F)
    return n


def _zigzag(v: np.ndarray) -> np.ndarray:
    return np.where(v >= 0, v << 1, (-v << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _fixed_residual(samples: np.ndarray, order: int) -> np.ndarray:
    res = samples.astype(np.int64)
    for _ in range(order):
        res = np.diff(res)
    return res


def _write_residual(w: _BitWriter, res: np.ndarray) -> None:
    """Partition order 0, one rice parameter sized to the data, with
    the escape hatch when residuals are too wild for rice."""
    u = _zigzag(res.astype(np.int64))
    best_p, best_cost = 0, None
    for p in range(15):
        cost = int((u >> p).sum()) + len(u) * (p + 1)
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
    nbit_raw = int(max(res.max(initial=0), -res.min(initial=0) - 1)).bit_length() + 1 if len(res) else 1
    w.write(0, 2)  # rice method 0 (4-bit parameters)
    w.write(0, 4)  # partition order 0
    if best_p >= 15 or best_cost > nbit_raw * len(u) + 5:
        w.write(0b1111, 4)  # escape
        w.write(nbit_raw, 5)
        for v in res:
            w.write(int(v), nbit_raw)
        return
    w.write(best_p, 4)
    low_mask = (1 << best_p) - 1
    for uv in u:
        uv = int(uv)
        # fused unary quotient + terminator + remainder in one write
        w.write((1 << best_p) | (uv & low_mask), (uv >> best_p) + best_p + 1)


def _read_residual(
    r: _BitReader, blocksize: int, order: int
) -> np.ndarray:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    po = r.read(4)
    if blocksize % (1 << po):
        raise ValueError("FLAC partition order does not divide blocksize")
    out: list[int] = []
    for part in range(1 << po):
        n = (blocksize >> po) - (order if part == 0 else 0)
        if n < 0:
            raise ValueError("FLAC predictor order exceeds partition")
        p = r.read(pbits)
        if p == escape:
            nbit = r.read(5)
            out.extend(
                r.read_signed(nbit) if nbit else 0 for _ in range(n)
            )
        else:
            for _ in range(n):
                q = r.read_unary()
                u = (q << p) | (r.read(p) if p else 0)
                out.append(_unzigzag(u))
    return np.array(out, dtype=np.int64)


def _read_subframe(r: _BitReader, blocksize: int, bps: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("FLAC subframe pad bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    eff = bps - wasted
    if stype == 0:
        out = np.full(blocksize, r.read_signed(eff), dtype=np.int64)
    elif stype == 1:
        out = np.array(
            [r.read_signed(eff) for _ in range(blocksize)], dtype=np.int64
        )
    elif 8 <= stype <= 12:
        order = stype - 8
        warm = np.array(
            [r.read_signed(eff) for _ in range(order)], dtype=np.int64
        )
        res = _read_residual(r, blocksize, order)
        # invert k-th differencing by k cumulative sums, each seeded
        # with the warmup's own difference pyramid — vectorized
        levels = [warm]
        for _ in range(order):
            levels.append(np.diff(levels[-1]))
        x = res
        for j in range(order, 0, -1):
            seed = levels[j - 1][-1:]
            x = np.cumsum(np.concatenate([seed, x]))[1:]
        out = np.concatenate([warm, x]) if order else res.copy()
    elif stype >= 32:
        order = stype - 31
        warm = [r.read_signed(eff) for _ in range(order)]
        prec = r.read(4)
        if prec == 0b1111:
            raise ValueError("invalid FLAC LPC precision")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _read_residual(r, blocksize, order)
        out = np.empty(blocksize, dtype=np.int64)
        out[:order] = warm
        for i in range(order, blocksize):
            pred = sum(c * out[i - 1 - j] for j, c in enumerate(coefs))
            out[i] = res[i - order] + (pred >> shift)
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    return out << wasted


def decode_flac(payload: bytes) -> tuple[int, np.ndarray]:
    """FLAC → (sample_rate, int16 array (n, ch)). See module docstring
    for the envelope; verifies frame CRC-8/CRC-16 and the STREAMINFO
    MD5 (when present), so a corrupt stream raises ValueError instead
    of returning wrong samples."""
    b = bytes(payload)
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(b):
            raise ValueError("truncated FLAC metadata")
        last = b[pos] >> 7
        btype = b[pos] & 0x7F
        (size,) = struct.unpack(">I", b"\x00" + b[pos + 1 : pos + 4])
        body = b[pos + 4 : pos + 4 + size]
        if len(body) != size:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            if size != 34:
                raise ValueError("bad STREAMINFO size")
            info = body
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type 127")
        pos += 4 + size
        if last:
            break
    if info is None:
        raise ValueError("FLAC missing STREAMINFO")
    r = _BitReader(info)
    r.read(16)  # min blocksize
    r.read(16)  # max blocksize
    r.read(24)  # min framesize
    r.read(24)  # max framesize
    rate = r.read(20)
    channels = r.read(3) + 1
    bps = r.read(5) + 1
    total = r.read(36)
    md5 = info[18:34]
    if bps not in (8, 12, 16, 20, 24, 32):
        raise ValueError(f"invalid FLAC bit depth {bps}")
    if rate == 0:
        raise ValueError("STREAMINFO sample rate 0")

    frames: list[np.ndarray] = []
    got = 0
    # STREAMINFO total_samples == 0 is the spec's legal "unknown"
    # (RFC 9639 §8.2 — common for piped/streamed FLAC): decode frames
    # until end-of-stream instead of by sample count.
    unknown_total = total == 0
    while (pos < len(b)) if unknown_total else (got < total):
        fstart = pos
        r = _BitReader(b, pos)
        if r.read(14) != 0b11111111111110:
            raise ValueError("bad FLAC frame sync")
        if r.read(1):
            raise ValueError("FLAC frame reserved bit set")
        r.read(1)  # blocking strategy (coded number disambiguates)
        bs_code = r.read(4)
        rate_code = r.read(4)
        ch_code = r.read(4)
        ss_code = r.read(3)
        if r.read(1):
            raise ValueError("FLAC frame reserved bit set")
        _coded_number_decode(r)
        if bs_code == 0:
            raise ValueError("reserved FLAC blocksize code")
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
        if rate_code == 12:
            r.read(8)
        elif rate_code in (13, 14):
            r.read(16)
        elif rate_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        if ss_code not in (0, _SS_CODES[bps]):
            raise ValueError("frame sample size != STREAMINFO")
        header = b[fstart : r.byte_pos]
        if r.read(8) != _crc8(header):
            raise ValueError("FLAC frame header CRC-8 mismatch")
        if ch_code < 8:
            if ch_code + 1 != channels:
                raise ValueError("frame channel count != STREAMINFO")
            chans = [
                _read_subframe(r, blocksize, bps) for _ in range(channels)
            ]
        elif ch_code in (8, 9, 10):
            if channels != 2:
                raise ValueError("stereo decorrelation on non-stereo stream")
            bps0 = bps + (1 if ch_code == 9 else 0)
            bps1 = bps + (1 if ch_code in (8, 10) else 0)
            c0 = _read_subframe(r, blocksize, bps0)
            c1 = _read_subframe(r, blocksize, bps1)
            if ch_code == 8:  # left/side
                chans = [c0, c0 - c1]
            elif ch_code == 9:  # right/side
                chans = [c1 + c0, c1]
            else:  # mid/side
                m = (c0 << 1) | (c1 & 1)
                chans = [(m + c1) >> 1, (m - c1) >> 1]
        else:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        r.align()
        frame_bytes = b[fstart : r.byte_pos]
        if r.read(16) != _crc16(frame_bytes):
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = r.byte_pos
        take = blocksize if unknown_total else min(blocksize, total - got)
        frames.append(np.stack([c[:take] for c in chans], axis=1))
        got += take
    samples = (
        np.concatenate(frames, axis=0)
        if frames
        else np.zeros((0, channels), dtype=np.int64)
    )
    lim = 1 << (bps - 1)
    if samples.size and (samples.max() >= lim or samples.min() < -lim):
        raise ValueError(f"FLAC sample out of int{bps} range")
    out = samples.astype("<i2" if bps <= 16 else "<i4")
    if md5 != b"\x00" * 16:
        # the spec MD5 covers the samples sign-extended into
        # ceil(bps/8) bytes, little-endian, interleaved (RFC 9639
        # §9.1.4)
        nbytes = (bps + 7) // 8
        flat = samples.reshape(-1)
        packed = (
            ((flat[:, None] >> (8 * np.arange(nbytes))) & 0xFF)
            .astype(np.uint8)
            .tobytes()
        )
        if hashlib.md5(packed).digest() != md5:
            raise ValueError("FLAC MD5 signature mismatch")
    return rate, out


def _encode_subframe(
    w: _BitWriter, samples: np.ndarray, bps: int
) -> None:
    s = samples.astype(np.int64)
    if (s == s[0]).all():
        w.write(0, 1)
        w.write(0, 6)  # constant
        w.write(0, 1)  # no wasted bits
        w.write(int(s[0]), bps)
        return
    # choose the cheapest fixed order by sum of |residual| (the
    # standard heuristic), falling back to verbatim when rice loses
    best_order, best_sum = 0, None
    for order in range(5):
        if order >= len(s):
            break
        res = _fixed_residual(s, order)
        cost = int(np.abs(res).sum())
        if best_sum is None or cost < best_sum:
            best_order, best_sum = order, cost
    order = best_order
    res = _fixed_residual(s, order)
    raw_width = (
        int(max(res.max(initial=0), -res.min(initial=0) - 1)).bit_length()
        + 1
    )
    if raw_width > 31:
        # residuals wider than the 5-bit rice-escape field (possible
        # at 32-bit depth): verbatim is always expressible
        w.write(0, 1)
        w.write(1, 6)  # verbatim
        w.write(0, 1)
        for v in s:
            w.write(int(v), bps)
        return
    w.write(0, 1)
    w.write(8 + order, 6)  # fixed, order
    w.write(0, 1)  # no wasted bits
    for v in s[:order]:
        w.write(int(v), bps)
    _write_residual(w, res)


# frame-header sample-size codes (RFC 9639 frame header table)
_SS_CODES = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}


def encode_flac(
    samples: np.ndarray,
    rate: int = 16000,
    block_size: int = 4096,
    stereo_mode: str = "independent",
    bps: int = 16,
) -> bytes:
    """MONO (n,) or stereo (n, 2) integer samples → FLAC bytes."""
    header, frame_list, _counts = encode_flac_parts(
        samples, rate, block_size, stereo_mode, bps
    )
    return header + b"".join(frame_list)


def encode_flac_parts(
    samples: np.ndarray,
    rate: int = 16000,
    block_size: int = 4096,
    stereo_mode: str = "independent",
    bps: int = 16,
) -> tuple[bytes, list[bytes], list[int]]:
    """encode_flac split at the container seams -> (header bytes —
    "fLaC" magic + last-flagged STREAMINFO block —, per-frame bytes,
    per-frame sample counts). The Ogg-FLAC packetizer (functions/
    ogg.py:build_ogg_flac) needs FRAME boundaries, because the Ogg
    mapping (Xiph Ogg-FLAC mapping 1.0) carries exactly one FLAC frame
    per packet; concatenating header + frames is byte-identical to
    encode_flac output.

    MONO (n,) or stereo (n, 2) integer samples → FLAC bytes.
    ``stereo_mode`` is ``"independent"`` or ``"mid-side"``; ``bps`` is
    any spec depth (8/12/16/20/24/32). Fixed blocking, one subframe
    strategy per channel
    (constant / best fixed order / rice-escape), real STREAMINFO MD5
    over the spec's bps/8-byte little-endian packing."""
    if bps not in (8, 12, 16, 20, 24, 32):
        raise ValueError(f"bps must be 8/12/16/20/24/32, got {bps}")
    a = np.asarray(samples, dtype=np.int64)
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    lim = 1 << (bps - 1)
    if a.size and (a.max() >= lim or a.min() < -lim):
        raise ValueError(f"sample out of int{bps} range")
    if ch not in (1, 2):
        raise ValueError("encode_flac supports 1 or 2 channels")
    if stereo_mode not in ("independent", "mid-side"):
        raise ValueError(f"unknown stereo_mode {stereo_mode}")
    if not 16 <= block_size <= 65535:
        raise ValueError("block_size out of range")
    nbytes = (bps + 7) // 8
    md5 = hashlib.md5(
        ((a.reshape(-1)[:, None] >> (8 * np.arange(nbytes))) & 0xFF)
        .astype(np.uint8)
        .tobytes()
    ).digest()

    frame_list: list[bytes] = []
    counts: list[int] = []
    for fi, top in enumerate(range(0, n, block_size)):
        blk = a[top : top + block_size]
        bs = len(blk)
        w = _BitWriter()
        w.write(0b11111111111110, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocking
        if bs == block_size:
            if block_size == 192:
                bs_code, bs_extra = 1, None
            elif block_size in (576, 1152, 2304, 4608):
                bs_code, bs_extra = (
                    2 + (576, 1152, 2304, 4608).index(block_size),
                    None,
                )
            elif block_size in tuple(256 << k for k in range(8)):
                bs_code, bs_extra = (
                    8 + tuple(256 << k for k in range(8)).index(block_size),
                    None,
                )
            else:
                bs_code, bs_extra = 7, block_size - 1
        else:  # short tail block
            bs_code, bs_extra = 7, bs - 1
        w.write(bs_code, 4)
        rate_code = _RATE_CODES.get(rate, 14)
        w.write(rate_code, 4)
        if ch == 1:
            ch_code = 0
        elif stereo_mode == "independent":
            ch_code = 1
        else:
            ch_code = 10  # mid/side
        w.write(ch_code, 4)
        w.write(_SS_CODES[bps], 3)
        w.write(0, 1)
        for byte in _coded_number_encode(fi):
            w.write(byte, 8)
        if bs_extra is not None:
            w.write(bs_extra, 16)
        if rate_code == 14:
            w.write(rate // 10, 16)
        header = w.bytes() if w.nbits == 0 else None
        assert header is not None  # header fields are byte-multiples
        w.write(_crc8(header), 8)
        if ch_code == 10:
            mid = (blk[:, 0] + blk[:, 1]) >> 1
            side = blk[:, 0] - blk[:, 1]
            _encode_subframe(w, mid, bps)
            _encode_subframe(w, side, bps + 1)
        else:
            for c in range(ch):
                _encode_subframe(w, blk[:, c], bps)
        w.align()
        frame = w.bytes()
        frame_list.append(frame + struct.pack(">H", _crc16(frame)))
        counts.append(bs)

    si = _BitWriter()
    si.write(min(block_size, max(n, 16)), 16)
    si.write(block_size, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(ch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    si.align()
    info = si.bytes() + md5
    assert len(info) == 34
    header = b"fLaC" + bytes([0x80]) + struct.pack(">I", 34)[1:] + info
    return header, frame_list, counts
