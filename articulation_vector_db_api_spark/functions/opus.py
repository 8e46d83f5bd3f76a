"""Opus packet-level inspection — RFC 6716 §3 (TOC byte + frame
packing), stdlib only.

Decoding Opus AUDIO (SILK/CELT synthesis) is a perceptual-codec
undertaking that stays honestly gated, but a speech-corpus pipeline
gets real value from the PACKET layer alone: exact durations (the TOC
config fixes each frame's length, so duration needs no decode), mode/
bandwidth triage (SILK speech vs CELT music vs hybrid), stereo flags,
CBR/VBR detection, and structural validation — all the facts needed to
route, bill, and segment a corpus before committing decode compute.

parse_opus_packet implements the full §3.2 framing: codes 0-3, the
code-2 length prefix, code-3 CBR/VBR with per-frame lengths and
padding, and the R1-R7 well-formedness rules (a malformed packet
raises ValueError, costing its row one clean error)."""

from __future__ import annotations

from dataclasses import dataclass

# TOC config -> frame duration in 48 kHz samples (RFC 6716 Table 2):
# configs 0-11 SILK (NB/MB/WB x 10/20/40/60 ms), 12-15 hybrid
# (SWB/FB x 10/20 ms), 16-31 CELT (NB/WB/SWB/FB x 2.5/5/10/20 ms).
_SILK_MS = (10, 20, 40, 60)


def _config_samples(config: int) -> int:
    if config < 12:
        return 48 * _SILK_MS[config % 4]
    if config < 16:
        return 480 if config % 2 == 0 else 960
    return 120 << (config % 4)


def _config_mode(config: int) -> str:
    return "silk" if config < 12 else ("hybrid" if config < 16 else "celt")


def _read_framelen(b: bytes, i: int) -> tuple[int, int]:
    """§3.2.1 frame-length coding: 0..251 one byte; 252..255 two."""
    if i >= len(b):
        raise ValueError("truncated Opus frame length")
    v = b[i]
    if v < 252:
        return v, i + 1
    if i + 1 >= len(b):
        raise ValueError("truncated Opus frame length")
    return b[i + 1] * 4 + v, i + 2


@dataclass
class OpusPacket:
    config: int
    stereo: bool
    frames: int
    samples48: int  # total duration in 48 kHz samples
    vbr: bool


def parse_opus_packet(packet: bytes) -> OpusPacket:
    """TOC + frame packing (RFC 6716 §3.1-3.2) -> OpusPacket facts.

    Enforces the spec's well-formedness rules: code-1 payloads must
    split evenly (R3), code-2/VBR length fields must fit (R1/R6-R7),
    code-3 frame counts are 1..48 with total duration ≤ 120 ms (R5),
    and padding must be present."""
    if not packet:
        raise ValueError("empty Opus packet")
    toc = packet[0]
    config = toc >> 3
    stereo = bool(toc & 0x04)
    code = toc & 0x03
    body = packet[1:]
    per = _config_samples(config)
    vbr = False
    if code == 0:
        frames = 1
    elif code == 1:
        if len(body) % 2:
            raise ValueError("Opus code-1 packet with odd payload (R3)")
        frames = 2
    elif code == 2:
        n1, i = _read_framelen(packet, 1)
        if n1 > len(packet) - i:
            raise ValueError("Opus code-2 frame length overruns packet")
        frames = 2
        vbr = True
    else:  # code 3: signaled frame count, optional padding, CBR/VBR
        if not body:
            raise ValueError("truncated Opus code-3 packet")
        fc = body[0]
        frames = fc & 0x3F
        padded = bool(fc & 0x40)
        vbr = bool(fc & 0x80)
        if frames == 0:
            raise ValueError("Opus code-3 packet with zero frames (R5)")
        if frames * per > 5760:  # 120 ms at 48 kHz
            raise ValueError("Opus packet exceeds 120 ms (R5)")
        i = 2  # after TOC + frame-count byte
        pad = 0
        if padded:
            while True:
                if i >= len(packet):
                    raise ValueError("truncated Opus padding count")
                p = packet[i]
                i += 1
                pad += p if p < 255 else 254
                if p != 255:
                    break
        if vbr:
            # M-1 explicit frame lengths; their sum plus padding must
            # fit in what follows (R6/R7)
            need = 0
            for _ in range(frames - 1):
                n, i = _read_framelen(packet, i)
                need += n
            if need + pad > len(packet) - i:
                raise ValueError("Opus VBR frame lengths overrun packet")
        else:
            # CBR: the payload after padding must split evenly (R6)
            avail = len(packet) - i - pad
            if avail < 0:
                raise ValueError("Opus padding overruns packet")
            if avail % frames:
                raise ValueError(
                    "Opus code-3 CBR payload does not split evenly (R6)"
                )
    return OpusPacket(
        config=config,
        stereo=stereo,
        frames=frames,
        samples48=frames * per,
        vbr=vbr,
    )


def opus_stream_stats(payload: bytes) -> dict:
    """Walk an Ogg-Opus stream's AUDIO packets (skipping the OpusHead
    and OpusTags header packets) -> aggregate packet-layer facts:
    {n_packets, n_frames, samples48, duration_ms, n_stereo_packets,
    n_vbr_packets, silk/hybrid/celt packet counts}. Duration comes
    from TOC arithmetic alone — no decode."""
    from .ogg import ogg_packets

    packets = ogg_packets(bytes(payload))
    head = next(packets, None)
    if head is None or head[0][:8] != b"OpusHead":
        raise ValueError("not an Ogg-Opus stream")
    tags = next(packets, None)
    if tags is None or tags[0][:8] != b"OpusTags":
        raise ValueError("Ogg-Opus stream missing OpusTags")
    stats = {
        "n_packets": 0,
        "n_frames": 0,
        "samples48": 0,
        "n_stereo_packets": 0,
        "n_vbr_packets": 0,
        "n_silk": 0,
        "n_hybrid": 0,
        "n_celt": 0,
    }
    for packet, _granule, _serial in packets:
        p = parse_opus_packet(packet)
        stats["n_packets"] += 1
        stats["n_frames"] += p.frames
        stats["samples48"] += p.samples48
        stats["n_stereo_packets"] += int(p.stereo)
        stats["n_vbr_packets"] += int(p.vbr)
        stats[f"n_{_config_mode(p.config)}"] += 1
    stats["duration_ms"] = (stats["samples48"] + 24) // 48
    return stats
