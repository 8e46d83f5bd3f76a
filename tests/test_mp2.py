"""MPEG-1 Layer II sample codec (functions/mp2.py): closed-form table
checks against the spec's published values, roundtrip SNR, scfsi
variants, header interop with the mp3 walker, honest gates, and the
mutation-fuzz ValueError-only contract."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from articulation_vector_db_api_spark.functions import mp2


def _tone(n=6000, rate=48000, f1=440.0, f2=2000.0):
    t = np.arange(n) / rate
    return 0.5 * np.sin(2 * np.pi * f1 * t) + 0.3 * np.sin(2 * np.pi * f2 * t)


def _snr(ref, got):
    err = got - ref
    return 10 * np.log10((ref**2).sum() / max((err**2).sum(), 1e-30))


def test_closed_form_tables_match_spec_values():
    """The scalefactor and C/D generators reproduce the spec's literal
    Table 3-B.1 / 3-B.4 rows (published decimals, public spec)."""
    assert abs(mp2.SCALEFACTORS[0] - 2.0) < 1e-12
    assert abs(mp2.SCALEFACTORS[1] - 1.58740105196820) < 1e-12
    assert abs(mp2.SCALEFACTORS[2] - 1.25992104989487) < 1e-12
    assert abs(mp2.SCALEFACTORS[62] - 2.0 * 2 ** (-62 / 3)) < 1e-15
    spec_cd = {
        3: (4 / 3, 0.5), 5: (1.6, 0.5), 7: (8 / 7, 0.25), 9: (16 / 9, 0.5),
        15: (16 / 15, 0.125), 31: (32 / 31, 0.0625),
        63: (64 / 63, 0.03125), 65535: (65536 / 65535, 2.0**-15),
    }
    for n, (c_want, d_want) in spec_cd.items():
        c_got, d_got = mp2._cd(n)
        assert abs(c_got - c_want) < 1e-12 and abs(d_got - d_want) < 1e-12
    # requantized outputs are symmetric mid-rise (the spec's intent)
    for n in (3, 5, 7, 9, 15):
        vals = mp2._dequantize(np.arange(n), n)
        assert abs(vals[n // 2]) < 1e-12  # center code decodes to 0
        assert np.allclose(vals, -vals[::-1])  # symmetric


def test_filterbank_near_perfect_reconstruction():
    x = _tone()
    y = mp2._synthesize(mp2._analyze(x)) / mp2._GAIN
    assert _snr(x, y[mp2._DELAY : mp2._DELAY + len(x)]) > 45.0


def test_roundtrip_mono_and_stereo():
    x = _tone()
    enc = mp2.encode_mp2(x, 48000, 192)
    rate, ch, pcm = mp2.decode_mp2(enc)
    assert (rate, ch) == (48000, 1)
    assert pcm.shape[1] >= len(x)
    assert _snr(x, pcm[0][: len(x)]) > 40.0

    xs = np.stack([x, 0.7 * x[::-1]])
    enc2 = mp2.encode_mp2(xs, 44100, 160)  # 80 kbps/ch: B.2a
    rate2, ch2, pcm2 = mp2.decode_mp2(enc2)
    assert (rate2, ch2) == (44100, 2)
    assert _snr(xs, pcm2[:, : len(x)]) > 40.0


def test_bitrates_fit_and_decode():
    x = _tone(4000)
    for br in (56, 96, 384):
        enc = mp2.encode_mp2(x, 48000, br)
        assert len(enc) % (144 * br * 1000 // 48000) == 0
        _r, _c, pcm = mp2.decode_mp2(enc)
        assert _snr(x, pcm[0][: len(x)]) > 25.0


def _hand_frame(scfsi: int, sf_fields: list[int], bitrate=192, rate=48000):
    """One mono frame: subband 0 allocated at 3 levels, every granule
    the code triple (2,2,2) (max positive, dequantizes to +2/3), the
    given scfsi mode and raw 6-bit scalefactor fields."""
    header = (
        (0x7FF << 21) | (3 << 19) | (2 << 17) | (1 << 16)
        | (mp2._BITRATE_IDX[bitrate] << 12) | (mp2._RATE_IDX[rate] << 10)
        | (3 << 6)
    ).to_bytes(4, "big")
    w = mp2._BitWriter()
    w.write(1, mp2.ALLOC_BITS[0])  # subband 0 -> class 1 (3 levels)
    for sb in range(1, mp2.SBLIMIT):
        w.write(0, mp2.ALLOC_BITS[sb])
    w.write(scfsi, 2)
    for v in sf_fields:
        w.write(v, 6)
    for _gr in range(12):
        w.write(2 + 3 * 2 + 9 * 2, 5)  # grouped triple (2,2,2)
    frame_len = 144 * bitrate * 1000 // rate
    return header + w.pad_to(frame_len - 4)


def test_scfsi_sharing_semantics():
    """Decoder-side scfsi modes: 0 = three scalefactors, 1 = first
    covers parts 0+1, 2 = one for all, 3 = second covers parts 1+2.
    With constant +2/3 subband samples, each part's output amplitude
    is proportional to its effective scalefactor — so the sharing
    pattern is directly observable in the PCM."""
    lo, hi = 12, 0  # sf index 12 = 2*2^-4 = 0.125; index 0 = 2.0

    def part_peaks(frame_bytes):
        # three identical frames; measure the MIDDLE frame's parts in
        # their steady-state interiors (the synthesis window shifts the
        # part regions ~288 samples early and rings at sf steps)
        _r, _c, pcm = mp2.decode_mp2(frame_bytes * 3)
        y = pcm[0]
        slices = [(912, 1092), (1420, 1580), (1700, 1880)]
        return [float(np.abs(y[a:b]).max()) for a, b in slices]

    p0 = part_peaks(_hand_frame(0, [hi, lo, lo]))
    assert p0[0] > 4 * p0[1] and abs(p0[1] - p0[2]) < 0.25 * p0[1]
    p1 = part_peaks(_hand_frame(1, [hi, lo]))  # parts 01 share hi
    assert p1[0] > 4 * p1[2] and abs(p1[0] - p1[1]) < 0.3 * p1[0]
    p2 = part_peaks(_hand_frame(2, [hi]))
    assert max(p2) < 1.3 * min(p2)
    p3 = part_peaks(_hand_frame(3, [hi, lo]))  # parts 12 share lo
    assert p3[0] > 4 * p3[2] and abs(p3[1] - p3[2]) < 0.3 * max(p3[1], 1e-9)
    # forbidden scalefactor index 63 rejected
    with pytest.raises(ValueError, match="63"):
        mp2.decode_mp2(_hand_frame(2, [63]))


def test_parse_mp3_walks_mp2_streams():
    from articulation_vector_db_api_spark.functions.mp3 import parse_mp3

    x = _tone(4000, rate=44100)
    enc = mp2.encode_mp2(x, 44100, 64)  # mono B.2a region
    meta = parse_mp3(enc)
    assert meta["layer"] == 2 and meta["sample_rate"] == 44100
    assert meta["channels"] == 1 and not meta["vbr"]
    assert meta["samples"] == meta["n_frames"] * 1152


def test_b2_table_selection_rule():
    """§2.4.2.3: (rate, per-channel bitrate) -> B.2 table. The r11
    NotImplementedError gate for b/c/d is GONE — all four decode."""
    sel = mp2._select_table
    assert sel(48000, 192, 2) == "a" and sel(44100, 80, 1) == "a"
    assert sel(44100, 192, 2) == "b" and sel(32000, 96, 1) == "b"
    assert sel(48000, 48, 1) == "c" and sel(44100, 32, 1) == "c"
    assert sel(32000, 48, 1) == "d" and sel(32000, 64, 2) == "d"


def test_b2bcd_per_table_witness_roundtrips():
    """One witness row per newly-opened table (VERDICT r11 item 4):
    encode under the table §2.4.2.3 selects, decode, SNR > 35 dB."""
    n = 3000
    for rate, br, ch, table in (
        (44100, 192, 2, "b"),   # the standard stereo CD-rate region
        (48000, 48, 1, "c"),    # low-rate mono
        (32000, 48, 1, "d"),    # 32 kHz low-rate
    ):
        t = np.arange(n) / rate
        x = 0.5 * np.sin(2 * np.pi * 330 * t) + 0.3 * np.sin(
            2 * np.pi * 770 * t
        )
        if ch == 2:
            x = np.stack([x, 0.6 * x[::-1]])
        assert mp2._select_table(rate, br, ch) == table
        enc = mp2.encode_mp2(x, rate, br)
        r, c, pcm = mp2.decode_mp2(enc)
        assert (r, c) == (rate, ch)
        ref = x if x.ndim == 2 else x[None, :]
        got = pcm[:, :n]
        snr = 10 * np.log10(
            (ref**2).sum() / max(((got - ref) ** 2).sum(), 1e-30)
        )
        assert snr > 35.0, (table, snr)
    # table structure pins: sblimits and the low-rate quantization set
    assert tuple(len(mp2._B2_TABLES[k]) for k in "abcd") == (27, 30, 8, 12)
    assert mp2._B2_TABLES["c"][2] == (0, 3, 5, 9, 15, 31, 63, 127)
    assert mp2._B2_TABLES["b"][29] == mp2._B2_TABLES["a"][26]


def test_gates_and_malformed():
    x = _tone(2000)
    with pytest.raises(ValueError):
        mp2.encode_mp2(np.stack([x, x, x]), 48000, 192)  # 3 channels
    with pytest.raises(ValueError):
        mp2.encode_mp2(np.full(2000, 2.1), 48000, 192)  # outside sf range
    enc = mp2.encode_mp2(x, 48000, 192)
    with pytest.raises(ValueError):
        mp2.decode_mp2(enc[: len(enc) // 2 + 7])  # truncated mid-frame
    # Layer III stream header -> honest gate, not a misread
    l3 = bytearray(enc)
    l3[1] = (l3[1] & ~0x06) | 0x02  # layer bits 01 = Layer III
    with pytest.raises(NotImplementedError, match="Layer 3"):
        mp2.decode_mp2(bytes(l3))


def test_fuzz_mp2_contract():
    from tests.test_fuzz_contracts import _assert_contract

    enc = mp2.encode_mp2(_tone(3000), 48000, 192)
    _assert_contract("mp2", enc, mp2.decode_mp2)
    # the newly-opened low-rate table region honors the same contract
    enc_c = mp2.encode_mp2(_tone(2000), 48000, 48)
    _assert_contract("mp2-b2c", enc_c, mp2.decode_mp2, n=60)


# ---------------------------------------------------------------------------
# Layer I (MP1)
# ---------------------------------------------------------------------------


def test_mp1_roundtrip_mono_and_stereo():
    x = _tone(7000)
    enc = mp2.encode_mp1(x, 48000, 192)
    rate, ch, pcm = mp2.decode_mp1(enc)
    assert (rate, ch) == (48000, 1)
    assert pcm.shape[1] >= len(x)
    assert _snr(x, pcm[0][: len(x)]) > 35.0

    xs = np.stack([x, np.roll(x, 97)])
    enc2 = mp2.encode_mp1(xs, 32000, 256)
    rate2, ch2, pcm2 = mp2.decode_mp1(enc2)
    assert (rate2, ch2) == (32000, 2)
    for c in range(2):
        assert _snr(xs[c], pcm2[c][: xs.shape[1]]) > 30.0


def test_mp1_closed_form_matches_published_layer1_rows():
    """Layer I requantization constants: n = 2^nb - 1 collapses the
    shared generator to the spec's published Layer I C/D rows
    (C = 2^nb/(2^nb-1), D = 2^(1-nb))."""
    for a in range(1, 15):
        nb = a + 1
        n = (1 << nb) - 1
        c_const, d_const = mp2._cd(n)
        assert abs(c_const - (2.0**nb) / (2.0**nb - 1)) < 1e-12
        assert abs(d_const - 2.0 ** (1 - nb)) < 1e-12


def test_mp1_bitrates_fit_and_decode():
    x = _tone(3000)
    prev = None
    for kbps in (64, 192, 448):
        enc = mp2.encode_mp1(x, 48000, kbps)
        _r, _c, pcm = mp2.decode_mp1(enc)
        snr = _snr(x, pcm[0][: len(x)])
        if prev is not None:
            assert snr >= prev - 3.0  # more bits never hurts much
        prev = snr
        # exact Layer I framing: (12*kbps*1000/rate)*4 bytes per frame
        frame = (12 * kbps * 1000 // 48000) * 4
        assert len(enc) % frame == 0


def test_mp1_header_walks_with_mp3_parser():
    from articulation_vector_db_api_spark.functions.mp3 import parse_mp3

    enc = mp2.encode_mp1(_tone(2000), 48000, 192)
    meta = parse_mp3(enc)
    assert meta["layer"] == 1
    assert meta["sample_rate"] == 48000
    assert meta["samples"] == meta["n_frames"] * 384  # Layer I framing


def test_mp1_gates_and_malformed():
    x = _tone(1500)
    with pytest.raises(ValueError, match="Layer I bitrate"):
        mp2.encode_mp1(x, 48000, 48)  # Layer II bitrate, not Layer I
    enc = bytearray(mp2.encode_mp1(x, 48000, 192))
    with pytest.raises(NotImplementedError, match="Layer 2"):
        mp2.decode_mp1(mp2.encode_mp2(x, 48000, 192))
    with pytest.raises(NotImplementedError, match="Layer 1"):
        mp2.decode_mp2(bytes(enc))
    enc[3] = (enc[3] & 0x3F) | 0x40  # mode flip on a mono stream:
    # joint stereo DECODES now (r12), so a channels-lying header is a
    # malformed-stream ValueError, not a gate
    with pytest.raises(ValueError):
        mp2.decode_mp1(bytes(enc))
    with pytest.raises(ValueError):
        mp2.decode_mp1(b"\x00\x00")


def test_fuzz_mp1_contract():
    from tests.test_fuzz_contracts import _assert_contract

    enc = mp2.encode_mp1(_tone(1800), 48000, 192)
    _assert_contract("mp1", enc, mp2.decode_mp1, n=120)


def test_joint_intensity_stereo_both_layers():
    """§2.4.3.3 joint stereo (r12 — the r11 gate is gone): subbands
    >= 4·(mode_extension+1) carry ONE allocation and ONE code set,
    each channel reconstructing through its own scalefactors. Witness
    channels share shape (R = 0.6·L — the intensity assumption), so
    both channels must reconstruct; the bound grid and both layers
    are exercised."""
    n = 3000
    t = np.arange(n) / 48000
    L = 0.5 * np.sin(2 * np.pi * 300 * t) + 0.3 * np.sin(
        2 * np.pi * 2000 * t
    )
    x = np.stack([L, 0.6 * L])

    def snr(ref, got):
        return 10 * np.log10(
            (ref**2).sum() / max(((got - ref) ** 2).sum(), 1e-30)
        )

    for enc, dec in (
        (mp2.encode_mp2, mp2.decode_mp2),
        (mp2.encode_mp1, mp2.decode_mp1),
    ):
        for ext in (0, 1, 3):
            es = enc(x, 48000, 192, joint_ext=ext)
            hdr = int.from_bytes(es[:4], "big")
            assert (hdr >> 6) & 3 == 1  # joint_stereo mode
            assert (hdr >> 4) & 3 == ext
            r, c, pcm = dec(es)
            assert (r, c) == (48000, 2)
            got = pcm[:, :n]
            assert snr(L, got[0]) > 18.0
            assert snr(0.6 * L, got[1]) > 18.0
    with pytest.raises(ValueError, match="joint_ext"):
        mp2.encode_mp2(L, 48000, 192, joint_ext=1)  # mono input


def test_fuzz_mp2_joint_contract():
    from tests.test_fuzz_contracts import _assert_contract

    x = np.stack([_tone(2500), 0.7 * _tone(2500)])
    es = mp2.encode_mp2(x, 48000, 192, joint_ext=1)
    _assert_contract("mp2-joint", es, mp2.decode_mp2, n=60)
    es1 = mp2.encode_mp1(x, 48000, 192, joint_ext=2)
    _assert_contract("mp1-joint", es1, mp2.decode_mp1, n=60)


def test_cbr_padding_framing_at_44100():
    """§2.4.3.1 CBR framing: at 44.1 kHz the slot count is fractional,
    so frames alternate padded/unpadded via the rem accumulator (r12 —
    this removed the Layer I 44.1 kHz gate and made Layer II witness
    streams true-CBR). Both frame lengths must appear, the whole
    stream must walk frame-by-frame through the padding-aware header
    parser, and the samples must decode."""
    from articulation_vector_db_api_spark.functions.mp3 import (
        _parse_header,
        parse_mp3,
    )

    x = _tone(10000, rate=44100)
    for enc, dec, slot in ((mp2.encode_mp2, mp2.decode_mp2, 1),
                           (mp2.encode_mp1, mp2.decode_mp1, 4)):
        es = enc(x, 44100, 192)
        lens, i = [], 0
        while i < len(es):
            f = _parse_header(es, i)
            lens.append(f["length"])
            i += f["length"]
        assert i == len(es)
        assert len(set(lens)) == 2  # padded and unpadded both occur
        assert max(lens) - min(lens) == slot
        meta = parse_mp3(es)
        assert meta["sample_rate"] == 44100
        r, _c, pcm = dec(es)
        assert r == 44100
        assert _snr(x, pcm[0][: len(x)]) > 30.0


def test_mp2_vbr_table_boundary_redetects_per_frame():
    """The B.2 allocation table is a FRAME property (§2.4.2.3): a VBR
    stream crossing a selection boundary (32 kHz stereo 192 kbps =
    B.2b -> 64 kbps = B.2d) must re-derive the table per frame — the
    r12 ADVICE finding (one-shot selection from the first frame
    silently misreads the second frame's allocation bits). The
    decoder is causal, so the first frame's samples must be
    BIT-IDENTICAL to decoding frame 1 alone."""
    rate = 32000
    x = np.stack([_tone(mp2.FRAME_SAMPLES, rate),
                  _tone(mp2.FRAME_SAMPLES, rate, f1=600.0)])
    hi = mp2.encode_mp2(x, rate, bitrate_kbps=192)
    lo = mp2.encode_mp2(x, rate, bitrate_kbps=64)
    r, ch, pcm_both = mp2.decode_mp2(hi + lo)
    assert (r, ch) == (rate, 2)
    _, _, pcm_hi = mp2.decode_mp2(hi)
    n = pcm_hi.shape[1]
    assert np.array_equal(pcm_both[:, : n - mp2._TAPS],
                          pcm_hi[:, : n - mp2._TAPS])
    # and the low-rate frame decodes as audio, not garbage: its
    # samples stay bounded and carry the tone's energy
    assert np.max(np.abs(pcm_both)) < 2.0
    seg = pcm_both[:, mp2.FRAME_SAMPLES:]
    assert _snr(x[:, : seg.shape[1]], seg[:, : x.shape[1]]) > -20


def test_mp2_mode_switch_joint_redetects_bound():
    """joint<->plain stereo mid-stream is legal; the intensity bound
    must come from each frame's own mode/mode_extension bits."""
    rate = 48000
    x = np.stack([_tone(mp2.FRAME_SAMPLES, rate),
                  0.8 * _tone(mp2.FRAME_SAMPLES, rate)])
    plain = mp2.encode_mp2(x, rate, bitrate_kbps=192)
    joint = mp2.encode_mp2(x, rate, bitrate_kbps=192, joint_ext=1)
    assert plain[:4] != joint[:4]  # modes really differ
    r, ch, pcm = mp2.decode_mp2(plain + joint)
    assert (r, ch) == (rate, 2)
    _, _, pcm_plain = mp2.decode_mp2(plain)
    n = pcm_plain.shape[1]
    assert np.array_equal(pcm[:, : n - mp2._TAPS],
                          pcm_plain[:, : n - mp2._TAPS])
    assert np.max(np.abs(pcm)) < 2.0


def test_mp2_channel_count_switch_raises():
    rate = 48000
    st = mp2.encode_mp2(np.stack([_tone(mp2.FRAME_SAMPLES, rate)] * 2),
                        rate, bitrate_kbps=192)
    mono = mp2.encode_mp2(_tone(mp2.FRAME_SAMPLES, rate), rate,
                          bitrate_kbps=192)
    with pytest.raises(ValueError, match="channel count"):
        mp2.decode_mp2(st + mono)


def test_mp1_mode_switch_joint_redetects_bound():
    rate = 48000
    x = np.stack([_tone(mp2.FRAME_SAMPLES_L1, rate),
                  0.7 * _tone(mp2.FRAME_SAMPLES_L1, rate)])
    plain = mp2.encode_mp1(x, rate, bitrate_kbps=192)
    joint = mp2.encode_mp1(x, rate, bitrate_kbps=192, joint_ext=1)
    assert plain[:4] != joint[:4]
    r, ch, pcm = mp2.decode_mp1(plain + joint)
    assert (r, ch) == (rate, 2)
    _, _, pcm_plain = mp2.decode_mp1(plain)
    n = pcm_plain.shape[1]
    assert np.array_equal(pcm[:, : n - mp2._TAPS],
                          pcm_plain[:, : n - mp2._TAPS])
    st_mono = mp2.encode_mp1(_tone(mp2.FRAME_SAMPLES_L1, rate), rate,
                             bitrate_kbps=192)
    with pytest.raises(ValueError, match="channel count"):
        mp2.decode_mp1(plain + st_mono)


def test_id3_tagged_streams_decode_both_layers():
    """Real tagged files: leading ID3v2 (syncsafe size) and trailing
    ID3v1 ('TAG' + 125 bytes) must be skipped by the sample decoders,
    bit-identically to the untagged stream (r13; parse_mp3 already
    handled the envelope, decode_mp2/decode_mp1 did not)."""
    rate = 48000
    x = np.stack([_tone(mp2.FRAME_SAMPLES, rate)] * 2)
    id3v2 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 40]) + bytes(40)
    id3v1 = b"TAG" + bytes(125)
    for enc, dec, n in (
        (mp2.encode_mp2, mp2.decode_mp2, mp2.FRAME_SAMPLES),
        (mp2.encode_mp1, mp2.decode_mp1, mp2.FRAME_SAMPLES_L1),
    ):
        xs = np.stack([_tone(n, rate)] * 2)
        es = enc(xs, rate, 192)
        r0, c0, p0 = dec(es)
        r1, c1, p1 = dec(id3v2 + es + id3v1)
        assert (r0, c0) == (r1, c1)
        assert np.array_equal(p0, p1)


_DECODE_HASH = """
import hashlib, sys
from articulation_vector_db_api_spark.functions import mp2
dec = getattr(mp2, sys.argv[1])
with open(sys.argv[2], "rb") as f:
    print(hashlib.sha256(dec(f.read())[2].tobytes()).hexdigest())
"""


def test_decode_bits_independent_of_blas_threads(tmp_path):
    """Synthesis must not depend on how BLAS partitions a product: the
    driver and pytest run numpy at the default BLAS thread count,
    Spark executors at one (session.py). The same stream decodes to
    the same PCM bytes in a child at one thread, in a child at two,
    and in this process, for both layers."""
    rate = 48000
    x = np.stack([_tone(8 * mp2.FRAME_SAMPLES, rate),
                  0.6 * _tone(8 * mp2.FRAME_SAMPLES, rate, f1=330.0)])
    repo = str(Path(mp2.__file__).resolve().parents[2])
    for enc, dec in ((mp2.encode_mp2, "decode_mp2"),
                     (mp2.encode_mp1, "decode_mp1")):
        stream = tmp_path / f"{dec}.bin"
        stream.write_bytes(enc(x, rate, 192))
        want = hashlib.sha256(
            getattr(mp2, dec)(stream.read_bytes())[2].tobytes()
        ).hexdigest()
        for threads in ("1", "2"):
            env = dict(os.environ, OPENBLAS_NUM_THREADS=threads,
                       OMP_NUM_THREADS=threads,
                       PYTHONPATH=os.pathsep.join(
                           filter(None, [repo, os.environ.get("PYTHONPATH")])))
            p = subprocess.run(
                [sys.executable, "-c", _DECODE_HASH, dec, str(stream)],
                env=env, capture_output=True, text=True, timeout=120,
            )
            assert p.returncode == 0, p.stderr
            assert p.stdout.strip() == want, (dec, threads)
