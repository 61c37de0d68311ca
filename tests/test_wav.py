"""WAV/PCM decoder: differential against the stdlib ``wave`` module as
an INDEPENDENT encoder (it assembles its own RIFF headers — our parser
never sees code it wrote), chunk-slicing coverage, the loud
unsupported-format gates, and the Spark feature face with its near-dup
property across bit depths."""

from __future__ import annotations

import io
import math
import struct
import wave

import pytest

from etl_instagram_spark.multimodal.wav import (
    decode_wav,
    wav_feature_vector,
    wav_features,
    wav_info,
)


def _encode(samples, channels=1, rate=8000, sampwidth=2) -> bytes:
    """Independent encoder: stdlib wave writes the RIFF container.
    ``samples`` are CENTERED ints (the decode convention); 8-bit gets
    rebiased to unsigned here, wider widths packed signed LE."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        if sampwidth == 1:
            raw = bytes((s + 128) & 0xFF for s in samples)
        else:
            raw = b"".join(
                int(s).to_bytes(sampwidth, "little", signed=True)
                for s in samples
            )
        w.writeframes(raw)
    return buf.getvalue()


def _sine(n, freq, rate=8000, amp=12000):
    return [int(amp * math.sin(2 * math.pi * freq * i / rate)) for i in range(n)]


def test_decode_matches_stdlib_encoder_all_widths():
    src16 = _sine(400, 440)
    for sampwidth, scale in [(1, 1 / 256), (2, 1.0), (3, 256), (4, 65536)]:
        src = [int(s * scale) for s in src16]
        d = decode_wav(_encode(src, channels=1, rate=8000, sampwidth=sampwidth))
        assert d["sample_rate"] == 8000
        assert d["channels"] == 1
        assert d["bits"] == sampwidth * 8
        assert d["n_frames"] == 400
        assert d["samples"] == src, sampwidth
    # ceil duration: 400 frames at 8 kHz = exactly 50 ms
    assert decode_wav(_encode(src16))["duration_ms"] == 50
    # 401 frames → ceil(50.125) = 51
    assert decode_wav(_encode(src16 + [0]))["duration_ms"] == 51


def test_decode_stereo_interleaved():
    left = _sine(100, 440)
    right = _sine(100, 220)
    inter = [v for pair in zip(left, right) for v in pair]
    d = decode_wav(_encode(inter, channels=2, rate=16000, sampwidth=2))
    assert (d["channels"], d["n_frames"]) == (2, 100)
    assert d["samples"] == inter
    assert d["block_align"] == 4


def test_extensible_format_and_chunk_padding():
    """WAVE_FORMAT_EXTENSIBLE wrapping integer PCM decodes identically
    to the plain tag; an odd-sized chunk before fmt is skipped with its
    word-alignment pad byte."""
    src = _sine(64, 500)
    pcm = b"".join(int(s).to_bytes(2, "little", signed=True) for s in src)
    guid = struct.pack("<H", 1) + bytes(14)  # PCM sub-format GUID head
    fmt_ext = (
        struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
        + struct.pack("<HHI", 22, 16, 0x4)  # cbSize, valid bits, mask
        + guid
    )
    odd = b"abc"  # 3-byte chunk body → 1 pad byte follows
    body = (
        b"JUNK" + struct.pack("<I", len(odd)) + odd + b"\x00"
        + b"fmt " + struct.pack("<I", len(fmt_ext)) + fmt_ext
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    data = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    d = decode_wav(data)
    assert d["samples"] == src
    assert d["sample_rate"] == 8000


def test_unsupported_and_malformed_raise_loudly():
    good = _encode(_sine(64, 500))
    # MS ADPCM (tag 2) decodes since r17 — but only at 4-bit storage, so
    # a 16-bit body re-tagged to 2 trips the width gate, never a silent
    # mis-decode
    i = good.index(b"fmt ")
    adpcm = good[: i + 8] + struct.pack("<H", 2) + good[i + 10 :]
    with pytest.raises(NotImplementedError, match="MS ADPCM"):
        decode_wav(adpcm)
    # IEEE float (tag 3) is supported ONLY at 32/64 bits: tag 3 over a
    # 16-bit body trips the float-width gate, not a silent mis-decode
    floaty16 = good[: i + 8] + struct.pack("<H", 3) + good[i + 10 :]
    with pytest.raises(NotImplementedError, match="float"):
        decode_wav(floaty16)
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"\xff\xd8\xff\xe0 not a wav")
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_wav(good[: len(good) - 10])
    with pytest.raises(TypeError):
        decode_wav("not bytes")
    # block_align inconsistent with channels×width
    bad_block = good[: i + 20] + struct.pack("<H", 3) + good[i + 22 :]
    with pytest.raises(ValueError, match="block_align"):
        decode_wav(bad_block)


def test_chunk_audio_wav_covers_all_frames(spark):
    """decoder='wav' slices REAL PCM: without the cap, concatenating
    every chunk's bytes reproduces the whole data chunk byte-for-byte,
    boundaries are disjoint, and meta comes from the real header."""
    from etl_instagram_spark.multimodal.media import chunk_audio

    src = _sine(8000 * 3 + 123, 440)  # ~3.015 s mono 16-bit at 8 kHz
    data = _encode(src)
    info = wav_info(data)
    df = spark.createDataFrame(
        [("a", bytearray(data))], "id string, content binary"
    )
    rows = sorted(
        chunk_audio(df, chunk_ms=1000, max_chunks=1000, decoder="wav").collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert len(rows) == 4  # ceil(3016 ms / 1000)
    assert rows[0]["meta"]["sample_rate"] == 8000
    assert rows[0]["meta"]["duration_ms"] == info["duration_ms"]
    assert b"".join(bytes(r["samples"]) for r in rows) == info["pcm"]
    for prev, cur in zip(rows, rows[1:]):
        assert prev["end_ms"] == cur["start_ms"]
    # the fan-out cap still bounds output rows
    assert chunk_audio(df, chunk_ms=1000, max_chunks=2, decoder="wav").count() == 2


def test_wav_features_near_dup_across_bit_depths(spark):
    """The same recording encoded at 16-bit and 8-bit lands near cosine
    1 (quantization noise aside); a different recording does not; non-WAV
    content yields NULL, never a fabricated vector."""
    sig = _sine(2000, 440, amp=12000)
    blobs = [
        ("w16", bytearray(_encode(sig, sampwidth=2))),
        ("w8", bytearray(_encode([s // 256 for s in sig], sampwidth=1))),
        ("other", bytearray(_encode(_sine(2000, 1700, amp=6000), sampwidth=2))),
        ("junk", bytearray(b"\x89PNG pretend image")),
        ("null", None),
    ]
    df = spark.createDataFrame(blobs, "id string, content binary")
    out = {r["id"]: r["embedding"] for r in wav_features(df).collect()}
    assert out["junk"] is None and out["null"] is None

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den

    same = cos(out["w16"], out["w8"])
    diff = cos(out["w16"], out["other"])
    assert same > 0.999, same
    assert diff < same - 0.005, (same, diff)
    assert len(out["w16"]) == 16


def test_feature_vector_empty_and_determinism():
    assert wav_feature_vector(decode_wav(_encode([]))) is None
    d = decode_wav(_encode(_sine(500, 300)))
    assert wav_feature_vector(d) == wav_feature_vector(d)
    v = wav_feature_vector(d)
    assert v[0] == 1 / 8 and v[1] == 8000 / 48000  # channels, rate slots


# ---------------------------------------------------------------------------
# IEEE float PCM (tag 3, r15)
# ---------------------------------------------------------------------------


def _encode_float(samples, channels=1, rate=8000, width=4, tag_override=None):
    """Test-local float-WAV writer (stdlib wave cannot write tag 3):
    plain fmt chunk with tag 3, IEEE float32/float64 LE samples."""
    code = "<f" if width == 4 else "<d"
    pcm = b"".join(struct.pack(code, s) for s in samples)
    tag = 3 if tag_override is None else tag_override
    fmt = struct.pack(
        "<HHIIHH",
        tag,
        channels,
        rate,
        rate * channels * width,
        channels * width,
        width * 8,
    )
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_float32_and_float64_roundtrip():
    src = [math.sin(2 * math.pi * 440 * i / 8000) * 0.75 for i in range(256)]
    d32 = decode_wav(_encode_float(src, width=4))
    assert (d32["fmt"], d32["bits"], d32["n_frames"]) == ("float", 32, 256)
    # float32 quantizes the python doubles; compare against the packed
    # values themselves (exact roundtrip of what is stored)
    want32 = [struct.unpack("<f", struct.pack("<f", s))[0] for s in src]
    assert d32["samples"] == want32
    d64 = decode_wav(_encode_float(src, width=8))
    assert (d64["fmt"], d64["bits"]) == ("float", 64)
    assert d64["samples"] == src  # float64 stores the doubles exactly


def test_float_int_cross_format_near_dup():
    """The near-dup property across the int/float boundary: the same
    sine at int16 full-scale and float32 [-1, 1] land near cosine 1."""
    n = 512
    ints = _sine(n, 330, amp=24000)
    floats = [s / 32768.0 for s in ints]
    vi = wav_feature_vector(decode_wav(_encode(ints, sampwidth=2)))
    vf = wav_feature_vector(decode_wav(_encode_float(floats, width=4)))
    num = sum(a * b for a, b in zip(vi, vf))
    den = math.sqrt(sum(a * a for a in vi)) * math.sqrt(
        sum(b * b for b in vf)
    )
    assert num / den > 0.9999


def test_float_nonfinite_raises_loudly():
    src = [0.1, float("nan"), 0.2]
    with pytest.raises(ValueError, match="non-finite"):
        decode_wav(_encode_float(src, width=4))
    with pytest.raises(ValueError, match="non-finite"):
        decode_wav(_encode_float([float("inf")], width=8))


def test_float_extensible_wrapper():
    """WAVE_FORMAT_EXTENSIBLE wrapping IEEE float decodes identically
    to the plain tag-3 fmt chunk."""
    src = [math.sin(i / 7.0) * 0.5 for i in range(64)]
    pcm = b"".join(struct.pack("<f", s) for s in src)
    guid = struct.pack("<H", 3) + bytes(14)
    fmt_ext = (
        struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 32000, 4, 32)
        + struct.pack("<HHI", 22, 32, 0x4)
        + guid
    )
    body = (
        b"fmt " + struct.pack("<I", len(fmt_ext)) + fmt_ext
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    data = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    d = decode_wav(data)
    assert d["fmt"] == "float"
    assert d["samples"] == [
        struct.unpack("<f", struct.pack("<f", s))[0] for s in src
    ]


# ---------------------------------------------------------------------------
# G.711 mu-law / A-law (tags 7/6, r16) — differential against audioop,
# an INDEPENDENT stdlib implementation of the same public ITU-T spec
# ---------------------------------------------------------------------------

audioop = pytest.importorskip("audioop")


def _wav_bytes(tag, channels, rate, bits, block, body, extra=b"", fact=None):
    """Test-local container writer (the parser never sees its own
    output): plain fmt chunk + optional fact chunk + data chunk."""
    fmt = (
        struct.pack("<HHIIHH", tag, channels, rate, rate * block, block, bits)
        + extra
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fact is not None:
        chunks += b"fact" + struct.pack("<II", 4, fact)
    chunks += (
        b"data" + struct.pack("<I", len(body)) + body
        + (b"\x00" if len(body) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_g711_tables_match_independent_stdlib_codec():
    """Every one of the 256 mu-law and A-law code points expands to the
    same 16-bit linear value audioop produces — two independent
    implementations of the published G.711 integer expansion."""
    import array

    from etl_instagram_spark.multimodal.wav import _ALAW_TABLE, _ULAW_TABLE

    ul = array.array("h")
    ul.frombytes(audioop.ulaw2lin(bytes(range(256)), 2))
    al = array.array("h")
    al.frombytes(audioop.alaw2lin(bytes(range(256)), 2))
    assert list(ul) == list(_ULAW_TABLE)
    assert list(al) == list(_ALAW_TABLE)


def test_g711_container_decode_and_cross_format_near_dup():
    """A mu-law/A-law WAV (audioop as the independent ENCODER) decodes
    to exactly audioop's expansion, and the feature vector of the
    companded encoding sits near cosine 1 of the same signal's 16-bit
    PCM features (the cross-format near-dup property: G.711 is ~13/14
    bits of effective precision, so quantization noise is small)."""
    import array

    src = _sine(1600, 440, amp=14000)
    pcm16 = b"".join(int(s).to_bytes(2, "little", signed=True) for s in src)
    d_pcm = decode_wav(_encode(src))
    for tag, enc, dec in (
        (7, audioop.lin2ulaw, audioop.ulaw2lin),
        (6, audioop.lin2alaw, audioop.alaw2lin),
    ):
        comp = enc(pcm16, 2)
        w = _wav_bytes(tag, 1, 8000, 8, 1, comp)
        d = decode_wav(w)
        assert d["fmt"] == ("ulaw" if tag == 7 else "alaw")
        assert d["n_frames"] == len(src)
        ref = array.array("h")
        ref.frombytes(dec(comp, 2))
        assert d["samples"] == list(ref)
        fa = wav_feature_vector(d)
        fb = wav_feature_vector(d_pcm)
        num = sum(x * y for x, y in zip(fa, fb))
        den = math.sqrt(sum(x * x for x in fa)) * math.sqrt(
            sum(y * y for y in fb)
        )
        assert num / den > 0.999


def test_g711_requires_8bit_storage():
    src = _sine(64, 500)
    comp = audioop.lin2ulaw(
        b"".join(int(s).to_bytes(2, "little", signed=True) for s in src), 2
    )
    bad = _wav_bytes(7, 1, 8000, 16, 2, comp)
    with pytest.raises(ValueError, match="G.711"):
        decode_wav(bad)


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (tag 0x11, r16)
# ---------------------------------------------------------------------------


def _ima_encode(samples_per_chan, spb):
    """Test-local INDEPENDENT block encoder per the public IMA spec.
    Returns (block bytes, per-channel reconstruction): ADPCM is lossy,
    but the decoder must reproduce the encoder's own predictor
    reconstruction EXACTLY — that sequence is the differential."""
    from etl_instagram_spark.multimodal.wav import _IMA_INDEX, _IMA_STEPS

    ch = len(samples_per_chan)
    n = len(samples_per_chan[0])
    blocks = b""
    recon = [[] for _ in range(ch)]
    preds = [0] * ch
    idxs = [0] * ch
    for b0 in range(0, n, spb):
        for c in range(ch):
            preds[c] = samples_per_chan[c][b0]
            blocks += struct.pack("<hBB", preds[c], idxs[c], 0)
            recon[c].append(preds[c])
        nibbles = [[] for _ in range(ch)]
        for i in range(b0 + 1, min(b0 + spb, n)):
            for c in range(ch):
                x = samples_per_chan[c][i]
                step = _IMA_STEPS[idxs[c]]
                diff = x - preds[c]
                nib = 0
                if diff < 0:
                    nib = 8
                    diff = -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                vp = step >> 3
                if nib & 1:
                    vp += step >> 2
                if nib & 2:
                    vp += step >> 1
                if nib & 4:
                    vp += step
                preds[c] = max(
                    -32768,
                    min(32767, preds[c] - vp if nib & 8 else preds[c] + vp),
                )
                idxs[c] = max(0, min(88, idxs[c] + _IMA_INDEX[nib & 7]))
                nibbles[c].append(nib)
                recon[c].append(preds[c])
        for c in range(ch):
            while len(nibbles[c]) % 8:
                nibbles[c].append(0)
        for wg in range(len(nibbles[0]) // 8):
            for c in range(ch):
                chunk = nibbles[c][wg * 8 : (wg + 1) * 8]
                blocks += bytes(
                    chunk[k] | (chunk[k + 1] << 4) for k in range(0, 8, 2)
                )
    return blocks, recon


def _ima_ext(spb):
    return struct.pack("<HH", 2, spb)  # cbSize=2, wSamplesPerBlock


def test_ima_adpcm_mono_matches_spec_encoder():
    spb, block = 505, 256  # (256-4)*2+1
    n = spb * 3
    src = [_sine(n, 300, amp=9000)]
    body, recon = _ima_encode(src, spb)
    w = _wav_bytes(0x11, 1, 8000, 4, block, body, extra=_ima_ext(spb), fact=n)
    d = decode_wav(w)
    assert (d["fmt"], d["n_frames"], d["samples_per_block"]) == (
        "ima_adpcm",
        n,
        spb,
    )
    assert d["samples"] == recon[0]
    fv = wav_feature_vector(d)
    assert fv is not None and len(fv) == 16


def test_ima_adpcm_stereo_partial_tail_block():
    spb, block, ch = 505, 512, 2  # (512-8)*2/2+1
    n = spb * 2 + 100  # final block holds 100 of 505 samples
    src = [
        _sine(n, 220, amp=8000),
        [int(6000 * math.sin(2 * math.pi * 330 * i / 8000 + 1)) for i in range(n)],
    ]
    body, recon = _ima_encode(src, spb)
    w = _wav_bytes(
        0x11, ch, 8000, 4, block, body, extra=_ima_ext(spb), fact=n
    )
    d = decode_wav(w)
    assert d["n_frames"] == n
    inter = []
    for i in range(n):
        inter += [recon[0][i], recon[1][i]]
    assert d["samples"] == inter


def test_ima_adpcm_core_matches_audioop():
    """Core nibble arithmetic against audioop's INDEPENDENT IMA
    implementation: audioop streams nibbles high-first with no block
    headers, so its encoded bytes are nibble-swapped into one big block
    whose header carries audioop's initial state (0, 0); our decode of
    that block (minus the header sample) must equal audioop's own
    decode of its stream."""
    import array
    import random

    from etl_instagram_spark.multimodal.wav import _ima_decode_block

    rng = random.Random(42)
    src = [rng.randint(-20000, 20000) for _ in range(1024)]
    pcm = b"".join(int(s).to_bytes(2, "little", signed=True) for s in src)
    adp, _state = audioop.lin2adpcm(pcm, 2, None)
    ref = array.array("h")
    ref.frombytes(audioop.adpcm2lin(adp, 2, None)[0])
    swapped = bytes(((b & 0x0F) << 4) | (b >> 4) for b in adp)
    block = struct.pack("<hBB", 0, 0, 0) + swapped
    out = _ima_decode_block(block, 1, 1 + len(adp) * 2)
    assert out[0][1:] == list(ref)


def test_ima_adpcm_validation_gates():
    spb, block = 505, 256
    src = [_sine(spb, 300, amp=9000)]
    body, _ = _ima_encode(src, spb)
    # missing wSamplesPerBlock
    with pytest.raises(ValueError, match="wSamplesPerBlock"):
        decode_wav(_wav_bytes(0x11, 1, 8000, 4, block, body))
    # samples_per_block inconsistent with block_align
    with pytest.raises(ValueError, match="samples_per_block"):
        decode_wav(
            _wav_bytes(0x11, 1, 8000, 4, block, body, extra=_ima_ext(99))
        )
    # block_align not header + whole nibble words
    with pytest.raises(ValueError, match="block_align"):
        decode_wav(
            _wav_bytes(0x11, 1, 8000, 4, 255, body, extra=_ima_ext(spb))
        )
    # step index out of range in a block header
    bad = bytearray(body)
    bad[2] = 90
    with pytest.raises(ValueError, match="step index"):
        decode_wav(
            _wav_bytes(
                0x11, 1, 8000, 4, block, bytes(bad), extra=_ima_ext(spb)
            )
        )
    # widths other than 4 stay loud
    with pytest.raises(NotImplementedError, match="IMA ADPCM"):
        decode_wav(
            _wav_bytes(0x11, 1, 8000, 8, block, body, extra=_ima_ext(spb))
        )


def test_ima_adpcm_even_spb_header_form():
    """r17 (ADVICE): some real-world encoders write wSamplesPerBlock
    WITHOUT the +1 header sample (even spb). Accepted as expect-1: each
    full block decodes its 8-nibble words one sample past spb and the
    per-channel trim drops exactly that final padding-nibble sample, so
    the decode matches the encoder's reconstruction bit-for-bit."""
    spb, block = 504, 256  # expect = (256-4)*2+1 = 505; header says 504
    n = spb * 2
    src = [_sine(n, 300, amp=9000)]
    body, recon = _ima_encode(src, spb)
    w = _wav_bytes(0x11, 1, 8000, 4, block, body, extra=_ima_ext(spb), fact=n)
    d = decode_wav(w)
    assert (d["n_frames"], d["samples_per_block"]) == (n, spb)
    assert d["samples"] == recon[0]
    # spb outside {expect, expect-1} still refuses loudly
    with pytest.raises(ValueError, match="samples_per_block"):
        decode_wav(
            _wav_bytes(0x11, 1, 8000, 4, block, body, extra=_ima_ext(503))
        )


def test_ima_adpcm_fact_chunk_truncates():
    """The fact chunk's dwSampleLength is authoritative when smaller
    than the computed frame count (the spec's non-PCM contract)."""
    spb, block = 505, 256
    n = spb * 2
    src = [_sine(n, 300, amp=9000)]
    body, recon = _ima_encode(src, spb)
    w = _wav_bytes(
        0x11, 1, 8000, 4, block, body, extra=_ima_ext(spb), fact=700
    )
    d = decode_wav(w)
    assert d["n_frames"] == 700
    assert d["samples"] == recon[0][:700]


def _ms_encode(samples_per_chan, spb, pred_for_block=lambda bi: 0):
    """Test-local INDEPENDENT MS ADPCM block encoder per the public
    Microsoft spec. Returns (body bytes, per-channel reconstruction):
    the codec is lossy, but the decoder must reproduce the encoder's
    own predictor reconstruction EXACTLY — that sequence is the
    differential. Full blocks need no nibble padding by construction
    ((spb-2)·ch is even); a tail block pads to a whole byte, and the
    pad sample is dropped by the fact cap."""
    from etl_instagram_spark.multimodal.wav import (
        _MS_ADAPT,
        _MS_STD_COEFS,
        _trunc_div_256,
    )

    ch = len(samples_per_chan)
    n = len(samples_per_chan[0])
    body = b""
    recon = [[] for _ in range(ch)]
    for bi in range(-(-n // spb)):
        b0 = bi * spb
        m = min(spb, n - b0)
        pidx = pred_for_block(bi)
        c1, c2 = _MS_STD_COEFS[pidx]
        deltas = [16] * ch
        s2 = [samples_per_chan[c][b0] for c in range(ch)]
        s1 = [
            samples_per_chan[c][b0 + 1] if m >= 2 else 0 for c in range(ch)
        ]
        blk = bytes([pidx] * ch)
        blk += b"".join(struct.pack("<h", deltas[c]) for c in range(ch))
        blk += b"".join(struct.pack("<h", s1[c]) for c in range(ch))
        blk += b"".join(struct.pack("<h", s2[c]) for c in range(ch))
        for c in range(ch):
            recon[c].append(s2[c])
            if m >= 2:
                recon[c].append(s1[c])
        nibbles = []
        for i in range(b0 + 2, b0 + m):
            for c in range(ch):
                x = samples_per_chan[c][i]
                pred = _trunc_div_256(s1[c] * c1 + s2[c] * c2)
                err = x - pred
                q = abs(err) // deltas[c]
                snib = max(-8, min(7, -q if err < 0 else q))
                samp = max(-32768, min(32767, pred + deltas[c] * snib))
                nib = snib & 0xF
                s2[c], s1[c] = s1[c], samp
                deltas[c] = max(16, _trunc_div_256(_MS_ADAPT[nib] * deltas[c]))
                recon[c].append(samp)
                nibbles.append(nib)
        if len(nibbles) % 2:
            nibbles.append(0)
        blk += bytes(
            (nibbles[k] << 4) | nibbles[k + 1]
            for k in range(0, len(nibbles), 2)
        )
        body += blk
    return body, recon


def _ms_ext(spb, coefs=None):
    from etl_instagram_spark.multimodal.wav import _MS_STD_COEFS

    coefs = coefs if coefs is not None else _MS_STD_COEFS
    return (
        struct.pack("<HHH", 4 + 4 * len(coefs), spb, len(coefs))
        + b"".join(struct.pack("<hh", *p) for p in coefs)
    )


def test_ms_adpcm_mono_matches_spec_encoder():
    spb, block = 500, 256  # (256-7)*2 + 2
    n = spb * 3
    src = [_sine(n, 300, amp=9000)]
    # vary the predictor per block so coef2 != 0 pairs are exercised
    body, recon = _ms_encode(src, spb, pred_for_block=lambda bi: (0, 1, 3)[bi])
    w = _wav_bytes(2, 1, 8000, 4, block, body, extra=_ms_ext(spb), fact=n)
    d = decode_wav(w)
    assert (d["fmt"], d["n_frames"], d["samples_per_block"]) == (
        "ms_adpcm",
        n,
        spb,
    )
    assert d["samples"] == recon[0]
    fv = wav_feature_vector(d)
    assert fv is not None and len(fv) == 16


def test_ms_adpcm_stereo_partial_tail_block():
    spb, block, ch = 500, 512, 2  # 2 + (512-14)*2/2
    n = spb + 105  # final block holds 105 of 500 samples per channel
    src = [
        _sine(n, 250, amp=8000),
        _sine(n, 390, amp=6000),
    ]
    body, recon = _ms_encode(src, spb, pred_for_block=lambda bi: (4, 6)[bi])
    w = _wav_bytes(2, ch, 8000, 4, block, body, extra=_ms_ext(spb), fact=n)
    d = decode_wav(w)
    assert d["n_frames"] == n
    want = [recon[c][i] for i in range(n) for c in range(ch)]
    assert d["samples"] == want
    # numpy fast path routes through the same sequential decode
    import numpy as np

    from etl_instagram_spark.multimodal.wav import decode_wav_np

    dn = decode_wav_np(w)
    assert np.array_equal(dn["samples"], np.asarray(want, dtype=np.int32))


def test_ms_adpcm_validation_gates():
    spb, block = 500, 256
    src = [_sine(spb, 300, amp=9000)]
    body, _ = _ms_encode(src, spb)
    # missing extension fields
    with pytest.raises(ValueError, match="wSamplesPerBlock"):
        decode_wav(_wav_bytes(2, 1, 8000, 4, block, body))
    # samples_per_block inconsistent with block_align
    with pytest.raises(ValueError, match="samples_per_block"):
        decode_wav(_wav_bytes(2, 1, 8000, 4, block, body, extra=_ms_ext(99)))
    # block_align smaller than the 7-byte/channel header
    with pytest.raises(ValueError, match="block_align"):
        decode_wav(_wav_bytes(2, 1, 8000, 4, 7, body, extra=_ms_ext(spb)))
    # coefficient table not led by the standard pairs
    bad_coefs = ((1, 1),)
    with pytest.raises(ValueError, match="standard pairs"):
        decode_wav(
            _wav_bytes(
                2, 1, 8000, 4, block, body, extra=_ms_ext(spb, bad_coefs)
            )
        )
    # predictor index past the coefficient table
    bad = bytearray(body)
    bad[0] = 7
    with pytest.raises(ValueError, match="predictor index"):
        decode_wav(
            _wav_bytes(2, 1, 8000, 4, block, bytes(bad), extra=_ms_ext(spb))
        )
    # widths other than 4 stay loud
    with pytest.raises(NotImplementedError, match="MS ADPCM"):
        decode_wav(_wav_bytes(2, 1, 8000, 8, block, body, extra=_ms_ext(spb)))


def test_ms_adpcm_header_idelta_clamped_on_read():
    """r18 (ADVICE): a crafted/malformed header idelta <= 0 is floored
    to 16 on read — the same invariant the adaptation loop maintains —
    instead of inverting the first error term per channel. A stream
    with idelta rewritten to -500 decodes IDENTICALLY to the same
    stream with idelta 16."""
    spb, block = 500, 256
    src = [_sine(spb, 300, amp=9000)]
    body, _ = _ms_encode(src, spb)
    evil = bytearray(body)
    evil[1:3] = (-500).to_bytes(2, "little", signed=True)  # mono: idelta at [1:3]
    floored = bytearray(body)
    floored[1:3] = (16).to_bytes(2, "little", signed=True)
    d_evil = decode_wav(
        _wav_bytes(2, 1, 8000, 4, block, bytes(evil), extra=_ms_ext(spb))
    )
    d_floor = decode_wav(
        _wav_bytes(2, 1, 8000, 4, block, bytes(floored), extra=_ms_ext(spb))
    )
    assert d_evil["samples"] == d_floor["samples"]


def test_ms_adpcm_fact_chunk_truncates():
    spb, block = 500, 256
    n = spb * 2
    src = [_sine(n, 300, amp=9000)]
    body, recon = _ms_encode(src, spb)
    d = decode_wav(
        _wav_bytes(2, 1, 8000, 4, block, body, extra=_ms_ext(spb), fact=700)
    )
    assert d["n_frames"] == 700
    assert d["samples"] == recon[0][:700]


def test_chunk_audio_ms_adpcm_block_concat_roundtrip(spark):
    """chunk_audio(decoder='wav') slices MS ADPCM at block granularity
    like IMA: un-capped chunk bytes concatenate back to the data chunk
    byte-for-byte, and each chunk's bytes decode standalone."""
    from etl_instagram_spark.multimodal.media import chunk_audio
    from etl_instagram_spark.multimodal.wav import (
        _MS_STD_COEFS,
        _ms_decode_block,
    )

    spb, block = 500, 256
    n = spb * 20 + 91
    src = [_sine(n, 260, amp=9000)]
    body, _ = _ms_encode(src, spb)
    w = _wav_bytes(2, 1, 8000, 4, block, body, extra=_ms_ext(spb), fact=n)
    df = spark.createDataFrame([("m", bytearray(w))], "id string, content binary")
    rows = (
        chunk_audio(df, chunk_ms=200, max_chunks=32, decoder="wav")
        .orderBy("chunk_idx")
        .collect()
    )
    assert b"".join(bytes(r["samples"]) for r in rows) == body
    for r in rows:
        raw = bytes(r["samples"])
        for off in range(0, len(raw), block):
            _ms_decode_block(raw[off : off + block], 1, spb, _MS_STD_COEFS)


def test_chunk_audio_adpcm_block_concat_roundtrip(spark):
    """chunk_audio(decoder='wav') on IMA ADPCM slices whole blocks:
    un-capped chunk bytes concatenate back to the data chunk
    byte-for-byte, and each chunk's bytes are themselves decodable."""
    from etl_instagram_spark.multimodal.media import chunk_audio
    from etl_instagram_spark.multimodal.wav import _ima_decode_block

    spb, block = 505, 256
    n = spb * 20 + 77  # ~10k samples at 8 kHz -> ~1.3 s
    src = [_sine(n, 260, amp=9000)]
    body, _ = _ima_encode(src, spb)
    w = _wav_bytes(0x11, 1, 8000, 4, block, body, extra=_ima_ext(spb), fact=n)
    df = spark.createDataFrame([("a", bytearray(w))], "id string, content binary")
    rows = (
        chunk_audio(df, chunk_ms=200, max_chunks=32, decoder="wav")
        .orderBy("chunk_idx")
        .collect()
    )
    assert b"".join(bytes(r["samples"]) for r in rows) == body
    assert rows[0]["meta"]["sample_rate"] == 8000
    # every chunk decodes standalone (blocks are independent)
    for r in rows:
        raw = bytes(r["samples"])
        for off in range(0, len(raw), block):
            _ima_decode_block(raw[off : off + block], 1, spb)


def test_chunk_audio_adpcm_fact_truncated_concat_roundtrip(spark):
    """r17 (ADVICE): a fact chunk that caps n_frames below the raw
    block stream pushes trailing blocks past the duration grid — when
    max_chunks does not bind they are clamped into the LAST chunk, so
    the un-capped concatenation contract stays byte-for-byte for
    fact-truncated files too."""
    from etl_instagram_spark.multimodal.media import chunk_audio

    spb, block = 505, 256
    n = spb * 20 + 77
    src = [_sine(n, 260, amp=9000)]
    body, _ = _ima_encode(src, spb)
    # fact caps to ~60% of the raw stream: duration_ms shrinks, and the
    # final ~8 blocks' first-sample ms land past the duration grid
    w = _wav_bytes(
        0x11, 1, 8000, 4, block, body, extra=_ima_ext(spb),
        fact=spb * 12 + 3,
    )
    df = spark.createDataFrame([("f", bytearray(w))], "id string, content binary")
    rows = (
        chunk_audio(df, chunk_ms=200, max_chunks=32, decoder="wav")
        .orderBy("chunk_idx")
        .collect()
    )
    assert b"".join(bytes(r["samples"]) for r in rows) == body
    # r18 (ADVICE): the fact-overflow blocks are detectable — the LAST
    # chunk's meta carries the clamped-block count (raw stream has 21
    # blocks; fact=spb*12+3 caps the duration grid at 4 chunks, and
    # blocks 13..20 start past it, so 8 clamp), every other chunk 0
    assert rows[-1]["meta"]["clamped_blocks"] == 8
    assert all(r["meta"]["clamped_blocks"] == 0 for r in rows[:-1])
    # a BINDING max_chunks still drops the tail (capped output is a
    # prefix by design, never a clamp)
    capped = (
        chunk_audio(df, chunk_ms=200, max_chunks=2, decoder="wav")
        .orderBy("chunk_idx")
        .collect()
    )
    assert len(capped) == 2
    joined = b"".join(bytes(r["samples"]) for r in capped)
    assert body.startswith(joined) and len(joined) < len(body)


def test_chunk_audio_g711_frame_grid(spark):
    """G.711 rides the PCM frame grid: chunk bytes concatenate back to
    the companded data chunk."""
    from etl_instagram_spark.multimodal.media import chunk_audio

    src = _sine(8000 * 2 + 50, 440, amp=14000)
    comp = audioop.lin2ulaw(
        b"".join(int(s).to_bytes(2, "little", signed=True) for s in src), 2
    )
    w = _wav_bytes(7, 1, 8000, 8, 1, comp)
    df = spark.createDataFrame([("u", bytearray(w))], "id string, content binary")
    rows = (
        chunk_audio(df, chunk_ms=500, max_chunks=32, decoder="wav")
        .orderBy("chunk_idx")
        .collect()
    )
    assert b"".join(bytes(r["samples"]) for r in rows) == comp


def test_wav_features_g711_and_adpcm_near_dup(spark):
    """The Spark feature face: the same recording as 16-bit PCM, mu-law,
    and IMA ADPCM lands near cosine 1 across all three encodings."""
    src = _sine(4000, 440, amp=14000)
    pcm16 = b"".join(int(s).to_bytes(2, "little", signed=True) for s in src)
    w_pcm = _encode(src)
    w_ulaw = _wav_bytes(7, 1, 8000, 8, 1, audioop.lin2ulaw(pcm16, 2))
    spb, block = 505, 256
    body, _ = _ima_encode([src], spb)
    w_adpcm = _wav_bytes(
        0x11, 1, 8000, 4, block, body, extra=_ima_ext(spb), fact=len(src)
    )
    df = spark.createDataFrame(
        [("pcm", bytearray(w_pcm)), ("ulaw", bytearray(w_ulaw)),
         ("adpcm", bytearray(w_adpcm))],
        "id string, content binary",
    )
    out = {r["id"]: r["embedding"] for r in wav_features(df).collect()}
    assert all(v is not None for v in out.values())

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    assert cos(out["pcm"], out["ulaw"]) > 0.999
    assert cos(out["pcm"], out["adpcm"]) > 0.99


def test_decode_wav_np_matches_list_decode_every_format():
    """The r16 numpy sample decode is value-identical to decode_wav
    across every supported format: int PCM at all four widths, float32/
    float64, mu-law, A-law, and IMA ADPCM."""
    import numpy as np

    from etl_instagram_spark.multimodal.wav import decode_wav_np

    src = _sine(1200, 440, amp=14000)
    pcm16 = b"".join(int(s).to_bytes(2, "little", signed=True) for s in src)
    cases = [
        _encode([s >> 8 for s in src], sampwidth=1),
        _encode(src, sampwidth=2),
        _encode([s << 8 for s in src], sampwidth=3),
        _encode([s << 16 for s in src], sampwidth=4),
        _encode_float([s / 32768.0 for s in src], width=4),
        _encode_float([s / 32768.0 for s in src], width=8),
        _wav_bytes(7, 1, 8000, 8, 1, audioop.lin2ulaw(pcm16, 2)),
        _wav_bytes(6, 1, 8000, 8, 1, audioop.lin2alaw(pcm16, 2)),
    ]
    body, _ = _ima_encode([src[:505]], 505)
    cases.append(
        _wav_bytes(0x11, 1, 8000, 4, 256, body, extra=_ima_ext(505), fact=505)
    )
    for w in cases:
        a = decode_wav(w)
        b = decode_wav_np(w)
        assert isinstance(b["samples"], np.ndarray)
        assert a["samples"] == list(
            float(x) if a["fmt"] == "float" else int(x) for x in b["samples"]
        )
        fa = wav_feature_vector(a)
        fb = wav_feature_vector(b)
        assert fa == fb


def test_decode_wav_np_nonfinite_raises():
    import struct as _s

    from etl_instagram_spark.multimodal.wav import decode_wav_np

    bad = _encode_float([0.5, float("nan"), -0.5], width=4)
    with pytest.raises(ValueError, match="non-finite"):
        decode_wav_np(bad)
