"""Codec roundtrips + SNR math (pure numpy, no Spark)."""

import numpy as np
import pytest

from jesse_spark.functions import audio


@pytest.fixture
def pcm():
    rng = np.random.default_rng(7)
    t = np.arange(8000) / 8000.0
    x = 0.6 * np.sin(2 * np.pi * 440 * t) + 0.2 * rng.standard_normal(8000)
    return np.clip(np.round(x * 32767), -32768, 32767).astype(np.int16)


def test_pcm16_roundtrip(pcm):
    assert np.array_equal(audio.pcm16_decode(audio.pcm16_encode(pcm)), pcm)


def test_ulaw_roundtrip_snr(pcm):
    dec = audio.ulaw_decode(audio.ulaw_encode(pcm))
    snr = audio.snr_db(pcm, dec)
    assert snr >= audio.SNR_THRESHOLD_DB, snr


def test_alaw_roundtrip_snr(pcm):
    dec = audio.alaw_decode(audio.alaw_encode(pcm))
    snr = audio.snr_db(pcm, dec)
    assert snr >= audio.SNR_THRESHOLD_DB, snr


def test_ulaw_known_values():
    # 0 encodes to 0xFF, decodes back to 0 (G.711 table identities)
    assert audio.ulaw_encode(np.array([0], dtype=np.int16))[0] == 0xFF
    assert audio.ulaw_decode(np.array([0xFF], dtype=np.uint8))[0] == 0


def test_alaw_idempotent_on_decoded(pcm):
    """encode∘decode is idempotent: decoded values are codec fixpoints."""
    once = audio.alaw_decode(audio.alaw_encode(pcm))
    twice = audio.alaw_decode(audio.alaw_encode(once))
    assert np.array_equal(once, twice)


def test_snr_detects_corruption(pcm):
    raw = bytearray(audio.pcm16_encode(pcm))
    for i in range(1, len(raw), 8):  # flip high bytes (little-endian)
        raw[i] ^= 0xFF
    dec = audio.pcm16_decode(bytes(raw))
    assert audio.snr_db(pcm, dec) < audio.SNR_THRESHOLD_DB


def test_synth_deterministic():
    a = audio.synth_pcm("abc123", 16000, 1600)
    b = audio.synth_pcm("abc123", 16000, 1600)
    c = audio.synth_pcm("abc124", 16000, 1600)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    assert audio.reference_transcript("x") == audio.reference_transcript("x")
    assert 1 <= len(audio.reference_transcript("x")) <= 200


def test_synth_pcm_paths_and_shapes():
    """synth_pcm stays deterministic and int16 across the f32 (short)
    and f64 (>_F32_MAX_SECONDS) paths; the per-clip loop in
    _verify_batch is deliberate (see synth_pcm's docstring for the
    measurements that killed the cross-clip matrix formulations)."""
    import numpy as np

    import jesse_spark.functions.audio as A

    for sr, n in [(8000, 0), (8000, 1600), (8000, 40000),  # 5 s -> f64
                  (16000, 16000), (16000, 70000)]:         # 4.375 s f64
        got = A.synth_pcm("clip-x", sr, n)
        assert got.dtype == np.int16 and len(got) == n
        assert np.array_equal(got, A.synth_pcm("clip-x", sr, n))


@pytest.mark.parametrize("codec, arith", [("ulaw", audio.ulaw_decode),
                                          ("alaw", audio.alaw_decode)])
def test_g711_table_decode_matches_arithmetic(codec, arith):
    """The 256-entry lookup tables behind decode() and the batch decode
    are bit-equal to the arithmetic G.711 decoders on every code."""
    raw = bytes(range(256))
    want = arith(np.arange(256, dtype=np.uint8))
    got = audio.decode(raw, codec)
    assert got.dtype == np.int16 and np.array_equal(got, want)
    batch = audio._decode_batch(np.array([raw, None, raw[::-1]], dtype=object),
                                np.array([codec] * 3, dtype=object))
    assert np.array_equal(batch[0], want) and batch[1] is None
    assert np.array_equal(batch[2], want[::-1])


def _snr_float_sums(ref, dec):
    """The float64-sum SNR formula, the reference for snr_db."""
    n = min(len(ref), len(dec))
    if n == 0:
        return -np.inf
    r = ref[:n].astype(np.float64)
    d = dec[:n].astype(np.float64)
    sig = float(np.sum(r * r))
    noise = float(np.sum((r - d) * (r - d)))
    if len(ref) != len(dec):
        return -np.inf
    if noise == 0.0:
        return 120.0
    if sig == 0.0:
        return -np.inf
    return 10.0 * np.log10(sig / noise)


def test_snr_db_matches_float_sums_on_fixture_clips():
    """Clean clips of every codec, a corrupt clip (defect kind 7) and
    truncated decodes give the same SNR, bit for bit."""
    from jesse_spark.sources.fixtures import _gen_row

    snrs, codecs = [], set()
    for i in [*range(12), 357, 757]:     # 357 and 757 are corrupt
        cid, raw, sr, _dur, codec, _tr = _gen_row(i, (200, 2000))
        dec = audio.decode(raw, codec)
        ref = audio.synth_pcm(cid, sr, len(dec))
        for d in (dec, dec[:-7], dec[:0]):
            assert audio.snr_db(ref, d) == _snr_float_sums(ref, d), (i, len(d))
        snrs.append(audio.snr_db(ref, dec))
        codecs.add(codec)
    assert codecs == set(audio.CODECS)
    assert min(snrs[-2:]) < audio.SNR_THRESHOLD_DB < min(snrs[:7])
