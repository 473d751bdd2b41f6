"""MFCC + pitch kernels: golden-pinned against per-clip loop-wise
reimplementations, physically validated against the synth schedule's
known tone (110*(1+idx%40) Hz) — the tone must land in the matching
mel band, and in-band tones must be recovered by f0 within 2 % —
and null/empty semantics checked for undecodable / rate-less rows."""

from __future__ import annotations

import numpy as np
import pytest

from marshmallow_spark.functions.audio import (
    ALAW_DECODE_LUT,
    SAMPLE_WIDTH,
    ULAW_DECODE_LUT,
)
from marshmallow_spark.functions.audio_mfcc import (
    HOP_MEL,
    MAX_FRAMES,
    N_FFT_MEL,
    N_MELS,
    N_MFCC,
    PITCH_FMAX,
    PITCH_FMIN,
    hz_to_mel,
    mel_filterbank,
    mfcc_features,
    pitch_features,
)
from marshmallow_spark.sources.synth import synth_clips


def _decode(payload: bytes, codec: str) -> np.ndarray:
    width = SAMPLE_WIDTH[codec]
    usable = (len(payload) // width) * width
    if codec == "pcm16":
        x = np.frombuffer(payload[:usable], dtype="<i2").astype(np.float64)
        return x / 32768.0
    lut = ULAW_DECODE_LUT if codec == "ulaw" else ALAW_DECODE_LUT
    return (
        lut[np.frombuffer(payload[:usable], dtype=np.uint8)].astype(np.float64)
        / 32768.0
    )


def _loop_mel_fb(sr: int):
    """Textbook HTK triangular filterbank, written loop-wise."""
    n_bins = N_FFT_MEL // 2 + 1
    mel_pts = np.linspace(0.0, 2595.0 * np.log10(1.0 + sr / 2.0 / 700.0), N_MELS + 2)
    hz_pts = 700.0 * (10.0 ** (mel_pts / 2595.0) - 1.0)
    fb = np.zeros((N_MELS, n_bins))
    for m in range(N_MELS):
        for b in range(n_bins):
            f = b * sr / N_FFT_MEL
            lo, c, hi = hz_pts[m], hz_pts[m + 1], hz_pts[m + 2]
            if lo < f < c:
                fb[m, b] = (f - lo) / (c - lo)
            elif c <= f < hi:
                fb[m, b] = (hi - f) / (hi - c)
            elif f == c:
                fb[m, b] = 1.0
    return fb, hz_pts[1:-1]


def _loop_mfcc(payload: bytes, codec: str, sr: int):
    """Per-clip loop-wise MFCC mean + mel peak."""
    x = _decode(payload, codec)
    # batched kernel decodes to float32 then widens — mirror that
    x = x.astype(np.float32).astype(np.float64)
    head_limit = N_FFT_MEL + HOP_MEL * (MAX_FRAMES - 1)
    x = x[:head_limit]
    if len(x) == 0 or sr <= 0:
        return None
    n_frames = 1 + max(0, min((len(x) - N_FFT_MEL) // HOP_MEL, MAX_FRAMES - 1))
    fb, centers = _loop_mel_fb(sr)
    dct = np.zeros((N_MFCC, N_MELS))
    for k in range(N_MFCC):
        for j in range(N_MELS):
            dct[k, j] = np.cos(np.pi * k * (2 * j + 1) / (2 * N_MELS)) * np.sqrt(
                2.0 / N_MELS
            )
    dct[0] *= np.sqrt(0.5)
    win = np.hanning(N_FFT_MEL)
    mf_sum = np.zeros(N_MFCC)
    mel_sum = np.zeros(N_MELS)
    for fr in range(n_frames):
        frame = np.zeros(N_FFT_MEL)
        seg = x[fr * HOP_MEL : fr * HOP_MEL + N_FFT_MEL]
        frame[: len(seg)] = seg
        frame *= win
        p = np.abs(np.fft.rfft(frame)) ** 2
        logmel = np.log(fb @ p + 1e-10)
        mel_sum += logmel
        mf_sum += dct @ logmel
    return (
        n_frames,
        mf_sum / n_frames,
        float(centers[int(np.argmax(mel_sum / n_frames))]),
    )


def test_mfcc_golden_vs_loop(spark):
    df = synth_clips(spark, 250, num_partitions=4)
    rows = {r.clip_id: r for r in df.collect()}
    out = {r.clip_id: r for r in mfcc_features(df).collect()}
    assert set(out) == set(rows)
    checked = 0
    for cid, src in rows.items():
        got = out[cid]
        sr_ok = src.sr_hz is not None and src.sr_hz > 0
        decodable = (
            src.bytes is not None
            and src.codec in SAMPLE_WIDTH
            and len(src.bytes) >= SAMPLE_WIDTH[src.codec]
        )
        if not (sr_ok and decodable):
            assert got.n_frames is None
            assert got.mel_peak_hz is None
            assert got.mfcc == []  # empty, not NULL (documented)
            continue
        want = _loop_mfcc(bytes(src.bytes), src.codec, src.sr_hz)
        assert got.n_frames == want[0]
        np.testing.assert_allclose(np.array(got.mfcc), want[1], rtol=1e-8, atol=1e-10)
        assert got.mel_peak_hz == pytest.approx(want[2], rel=1e-12)
        checked += 1
    assert checked > 200


def test_mel_peak_recovers_synth_tone(spark):
    """Physics: the tone lands in the matching mel band (+-1 band for
    edge leakage), Nyquist-folded at low sample rates."""
    df = synth_clips(spark, 400, with_violations=False, num_partitions=4)
    checked = 0
    for r in mfcc_features(df).collect():
        i = int(r.clip_id.rsplit("-", 1)[-1])
        f = 110.0 * (1 + i % 40)
        fe = f % r.sr_hz
        if fe > r.sr_hz / 2:
            fe = r.sr_hz - fe
        _, centers = mel_filterbank(r.sr_hz)
        exp = int(np.argmin(np.abs(hz_to_mel(centers) - hz_to_mel(fe))))
        got = int(np.argmin(np.abs(centers - r.mel_peak_hz)))
        assert abs(got - exp) <= 1, (r.clip_id, f, fe, r.sr_hz, exp, got)
        checked += 1
    assert checked == 400


def test_pitch_recovers_synth_tone(spark):
    """Physics: every clean in-band tone is recovered within 2 % with
    high voiced confidence (observed max err 0.33 %); this includes
    the 550 Hz @ 8 kHz clips whose period lag (14.5) sits between
    integer lags — the octave-error guard regression."""
    df = synth_clips(spark, 600, with_violations=False, num_partitions=4)
    checked = 0
    octave_cases = 0
    for r in pitch_features(df).collect():
        i = int(r.clip_id.rsplit("-", 1)[-1])
        f = 110.0 * (1 + i % 40)
        if not (PITCH_FMIN <= f <= PITCH_FMAX):
            continue
        assert r.f0_hz == pytest.approx(f, rel=0.02), (r.clip_id, f, r.f0_hz)
        assert r.voiced_conf > 0.5
        checked += 1
        if f == 550.0 and r.sr_hz == 8000:
            octave_cases += 1
    assert checked >= 60
    assert octave_cases >= 5  # the guard's regression case was exercised


def test_pitch_flat_peaks_raise_no_divide_warning():
    """DC, all-zero and 1-LSB slow square clips leave a flat
    autocorrelation peak (zero parabola denominator): pitch_batch must
    skip the interpolation there without any numpy divide warning, and
    every row keeps its pinned (f0, conf)."""
    import warnings

    import pyarrow as pa

    from marshmallow_spark.functions.audio_mfcc import pitch_batch

    sr, n = 16000, 2400  # 150 ms at 16 kHz
    t = np.arange(n)
    waves = [
        np.full(n, 1000),
        np.full(n, -500),
        np.zeros(n, dtype=np.int64),
        (t // 125) % 2,
        (t // 155) % 2,
        (t // 200) % 2,
        (t // 227) % 2,
        np.round(6000 * np.sin(2 * np.pi * 220 * t / sr)),
    ]
    want = [
        (None, 0.0),
        (None, 0.0),
        (None, 0.0),
        (615.3846153846154, 0.5814128697519084),
        (615.3846153846154, 0.6559606459673232),
        (615.3846153846154, 0.7338403506679391),
        (615.3846153846154, 0.7787712301071528),
        (220.1374264993294, 0.9640265882701424),
    ]
    rows = 400
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"c{i:04d}" for i in range(rows)]),
            pa.array(
                [waves[i % 8].astype("<i2").tobytes() for i in range(rows)],
                pa.binary(),
            ),
            pa.array([sr] * rows, pa.int32()),
            pa.array([150] * rows, pa.int32()),
            pa.array(["pcm16"] * rows),
            pa.array(["x"] * rows),
        ],
        names=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = pitch_batch(batch).to_pylist()
    for i, r in enumerate(out):
        f0, conf = want[i % 8]
        assert r["n_head"] == 2048
        assert r["f0_hz"] == (None if f0 is None else pytest.approx(f0, rel=1e-12))
        assert r["voiced_conf"] == pytest.approx(conf, rel=1e-12, abs=1e-15)


def test_unmeasured_rows_null_semantics(spark):
    """opus codec / NULL payload / non-positive sr -> unmeasured."""
    df = synth_clips(spark, 2500, num_partitions=4)
    src = {r.clip_id: r for r in df.collect()}
    mf = {r.clip_id: r for r in mfcc_features(df).collect()}
    pt = {r.clip_id: r for r in pitch_features(df).collect()}
    bad_codec = bad_sr = 0
    for cid, s in src.items():
        undec = (
            s.bytes is None
            or s.codec not in SAMPLE_WIDTH
            or (s.sr_hz or 0) <= 0
            or len(s.bytes) < SAMPLE_WIDTH.get(s.codec, 1)
        )
        if not undec:
            continue
        assert mf[cid].n_frames is None and mf[cid].mfcc == []
        assert pt[cid].n_head is None and pt[cid].f0_hz is None
        if s.codec not in SAMPLE_WIDTH:
            bad_codec += 1
        if (s.sr_hz or 0) <= 0:
            bad_sr += 1
    assert bad_codec > 0  # the synth schedule plants unknown codecs


def test_mfcc_pitch_plans_have_no_exchange(spark):
    """Both are pure mapInArrow projections: zero shuffles."""
    df = synth_clips(spark, 100, num_partitions=2)
    for out in (mfcc_features(df), pitch_features(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# MFCC-space near-duplicate detection
# ---------------------------------------------------------------------------


def _planted_copies(spark):
    """master + 0.5x gain remaster + lightly-noised copy + unrelated clip."""
    from marshmallow_spark.functions import audio

    sr = np.array([16000, 16000], dtype=np.int64)
    dur = np.array([1000, 1000], dtype=np.int64)
    pcm, lens = audio.reference_pcm16_flat(
        np.array([7, 123], dtype=np.int64), sr, dur
    )
    a = pcm[: lens[0]].astype(np.float64)
    other = pcm[lens[0] :]
    gained = np.clip(np.rint(a * 0.5), -32768, 32767).astype("<i2")
    rng = np.random.RandomState(42)
    noised = np.clip(
        np.rint(a + rng.uniform(-1, 1, a.shape) * 160), -32768, 32767
    ).astype("<i2")
    rows = [
        ("master", a.astype("<i2").tobytes(), 16000, "pcm16"),
        ("gain-copy", gained.tobytes(), 16000, "pcm16"),
        ("noise-copy", noised.tobytes(), 16000, "pcm16"),
        ("other", other.astype("<i2").tobytes(), 16000, "pcm16"),
    ]
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string"
    )


def test_gain_copy_caught_where_fingerprint_misses(spark):
    """The complementary-duplicate-class contract: a 0.5x remaster
    shifts the fingerprint's quantized-RMS envelope out of band
    (missed there), but drops entirely into MFCC c0 (cosine over
    c1..c12 is exactly 1 up to the log floor + requantization); a
    lightly-noised copy is caught by BOTH paths; the unrelated clip
    never even shares an LSH bucket."""
    from marshmallow_spark.functions.audio_fingerprint import (
        fingerprint_duplicate_pairs,
    )
    from marshmallow_spark.functions.audio_mfcc import mfcc_near_duplicates

    df = _planted_copies(spark)
    fp = {(r.clip_a, r.clip_b) for r in fingerprint_duplicate_pairs(df).collect()}
    assert ("master", "noise-copy") in fp  # envelope survives light noise
    assert not any("gain-copy" in p for p in fp)  # gain shifts the RMS band

    got = {
        (r.a, r.b): r.cosine
        for r in mfcc_near_duplicates(df, min_cosine=0.99, mode="pairs").collect()
    }
    assert got[("gain-copy", "master")] >= 0.999999  # exact gain invariance
    assert got[("master", "noise-copy")] >= 0.99
    assert not any("other" in p for p in got)

    star = {
        (r.a, r.b)
        for r in mfcc_near_duplicates(df, min_cosine=0.99, mode="star").collect()
    }
    # bucket-min id spans the group: linear star edges, same membership
    assert star == {("gain-copy", "master"), ("gain-copy", "noise-copy")}


def test_mfcc_neardup_excludes_silence_and_unmeasured(spark):
    """Pure silence has a constant log-mel (zero invariant tail: cosine
    undefined) and unmeasurable rows have no vector at all — neither
    may emit or crash."""
    from marshmallow_spark.functions.audio_mfcc import mfcc_near_duplicates

    silent = (np.zeros(16000)).astype("<i2").tobytes()
    rows = [
        ("silent-a", silent, 16000, "pcm16"),
        ("silent-b", silent, 16000, "pcm16"),
        ("no-rate", silent, 0, "pcm16"),
        ("bad-codec", silent, 16000, "opus"),
        ("no-bytes", None, 16000, "pcm16"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string"
    )
    assert mfcc_near_duplicates(df, min_cosine=0.0, mode="pairs").count() == 0


def test_mfcc_neardup_plan_no_cartesian(spark):
    """Candidates come from the fused LSH self-join: no cartesian /
    BNLJ anywhere, and the keyed frame's bucket exchange is REUSED
    across the self-join sides (pairs mode)."""
    from marshmallow_spark.functions.audio_mfcc import mfcc_near_duplicates
    from marshmallow_spark.sources.synth import synth_clips

    df = synth_clips(spark, 200, num_partitions=2)
    out = mfcc_near_duplicates(df, min_cosine=0.999, mode="pairs")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ReusedExchange" in plan, plan
