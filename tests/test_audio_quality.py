"""Golden tests for the per-clip audio quality metrics: every metric is
recomputed per clip in plain (loop-wise) numpy from the same payload
bytes and compared exactly — the vectorized reduceat kernel must agree
with the obvious per-row definition, including truncated payloads,
1-sample clips, and synthetic silent / clipped / DC-offset signals."""

from __future__ import annotations

import math

import numpy as np
import pytest

from marshmallow_spark.functions.audio import ulaw_encode
from marshmallow_spark.functions.audio_quality import (
    CLIP_THRESHOLD,
    CLIPPED_RATIO,
    SILENCE_DBFS,
    audio_quality_metrics,
    quality_violations,
)
from marshmallow_spark.sources.synth import synth_clips


def _py_metrics(payload: bytes, codec: str):
    """The obvious per-clip reference implementation."""
    if codec == "pcm16":
        usable = len(payload) // 2 * 2
        x = np.frombuffer(payload[:usable], dtype="<i2").astype(np.float64)
        x /= 32768.0
    elif codec in ("ulaw", "alaw"):
        from marshmallow_spark.functions.audio import (
            ALAW_DECODE_LUT,
            ULAW_DECODE_LUT,
        )

        lut = ULAW_DECODE_LUT if codec == "ulaw" else ALAW_DECODE_LUT
        x = lut[np.frombuffer(payload, dtype=np.uint8)].astype(np.float64)
        x /= 32768.0
    else:
        return None
    n = len(x)
    if n == 0:
        return None
    rms = math.sqrt(float(np.mean(x * x)))
    rms_dbfs = 20.0 * math.log10(max(rms, 1e-12))
    sign = x >= 0
    zc = int(np.sum(sign[1:] != sign[:-1])) if n > 1 else 0
    return {
        "n_samples": n,
        "rms_dbfs": rms_dbfs,
        "peak": float(np.max(np.abs(x))),
        "dc_offset": float(np.mean(x)),
        "clipping_ratio": float(np.mean(np.abs(x) >= CLIP_THRESHOLD)),
        "zero_crossing_rate": zc / max(n - 1, 1),
        "is_silent": rms_dbfs < SILENCE_DBFS,
        "is_clipped": float(np.mean(np.abs(x) >= CLIP_THRESHOLD)) >= CLIPPED_RATIO,
    }


def _assert_matches(got_rows, payloads):
    checked = 0
    for r in got_rows:
        exp = _py_metrics(*payloads[r.clip_id])
        if exp is None:
            assert r.n_samples == 0 and r.rms_dbfs is None and r.is_silent is None
            continue
        checked += 1
        assert r.n_samples == exp["n_samples"], r.clip_id
        for k in ("rms_dbfs", "peak", "dc_offset", "clipping_ratio", "zero_crossing_rate"):
            assert getattr(r, k) == pytest.approx(exp[k], rel=1e-9, abs=1e-12), (
                r.clip_id,
                k,
            )
        assert r.is_silent == exp["is_silent"], r.clip_id
        assert r.is_clipped == exp["is_clipped"], r.clip_id
    return checked


def test_quality_metrics_golden_on_synth_clips(spark):
    df = synth_clips(spark, 400, num_partitions=4)
    payloads = {
        r.clip_id: (bytes(r.bytes) if r.bytes is not None else b"", r.codec)
        for r in df.select("clip_id", "bytes", "codec").collect()
    }
    out = audio_quality_metrics(df).collect()
    assert len(out) == 400
    assert _assert_matches(out, payloads) > 300


def test_quality_metrics_crafted_signals(spark):
    sr = 8000

    def pcm16(x):
        return (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()

    t = np.arange(sr) / sr
    crafted = {
        "silent": (pcm16(np.zeros(sr)), "pcm16"),
        "near_silent": (pcm16(np.full(sr, 1e-4)), "pcm16"),
        "clipped": (pcm16(1.5 * np.sin(2 * np.pi * 440 * t)), "pcm16"),
        "dc_offset": (pcm16(0.25 + 0.01 * np.sin(2 * np.pi * 10 * t)), "pcm16"),
        "tone": (pcm16(0.4 * np.sin(2 * np.pi * 100 * t)), "pcm16"),
        "one_sample": (pcm16(np.array([0.5])), "pcm16"),
        "odd_tail": (pcm16(0.4 * np.sin(2 * np.pi * 5 * t))[:-1], "pcm16"),
        "ulaw_tone": (
            ulaw_encode(
                (0.3 * np.sin(2 * np.pi * 50 * t) * 32767).astype(np.int16)
            ).tobytes(),
            "ulaw",
        ),
        "unknown_codec": (b"\x00\x01", "mp3"),
        "empty": (b"", "pcm16"),
    }
    rows = [(k, v[0], sr, v[1]) for k, v in crafted.items()]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string"
    )
    out = {r.clip_id: r for r in audio_quality_metrics(df).collect()}
    assert len(out) == len(crafted)
    _assert_matches(out.values(), crafted)

    assert out["silent"].is_silent and not out["tone"].is_silent
    assert out["clipped"].is_clipped and not out["tone"].is_clipped
    assert out["dc_offset"].dc_offset == pytest.approx(0.25, abs=1e-3)
    # a 100 Hz tone crosses zero ~200 times in a second
    assert out["tone"].zero_crossing_rate * (sr - 1) == pytest.approx(200, abs=2)
    assert out["one_sample"].n_samples == 1
    assert out["one_sample"].zero_crossing_rate == 0.0
    assert out["odd_tail"].n_samples == sr - 1  # trailing odd byte dropped
    assert out["unknown_codec"].rms_dbfs is None
    assert out["empty"].n_samples == 0 and out["empty"].is_clipped is None


def test_quality_metrics_zero_shuffle_plan(spark):
    df = synth_clips(spark, 50, num_partitions=2)
    out = audio_quality_metrics(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_suite_quality_gate_flags_planted_clips(spark):
    """The opt-in quality gate inside ClipValidationSuite flags exactly
    the planted silent and clipped clips, alongside (not instead of)
    the other checks."""
    import numpy as np

    from marshmallow_spark.plans.pipeline import ClipValidationSuite
    from marshmallow_spark.sources.synth import synth_clips

    sr = 8000
    t = np.arange(sr) / sr

    def pcm16(x):
        return (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()

    clean = synth_clips(spark, 60, with_violations=False, num_partitions=2)
    planted = spark.createDataFrame(
        [
            ("planted-silent", pcm16(np.zeros(sr)), sr, 1000, "pcm16", "x"),
            (
                "planted-clipped",
                pcm16(1.4 * np.sin(2 * np.pi * 200 * t)),
                sr,
                1000,
                "pcm16",
                "x",
            ),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    df = clean.unionByName(planted)
    suite = ClipValidationSuite(
        check_audio=False,
        quality_thresholds={"min_rms_dbfs": -60.0, "max_clipping_ratio": 0.001},
    )
    v = suite.violations(df)
    qual = {
        (r.clip_id, r.message)
        for r in v.where(v.check == "audio_quality").collect()
    }
    ids = {c for c, _ in qual}
    assert ids == {"planted-silent", "planted-clipped"}
    msgs = {m for _, m in qual}
    assert any("silent" in m for m in msgs)
    assert any("clipped" in m for m in msgs)


def test_fused_suite_matches_unfused_exactly(spark):
    """The suite's fused audio checks (one decode for invariant +
    quality) emit the IDENTICAL rows as the standalone kernels run
    separately on the same inputs — audio_invariant_violations over the
    structurally plausible rows, quality_violations over the decodable
    ones — over a corpus with every planted invariant violation kind
    PLUS planted silent / clipped clips and a truncated-but-measurable
    payload (the fused kernel's quality-only prefix-decode path)."""
    import numpy as np
    from pyspark.sql import functions as F

    from marshmallow_spark.functions.audio import (
        KNOWN_CODECS,
        audio_invariant_violations,
    )
    from marshmallow_spark.plans.pipeline import ClipValidationSuite
    from marshmallow_spark.sources.synth import codecs_dim, synth_clips

    sr = 8000
    t = np.arange(sr) / sr

    def pcm16(x):
        return (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()

    base = synth_clips(spark, 3000, num_partitions=4)  # planted invariant violations
    planted = spark.createDataFrame(
        [
            ("planted-silent", pcm16(np.zeros(sr)), sr, 1000, "pcm16", "x"),
            (
                "planted-clipped",
                pcm16(1.4 * np.sin(2 * np.pi * 200 * t)),
                sr,
                1000,
                "pcm16",
                "x",
            ),
            # truncated (byte_len != expected): invariant flags it and
            # skips decode; the quality gate must still measure the
            # usable prefix — silent prefix => silent violation too
            ("planted-trunc-silent", pcm16(np.zeros(sr))[: sr // 2], sr, 1000, "pcm16", "x"),
            # invariant-ineligible sr (not in OneOf) but decodable:
            # quality-only row via the _inv_eligible gate
            ("planted-odd-sr", pcm16(np.zeros(4000)), 12345, 1000, "pcm16", "x"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    df = base.unionByName(planted)
    qt = {
        "min_rms_dbfs": -60.0,
        "max_clipping_ratio": 0.001,
        "max_abs_dc_offset": 0.029,
    }
    suite = ClipValidationSuite(codecs_dim(spark), quality_thresholds=qt)
    out = sorted(
        tuple(r)
        for r in suite.violations(df)
        .select("clip_id", "field", "message", "check")
        .collect()
    )
    decodable = F.col("codec").isin(*KNOWN_CODECS) & F.col("bytes").isNotNull()
    plausible = (
        F.col("sr_hz").isin(8000, 16000, 22050, 44100)
        & (F.col("dur_ms") > 0)
        & decodable
    )
    inv = audio_invariant_violations(df.where(plausible)).select(
        "clip_id", "field", "message", F.lit("audio").alias("check")
    )
    qual_rows = quality_violations(df.where(decodable), **qt).select(
        "clip_id", "field", "message", F.lit("audio_quality").alias("check")
    )
    separate = sorted(tuple(r) for r in inv.unionByName(qual_rows).collect())
    assert [r for r in out if r[3] in ("audio", "audio_quality")] == separate
    qual = {(c, m) for c, f, m, k in out if k == "audio_quality"}
    qual_ids = {c for c, _ in qual}
    # every planted quality row surfaced through the fused kernel
    assert {"planted-silent", "planted-clipped", "planted-trunc-silent", "planted-odd-sr"} <= qual_ids
    # and the invariant side still flagged the planted corpus rows
    checks = {k for _, _, _, k in out}
    assert "audio" in checks and "structural" in checks


def test_fused_suite_single_decode_plan(spark):
    """The quality-gated suite's executed plan carries exactly ONE
    MapInArrow node: the invariant and the quality gate share one
    decode (run separately they take one each; before the single-pass
    explode rewrite of quality_violations the gate took one PER
    THRESHOLD)."""
    from marshmallow_spark.plans.pipeline import ClipValidationSuite
    from marshmallow_spark.sources.synth import codecs_dim, synth_clips

    df = synth_clips(spark, 200, num_partitions=2)
    qt = {
        "min_rms_dbfs": -60.0,
        "max_clipping_ratio": 0.001,
        "max_abs_dc_offset": 0.02,
    }
    suite = ClipValidationSuite(codecs_dim(spark), quality_thresholds=qt)
    plan = suite.violations(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan


def test_quality_violations_single_metrics_pass(spark):
    """Standalone quality_violations evaluates every threshold off ONE
    metrics kernel (array-of-rules explode), not one filter branch per
    threshold re-running the decode."""
    df = synth_clips(spark, 200, num_partitions=2)
    v = quality_violations(
        df,
        min_rms_dbfs=-60.0,
        max_clipping_ratio=0.001,
        max_abs_dc_offset=0.02,
    )
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan


def test_segment_stats_fuzz_vs_loop():
    """Property fuzz: _segment_stats == a per-clip python loop on
    random signals and ragged lens vectors including zero-length clips,
    1-sample clips, and boundary-straddling sign changes."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from marshmallow_spark.functions.audio_quality import (
        CLIP_THRESHOLD,
        _segment_stats,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=25), min_size=1, max_size=12),
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def run(lens_list, seed):
        lens = np.array(lens_list, dtype=np.int64)
        rng = np.random.default_rng(seed)
        n = int(lens.sum())
        x = (
            rng.integers(-32768, 32768, n).astype(np.float32) / np.float32(32768.0)
        )
        s, ss, peak, clipped, zc = _segment_stats(x, lens)
        off = 0
        for i, L in enumerate(lens_list):
            seg = x[off : off + L].astype(np.float64)
            off += L
            assert abs(s[i] - seg.sum()) < 1e-9
            assert abs(ss[i] - (seg * seg).sum()) < 1e-9
            assert peak[i] == (np.abs(seg).max() if L else 0.0)
            assert clipped[i] == float((np.abs(seg) >= CLIP_THRESHOLD).sum())
            sgn = seg >= 0
            want_zc = float((sgn[1:] != sgn[:-1]).sum()) if L > 1 else 0.0
            assert zc[i] == want_zc, (i, zc[i], want_zc)

    run()


def test_window_envelope_fuzz_vs_loop():
    """Property fuzz for the fingerprint windowing: per-window
    (sum-of-squares -> quantized dB, crossings with earlier-window
    ownership) matches a python loop across ragged clips and window
    sizes, including partial tails and 1-sample windows."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from marshmallow_spark.functions.audio_fingerprint import (
        _window_envelope,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=40),  # clip length
                st.integers(min_value=1, max_value=9),  # window samples
            ),
            min_size=1,
            max_size=8,
        ),
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def run(clips, seed):
        lens = np.array([c[0] for c in clips], dtype=np.int64)
        w = np.array([c[1] for c in clips], dtype=np.int64)
        rng = np.random.default_rng(seed)
        n = int(lens.sum())
        x = (
            rng.integers(-32768, 32768, n).astype(np.float32) / np.float32(32768.0)
        )
        nwin, env_a, env_b = _window_envelope(x, lens, w, 6.0, 8)
        exp_a, exp_b = [], []
        off = 0
        for L, wi in clips:
            seg = x[off : off + L]
            off += L
            k = 0
            while k * wi < L:
                win = seg[k * wi : min((k + 1) * wi, L)].astype(np.float64)
                db = 10.0 * np.log10(max((win * win).mean(), 1e-12))
                sgn = seg >= 0
                lo = k * wi
                hi = min((k + 1) * wi, L - 1)
                zcv = float(np.sum(sgn[lo + 1 : hi + 1] != sgn[lo:hi])) if L > 1 else 0.0
                if min((k + 1) * wi, L) - lo <= 1:
                    zcv = 0.0
                exp_a += [
                    int(np.clip(np.floor(db / 6.0), -127, 127)),
                    int(np.clip(np.floor(zcv / 8.0), -127, 127)),
                ]
                exp_b += [
                    int(np.clip(np.floor(db / 6.0 + 0.5), -127, 127)),
                    int(np.clip(np.floor(zcv / 8.0 + 0.5), -127, 127)),
                ]
                k += 1
        assert list(env_a) == exp_a, (clips, seed)
        assert list(env_b) == exp_b

    run()


def test_noise_floor_metrics_reference_free_snr(spark):
    """Reference-free SNR estimate: a speech-like clip (tone bursts
    over a constant noise bed with silent-except-noise pauses) reports
    noise_floor ~= the bed's RMS and est_snr ~= the known burst/bed
    ratio; a constant tone (no pauses) reports est_snr ~= 0; clips
    with fewer than 2 windows emit NULLs. Values match a per-window
    python loop."""
    import numpy as np

    from marshmallow_spark.functions.audio_quality import (
        noise_floor_metrics,
    )

    sr = 8000
    rng = np.random.default_rng(9)
    t = np.arange(2 * sr) / sr  # 2 s -> 20 windows
    bed = 0.01 * rng.standard_normal(2 * sr)
    burst = 0.4 * np.sin(2 * np.pi * 440 * t)
    gate = (np.floor(t / 0.4) % 2 == 0).astype(np.float64)  # 400ms on/off
    speech = np.clip(bed + burst * gate, -1, 1)
    tone = np.clip(0.4 * np.sin(2 * np.pi * 300 * t), -1, 1)

    def pcm16(x):
        return (x * 32767).astype("<i2").tobytes()

    rows = [
        ("speech", pcm16(speech), sr, "pcm16"),
        ("tone", pcm16(tone), sr, "pcm16"),
        ("short", pcm16(np.full(200, 0.1)), sr, "pcm16"),  # 1 window
        ("null", None, sr, "pcm16"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string"
    )
    out = {r.clip_id: r for r in noise_floor_metrics(df).collect()}

    assert out["short"].est_snr_db is None and out["null"].rms_dbfs is None

    # python loop reference for the speech clip
    dec = np.frombuffer(pcm16(speech), dtype="<i2").astype(np.float64) / 32768.0
    w = sr // 10
    pows = [float(np.mean(dec[i * w : (i + 1) * w] ** 2)) for i in range(20)]
    rms_db = 10 * np.log10(max(np.mean(pows), 1e-12))
    noise_db = 10 * np.log10(max(min(pows), 1e-12))
    assert out["speech"].rms_dbfs == pytest.approx(rms_db, abs=1e-9)
    assert out["speech"].noise_floor_dbfs == pytest.approx(noise_db, abs=1e-9)
    assert out["speech"].est_snr_db == pytest.approx(rms_db - noise_db, abs=1e-9)
    # physics: the bed sits ~30 dB under the bursts
    assert 25 < out["speech"].est_snr_db < 40
    # a pause-free constant tone has (nearly) no quiet window
    assert out["tone"].est_snr_db < 3.0
