"""Golden-diff for the clips_* driver queries (round-2 verdict item 5).

The clips_* queries are `no_oracle` in the driver contract (audio
decode / SNR is not SQL-expressible), so until now only row COUNTS were
pinned. These tests recompute the exact expected violation SET in plain
numpy from the documented violation schedule (sources/synth.py module
docstring) and diff it against each query's output:

- clips_structural_violations: exact (clip_id, field, message) multiset
- clips_full_suite: exact 4-tuple multiset across all four checks
  (SNR messages matched with the independently recomputed SNR value)
- clips_audio_invariant: exact multiset, same SNR handling
- audio_invariant_violations over the UNFILTERED corpus: exact multiset,
  covering the kernel's own gating (unknown codec, mismatched sr_hz,
  non-positive dur_ms) that the query's pre-filter hides
- clips_verdicts: exact per-bucket rollup rows derived from the golden
  per-clip violation counts

The expected side shares ONLY the reference-PCM generator and decode
LUTs with the engine (they ARE the reference definition); which rows
violate, with which field and message, is derived here independently of
the Spark plumbing and of check_invariant_arrow_batch.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from marshmallow_spark.functions import audio
from marshmallow_spark.queries import N_CLIPS, QUERIES
from marshmallow_spark.sources.synth import (
    CODEC_CHOICES,
    HOT_INDEX,
    SR_CHOICES,
)

DUR_LO, DUR_HI = 40, 120

MSG_SR = "Must be one of: 8000, 16000, 22050, 44100."
MSG_DUR = "Must be greater than or equal to 1 and less than or equal to 600000."
MSG_NULL = "Field may not be null."
MSG_TX = "Transcript does not match reference."
MSG_CODEC = "Must be one of: pcm16, ulaw, alaw."
SNR_RE = re.compile(
    r"^Audio does not match reference: SNR (-?\d+\.\d) dB < 30 dB\.$"
)


def _schedule(n: int):
    """Replicate the deterministic violation schedule row-by-row."""
    idx = np.arange(n, dtype=np.int64)
    content = idx.copy()
    dup = (idx % 997 == 1) & (idx > 0)
    content[dup] = idx[dup] - 1
    hot = idx % 100 == 7
    content[hot] = HOT_INDEX

    sr = SR_CHOICES[content % 4]
    dur = (DUR_LO + (content * 37) % (DUR_HI - DUR_LO)).astype(np.int64)
    codec = CODEC_CHOICES[content % 3].astype(object)

    sr_out = sr.copy()
    dur_out = dur.copy()
    codec_out = codec.copy()
    sr_out[idx % 1009 == 11] = 12345
    dur_out[idx % 1013 == 13] = -5
    codec_out[idx % 1019 == 17] = "opus"

    return {
        "idx": idx,
        "content": content,
        "clip_id": np.array([f"clip-{c:012d}" for c in content], dtype=object),
        "sr": sr,
        "dur": dur,
        "codec": codec,
        "sr_out": sr_out,
        "dur_out": dur_out,
        "codec_out": codec_out,
        "null_tx": idx % 983 == 19,
        "bad_tx": idx % 977 == 23,
        "corrupt": idx % 499 == 3,
        "trunc": idx % 991 == 5,
    }


def _expected_structural(s) -> list[tuple]:
    out = []
    for i in np.flatnonzero(s["sr_out"] == 12345):
        out.append((s["clip_id"][i], "sr_hz", MSG_SR))
    for i in np.flatnonzero(s["dur_out"] == -5):
        out.append((s["clip_id"][i], "dur_ms", MSG_DUR))
    for i in np.flatnonzero(s["null_tx"]):
        out.append((s["clip_id"][i], "transcript", MSG_NULL))
    return out


def _expected_uniqueness(s) -> list[tuple]:
    ids, counts = np.unique(s["clip_id"], return_counts=True)
    return [
        (k, "clip_id", f"Duplicate key: appears {c} times.")
        for k, c in zip(ids, counts)
        if c > 1
    ]


def _expected_referential(s) -> list[tuple]:
    return [
        (s["clip_id"][i], "codec", "Value not present in reference table: opus.")
        for i in np.flatnonzero(np.array([c == "opus" for c in s["codec_out"]]))
    ]


def _payload_for(i: int, s) -> bytes:
    """Rebuild row i's payload exactly as the generator does (encode the
    reference PCM, then apply the corruption/truncation schedule)."""
    c_idx = np.array([s["content"][i]])
    sr = np.array([s["sr"][i]])
    dur = np.array([s["dur"][i]])
    pcm16, _ = audio.reference_pcm16_flat(c_idx, sr, dur)
    pcm16 = pcm16.copy()
    codec = s["codec"][i]
    if codec == "pcm16":
        raw = pcm16.astype("<i2").tobytes()
    elif codec == "ulaw":
        raw = audio.ulaw_encode(pcm16).tobytes()
    else:
        raw = audio.alaw_encode(pcm16).tobytes()
    if s["corrupt"][i]:
        b = bytearray(raw)
        stride = max(1, len(b) // 64)
        b[::stride] = bytes((x ^ 0xE0) & 0xFF for x in b[::stride])
        raw = bytes(b)
    if s["trunc"][i]:
        raw = raw[: int(len(raw) * 0.9)]
    return raw


def _snr_for(i: int, s) -> float:
    """Independent SNR: decode row i's (corrupted) payload and compare
    against the reference PCM with the plain textbook formula."""
    raw = _payload_for(i, s)
    codec = s["codec"][i]
    if codec == "pcm16":
        dec = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    else:
        lut = audio.ULAW_DECODE_LUT if codec == "ulaw" else audio.ALAW_DECODE_LUT
        dec = lut[np.frombuffer(raw, dtype=np.uint8)].astype(np.float64) / 32768.0
    ref, _ = audio.reference_pcm_flat(
        np.array([s["content"][i]]),
        np.array([s["sr"][i]]),
        np.array([s["dur"][i]]),
    )
    ref = ref.astype(np.float64).copy()
    err = ref - dec
    return float(10.0 * np.log10(np.sum(ref * ref) / np.sum(err * err)))


def _audio_candidates(s) -> np.ndarray:
    """Rows that reach the audio check: structurally decodable."""
    valid_sr = np.isin(s["sr_out"], SR_CHOICES)
    known = np.array([c in audio.KNOWN_CODECS for c in s["codec_out"]])
    return valid_sr & (s["dur_out"] > 0) & known


def _expected_audio(s):
    """Exact rows for truncation/transcript; (clip_id, snr) for SNR."""
    cand = _audio_candidates(s)
    exact, snr_rows = [], {}
    for i in np.flatnonzero(cand & s["trunc"]):
        w = audio.SAMPLE_WIDTH[s["codec_out"][i]]
        expected = int((s["sr_out"][i] * s["dur_out"][i]) // 1000) * w
        got = int(expected * 0.9)
        exact.append(
            (
                s["clip_id"][i],
                "bytes",
                f"Truncated audio payload: expected {expected} bytes, got {got}.",
            )
        )
    for i in np.flatnonzero(cand & s["corrupt"] & ~s["trunc"]):
        snr = _snr_for(i, s)
        assert snr < audio.SNR_THRESHOLD_DB, (i, snr)
        snr_rows[s["clip_id"][i]] = snr
    for i in np.flatnonzero(cand & s["bad_tx"] & ~s["null_tx"]):
        exact.append((s["clip_id"][i], "transcript", MSG_TX))
    return exact, snr_rows


def _expected_invariant_unfiltered(s):
    """Exact rows / (clip_id, snr) of the invariant kernel over every
    row: an unknown codec is a codec violation; a known codec with
    dur_ms <= 0 is skipped; otherwise a payload whose length is not
    n_samples(sr_hz, dur_ms) * width (truncated, or generated at a
    different sr_hz than the row claims) is a truncation violation, and
    a full-length corrupted payload an SNR violation. Transcripts are
    checked on every row."""
    known = np.array([c in audio.KNOWN_CODECS for c in s["codec_out"]])
    exact, snr_rows = [], {}
    for i in np.flatnonzero(~known):
        exact.append((s["clip_id"][i], "codec", MSG_CODEC))
    for i in np.flatnonzero(known & (s["dur_out"] > 0)):
        w = audio.SAMPLE_WIDTH[s["codec_out"][i]]
        expected = int((s["sr_out"][i] * s["dur_out"][i]) // 1000) * w
        got = len(_payload_for(i, s))
        if got != expected:
            exact.append(
                (
                    s["clip_id"][i],
                    "bytes",
                    f"Truncated audio payload: expected {expected} bytes, got {got}.",
                )
            )
        elif s["corrupt"][i]:
            snr_rows[s["clip_id"][i]] = _snr_for(i, s)
    for i in np.flatnonzero(s["bad_tx"] & ~s["null_tx"]):
        exact.append((s["clip_id"][i], "transcript", MSG_TX))
    return exact, snr_rows


def _split_snr(rows: list[tuple]) -> tuple[list[tuple], dict[str, float]]:
    """Partition actual (clip_id, field, message) rows into exact rows
    and SNR rows (clip_id -> parsed dB)."""
    exact, snr = [], {}
    for r in rows:
        m = SNR_RE.match(r[2])
        if m and r[1] == "bytes":
            assert r[0] not in snr, f"two SNR rows for {r[0]}"
            snr[r[0]] = float(m.group(1))
        else:
            exact.append(r)
    return exact, snr


def _check_snr(actual: dict[str, float], expected: dict[str, float]):
    assert sorted(actual) == sorted(expected)
    for k, v in expected.items():
        assert abs(actual[k] - v) <= 0.1, (k, actual[k], v)


@pytest.fixture(scope="module")
def sched():
    return _schedule(N_CLIPS)


def test_structural_exact_set(spark, sf_dir, sched):
    rows = [tuple(r) for r in QUERIES["clips_structural_violations"](spark, sf_dir).collect()]
    assert sorted(rows) == sorted(_expected_structural(sched))


def test_audio_invariant_exact_set(spark, sf_dir, sched):
    rows = [tuple(r) for r in QUERIES["clips_audio_invariant"](spark, sf_dir).collect()]
    got_exact, got_snr = _split_snr(rows)
    exp_exact, exp_snr = _expected_audio(sched)
    assert sorted(got_exact) == sorted(exp_exact)
    _check_snr(got_snr, exp_snr)


def test_audio_invariant_unfiltered_exact_set(spark, sched):
    from marshmallow_spark.sources.synth import synth_clips

    df = synth_clips(spark, N_CLIPS, num_partitions=8)
    rows = [
        tuple(r)
        for r in audio.audio_invariant_violations(df)
        .select("clip_id", "field", "message")
        .collect()
    ]
    got_exact, got_snr = _split_snr(rows)
    exp_exact, exp_snr = _expected_invariant_unfiltered(sched)
    assert sorted(got_exact) == sorted(exp_exact)
    _check_snr(got_snr, exp_snr)
    # the corpus exercises every gate the pre-filtered query hides
    known = np.array([c in audio.KNOWN_CODECS for c in sched["codec_out"]])
    bad_sr = set(sched["clip_id"][known & (sched["sr_out"] == 12345) & (sched["dur_out"] > 0)])
    bad_dur = set(sched["clip_id"][known & (sched["dur_out"] <= 0)])
    assert bad_sr and bad_dur
    assert any(r[2] == MSG_CODEC for r in got_exact)
    assert bad_sr <= {r[0] for r in got_exact if r[2].startswith("Truncated")}
    assert not bad_dur & {r[0] for r in rows if r[1] == "bytes"}


def test_full_suite_exact_set(spark, sf_dir, sched):
    rows = [tuple(r) for r in QUERIES["clips_full_suite"](spark, sf_dir).collect()]
    got_exact, got_snr = _split_snr([r[:3] for r in rows])
    exp_audio_exact, exp_snr = _expected_audio(sched)
    expected_exact = (
        _expected_structural(sched)
        + _expected_uniqueness(sched)
        + _expected_referential(sched)
        + exp_audio_exact
    )
    assert sorted(got_exact) == sorted(expected_exact)
    _check_snr(got_snr, exp_snr)
    # the check column tags every row with its stage
    by_check = {}
    for r in rows:
        by_check.setdefault(r[3], 0)
        by_check[r[3]] += 1
    assert by_check["structural"] == len(_expected_structural(sched))
    assert by_check["uniqueness"] == len(_expected_uniqueness(sched))
    assert by_check["referential"] == len(_expected_referential(sched))
    assert by_check["audio"] == len(exp_audio_exact) + len(exp_snr)


def test_verdicts_exact_rollup(spark, sf_dir, sched):
    """Per-bucket verdict rows derived from the golden per-clip counts.
    Bucket identity (pmod of Spark's murmur3 hash) is evaluated with a
    one-column Spark expression — the counts being rolled up are the
    independent golden values."""
    nbuckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    exp_audio_exact, exp_snr = _expected_audio(sched)
    per_clip: dict[str, int] = {}
    for cid, _f, _m in (
        _expected_structural(sched)
        + _expected_uniqueness(sched)
        + _expected_referential(sched)
        + exp_audio_exact
    ):
        per_clip[cid] = per_clip.get(cid, 0) + 1
    for cid in exp_snr:
        per_clip[cid] = per_clip.get(cid, 0) + 1

    ids = [(cid,) for cid in sched["clip_id"]]
    bucket_df = spark.createDataFrame(ids, "clip_id string").select(
        "clip_id", F.pmod(F.hash("clip_id"), F.lit(nbuckets)).alias("bucket")
    )
    bucket_of = {r["clip_id"]: r["bucket"] for r in bucket_df.distinct().collect()}

    expected = {}
    for cid in sched["clip_id"]:
        b = bucket_of[cid]
        st = expected.setdefault(b, [0, 0, 0])
        st[0] += 1
        nv = per_clip.get(cid, 0)
        if nv > 0:
            st[1] += 1
            st[2] += nv
    expected_rows = sorted(
        (b, rows, failed, viol, rows - failed, failed == 0)
        for b, (rows, failed, viol) in expected.items()
    )
    got = sorted(
        tuple(r)
        for r in QUERIES["clips_verdicts"](spark, sf_dir)
        .select(
            "bucket", "rows", "failed_rows", "violation_count", "passed_rows", "passed"
        )
        .collect()
    )
    assert got == expected_rows
