"""End-to-end suite + checkpoint/resume on the synth clips table."""

import pytest
from pyspark.sql import functions as F

from marshmallow_spark.plans import CheckpointedRun, ClipValidationSuite
from marshmallow_spark.sources.synth import codecs_dim, synth_clips

N = 3000


@pytest.fixture(scope="module")
def clips(spark):
    return synth_clips(spark, N, num_partitions=4)


@pytest.fixture(scope="module")
def suite(spark):
    return ClipValidationSuite(codecs_dim(spark))


def test_suite_detects_every_class(spark, clips, suite):
    v = suite.violations(clips)
    checks = {r["check"] for r in v.select("check").distinct().collect()}
    assert checks == {"structural", "uniqueness", "referential", "audio"}
    fields = {r.field for r in v.select("field").distinct().collect()}
    assert {"sr_hz", "dur_ms", "codec", "transcript", "clip_id", "bytes"} <= fields


def test_known_injections_flagged(spark, clips, suite):
    v = suite.violations(clips).collect()
    by_clip = {}
    for r in v:
        by_clip.setdefault(r.clip_id, set()).add(r.field)
    # schedule: i=1011 -> invalid sr (1009+2? no: 1009*1+11=1020)
    assert "sr_hz" in by_clip[f"clip-{1020:012d}"]       # 1020 % 1009 == 11
    assert "dur_ms" in by_clip[f"clip-{1026:012d}"]      # 1026 % 1013 == 13
    assert "codec" in by_clip[f"clip-{17:012d}"]         # unknown codec
    assert "bytes" in by_clip[f"clip-{3:012d}"]          # corrupted
    assert "transcript" in by_clip[f"clip-{19:012d}"]    # null transcript


def test_clean_table_passes(spark, suite):
    clean = synth_clips(spark, 500, with_violations=False, num_partitions=2)
    v = suite.violations(clean)
    assert v.count() == 0


def test_verdicts_cover_all_rows(spark, clips, suite):
    verd = suite.verdicts(clips)
    agg = verd.agg(F.sum("rows").alias("r"), F.sum("failed_rows").alias("f")).first()
    assert agg.r == N
    assert 0 < agg.f < N


def test_checkpoint_resume(spark, suite, tmp_path):
    df = synth_clips(spark, 1500, num_partitions=4)
    out = str(tmp_path / "run1")
    run = CheckpointedRun(suite, out, num_buckets=8)

    # first invocation: only half the buckets (simulated interruption)
    first = run.run(df, buckets_per_batch=4, max_batches=1)
    assert len(first) == 4
    assert len(run.pending_buckets()) == 4

    # resume: picks up only the remaining buckets
    second = run.run(df, buckets_per_batch=4)
    assert len(second) == 4
    assert run.pending_buckets() == []

    # resumed result == single-shot result
    full = suite.violations(df)
    resumed = run.all_violations(spark)
    a = {(r.clip_id, r.field, r.message) for r in full.collect()}
    b = {(r.clip_id, r.field, r.message) for r in resumed.collect()}
    assert a == b

    # manifests carry lineage + counts
    ms = run.manifests()
    assert len(ms) == 8
    assert sum(m["rows"] for m in ms) == 1500
    assert sum(m["violations"] for m in ms) == len(full.collect())

    # re-running is a no-op
    assert run.run(df) == []


def test_checkpoint_resume_after_kill_mid_commit(spark, tmp_path, monkeypatch):
    """A run killed after its violation rows landed but before the
    manifests (or in the middle of writing one) resumes to exactly the
    single-shot result: no bucket's rows land twice, and a half-written
    manifest never marks its bucket done."""
    from marshmallow_spark.plans import checkpoint

    suite = ClipValidationSuite(codecs_dim(spark), check_audio=False)
    df = synth_clips(spark, 1500, num_partitions=4)
    full = suite.violations(df).collect()
    want = {(r.clip_id, r.field, r.message) for r in full}

    def killed(*args, **kwargs):
        raise RuntimeError("killed")

    def dump_killed(obj, f):
        f.write('{"bucket": ')
        raise RuntimeError("killed")

    for i, (target, name, kill) in enumerate(
        [
            (CheckpointedRun, "_manifest_path", killed),
            (checkpoint.json, "dump", dump_killed),
        ]
    ):
        out = str(tmp_path / f"run{i}")
        with monkeypatch.context() as m:
            m.setattr(target, name, kill)
            with pytest.raises(RuntimeError, match="killed"):
                CheckpointedRun(suite, out, num_buckets=8).run(df)
        run = CheckpointedRun(suite, out, num_buckets=8)
        assert run.completed_buckets() == set()
        run.run(df)
        got = run.all_violations(spark).collect()
        assert len(got) == len(full)
        assert {(r.clip_id, r.field, r.message) for r in got} == want
        ms = run.manifests()
        assert len(ms) == 8
        assert sum(m["violations"] for m in ms) == len(full)


def test_speech_rate_and_audio_dedup_checks(spark):
    """The opt-in validation-tier extras: a transcript wildly out of
    proportion to the claimed duration is a speech_rate violation, and
    a planted cross-codec re-encode of another clip's audio is an
    audio_dedup violation naming the representative — while the
    representative itself stays clean."""
    import numpy as np

    from marshmallow_spark.functions import audio
    from marshmallow_spark.plans.pipeline import ClipValidationSuite
    from marshmallow_spark.sources.synth import synth_clips

    pcm, lens = audio.reference_pcm16_flat(
        np.array([3, 11, 27], dtype=np.int64),
        np.array([8000, 8000, 8000], dtype=np.int64),
        np.array([900, 900, 900], dtype=np.int64),
    )
    seg = pcm[: lens[0]].copy()
    sig2 = pcm[lens[0] : lens[0] + lens[1]].copy()
    sig3 = pcm[lens[0] + lens[1] :].copy()
    clean = synth_clips(spark, 40, with_violations=False, num_partitions=2)
    planted = spark.createDataFrame(
        [
            # master + ulaw re-encode under a different id
            ("zz-master", bytes(seg.astype("<i2").tobytes()), 8000, 900, "pcm16", "x" * 200),
            ("zz-reenc", bytes(audio.ulaw_encode(seg).tobytes()), 8000, 900, "ulaw", "x" * 200),
            # 2 chars claimed over 60 seconds -> 0.03 cps (too slow)
            ("zz-slow", bytes(sig2.astype("<i2").tobytes()), 8000, 60000, "pcm16", "hi"),
            # 3000 chars on 300 ms -> 10000 cps (too fast; the synth
            # corpus's natural range is ~184-1405 cps)
            ("zz-fast", bytes(sig3.astype("<i2").tobytes()), 8000, 300, "pcm16", "x" * 3000),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    df = clean.unionByName(planted, allowMissingColumns=True)
    suite = ClipValidationSuite(
        check_audio=False,
        audio_dedup=True,
        speech_rate_bounds=(100.0, 2000.0),
    )
    v = suite.violations(df)
    rate_rows = {r.clip_id: r.message for r in v.where(v.check == "speech_rate").collect()}
    assert set(rate_rows) == {"zz-slow", "zz-fast"}
    assert "outside [100.0, 2000.0]" in rate_rows["zz-fast"]
    dedup_rows = {r.clip_id: r.message for r in v.where(v.check == "audio_dedup").collect()}
    assert set(dedup_rows) == {"zz-reenc"}
    assert dedup_rows["zz-reenc"] == "Duplicate audio content of clip zz-master."
    # stateless (streaming) path keeps speech_rate, drops the
    # cross-row dedup check
    sv = suite.violations(df, stateless_only=True)
    checks = {r.check for r in sv.collect()}
    assert "speech_rate" in checks and "audio_dedup" not in checks
