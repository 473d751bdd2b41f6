"""Structured Streaming validation: the compiled plan applied to a
file-source stream must produce exactly the batch pass's violations."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from marshmallow_spark import Schema, fields, validate
from marshmallow_spark.streaming import (
    unique_within_watermark,
    validate_stream,
    windowed_verdicts,
)


class EventSchema(Schema):
    event_id = fields.String(required=True, validate=validate.Regexp(r"ev-\d+$"))
    level = fields.String(validate=validate.OneOf(["info", "warn", "error"]))
    score = fields.Integer(validate=validate.Range(min=0, max=100))
    ts = fields.DateTime()

    class Meta:
        row_key = "event_id"
        unknown = "exclude"


def _write_input(spark, path):
    rows = [
        ("ev-1", "info", "10", "2024-01-01T00:00:05"),
        ("ev-2", "fatal", "50", "2024-01-01T00:00:15"),   # bad level
        ("ev-3", "warn", "120", "2024-01-01T00:01:05"),   # bad score
        ("bad-4", "error", "7", "2024-01-01T00:01:20"),   # bad id
        ("ev-5", "info", "not-int", "2024-01-01T00:02:30"),  # bad score type
        ("ev-5", "info", "5", "2024-01-01T00:02:31"),     # duplicate key
    ]
    df = spark.createDataFrame(
        rows, "event_id string, level string, score string, ts string"
    )
    df.repartition(2).write.mode("overwrite").parquet(path)
    return df


@pytest.fixture(scope="module")
def stream_env(spark):
    d = tempfile.mkdtemp(prefix="msk_stream_")
    inp = os.path.join(d, "input")
    batch_df = _write_input(spark, inp)
    yield d, inp, batch_df
    shutil.rmtree(d, ignore_errors=True)


def _read_stream(spark, inp):
    schema = "event_id string, level string, score string, ts string"
    return spark.readStream.schema(schema).parquet(inp)


def test_stream_violations_match_batch(spark, stream_env):
    d, inp, batch_df = stream_env
    sv = validate_stream(EventSchema(), _read_stream(spark, inp))
    q = (
        sv.violations.writeStream.format("memory")
        .queryName("viol_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.field, r.message)
        for r in spark.sql("select * from viol_mem").collect()
    }
    expected = {
        (r.event_id, r.field, r.message)
        for r in EventSchema().validate_df(batch_df).violations.collect()
    }
    assert got == expected
    assert len(got) == 4  # fatal level, 120 range, bad id regexp, not-int cast


def test_stream_violation_parquet_sink_resumable(spark, stream_env):
    d, inp, _ = stream_env
    out = os.path.join(d, "viol_out")
    ckpt = os.path.join(d, "ckpt")
    sv = validate_stream(EventSchema(), _read_stream(spark, inp))
    q = sv.start_violation_sink(out, ckpt, trigger_available_now=True)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    # restart from the checkpoint: no new input -> no duplicate output
    q2 = sv.start_violation_sink(out, ckpt, trigger_available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1 == 4


def test_windowed_verdicts(spark, stream_env):
    d, inp, _ = stream_env
    verd = windowed_verdicts(
        EventSchema(),
        _read_stream(spark, inp),
        "ts",
        window_duration="1 minute",
        watermark_delay="10 minutes",
    )
    # complete mode: append only emits watermark-closed windows, and a
    # finite availableNow input never advances the watermark past the
    # last window
    q = (
        verd.writeStream.format("memory")
        .queryName("verd_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r.window.start.strftime("%H:%M"): (r.rows, r.failed_rows, bool(r.passed))
        for r in spark.sql("select * from verd_mem").collect()
    }
    # minute 0: ev-1 ok, ev-2 bad level; minute 1: ev-3 + bad-4 bad;
    # minute 2: ev-5 bad cast + ev-5 dup (structurally fine)
    assert rows["00:00"] == (2, 1, False)
    assert rows["00:01"] == (2, 2, False)
    assert rows["00:02"] == (2, 1, False)


def test_running_verdicts_accumulate_across_batches(spark, stream_env):
    from marshmallow_spark.streaming import running_verdicts

    d, inp, _ = stream_env
    # one file per micro-batch -> state must carry counts across batches
    sdf = (
        spark.readStream.schema("event_id string, level string, score string, ts string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    rv = running_verdicts(EventSchema(), sdf, "level")
    q = (
        rv.writeStream.format("memory")
        .queryName("runverd_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select group, max(rows) as rows, max(failed_rows) as failed "
        "from runverd_mem group by group"
    ).collect()
    got = {r.group: (r.rows, r.failed) for r in rows}
    # totals over the WHOLE stream: info x3 (one failed: not-int),
    # fatal x1 (failed), warn x1 (failed: 120), error x1 (failed: bad id)
    assert got["info"] == (3, 1)
    assert got["fatal"] == (1, 1)
    assert got["warn"] == (1, 1)
    assert got["error"] == (1, 1)
    # multiple updates for at least one group proves cross-batch state
    n_updates = spark.sql("select count(*) from runverd_mem").collect()[0][0]
    assert n_updates > 4


def test_unique_within_watermark(spark, stream_env):
    d, inp, _ = stream_env
    deduped = unique_within_watermark(
        _read_stream(spark, inp).withColumn("ts", F.to_timestamp("ts")),
        "event_id",
        "ts",
        watermark_delay="10 minutes",
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = [r.event_id for r in spark.sql("select event_id from dedup_mem").collect()]
    assert sorted(ids) == ["bad-4", "ev-1", "ev-2", "ev-3", "ev-5"]


def test_windowed_psi_matches_batch_psi(spark, stream_env):
    """Streaming per-window PSI equals the batch psi() computed from the
    same rows' histogram (drift.py semantics, single fused aggregation)."""
    import math

    from marshmallow_spark.streaming import windowed_psi

    d, inp, batch_df = stream_env
    ref_probs = [0.5, 0.3, 0.15, 0.05]
    sdf = _read_stream(spark, inp).withColumn("ts", F.to_timestamp("ts")).withColumn(
        "score_d", F.col("score").try_cast("double")
    )
    out = windowed_psi(
        sdf, "score_d", "ts", ref_probs, 0.0, 200.0,
        window_duration="10 minutes", watermark_delay="1 minute",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("psi_windows")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("psi_windows").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    got = rows[0]
    # batch recomputation with drift.psi over the same six rows
    from marshmallow_spark.operators.drift import psi

    vals = [
        float(v)
        for v in batch_df.select(F.col("score").try_cast("double")).toPandas()["score"]
        if v is not None and not math.isnan(v)
    ]
    nbins = len(ref_probs)
    counts: dict[int, int] = {}
    for v in vals:
        b = min(max(int((v - 0.0) // (200.0 / nbins)), 0), nbins - 1)
        counts[b] = counts.get(b, 0) + 1
    n = sum(counts.values())
    expected = {i: int(round(ref_probs[i] * 10**9)) for i in range(nbins)}
    want = psi(expected, counts, nbins)
    assert got["rows"] == n
    assert abs(got["psi"] - round(want, 6)) < 2e-6, (got["psi"], want)


def test_windowed_psi_drops_non_numeric_like_batch(spark, tmp_path):
    """A string column holding a non-numeric value: the batch operator
    no longer fails the cast, and it and the windowed PSI both drop the
    value like a NULL, so they agree. The batch reference population
    has exactly the ``ref_probs`` bin shares."""
    from marshmallow_spark.operators.drift import psi_df
    from marshmallow_spark.streaming import windowed_psi

    window = ["10", "abc", "70", "180", "120", "130"]
    inp = str(tmp_path / "values")
    spark.createDataFrame(
        [(v, f"2024-01-01T00:00:{i:02d}") for i, v in enumerate(window)],
        "v string, ts string",
    ).write.parquet(inp)
    ref_probs = [0.5, 0.25, 0.25, 0.0]
    sdf = spark.readStream.schema("v string, ts string").parquet(inp).withColumn(
        "ts", F.to_timestamp("ts")
    )
    q = (
        windowed_psi(sdf, "v", "ts", ref_probs, 0.0, 200.0, window_duration="10 minutes")
        .writeStream.format("memory")
        .queryName("psi_text_windows")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("psi_text_windows").collect()
    finally:
        q.stop()
    batch = spark.createDataFrame(
        [(v, 0) for v in ("10", "20", "60", "110")] + [(v, 1) for v in window],
        "v string, g int",
    )
    want = psi_df(batch, "v", "g", 0.0, 200.0, 4).first()["psi"]
    assert len(rows) == 1 and rows[0]["rows"] == 5
    assert abs(rows[0]["psi"] - want) < 2e-6, (rows[0]["psi"], want)


def test_stream_audio_invariant_matches_batch(spark):
    """The Arrow-batched audio invariant runs unchanged on a file-source
    stream: the streamed violation set equals the batch pass exactly."""
    import tempfile

    from marshmallow_spark.functions.audio import audio_invariant_violations
    from marshmallow_spark.sources.synth import CLIP_SCHEMA, synth_clips

    d = tempfile.mkdtemp(prefix="msk_audio_stream_")
    inp = os.path.join(d, "input")
    try:
        clips = synth_clips(spark, 1500, num_partitions=3)
        clips.write.mode("overwrite").parquet(inp)
        batch_df = spark.read.parquet(inp)
        expected = sorted(
            tuple(r)
            for r in audio_invariant_violations(batch_df)
            .select("clip_id", "field", "message")
            .collect()
        )
        assert expected, "synthetic table must contain audio violations"

        sdf = spark.readStream.schema(CLIP_SCHEMA).parquet(inp)
        out = audio_invariant_violations(sdf).select("clip_id", "field", "message")
        q = (
            out.writeStream.format("memory")
            .queryName("audio_stream_viol")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            tuple(r) for r in spark.sql("SELECT * FROM audio_stream_viol").collect()
        )
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_full_suite_matches_batch_stateless(spark):
    """The flagship ClipValidationSuite on a file-source stream: the
    three stateless checks (structural + referential + audio) produce
    exactly the batch pass's rows; uniqueness is the documented
    cross-batch exception (unique_within_watermark / landed-table
    batch pass)."""
    import tempfile

    from marshmallow_spark.plans import ClipValidationSuite
    from marshmallow_spark.sources.synth import (
        CLIP_SCHEMA,
        codecs_dim,
        synth_clips,
    )

    d = tempfile.mkdtemp(prefix="msk_suite_stream_")
    inp = os.path.join(d, "input")
    try:
        synth_clips(spark, 1500, num_partitions=3).write.mode(
            "overwrite"
        ).parquet(inp)
        suite = ClipValidationSuite(codecs_dim(spark))
        batch_df = spark.read.parquet(inp)
        expected = sorted(
            tuple(r)
            for r in suite.violations(batch_df, stateless_only=True).collect()
        )
        assert expected

        sdf = spark.readStream.schema(CLIP_SCHEMA).parquet(inp)
        q = (
            suite.violations_stream(sdf)
            .writeStream.format("memory")
            .queryName("suite_stream_viol")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            tuple(r) for r in spark.sql("SELECT * FROM suite_stream_viol").collect()
        )
        assert got == expected
        # and the stateless set is the batch set minus uniqueness rows
        full = sorted(
            tuple(r)
            for r in suite.violations(batch_df).collect()
            if r.check != "uniqueness"
        )
        assert full == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_duplicate_keys_in_window_matches_batch(spark):
    """Streaming in-horizon uniqueness violations == the batch
    uniqueness pass when every duplicate lands inside one window.
    Append mode only emits a window once the watermark passes its end,
    so the input carries a late unique sentinel row to advance it."""
    import tempfile

    from marshmallow_spark.operators.uniqueness import uniqueness_violations
    from marshmallow_spark.streaming import duplicate_keys_in_window

    d = tempfile.mkdtemp(prefix="msk_dupwin_")
    inp = os.path.join(d, "input")
    try:
        rows = [
            ("ev-1", "2024-01-01T00:00:05"),
            ("ev-5", "2024-01-01T00:02:30"),
            ("ev-5", "2024-01-01T00:02:31"),
            ("ev-9", "2024-01-01T02:00:00"),  # late sentinel: advances watermark
        ]
        batch_df = spark.createDataFrame(rows, "event_id string, ts string")
        batch_df.repartition(2).write.mode("overwrite").parquet(inp)
        sdf = (
            spark.readStream.schema("event_id string, ts string")
            .parquet(inp)
            .withColumn("ts", F.to_timestamp("ts"))
        )
        dups = duplicate_keys_in_window(
            sdf, "event_id", "ts", watermark_delay="1 minute", window="10 minutes"
        )
        q = (
            dups.writeStream.format("memory")
            .queryName("dupwin_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.row_key, r.field, r.message)
            for r in spark.sql("select * from dupwin_mem").collect()
        }
        want = {
            (r.row_key, r.field, r.message)
            for r in uniqueness_violations(batch_df, "event_id").collect()
        }
        assert got == want == {
            ("ev-5", "event_id", "Duplicate key: appears 2 times.")
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_full_suite_with_uniqueness_matches_batch(spark):
    """violations_stream with the OPT-IN stateful uniqueness check: the
    stream reproduces the ENTIRE batch suite — uniqueness rows included
    — when duplicates fall within the watermark horizon. All clips get
    event times inside one window; one clean late sentinel clip
    advances the watermark so append mode can flush the window."""
    import tempfile

    from marshmallow_spark.plans import ClipValidationSuite
    from marshmallow_spark.sources.synth import (
        CLIP_SCHEMA,
        codecs_dim,
        synth_clips,
    )

    d = tempfile.mkdtemp(prefix="msk_suite_stream_uniq_")
    inp = os.path.join(d, "input")
    try:
        suite = ClipValidationSuite(codecs_dim(spark))
        base = synth_clips(spark, 1500, num_partitions=3)
        # pick a violation-free clip as the sentinel template (it must
        # add no rows of its own to any check)
        bad_ids = {
            r.clip_id for r in suite.violations(base).collect()
        }
        clean_id = base.where(
            ~F.col("clip_id").isin(*bad_ids)
        ).select("clip_id").first()["clip_id"]
        sentinel = base.where(F.col("clip_id") == clean_id).limit(1).withColumn(
            "clip_id", F.lit("zz-sentinel")
        )
        clips = base.unionByName(sentinel).withColumn(
            "ts",
            F.when(
                F.col("clip_id") == "zz-sentinel",
                F.to_timestamp(F.lit("2024-06-01 13:00:00")),
            ).otherwise(
                F.to_timestamp(F.lit("2024-06-01 12:00:00"))
                + F.make_interval(secs=F.crc32(F.col("clip_id")) % 60)
            ),
        )
        clips.write.mode("overwrite").parquet(inp)
        batch_df = spark.read.parquet(inp)
        expected = sorted(
            tuple(r) for r in suite.violations(batch_df).collect()
        )
        assert any(r[3] == "uniqueness" for r in expected)

        sdf = spark.readStream.schema(CLIP_SCHEMA + ", ts timestamp").parquet(inp)
        q = (
            suite.violations_stream(sdf, unique_time_col="ts")
            .writeStream.format("memory")
            .queryName("suite_stream_uniq")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = sorted(
            tuple(r)
            for r in spark.sql("SELECT * FROM suite_stream_uniq").collect()
        )
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_session_stats_stream_matches_batch(spark):
    """Streaming session_window rollup == batch sessionize/session_stats
    on the same input, including exact-gap boundary rows (both sides
    keep them in the SAME session — endpoint-touching windows merge)."""
    import datetime as dt

    from marshmallow_spark.operators.sessions import session_stats
    from marshmallow_spark.streaming import session_stats_stream

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for u in (1, 2, 3):
        t = base
        for i in range(12):
            # irregular gaps: some inside, one exactly at, some beyond
            step = [40, 200, 1800, 95, 3000, 7, 1800, 500, 4000, 3, 11, 1799][i]
            t = t + dt.timedelta(seconds=step * (1 if u != 2 else 2))
            rows.append((u, t))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    # sentinel event far in the future: advances the watermark past
    # every real session so append mode emits them all (session-window
    # aggregation supports append only); excluded from the comparison
    sentinel = spark.createDataFrame(
        [(999, base + dt.timedelta(days=2))], "user_id long, ts timestamp"
    )

    d = tempfile.mkdtemp(prefix="msk_sess_")
    try:
        inp = os.path.join(d, "input")
        df.unionByName(sentinel).write.parquet(inp)
        sdf = spark.readStream.schema("user_id long, ts timestamp").parquet(inp)
        stream = session_stats_stream(
            sdf, "user_id", "ts", gap="30 minutes", watermark_delay="1 hour"
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("sess_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events, r.duration_us)
            for r in spark.sql("select * from sess_mem").collect()
            if r.user_id != 999
        }
        batch = {
            (r.user_id, r.session_start, r.session_end, r.n_events, r.duration_us)
            for r in session_stats(df, "user_id", "ts", gap="30 minutes")
            .select("user_id", "session_start", "session_end", "n_events", "duration_us")
            .collect()
        }
        assert got == batch
        assert len(batch) > 3  # the gaps really split sessions
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_pii_scan_matches_batch(spark):
    """Stateless text-pipeline ops run unchanged on streaming frames:
    pii_scan over a parquet stream emits exactly the batch rows (same
    counts, same has_pii), with no watermark or state needed."""
    import shutil
    import tempfile

    from marshmallow_spark.operators.text import pii_scan

    d = tempfile.mkdtemp(prefix="msk_pii_stream_")
    try:
        inp = os.path.join(d, "docs")
        rows = [
            (1, "write to a.b@example.org today"),
            (2, "call 555-867-5309 or visit 10.0.0.7 now"),
            (3, "perfectly clean document text"),
        ]
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        bdf.write.mode("overwrite").parquet(inp)
        want = sorted(
            tuple(r) for r in pii_scan(bdf, "doc_id", "text").collect()
        )
        sdf = spark.readStream.schema("doc_id long, text string").parquet(inp)
        q = (
            pii_scan(sdf, "doc_id", "text")
            .writeStream.format("memory")
            .queryName("pii_stream")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = sorted(
                tuple(r) for r in spark.sql("SELECT * FROM pii_stream").collect()
            )
        finally:
            q.stop()
        assert got == want and len(got) == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_landed_unique_sink_catches_cross_batch_duplicates(spark):
    """Cross-batch uniqueness via the landed key index (r4 verdict #6):
    duplicates that STRADDLE stream restarts — invisible to any
    watermark-bounded check — are caught by the index anti-join, the
    accepted table lands exactly one row per key, and the final
    violation row per key equals the batch uniqueness pass over the
    same rows. A re-run against the committed markers is a no-op."""
    import tempfile

    from marshmallow_spark.operators.uniqueness import uniqueness_violations
    from marshmallow_spark.streaming import landed_unique_sink

    d = tempfile.mkdtemp(prefix="msk_landed_")
    inp = os.path.join(d, "input")
    out = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    schema = "event_id string, payload string"
    try:
        rows1 = [("k1", "a"), ("k2", "b")]
        rows2 = [("k2", "c"), ("k3", "d"), ("k3", "e")]
        spark.createDataFrame(rows1, schema).write.mode("append").parquet(inp)

        def run():
            sdf = spark.readStream.schema(schema).parquet(inp)
            q = landed_unique_sink(
                sdf, "event_id", out,
                checkpoint_dir=ckpt, trigger_available_now=True,
            )
            q.awaitTermination(120)

        run()
        acc1 = spark.read.parquet(os.path.join(out, "accepted"))
        assert sorted(r.event_id for r in acc1.collect()) == ["k1", "k2"]
        assert spark.read.parquet(os.path.join(out, "violations")).count() == 0

        # second tranche lands AFTER the first stream finished — the
        # k2 duplicate straddles two independent runs
        spark.createDataFrame(rows2, schema).write.mode("append").parquet(inp)
        run()
        acc2 = spark.read.parquet(os.path.join(out, "accepted"))
        assert sorted(r.event_id for r in acc2.collect()) == ["k1", "k2", "k3"]
        got = {
            (r.row_key, r.field, r.message)
            for r in spark.read.parquet(os.path.join(out, "violations")).collect()
        }
        batch_all = spark.createDataFrame(rows1 + rows2, schema)
        want = {
            tuple(r)
            for r in uniqueness_violations(batch_all, "event_id").collect()
        }
        assert got == want == {
            ("k2", "event_id", "Duplicate key: appears 2 times."),
            ("k3", "event_id", "Duplicate key: appears 2 times."),
        }

        # exactly-once: re-running with no new input must change nothing
        run()
        acc3 = spark.read.parquet(os.path.join(out, "accepted"))
        assert sorted(r.event_id for r in acc3.collect()) == ["k1", "k2", "k3"]
        got3 = {
            (r.row_key, r.field, r.message)
            for r in spark.read.parquet(os.path.join(out, "violations")).collect()
        }
        assert got3 == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_fused_quality_suite_matches_batch(spark):
    """The quality-gated suite streams through the FUSED single-decode
    path (mapInArrow is stateless per micro-batch): stream rows ==
    batch rows including the audio_quality check."""
    import tempfile

    from marshmallow_spark.plans import ClipValidationSuite
    from marshmallow_spark.sources.synth import (
        CLIP_SCHEMA,
        codecs_dim,
        synth_clips,
    )

    d = tempfile.mkdtemp(prefix="msk_fused_stream_")
    inp = os.path.join(d, "input")
    try:
        synth_clips(spark, 1200, num_partitions=3).write.mode(
            "overwrite"
        ).parquet(inp)
        qt = {"min_rms_dbfs": -60.0, "max_abs_dc_offset": 0.029}
        suite = ClipValidationSuite(codecs_dim(spark), quality_thresholds=qt)
        batch_df = spark.read.parquet(inp)
        expected = sorted(
            tuple(r)
            for r in suite.violations(batch_df, stateless_only=True).collect()
        )
        assert any(r[3] == "audio_quality" for r in expected)

        sdf = spark.readStream.schema(CLIP_SCHEMA).parquet(inp)
        q = (
            suite.violations_stream(sdf)
            .writeStream.format("memory")
            .queryName("fused_stream_viol")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            tuple(r)
            for r in spark.sql("SELECT * FROM fused_stream_viol").collect()
        )
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_transcript_consistency_matches_batch(spark):
    """The cross-modal VAD check (transcript_consistency=) is stateless
    per-row, so violations_stream must emit the same transcript_audio
    rows as the batch suite — planted silent-with-transcript and
    speech-with-empty-transcript pairs straddle two micro-batch files."""
    import tempfile

    import numpy as np

    from marshmallow_spark.plans import ClipValidationSuite
    from marshmallow_spark.sources.synth import (
        CLIP_SCHEMA,
        codecs_dim,
        synth_clips,
    )

    d = tempfile.mkdtemp(prefix="msk_tc_stream_")
    inp = os.path.join(d, "input")
    try:
        sr = 8000
        t = np.arange(sr, dtype=np.float64)
        tone = (0.4 * np.sin(2 * np.pi * 330.0 * t / sr) * 32767).astype("<i2")
        planted = spark.createDataFrame(
            [
                ("zz-silent-tx", bytes(np.zeros(sr, "<i2").tobytes()), sr, 1000, "pcm16", "w" * 40),
                ("zz-speech-notx", bytes(tone.tobytes()), sr, 1000, "pcm16", ""),
            ],
            CLIP_SCHEMA,
        )
        synth_clips(spark, 600, num_partitions=2).unionByName(
            planted
        ).repartition(3).write.mode("overwrite").parquet(inp)
        suite = ClipValidationSuite(
            codecs_dim(spark), check_audio=False, transcript_consistency={}
        )
        batch_df = spark.read.parquet(inp)
        expected = sorted(
            tuple(r)
            for r in suite.violations(batch_df, stateless_only=True).collect()
        )
        tc_rows = [r for r in expected if r[3] == "transcript_audio"]
        assert {r[0] for r in tc_rows} >= {"zz-silent-tx", "zz-speech-notx"}

        sdf = spark.readStream.schema(CLIP_SCHEMA).option(
            "maxFilesPerTrigger", 1
        ).parquet(inp)
        q = (
            suite.violations_stream(sdf)
            .writeStream.format("memory")
            .queryName("tc_stream_viol")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            tuple(r)
            for r in spark.sql("SELECT * FROM tc_stream_viol").collect()
        )
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_landed_unique_sink_partial_failure_retry_idempotent(spark):
    """The crash window of any multi-directory batch: some outputs
    written, the commit marker not yet.  Replaying the SAME batch id
    must rewrite the batch-scoped partitions instead of appending —
    otherwise the index double-counts the batch and every later
    verdict inflates ('appears 3 times.' for a twice-seen key)."""
    import tempfile

    from marshmallow_spark.streaming import landed_unique_batch_processor

    d = tempfile.mkdtemp(prefix="msk_landed_retry_")
    schema = "event_id string, payload string"
    proc = landed_unique_batch_processor("event_id", d, ["event_id", "payload"])

    b0 = spark.createDataFrame([("k1", "a"), ("k2", "b")], schema)
    proc(b0, 0)
    # simulate the partial-failure retry: all of batch 0's directories
    # landed but the marker did not -> the framework replays batch 0
    os.remove(os.path.join(d, "_batches", f"{0:020d}"))
    proc(b0, 0)

    idx = spark.read.parquet(os.path.join(d, "index"))
    assert {(r.event_id, r.n) for r in idx.collect()} == {("k1", 1), ("k2", 1)}
    acc = spark.read.parquet(os.path.join(d, "accepted"))
    assert sorted(r.event_id for r in acc.collect()) == ["k1", "k2"]

    # a later batch sees the correct (not doubled) priors
    b1 = spark.createDataFrame([("k2", "c")], schema)
    proc(b1, 1)
    got = {
        (r.row_key, r.message)
        for r in spark.read.parquet(os.path.join(d, "violations")).collect()
    }
    assert got == {("k2", "Duplicate key: appears 2 times.")}


def test_windowed_audio_quality_psi_matches_batch(spark):
    """Streaming per-window PSI over DECODED rms_dbfs equals the batch
    psi() over the same clips' metrics: the stateless quality kernel
    (with event-time passthrough) feeds windowed_psi's single fused
    aggregation unchanged."""
    import math
    import tempfile

    from marshmallow_spark.functions.audio_quality import (
        audio_quality_metrics,
    )
    from marshmallow_spark.operators.drift import psi
    from marshmallow_spark.sources.synth import synth_clips
    from marshmallow_spark.streaming import windowed_audio_quality_psi

    d = tempfile.mkdtemp(prefix="msk_aqpsi_")
    clips = synth_clips(spark, 200, with_violations=True, num_partitions=2)
    with_ts = clips.withColumn(
        "ts", F.to_timestamp(F.lit("2026-01-01 00:05:00"))
    )
    with_ts.write.mode("overwrite").parquet(d)
    ref_probs = [0.1, 0.2, 0.4, 0.2, 0.1]
    sdf = spark.readStream.schema(with_ts.schema).parquet(d)
    out = windowed_audio_quality_psi(
        sdf, ref_probs, feature="rms_dbfs", lo=-80.0, hi=0.0,
        window_duration="10 minutes", watermark_delay="1 minute",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("aq_psi_windows")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("aq_psi_windows").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    got = rows[0]

    vals = [
        float(r["rms_dbfs"])
        for r in audio_quality_metrics(spark.read.parquet(d)).collect()
        if r["rms_dbfs"] is not None and not math.isnan(r["rms_dbfs"])
    ]
    nbins = len(ref_probs)
    counts: dict[int, int] = {}
    for v in vals:
        b = min(max(int((v - -80.0) // (80.0 / nbins)), 0), nbins - 1)
        counts[b] = counts.get(b, 0) + 1
    n = sum(counts.values())
    assert n > 100  # decodable majority actually measured
    expected = {i: int(round(ref_probs[i] * 10**9)) for i in range(nbins)}
    want = psi(expected, counts, nbins)
    assert got["rows"] == n
    assert abs(got["psi"] - round(want, 6)) < 2e-6, (got["psi"], want)
