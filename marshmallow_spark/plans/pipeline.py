"""The flagship validation pipeline over the canonical clips table.

Implements the check planner of SURVEY.md §4.2: checks are staged so

  1. row-level structural checks run in ONE codegen'd projection
     (never reading ``bytes`` — column pruning keeps the heavy payload
     off the scan for this stage),
  2. dataset-level checks (uniqueness / referential / stats) run as
     aggregations and broadcast anti-joins,
  3. the expensive audio-decode Arrow UDF runs LAST and only over rows
     that passed the structural stage — the columnar rendering of
     ``skip_on_field_errors`` (/root/reference/src/marshmallow/
     schema.py:1162-1163).

Violation streams are ``unionByName``-ed (merge_errors parity, E3/A10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fields, validate
from ..functions import audio
from ..operators.referential import referential_check
from ..operators.uniqueness import uniqueness_violations
from ..schema import EXCLUDE, Schema


class ClipSchema(Schema):
    """Declarative spec for the canonical input table
    (BASELINE.json input_hint)."""

    clip_id = fields.String(
        required=True, validate=validate.Regexp(r"clip-\d{12}$")
    )
    sr_hz = fields.Integer(
        required=True, validate=validate.OneOf([8000, 16000, 22050, 44100])
    )
    dur_ms = fields.Integer(
        required=True, validate=validate.Range(min=1, max=600000)
    )
    codec = fields.String(required=True)
    transcript = fields.String(allow_none=False)

    class Meta:
        row_key = "clip_id"
        unknown = EXCLUDE  # ignore the raw bytes column at this stage


VIOLATION_COLUMNS = ("clip_id", "field", "message")


class ClipValidationSuite:
    """Full constraint suite: structural + uniqueness + referential +
    audio invariant, with staged skip semantics."""

    def __init__(
        self,
        codecs_dim: DataFrame | None = None,
        *,
        check_audio: bool = True,
        salted_uniqueness: bool = False,
        quality_thresholds: dict | None = None,
        audio_dedup: bool = False,
        speech_rate_bounds: tuple[float, float] | None = None,
        transcript_consistency: dict | None = None,
    ):
        """``quality_thresholds`` opts in the signal-quality gate
        (functions/audio_quality.quality_violations): keys are that
        function's keyword args, e.g. ``{"min_rms_dbfs": -60.0,
        "max_clipping_ratio": 0.001}``.

        When both the invariant and the quality gate are on, the two
        checks run FUSED — one decode of ``bytes`` feeds both
        (functions/audio_quality.fused_audio_violations), with the same
        violation rows as audio_invariant_violations over the
        structurally plausible rows plus quality_violations over the
        decodable ones (pinned by tests).

        ``audio_dedup=True`` opts in CONTENT-level uniqueness: clips
        whose acoustic fingerprints collide (functions/
        audio_fingerprint — same recording under a different clip_id,
        codec, or sample rate) emit a violation for every cluster
        member except the minimum-id representative. Pass a dict
        instead of True to tune the fingerprint (e.g.
        ``{"min_windows": 2}`` for sub-second-clip corpora — kwargs of
        fingerprint_duplicate_clusters). A dataset-level (cross-row)
        check like uniqueness, so it is batch-only in
        violations_stream (route streams through the landed-table
        pass for it).

        ``speech_rate_bounds=(min_cps, max_cps)`` opts in the
        transcript-vs-duration plausibility check: transcript
        characters per second of claimed audio outside the bounds is
        a violation (a garbled pairing detector: a 2-word transcript
        on a 10-minute clip, or a paragraph on 300 ms). Pure codegen
        over (transcript, dur_ms) — never reads ``bytes``.

        ``transcript_consistency={...}`` opts in the CROSS-MODAL
        agreement checks (functions/audio_vad.
        transcript_consistency_violations — kwargs of that function,
        ``{}`` for defaults): energy-VAD speech activity from a decode
        of ``bytes`` vs the transcript — transcript-on-silent-audio,
        speech-with-empty-transcript, and (with ``rate_bounds=``)
        chars-per-ACTIVE-second plausibility. The decode-aware
        counterpart of ``speech_rate_bounds``; stateless per-row, so
        it runs in violations_stream too."""
        self.schema = ClipSchema()
        self.codecs_dim = codecs_dim
        self.check_audio = check_audio
        self.salted_uniqueness = salted_uniqueness
        self.quality_thresholds = quality_thresholds
        self.audio_dedup = audio_dedup
        self.speech_rate_bounds = speech_rate_bounds
        self.transcript_consistency = transcript_consistency

    def violations_stream(
        self,
        sdf: DataFrame,
        *,
        unique_time_col: str | None = None,
        watermark_delay: str = "10 minutes",
        unique_window: str = "10 minutes",
    ) -> DataFrame:
        """The suite applied to a STREAMING clips source: structural +
        referential + audio are stateless (one projection / broadcast
        join / Arrow map per micro-batch) and run unchanged.

        Uniqueness inherently needs cross-batch state; pass
        ``unique_time_col`` to OPT IN to the stateful in-horizon check
        (streaming.duplicate_keys_in_window): one watermarked windowed
        aggregation whose state is bounded by the horizon, emitting the
        batch uniqueness pass's violation rows for keys duplicated
        within ``unique_window``. Duplicates farther apart than the
        horizon have TWO homes: the batch uniqueness pass over the
        landed table, or — to catch them in-flight — route the stream
        through ``streaming.landed_unique_sink``, whose foreachBatch
        anti-join against the persisted key index has no horizon at
        all (state lives in the written index, not executor memory)."""
        out = self.violations(sdf, stateless_only=True)
        if unique_time_col is not None:
            from ..streaming import duplicate_keys_in_window

            dups = duplicate_keys_in_window(
                sdf,
                "clip_id",
                unique_time_col,
                watermark_delay=watermark_delay,
                window=unique_window,
            ).select(
                F.col("row_key").alias("clip_id"),
                "field",
                "message",
                F.lit("uniqueness").alias("check"),
            )
            out = out.unionByName(dups)
        return out

    def violations(
        self, df: DataFrame, *, stateless_only: bool = False
    ) -> DataFrame:
        """Union of every check's violation rows (clip_id, field,
        message, check)."""
        structural = self.schema.validate_df(df.drop("bytes"))
        parts: list[DataFrame] = [
            structural.violations.select(
                F.col("clip_id").cast("string").alias("clip_id"),
                "field",
                "message",
                F.lit("structural").alias("check"),
            )
        ]

        if not stateless_only:
            uniq = uniqueness_violations(
                df, "clip_id", salted=self.salted_uniqueness
            ).select(
                F.col("row_key").alias("clip_id"),
                "field",
                "message",
                F.lit("uniqueness").alias("check"),
            )
            parts.append(uniq)

        if self.codecs_dim is not None:
            ref = referential_check(
                df.select("clip_id", "codec"),
                "codec",
                self.codecs_dim,
                "codec",
                row_key="clip_id",
                broadcast=True,
            ).select(
                F.col("row_key").alias("clip_id"),
                "field",
                "message",
                F.lit("referential").alias("check"),
            )
            parts.append(ref)

        decodable_pred = (
            F.col("sr_hz").isin(8000, 16000, 22050, 44100)
            & (F.col("dur_ms") > 0)
            & F.col("codec").isin(*audio.KNOWN_CODECS)
            & F.col("bytes").isNotNull()
        )
        if self.check_audio and self.quality_thresholds:
            # one decode of ``bytes`` serves both audio checks; the
            # invariant's structural pre-filter rides into the kernel
            # as _inv_eligible so the quality gate still measures every
            # decodable clip
            from ..functions.audio_quality import fused_audio_violations

            parts.append(
                fused_audio_violations(
                    df,
                    invariant_filter=decodable_pred,
                    **self.quality_thresholds,
                )
            )
        elif self.check_audio:
            # skip_on_field_errors: decode only structurally-plausible rows
            inv = audio.audio_invariant_violations(
                df.where(decodable_pred)
            ).select(
                "clip_id", "field", "message", F.lit("audio").alias("check")
            )
            parts.append(inv)
        elif self.quality_thresholds:
            from ..functions.audio_quality import quality_violations

            q = quality_violations(
                df.where(
                    F.col("codec").isin(*audio.KNOWN_CODECS)
                    & F.col("bytes").isNotNull()
                ),
                **self.quality_thresholds,
            ).select(
                F.col("clip_id").cast("string").alias("clip_id"),
                "field",
                "message",
                F.lit("audio_quality").alias("check"),
            )
            parts.append(q)

        if self.speech_rate_bounds is not None:
            lo, hi = (float(b) for b in self.speech_rate_bounds)
            rate = F.length("transcript") / (F.col("dur_ms") / F.lit(1000.0))
            parts.append(
                df.where(
                    F.col("transcript").isNotNull()
                    & (F.col("dur_ms") > 0)
                    & ((rate < F.lit(lo)) | (rate > F.lit(hi)))
                ).select(
                    F.col("clip_id").cast("string").alias("clip_id"),
                    F.lit("transcript").alias("field"),
                    F.format_string(
                        "Transcript rate %.1f chars/sec outside [%.1f, %.1f].",
                        rate,
                        F.lit(lo),
                        F.lit(hi),
                    ).alias("message"),
                    F.lit("speech_rate").alias("check"),
                )
            )

        if self.transcript_consistency is not None:
            from ..functions.audio_vad import transcript_consistency_violations

            tc = transcript_consistency_violations(
                df.where(
                    F.col("codec").isin(*audio.KNOWN_CODECS)
                    & F.col("bytes").isNotNull()
                    & (F.col("sr_hz") > 0)
                ),
                **self.transcript_consistency,
            ).select(
                F.col("clip_id").cast("string").alias("clip_id"),
                "field",
                "message",
                F.lit("transcript_audio").alias("check"),
            )
            parts.append(tc)

        if self.audio_dedup and not stateless_only:
            from ..functions.audio_fingerprint import (
                fingerprint_duplicate_clusters,
            )

            fp_kwargs = (
                dict(self.audio_dedup)
                if isinstance(self.audio_dedup, dict)
                else {}
            )
            clusters = fingerprint_duplicate_clusters(df, **fp_kwargs)
            dup = clusters.where(
                F.col("clip_id") != F.col("cluster")
            ).select(
                F.col("clip_id").cast("string").alias("clip_id"),
                F.lit("bytes").alias("field"),
                F.format_string(
                    "Duplicate audio content of clip %s.", F.col("cluster")
                ).alias("message"),
                F.lit("audio_dedup").alias("check"),
            )
            parts.append(dup)

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def verdicts(self, df: DataFrame, violations: DataFrame | None = None) -> DataFrame:
        """Per-partition pass/fail verdict rows (A6). Partition identity
        = pmod(hash(clip_id), shuffle partitions) — a *stable* bucket id
        (unlike spark_partition_id, it survives re-reads and resume)."""
        nbuckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        v = violations if violations is not None else self.violations(df)
        per_clip = v.groupBy("clip_id").agg(F.count(F.lit(1)).alias("nviol"))
        bucket = F.pmod(F.hash("clip_id"), F.lit(nbuckets)).alias("bucket")
        # per_clip is violation-rate-sized (sparse by construction — a
        # healthy pipeline violates on ~1% of clips), so broadcast it:
        # without the hint Spark plans a sort-merge join that shuffles
        # the ENTIRE input keyset a second time, and that non-scaling
        # shuffle dominated the 2->8 residual (measured ~5s flat at
        # both levels on 1.2M clips). The groupBy(bucket) below then
        # runs map-side partial aggregation straight off the scan.
        joined = df.select("clip_id").join(F.broadcast(per_clip), "clip_id", "left")
        return (
            joined.groupBy(bucket)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum((F.col("nviol") > 0).cast("long")).alias("failed_rows"),
                F.sum(F.coalesce(F.col("nviol"), F.lit(0))).alias("violation_count"),
            )
            .withColumn("passed_rows", F.col("rows") - F.col("failed_rows"))
            .withColumn("passed", F.col("failed_rows") == 0)
        )

    def run(self, df: DataFrame, *, persist: bool = True) -> tuple[DataFrame, DataFrame]:
        """violations + verdicts. The violations stream is persisted by
        default: it is consumed twice (sink + verdict rollup) and tiny
        relative to the input (~violation rate), while recomputing it
        would re-decode every audio payload."""
        v = self.violations(df)
        if persist:
            v = v.persist()
        return v, self.verdicts(df, v)
