"""Speech-activity detection and transcript<->audio consistency — the
cross-modal validation family for audio+transcript corpora.

An ASR training pipeline must not only validate each modality alone
(structural fields, PCM invariant, quality gates) but also that the two
AGREE: a clip whose audio is pure silence paired with a paragraph of
transcript, or seconds of speech paired with an empty string, is a
mislabeled pair that poisons training even though every per-modality
check passes.  Reference analogue: marshmallow's ``validates_schema``
cross-FIELD checks (/root/reference/src/marshmallow/decorators.py) —
this is the cross-MODALITY rendering of the same idea, where one of the
"fields" needs a decode to read.

Energy VAD, per clip, fully vectorized inside one ``mapInArrow`` pass
(zero per-row Python — same decode/window discipline as the quality and
noise-floor kernels):

  1. mean power per wall-clock window (``window_ms``, tail window
     short), via the shared ``_window_powers`` kernel;
  2. an ADAPTIVE activity threshold per clip:
       thr = silence_dbfs                      if (peak - floor) <= margin_db
             max(silence_dbfs, floor + margin) otherwise
     where floor/peak are the quietest/loudest window's dBFS.  The
     two-regime rule handles both corpora: a clip with a real noise bed
     (dynamic range > margin) gates RELATIVE to its own floor — an
     absolute threshold would call a -40 dBFS noise bed "speech" — while
     a flat clip (constant tone, pure silence, dynamic range ~0) falls
     back to the absolute silence gate, where a relative rule would
     always call the whole clip silent;
  3. per-clip activity statistics from run-length analysis over the
     window mask: active time, speech ratio (sample-weighted), leading /
     trailing / longest silence — all sample-exact (tail windows weigh
     their true length), reported in ms.

``transcript_consistency_violations`` turns the metrics into violation
rows in the engine's ValidationError style: transcript-on-silent-audio,
speech-with-empty-transcript, and chars-per-ACTIVE-second bounds (the
decode-aware refinement of the metadata-only ``speech_rate_bounds``
suite check, which divides by claimed ``dur_ms``).  Plugs into
``ClipValidationSuite(transcript_consistency=...)``; stateless per-row,
so it runs unchanged under Structured Streaming.
"""

from __future__ import annotations

from functools import partial

import numpy as np

from .audio import (
    CLIP_COLS,
    clip_batch,
    decoded_chunks,
    map_clips,
    masked_array,
    row_starts,
)
from .audio_quality import QUALITY_CHUNK_ROWS, SILENCE_DBFS, _window_powers

#: default VAD window: 20 ms is the classic frame size — short enough
#: to resolve inter-word pauses, long enough for a stable power estimate
VAD_WINDOW_MS = 20

#: a window must rise this far above the clip's noise floor to count as
#: active (when the clip has dynamic range; see module docstring)
VAD_MARGIN_DB = 10.0

SPEECH_OUT_SCHEMA = (
    "clip_id string, codec string, n_windows long, active_windows long, "
    "speech_ratio double, active_ms double, leading_silence_ms double, "
    "trailing_silence_ms double, longest_silence_ms double, "
    "threshold_dbfs double"
)


def speech_activity_batch(
    batch,
    *,
    window_ms: int = VAD_WINDOW_MS,
    margin_db: float = VAD_MARGIN_DB,
    silence_dbfs: float = SILENCE_DBFS,
):
    """One Arrow RecordBatch of clips -> one speech-activity RecordBatch
    (same row count; undecodable rows emit NULL metrics)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    n, sr = cb.n, cb.sr
    w_all = np.maximum(sr * window_ms // 1000, 1)

    nwin_all = np.zeros(n, dtype=np.int64)
    act_win = np.zeros(n, dtype=np.int64)
    act_samp = np.zeros(n)
    tot_samp = np.zeros(n)
    lead_samp = np.zeros(n)
    trail_samp = np.zeros(n)
    longest_samp = np.zeros(n)
    thr_all = np.zeros(n)
    measured = np.zeros(n, dtype=bool)

    for _c, sel, dec, lens in decoded_chunks(
        cb,
        (cb.n_avail > 0) & (sr > 0),
        chunk_rows=QUALITY_CHUNK_ROWS,
        buf_name="vad_buf",
    ):
        nwin, wpow, ci, wlen = _window_powers(dec, lens, w_all[sel])
        total = wpow.shape[0]
        if total == 0:
            continue
        m = len(sel)
        nz = nwin > 0  # usable > 0 guarantees all-True, kept for form
        starts = row_starts(nwin)[nz]

        with np.errstate(divide="ignore"):
            wdb = 10.0 * np.log10(np.maximum(wpow, 1e-12))
        floor = np.full(m, np.nan)
        peakw = np.full(m, np.nan)
        floor[nz] = np.minimum.reduceat(wdb, starts)
        peakw[nz] = np.maximum.reduceat(wdb, starts)
        # adaptive two-regime threshold (module docstring)
        thr = np.where(
            peakw - floor <= margin_db,
            silence_dbfs,
            np.maximum(silence_dbfs, floor + margin_db),
        )
        active = wdb > thr[ci]

        aw = np.zeros(m, dtype=np.int64)
        aw[nz] = np.add.reduceat(active, starts)
        asamp = np.zeros(m)
        asamp[nz] = np.add.reduceat(np.where(active, wlen, 0.0), starts)

        # run-length analysis: a run = consecutive same-activity
        # windows within one clip; silence stats are maxima / first
        # / last over the inactive runs
        change = np.empty(total, dtype=bool)
        change[0] = True
        change[1:] = (ci[1:] != ci[:-1]) | (active[1:] != active[:-1])
        ridx = np.flatnonzero(change)
        run_clip = ci[ridx]
        run_active = active[ridx]
        run_samp = np.add.reduceat(wlen, ridx)
        sil_samp = np.where(run_active, 0.0, run_samp)
        rfirst = np.flatnonzero(
            np.r_[True, run_clip[1:] != run_clip[:-1]]
        )
        rlast = np.r_[rfirst[1:] - 1, len(ridx) - 1]
        lg = np.zeros(m)
        lg[nz] = np.maximum.reduceat(sil_samp, rfirst)
        ld = np.zeros(m)
        ld[nz] = sil_samp[rfirst]
        tr = np.zeros(m)
        tr[nz] = sil_samp[rlast]

        nwin_all[sel] = nwin
        act_win[sel] = aw
        act_samp[sel] = asamp
        tot_samp[sel] = lens
        lead_samp[sel] = ld
        trail_samp[sel] = tr
        longest_samp[sel] = lg
        thr_all[sel] = thr
        measured[sel] = nz

    with np.errstate(divide="ignore", invalid="ignore"):
        sr_f = np.maximum(sr, 1).astype(np.float64)
        to_ms = 1000.0 / sr_f
        ratio = act_samp / np.maximum(tot_samp, 1.0)

    return pa.RecordBatch.from_arrays(
        [
            pc.cast(cb.col["clip_id"], pa.string()),
            pc.cast(cb.col["codec"], pa.string()),
            masked_array(nwin_all, measured, pa.int64()),
            masked_array(act_win, measured, pa.int64()),
            masked_array(ratio, measured),
            masked_array(act_samp * to_ms, measured),
            masked_array(lead_samp * to_ms, measured),
            masked_array(trail_samp * to_ms, measured),
            masked_array(longest_samp * to_ms, measured),
            masked_array(thr_all, measured),
        ],
        names=[
            "clip_id",
            "codec",
            "n_windows",
            "active_windows",
            "speech_ratio",
            "active_ms",
            "leading_silence_ms",
            "trailing_silence_ms",
            "longest_silence_ms",
            "threshold_dbfs",
        ],
    )


def speech_activity_metrics(
    df,
    *,
    window_ms: int = VAD_WINDOW_MS,
    margin_db: float = VAD_MARGIN_DB,
    silence_dbfs: float = SILENCE_DBFS,
    passthrough: tuple[str, ...] = (),
):
    """DataFrame entry point: one speech-activity row per input clip —
    zero shuffles (pure ``mapInArrow`` over the pruned scan; ``bytes``
    read once, never shuffled).  ``passthrough`` columns ride through
    the kernel so downstream cross-modal checks need no join."""
    kernel = partial(
        speech_activity_batch,
        window_ms=window_ms,
        margin_db=margin_db,
        silence_dbfs=silence_dbfs,
    )
    return map_clips(
        df, CLIP_COLS, kernel, SPEECH_OUT_SCHEMA, passthrough=passthrough
    )


def _consistency_rules(
    min_speech_ms: float,
    rate_bounds: tuple[float, float] | None,
):
    """(condition, message) Column pairs over a speech-activity frame
    that carries ``transcript`` — one place for the cross-modal gate's
    comparisons and texts, mirroring audio_quality._quality_rules."""
    from pyspark.sql import functions as F

    tx_len = F.length(F.trim(F.col("transcript")))
    has_tx = F.col("transcript").isNotNull() & (tx_len > 0)
    empty_tx = F.col("transcript").isNotNull() & (tx_len == 0)
    rules = [
        (
            has_tx & (F.col("active_ms") <= F.lit(0.0)),
            F.format_string(
                "Transcript has %d chars but audio has no speech activity.",
                tx_len,
            ),
        ),
        (
            empty_tx & (F.col("active_ms") >= F.lit(float(min_speech_ms))),
            F.format_string(
                "Audio has %.0f ms of speech activity but transcript is empty.",
                F.col("active_ms"),
            ),
        ),
    ]
    if rate_bounds is not None:
        lo, hi = (float(b) for b in rate_bounds)
        rate = tx_len / (F.col("active_ms") / F.lit(1000.0))
        rules.append(
            (
                has_tx
                & (F.col("active_ms") > F.lit(0.0))
                & ((rate < F.lit(lo)) | (rate > F.lit(hi))),
                F.format_string(
                    "Transcript rate %.1f chars per active second "
                    "outside [%.1f, %.1f].",
                    rate,
                    F.lit(lo),
                    F.lit(hi),
                ),
            )
        )
    return rules


def transcript_consistency_violations(
    df,
    *,
    min_speech_ms: float = 250.0,
    rate_bounds: tuple[float, float] | None = None,
    window_ms: int = VAD_WINDOW_MS,
    margin_db: float = VAD_MARGIN_DB,
    silence_dbfs: float = SILENCE_DBFS,
):
    """Cross-modal violation rows (clip_id, field, message):

      * transcript present but the audio has NO speech activity;
      * >= ``min_speech_ms`` of speech but an (empty, non-NULL)
        transcript — NULL transcripts stay the structural ``required``
        check's finding;
      * with ``rate_bounds=(lo, hi)``: transcript chars per ACTIVE
        second outside the bounds — unlike the metadata-only
        ``speech_rate_bounds`` this cannot be fooled by a clip whose
        claimed ``dur_ms`` is mostly silence.

    One decode pass; transcript rides through the kernel (no join);
    messages render JVM-side.  Undecodable clips emit nothing — their
    violations belong to the structural stage."""
    from pyspark.sql import functions as F

    rules = _consistency_rules(min_speech_ms, rate_bounds)
    m = speech_activity_metrics(
        df,
        window_ms=window_ms,
        margin_db=margin_db,
        silence_dbfs=silence_dbfs,
        passthrough=("transcript",),
    ).where(F.col("active_ms").isNotNull())
    entries = [
        F.when(
            cond,
            F.struct(
                F.lit("transcript").alias("field"), msg.alias("message")
            ),
        )
        for cond, msg in rules
    ]
    pairs = F.filter(F.array(*entries), lambda x: x.isNotNull())
    return m.select("clip_id", F.explode(pairs).alias("_v")).select(
        "clip_id",
        F.col("_v.field").alias("field"),
        F.col("_v.message").alias("message"),
    )
