"""Acoustic-fingerprint duplicate detection over DECODED audio.

Text dedup (operators/dedup.py) never sees the payload; this module
catches the duplicate class only the samples reveal: the same
recording ingested twice under different clip_ids and different
CODECS (a pcm16 master and its G.711 ulaw/alaw re-encode are
byte-distinct, hash-distinct, and transcript-identical — invisible to
exact dedup and text MinHash alike).

Fingerprint: per window, the (RMS loudness, zero-crossing count)
pair, each quantized coarsely — loudness to ``band_db``-wide bins
(the envelope), zero-crossings to ``zc_bin``-wide bins (a robust
frequency proxy: loudness alone cannot separate equal-level
recordings, e.g. two constant-amplitude tones). Codec noise (G.711
round-trip sits near -40 dB error on speech-level signals) moves a
window's RMS by well under a decibel and a window's crossing count
by at most a couple, so both encodes of one recording quantize to
the SAME int8 sequence unless a value sits exactly on a bin edge.
Edge-straddling is handled LSH-style with a second, half-bin-offset
quantization of BOTH features: two clips match if EITHER banded
fingerprint matches, so a single edge-straddling window cannot hide
a duplicate from both bands (half-offset grids make per-window
double-straddles mutually exclusive).

Scale shape (the 10^12-row plan):
- one ``mapInArrow`` decode pass emits two small binary envelope
  columns (~1 byte per 100 ms of audio — a 10-second clip is a
  20-byte signature, 5 orders of magnitude smaller than its payload);
- candidate generation is the banded-LSH equi-join on envelope
  DIGESTS (md5 JVM-side — the kernel never hashes), identical in
  shape to operators/dedup.lsh_banded_pairs: exploded (band, sig)
  keys through one exchange, output bounded by true duplicate groups;
- no pairwise verify stage is needed at the default 6 dB bands (the
  envelope IS the content at that resolution), but callers can join
  payloads back for an SNR-level confirm on the candidate pairs.

Cross-RATE duplicates match too: windows are ``window_ms`` of
WALL-CLOCK (``w = sr * window_ms / 1000`` samples), per-window RMS is
rate-independent, and zero-crossings are time-domain events — a tone
crosses zero the same number of times per 100 ms at 8 kHz as at
44.1 kHz. So a 16 kHz re-encode of an 8 kHz master collides without
any normalization (test-pinned), PROVIDED both rates resolve the
content (an undersampled capture aliases to genuinely different
audio and correctly does not match). For borderline cases,
audio_transform.resample_clips to a common rate first.
"""

from __future__ import annotations

from functools import partial

import numpy as np

from .audio import (
    CLIP_COLS,
    clip_batch,
    decoded_chunks,
    map_clips,
    segment_reduce,
)
from .audio_quality import _sign_changes, _window_powers

FINGERPRINT_OUT_SCHEMA = (
    "clip_id string, codec string, sr_hz int, n_windows long, "
    "env_a binary, env_b binary"
)

#: envelope resolution: one int8 per 100 ms
WINDOW_MS_DEFAULT = 100

#: loudness quantization band width (dB). G.711 perturbs window RMS by
#: <<1 dB, so 6 dB bands leave ample margin; the half-offset second
#: band covers the edges.
BAND_DB_DEFAULT = 6.0

#: zero-crossing-count bin width. Codec noise shifts a window's count
#: by at most a few (a crossing can migrate across a window boundary);
#: 8-wide bins absorb that while still separating tones ~100 Hz apart
#: at 100 ms windows.
ZC_BIN_DEFAULT = 8

#: minimum envelope length for a dedup opinion: below ~5 windows
#: (0.5 s at the default resolution) the signature carries so little
#: entropy that unrelated clips collide by chance.
MIN_WINDOWS_DEFAULT = 5

#: Rows per numpy working set (same cold-start argument as
#: audio_quality.QUALITY_CHUNK_ROWS: first-touch faults on workspace
#: buffers scale with chunk size across 32 workers).
FP_CHUNK_ROWS = 512


def _window_envelope(
    x: np.ndarray,
    lens: np.ndarray,
    w: np.ndarray,
    band_db: float,
    zc_bin: int,
):
    """Per-window quantized (loudness, zero-crossing) fingerprint of
    the concatenated sample array.

    ``x``: flat float32 samples; ``lens``: samples per clip; ``w``:
    window length (samples) per clip. Returns (nwin per clip, env_a
    int8 flat, env_b int8 flat) with TWO int8s per window —
    [q_loudness, q_crossings] interleaved — where the windows of clip
    i occupy one contiguous run. Fully vectorized: the window
    boundaries tile the flat array exactly, so
    audio_quality._window_powers gives every window's energy and one
    segment_reduce over audio_quality._sign_changes its crossing count
    (a crossing between two windows of the same clip is assigned to the
    earlier window; inter-CLIP straddles are not crossings)."""
    nwin, wpow, _, wlen = _window_powers(x, lens, w)
    total = wpow.shape[0]
    if total == 0:
        e = np.empty(0, dtype=np.int8)
        return nwin, e, e.copy()
    db = 10.0 * np.log10(np.maximum(wpow, 1e-12))

    # a crossing between two windows of one clip belongs to the earlier
    # window, as the window's last slot pairs it with the next window
    zc = segment_reduce(np.add, _sign_changes(x, lens), wlen.astype(np.int64))
    zc = np.where(wlen > 1, zc, 0.0)

    def q(vals, width, offset):
        return np.clip(
            np.floor(vals / width + offset), -127, 127
        ).astype(np.int8)

    env_a = np.empty(2 * total, dtype=np.int8)
    env_b = np.empty(2 * total, dtype=np.int8)
    env_a[0::2] = q(db, band_db, 0.0)
    env_a[1::2] = q(zc, zc_bin, 0.0)
    env_b[0::2] = q(db, band_db, 0.5)
    env_b[1::2] = q(zc, zc_bin, 0.5)
    return nwin, env_a, env_b


def fingerprint_batch(
    batch,
    *,
    window_ms: int = WINDOW_MS_DEFAULT,
    band_db: float = BAND_DB_DEFAULT,
    zc_bin: int = ZC_BIN_DEFAULT,
):
    """One Arrow RecordBatch of clips -> one fingerprint RecordBatch
    (same row count; NULL envelopes for undecodable rows; envelopes
    carry 2 int8s per window — quantized loudness + crossings)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    n, sr, col = cb.n, cb.sr, cb.col
    n_samp = cb.n_avail
    w_all = np.maximum(sr * window_ms // 1000, 1)
    measured = (n_samp > 0) & (sr > 0)

    # global envelope layout, so each codec chunk scatters into place
    nwin_all = np.where(measured, -(-n_samp // w_all), 0).astype(np.int64)
    goff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nwin_all, out=goff[1:])
    data_a = np.zeros(2 * int(goff[-1]), dtype=np.int8)
    data_b = np.zeros(2 * int(goff[-1]), dtype=np.int8)

    for _c, sel, dec, lens in decoded_chunks(
        cb, measured, chunk_rows=FP_CHUNK_ROWS, buf_name="fp_buf"
    ):
        nwin, env_a, env_b = _window_envelope(
            dec, lens, w_all[sel], band_db, zc_bin
        )
        gwin = np.repeat(goff[sel], nwin) + (
            np.arange(int(nwin.sum()), dtype=np.int64)
            - np.repeat(np.cumsum(nwin) - nwin, nwin)
        )
        data_a[2 * gwin] = env_a[0::2]
        data_a[2 * gwin + 1] = env_a[1::2]
        data_b[2 * gwin] = env_b[0::2]
        data_b[2 * gwin + 1] = env_b[1::2]

    if 2 * goff[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            "envelope payload for this Arrow batch exceeds the int32 "
            "offset limit of pa.binary(); reduce "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    offsets = (goff * 2).astype(np.int32)
    mk = lambda d: pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(d.tobytes())],
    )
    valid = pa.array(measured)
    null_bin = pa.scalar(None, pa.binary())
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(col["clip_id"], pa.string()),
            pc.cast(col["codec"], pa.string()),
            pc.cast(col["sr_hz"], pa.int32()),
            pa.array(nwin_all, type=pa.int64()),
            pc.if_else(valid, mk(data_a), null_bin),
            pc.if_else(valid, mk(data_b), null_bin),
        ],
        names=["clip_id", "codec", "sr_hz", "n_windows", "env_a", "env_b"],
    )


def acoustic_fingerprints(
    df,
    *,
    window_ms: int = WINDOW_MS_DEFAULT,
    band_db: float = BAND_DB_DEFAULT,
    zc_bin: int = ZC_BIN_DEFAULT,
):
    """DataFrame entry point: (clip_id, codec, sr_hz, n_windows,
    env_a, env_b) — one row per input clip, zero shuffles (pure
    mapInArrow over the pruned 4-column scan)."""
    kernel = partial(
        fingerprint_batch, window_ms=window_ms, band_db=band_db, zc_bin=zc_bin
    )
    return map_clips(df, CLIP_COLS, kernel, FINGERPRINT_OUT_SCHEMA)


def _banded_signatures(
    df,
    *,
    window_ms: int,
    band_db: float,
    zc_bin: int,
    min_windows: int,
):
    """(clip_id, band, sig) rows: one md5 digest per quantization grid
    per decodable clip, exploded LSH-style so both bands flow through
    whatever single exchange the consumer needs.

    ``min_windows`` floors the signature length: a 1-2 window envelope
    is 2-4 bytes of heavily quantized signal — near-zero entropy, so
    unrelated very-short clips collide by chance. Clips below the
    floor are not fingerprinted (no dedup opinion), the standard
    min-content rule for content-defined signatures."""
    from pyspark.sql import functions as F

    fp = acoustic_fingerprints(
        df,
        window_ms=window_ms,
        band_db=band_db,
        zc_bin=zc_bin,
    ).where(
        F.col("env_a").isNotNull()
        & (F.col("n_windows") >= F.lit(int(min_windows)))
    )
    return fp.select(
        "clip_id",
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("band"), F.md5("env_a").alias("sig")),
                F.struct(F.lit("b").alias("band"), F.md5("env_b").alias("sig")),
            )
        ).alias("bs"),
    ).select(
        "clip_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def fingerprint_duplicate_pairs(
    df,
    *,
    window_ms: int = WINDOW_MS_DEFAULT,
    band_db: float = BAND_DB_DEFAULT,
    zc_bin: int = ZC_BIN_DEFAULT,
    min_windows: int = MIN_WINDOWS_DEFAULT,
):
    """Same-audio candidate pairs (clip_a, clip_b, band) with
    clip_a < clip_b: clips whose quantized loudness envelopes collide
    on either quantization grid. One decode pass; the self-join runs
    on md5 DIGESTS of the envelopes (JVM-side, envelope bytes never
    shuffle twice) through a single exchange both sides reuse —
    lsh_banded_pairs' shape. Output is bounded by true duplicate
    groups; a pathological bucket (thousands of identical silence
    clips) quadratically expands like any pair emitter — cluster via
    the star-candidate pattern (operators/dedup.py) instead of pairs
    when groups can be huge."""
    from pyspark.sql import functions as F

    sigs = _banded_signatures(
        df,
        window_ms=window_ms,
        band_db=band_db,
        zc_bin=zc_bin,
        min_windows=min_windows,
    )
    left = sigs.alias("l")
    right = sigs.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.clip_id") < F.col("r.clip_id")),
        )
        .select(
            F.col("l.clip_id").alias("clip_a"),
            F.col("r.clip_id").alias("clip_b"),
        )
        .distinct()
    )


def fingerprint_duplicate_groups(
    df,
    *,
    window_ms: int = WINDOW_MS_DEFAULT,
    band_db: float = BAND_DB_DEFAULT,
    zc_bin: int = ZC_BIN_DEFAULT,
    min_windows: int = MIN_WINDOWS_DEFAULT,
):
    """Same-audio duplicate GROUPS — the scale-safe artifact: one row
    per (band, signature) bucket holding >1 clip, with member count
    and min/max clip_id, off a single partial-aggregated shuffle.
    LINEAR in bucket size where pair emission is quadratic (a corpus
    of near-identical recordings — hold music, test tones, silence —
    makes pair output explode; group output stays one row per group).
    Feed a group's members to fingerprint_duplicate_pairs or the
    dedup.py star clustering when explicit pairs are needed."""
    from pyspark.sql import functions as F

    sigs = _banded_signatures(
        df,
        window_ms=window_ms,
        band_db=band_db,
        zc_bin=zc_bin,
        min_windows=min_windows,
    )
    return (
        sigs.groupBy("band", "sig")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.min("clip_id").alias("first_clip"),
            F.max("clip_id").alias("last_clip"),
        )
        .where(F.col("n_clips") > 1)
    )


def fingerprint_duplicate_clusters(
    df,
    *,
    window_ms: int = WINDOW_MS_DEFAULT,
    band_db: float = BAND_DB_DEFAULT,
    zc_bin: int = ZC_BIN_DEFAULT,
    min_windows: int = MIN_WINDOWS_DEFAULT,
):
    """(clip_id, cluster) for every clip in an acoustic duplicate
    cluster — the transitive closure across BOTH quantization grids
    (clip A may match B on band 'a' and B match C on band 'b'; groups
    are per-(band, sig), clusters unify them). Edges are the
    star-candidate set — each bucket's minimum clip to every member,
    LINEAR in bucket size like q45's pipeline — fed to the
    large/small-star connected components, so a corpus-scale family
    of identical recordings never expands quadratically anywhere in
    the plan. Cluster id = the component's minimum clip_id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.dedup import connected_components_star

    sigs = _banded_signatures(
        df,
        window_ms=window_ms,
        band_db=band_db,
        zc_bin=zc_bin,
        min_windows=min_windows,
    )
    w = Window.partitionBy("band", "sig")
    edges = (
        sigs.select(
            F.min("clip_id").over(w).alias("a"), F.col("clip_id").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    return connected_components_star(edges, "a", "b").select(
        F.col("id").alias("clip_id"), F.col("comp").alias("cluster")
    )
