"""Per-clip spectral features — dominant frequency and spectral
centroid over the head window of each clip.

The audio-side feature extractor a training pipeline runs after the
signal-quality gate: dominant frequency catches mislabeled tones,
test signals, and hum (50/60 Hz and harmonics); the spectral centroid
is the classic brightness feature fed to curriculum/quality filters.

One vectorized ``mapInArrow`` pass, zero per-row Python:

- only the HEAD ``n_fft`` samples' bytes are sliced out of the Arrow
  flat buffer (the FFT never needs the tail — on hour-long clips this
  reads KBs per row, not MBs);
- the per-codec LUT decode is shared with the invariant/quality
  kernels;
- clips land in one zero-padded (rows, n_fft) matrix via a single
  masked fancy-index, get one batched Hann multiply, and one batched
  ``np.fft.rfft`` over axis 1 — numpy's pocketfft vectorizes across
  rows, so the transform cost amortizes exactly like the decode;
- dominant bin (DC excluded) and centroid come from per-row argmax /
  weighted mean over the magnitude matrix.

Rows that cannot be decoded (unknown codec, NULL payload, zero
samples) emit NULL features; sub-``n_fft`` clips are zero-padded (the
padded transform interpolates the same spectrum, with the main lobe
widened by the shorter effective window — fine for peak picking,
documented for anyone consuming the centroid of very short clips).
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

#: Head-window transform size (power of two keeps pocketfft on its
#: fastest path; ~23 ms at 44.1 kHz, ~128 ms at 8 kHz).
N_FFT_DEFAULT = 1024

FEATURES_OUT_SCHEMA = (
    "clip_id string, codec string, sr_hz int, n_head long, "
    "dominant_freq_hz double, spectral_centroid_hz double"
)

#: Rows per numpy working set (same rationale as audio.UDF_CHUNK_ROWS).
FEATURE_CHUNK_ROWS = 2048


def spectral_batch(batch, *, n_fft: int = N_FFT_DEFAULT):
    """One Arrow RecordBatch of clips -> one features RecordBatch
    (always the same row count as the input)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    n, sr, col = cb.n, cb.sr, cb.col
    n_head = np.zeros(n, dtype=np.int64)
    dom_bin = np.zeros(n, dtype=np.float64)
    cent_bin = np.zeros(n, dtype=np.float64)
    measured = cb.n_avail > 0
    window = np.hanning(n_fft)
    bins = np.arange(1, n_fft // 2 + 1, dtype=np.float64)

    for _c, sel, dec, heads in decoded_chunks(
        cb,
        measured,
        max_samples=n_fft,
        chunk_rows=FEATURE_CHUNK_ROWS,
        buf_name="spec_buf",
    ):
        dec = dec.astype(np.float64)
        starts = row_starts(heads)
        cols = np.arange(n_fft)
        valid = cols[None, :] < heads[:, None]
        mat = np.zeros((len(sel), n_fft), dtype=np.float64)
        mat[valid] = dec[(starts[:, None] + cols[None, :])[valid]]
        mat *= window[None, :]
        spec = np.abs(np.fft.rfft(mat, axis=1))
        body = spec[:, 1:]  # DC excluded from both features
        dom_bin[sel] = np.argmax(body, axis=1) + 1
        tot = body.sum(axis=1)
        cent_bin[sel] = (body * bins[None, :]).sum(axis=1) / np.maximum(
            tot, 1e-30
        )
        n_head[sel] = heads

    hz_per_bin = sr.astype(np.float64) / float(n_fft)
    dom_hz = dom_bin * hz_per_bin
    cent_hz = cent_bin * hz_per_bin

    # A NULL/non-positive sample rate makes the bin->Hz conversion
    # meaningless: emit NULL for the *_hz features (instead of 0.0,
    # which is indistinguishable from a genuinely DC-dominant clip)
    # while keeping n_head — the head was still decoded and measured.
    hz_ok = measured & (sr > 0)

    return pa.RecordBatch.from_arrays(
        [
            pc.cast(col["clip_id"], pa.string()),
            pc.cast(col["codec"], pa.string()),
            pc.cast(col["sr_hz"], pa.int32()),
            masked_array(n_head, measured, pa.int64()),
            masked_array(dom_hz, hz_ok),
            masked_array(cent_hz, hz_ok),
        ],
        names=[
            "clip_id",
            "codec",
            "sr_hz",
            "n_head",
            "dominant_freq_hz",
            "spectral_centroid_hz",
        ],
    )


def spectral_features(df, *, n_fft: int = N_FFT_DEFAULT):
    """DataFrame entry point: (clip_id, codec, sr_hz, n_head,
    dominant_freq_hz, spectral_centroid_hz) — one output row per input
    clip, zero shuffles (a pure mapInArrow over the pruned 4-column
    scan)."""
    return map_clips(
        df, CLIP_COLS, partial(spectral_batch, n_fft=n_fft), FEATURES_OUT_SCHEMA
    )
