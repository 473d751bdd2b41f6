"""Mel-spectrogram / MFCC features and autocorrelation pitch (f0) —
the two classic ASR-training featurizations, as head-window
``mapInArrow`` kernels over the clips table.

A speech-training pipeline runs these right after the quality gate:
MFCC vectors feed curriculum filters, near-duplicate detection in
feature space, and speaker/content clustering; the f0 estimate (plus
its voiced-confidence) is the standard speech/non-speech and
tone/test-signal discriminator.

Scale discipline (same contract as ``audio_features.spectral_batch``):

- only HEAD bytes are sliced from the Arrow flat buffer — the MFCC
  kernel reads at most ``n_fft + hop*(max_frames-1)`` samples per
  clip, the pitch kernel at most ``head`` samples; hour-long clips
  cost KBs per row, not MBs;
- per-codec LUT decode shared with the invariant/quality kernels;
- all framing is one masked fancy-index into the decoded flat buffer
  (frames × n_fft matrix), one batched Hann multiply, one batched
  ``np.fft.rfft`` across rows — zero per-row Python in the hot path;
- chunked at 512 rows (see BENCH/BASELINE.md cold-start note: the
  first-touch page-fault cost of worker buffers scales with chunk
  size; 512 keeps the cold path cheap at identical steady state).

Semantics:

- rows that cannot be decoded (unknown codec, NULL payload, zero
  usable samples) OR carry a non-positive/NULL ``sr_hz`` are
  unmeasured: every mel/Hz quantity here depends on the sample rate
  (filterbank edges, lag→Hz), so unlike the sr-independent ``n_head``
  in ``spectral_batch`` there is nothing honest to emit — ``n_frames``
  / ``n_head`` are NULL and the ``mfcc`` list is EMPTY (not NULL) for
  such rows;
- MFCC uses the HTK mel scale (2595·log10(1+f/700)), triangular
  filters spanning 0..sr/2, log energies with a 1e-10 floor, and an
  orthonormal DCT-II; the per-clip vector is the mean over up to
  ``max_frames`` frames (hop ``hop``) — the standard "utterance
  summary" feature;
- pitch is biased autocorrelation via rFFT (zero-padded to ≥ 2·head,
  mean-removed), peak-picked over the per-row lag band
  [sr/fmax, sr/fmin] with parabolic interpolation for sub-sample lag;
  ``voiced_conf`` = r(peak)/r(0) ∈ [0, 1] (≈1 for a pure tone, ≈0 for
  noise). Tones above ``fmax`` resolve to a subharmonic inside the
  band (the classic octave ambiguity of autocorrelation — documented,
  and the physics test only asserts in-band tones).

The reference library (marshmallow) has no audio surface; these
kernels extend the engine's audio axis per the north rule. Physics
validation: on the synth corpus the tone at 110·(1+idx%40) Hz must
land in the matching mel band and (when in the pitch band) be
recovered by f0 within 3 % — tests/test_audio_mfcc.py.
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

N_FFT_MEL = 512
HOP_MEL = 256
MAX_FRAMES = 8
N_MELS = 26
N_MFCC = 13
MFCC_CHUNK_ROWS = 512

PITCH_HEAD = 2048
PITCH_FMIN = 70.0
PITCH_FMAX = 600.0
PITCH_CHUNK_ROWS = 512

MFCC_OUT_SCHEMA = (
    "clip_id string, codec string, sr_hz int, n_frames long, "
    "mel_peak_hz double, mfcc array<double>"
)
PITCH_OUT_SCHEMA = (
    "clip_id string, codec string, sr_hz int, n_head long, "
    "f0_hz double, voiced_conf double"
)


def hz_to_mel(f) -> np.ndarray:
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def mel_to_hz(m) -> np.ndarray:
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


#: (sr, n_fft, n_mels) -> (filterbank (n_mels, n_fft//2+1), band centers Hz).
#: The corpus carries a handful of distinct sample rates, so the cache
#: stays tiny per worker and the O(n_mels·n_bins) build cost is paid once.
_FB_CACHE: dict[tuple[int, int, int], tuple[np.ndarray, np.ndarray]] = {}


def mel_filterbank(
    sr: int, n_fft: int = N_FFT_MEL, n_mels: int = N_MELS
) -> tuple[np.ndarray, np.ndarray]:
    key = (int(sr), int(n_fft), int(n_mels))
    hit = _FB_CACHE.get(key)
    if hit is not None:
        return hit
    n_bins = n_fft // 2 + 1
    mel_pts = np.linspace(hz_to_mel(0.0), hz_to_mel(sr / 2.0), n_mels + 2)
    hz_pts = mel_to_hz(mel_pts)
    bin_hz = np.arange(n_bins, dtype=np.float64) * (sr / float(n_fft))
    fb = np.zeros((n_mels, n_bins), dtype=np.float64)
    for m in range(n_mels):
        lo, c, hi = hz_pts[m], hz_pts[m + 1], hz_pts[m + 2]
        up = (bin_hz - lo) / max(c - lo, 1e-12)
        down = (hi - bin_hz) / max(hi - c, 1e-12)
        fb[m] = np.clip(np.minimum(up, down), 0.0, None)
    out = (fb, hz_pts[1:-1].copy())
    _FB_CACHE[key] = out
    return out


_DCT_CACHE: dict[tuple[int, int], np.ndarray] = {}


def dct_matrix(n_mfcc: int = N_MFCC, n_mels: int = N_MELS) -> np.ndarray:
    """Orthonormal DCT-II, shape (n_mfcc, n_mels)."""
    key = (int(n_mfcc), int(n_mels))
    hit = _DCT_CACHE.get(key)
    if hit is not None:
        return hit
    k = np.arange(n_mfcc, dtype=np.float64)[:, None]
    j = np.arange(n_mels, dtype=np.float64)[None, :]
    d = np.cos(np.pi * k * (2.0 * j + 1.0) / (2.0 * n_mels)) * np.sqrt(
        2.0 / n_mels
    )
    d[0] *= np.sqrt(0.5)
    _DCT_CACHE[key] = d
    return d


def mfcc_batch(
    batch,
    *,
    n_fft: int = N_FFT_MEL,
    hop: int = HOP_MEL,
    max_frames: int = MAX_FRAMES,
    n_mels: int = N_MELS,
    n_mfcc: int = N_MFCC,
):
    """One clips RecordBatch -> one MFCC RecordBatch (same row count)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    n, sr, col = cb.n, cb.sr, cb.col
    head_limit = n_fft + hop * (max_frames - 1)
    n_frames = np.zeros(n, dtype=np.int64)
    # sr > 0 is part of measurability here: the filterbank edges
    # are sr-derived, so no mel quantity exists without a rate.
    measured = (cb.n_avail > 0) & (sr > 0)
    mfcc_out = np.zeros((n, n_mfcc), dtype=np.float64)
    peak_hz = np.zeros(n, dtype=np.float64)
    window = np.hanning(n_fft)
    dct = dct_matrix(n_mfcc, n_mels)
    cols_ = np.arange(n_fft, dtype=np.int64)

    for _c, sel, dec, heads in decoded_chunks(
        cb,
        measured,
        max_samples=head_limit,
        chunk_rows=MFCC_CHUNK_ROWS,
        buf_name="mfcc_buf",
    ):
        dec = dec.astype(np.float64)
        starts = row_starts(heads)
        frames = 1 + np.clip((heads - n_fft) // hop, 0, max_frames - 1)
        total_f = int(frames.sum())
        rep = np.repeat(np.arange(len(sel)), frames)
        fstarts = row_starts(frames)
        ford = np.arange(total_f, dtype=np.int64) - np.repeat(
            fstarts, frames
        )
        src0 = starts[rep] + ford * hop
        remain = heads[rep] - ford * hop
        valid = cols_[None, :] < remain[:, None]
        mat = np.zeros((total_f, n_fft), dtype=np.float64)
        mat[valid] = dec[(src0[:, None] + cols_[None, :])[valid]]
        mat *= window[None, :]
        spec = np.abs(np.fft.rfft(mat, axis=1))
        np.multiply(spec, spec, out=spec)  # power spectrum
        logmel = np.empty((total_f, n_mels), dtype=np.float64)
        srs = sr[sel]
        for u in np.unique(srs):
            g = np.flatnonzero(srs == u)
            fg = np.isin(rep, g)
            fb, _ = mel_filterbank(int(u), n_fft, n_mels)
            logmel[fg] = np.log(spec[fg] @ fb.T + 1e-10)
        mf = logmel @ dct.T
        inv_frames = 1.0 / frames[:, None]
        mfcc_out[sel] = np.add.reduceat(mf, fstarts, axis=0) * inv_frames
        mel_mean = np.add.reduceat(logmel, fstarts, axis=0) * inv_frames
        pk = np.argmax(mel_mean, axis=1)
        for u in np.unique(srs):
            g = np.flatnonzero(srs == u)
            _, centers = mel_filterbank(int(u), n_fft, n_mels)
            peak_hz[sel[g]] = centers[pk[g]]
        n_frames[sel] = frames

    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.where(measured, n_mfcc, 0), out=offsets[1:])
    mfcc_list = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(mfcc_out[measured].ravel(), type=pa.float64()),
    )
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(col["clip_id"], pa.string()),
            pc.cast(col["codec"], pa.string()),
            pc.cast(col["sr_hz"], pa.int32()),
            masked_array(n_frames, measured, pa.int64()),
            masked_array(peak_hz, measured),
            mfcc_list,
        ],
        names=["clip_id", "codec", "sr_hz", "n_frames", "mel_peak_hz", "mfcc"],
    )


def pitch_batch(
    batch,
    *,
    head: int = PITCH_HEAD,
    fmin: float = PITCH_FMIN,
    fmax: float = PITCH_FMAX,
):
    """One clips RecordBatch -> one pitch RecordBatch (same row count)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    n, sr, col = cb.n, cb.sr, cb.col
    n_head = np.zeros(n, dtype=np.int64)
    f0 = np.zeros(n, dtype=np.float64)
    conf = np.zeros(n, dtype=np.float64)
    measured = (cb.n_avail > 0) & (sr > 0)
    f0_ok = np.zeros(n, dtype=bool)
    nfft2 = 1
    while nfft2 < 2 * head:
        nfft2 *= 2

    for _c, sel, dec, heads in decoded_chunks(
        cb,
        measured,
        max_samples=head,
        chunk_rows=PITCH_CHUNK_ROWS,
        buf_name="mfcc_buf",
    ):
        dec = dec.astype(np.float64)
        starts = row_starts(heads)
        cols_ = np.arange(head, dtype=np.int64)
        valid = cols_[None, :] < heads[:, None]
        mat = np.zeros((len(sel), head), dtype=np.float64)
        mat[valid] = dec[(starts[:, None] + cols_[None, :])[valid]]
        # mean-remove over the REAL samples, keep padding at zero
        row_mean = mat.sum(axis=1) / heads
        mat -= row_mean[:, None]
        mat[~valid] = 0.0
        spec = np.fft.rfft(mat, n=nfft2, axis=1)
        np.multiply(spec, np.conj(spec), out=spec)
        # biased autocorrelation; only lags up to the search band
        srs = sr[sel]
        lag_min = np.maximum(2, np.floor(srs / fmax).astype(np.int64))
        lag_max = np.minimum(
            np.ceil(srs / fmin).astype(np.int64), heads - 2
        )
        searchable = lag_max > lag_min
        L = int(lag_max.max(initial=2)) + 2
        r = np.fft.irfft(spec, n=nfft2, axis=1)[:, :L]
        r0 = np.maximum(r[:, 0], 1e-30)
        lags = np.arange(L, dtype=np.int64)
        allowed = (lags[None, :] >= lag_min[:, None]) & (
            lags[None, :] <= lag_max[:, None]
        )
        body = np.where(allowed, r, -np.inf)
        pk = np.argmax(body, axis=1)
        rows = np.arange(len(sel))
        # Octave-error guard: when the true period lag is far from
        # the integer grid (e.g. 550 Hz at 8 kHz -> lag 14.5), a
        # 2x/3x multiple that lands NEAR the grid correlates
        # higher and argmax reports a subharmonic. Standard fix:
        # take the SMALLEST in-band lag whose correlation reaches
        # 90 % of the in-band peak — for a periodic signal that is
        # the first-period peak region, refined below by parabolic
        # interpolation.
        thresh = 0.9 * r[rows, pk]
        cand = allowed & (r >= thresh[:, None])
        fc = np.argmax(cand, axis=1)  # first crossing per row
        # The crossing sits on the rising edge of the first-period
        # peak (within a quarter period for any f/sr <= 0.075, the
        # documented band: cos(pi*f/sr) >= 0.97 > 0.9), so the
        # first-period LOCAL max lies in [fc, 1.5*fc] and the
        # second-period peak (>= 2*0.75*fc) does not — a capped
        # argmax recovers the true peak for parabolic refinement.
        cap = np.minimum((3 * fc) // 2, lag_max)
        in_win = (
            cand
            & (lags[None, :] >= fc[:, None])
            & (lags[None, :] <= cap[:, None])
        )
        body = np.where(in_win, r, -np.inf)
        pk = np.argmax(body, axis=1)
        # parabolic sub-sample interpolation around the peak
        pm = np.clip(pk - 1, 0, L - 1)
        pp = np.clip(pk + 1, 0, L - 1)
        y0, y1, y2 = r[rows, pm], r[rows, pk], r[rows, pp]
        denom = y0 - 2.0 * y1 + y2
        shift = np.where(
            np.abs(denom) > 1e-30, 0.5 * (y0 - y2) / denom, 0.0
        )
        shift = np.clip(shift, -0.5, 0.5)
        lag_f = pk + np.where((pk > lag_min) & (pk < lag_max), shift, 0.0)
        ok = searchable & (r[rows, pk] > 0)
        f0[sel] = np.where(ok, srs / np.maximum(lag_f, 1e-30), 0.0)
        conf[sel] = np.where(
            searchable, np.clip(r[rows, pk] / r0, 0.0, 1.0), 0.0
        )
        f0_ok[sel] = ok
        n_head[sel] = heads

    return pa.RecordBatch.from_arrays(
        [
            pc.cast(col["clip_id"], pa.string()),
            pc.cast(col["codec"], pa.string()),
            pc.cast(col["sr_hz"], pa.int32()),
            masked_array(n_head, measured, pa.int64()),
            masked_array(f0, measured & f0_ok),
            masked_array(conf, measured),
        ],
        names=["clip_id", "codec", "sr_hz", "n_head", "f0_hz", "voiced_conf"],
    )


def mfcc_features(
    df,
    *,
    n_fft: int = N_FFT_MEL,
    hop: int = HOP_MEL,
    max_frames: int = MAX_FRAMES,
    n_mels: int = N_MELS,
    n_mfcc: int = N_MFCC,
):
    """DataFrame entry point: one output row per input clip, zero
    shuffles (pure mapInArrow over the pruned 4-column scan)."""
    kernel = partial(
        mfcc_batch,
        n_fft=n_fft,
        hop=hop,
        max_frames=max_frames,
        n_mels=n_mels,
        n_mfcc=n_mfcc,
    )
    return map_clips(df, CLIP_COLS, kernel, MFCC_OUT_SCHEMA)


def mfcc_near_duplicates(
    df,
    *,
    min_cosine: float = 0.995,
    num_planes: int = 8,
    mode: str = "star",
    n_mfcc: int = N_MFCC,
    round_digits: int | None = 6,
    **mfcc_kwargs,
):
    """Feature-space near-duplicate detection: cosine over the
    gain-invariant MFCC tail (coefficients 1..n_mfcc-1), candidates
    from the fused single-exchange hyperplane LSH
    (operators/similarity.lsh_near_duplicates — ``mode="star"`` keeps
    candidate volume LINEAR in bucket size).

    The duplicate class this catches is complementary to the acoustic
    fingerprint (functions/audio_fingerprint.py):

    - GAIN-INVARIANT by construction: a re-mastered copy at gain g
      scales the power spectrum by g², which shifts every log-mel band
      by the same log(g²) — a constant vector that an orthogonal
      DCT-II projects ENTIRELY onto coefficient 0. Dropping c0 makes
      the remaining 12 coefficients exactly gain-invariant (up to the
      1e-10 log floor and pcm16 requantization), so level-changed
      copies that shift the fingerprint's quantized-RMS envelope out
      of its band (and are therefore missed there — test-pinned) land
      at cosine ≈ 1 here.
    - RATE-VARIANT, unlike the fingerprint: the mel grid spans
      0..sr/2, so the same recording at a different sample rate maps
      to different bands. Normalize rates first
      (audio_transform.resample_clips) when cross-rate coverage is
      needed; the fingerprint path covers that class natively.

    Rows that are unmeasurable for MFCC (undecodable / rate-less) and
    rows whose invariant tail is (numerically) zero are excluded —
    cosine is undefined for a zero vector. Pure silence is the case:
    its log-mel is CONSTANT, so the orthogonal DCT leaves only c0 plus
    ~1e-13 float residue in the tail; the 1e-6 norm floor sits ~7
    orders above that residue and ~7 below any real signal's tail
    norm (~15 on the synth corpus), so silent clips can't pair with
    each other on rounding noise.

    Output: (a, b, cosine) pairs with cosine >= min_cosine; in star
    mode ``a`` is the LSH-bucket minimum id (dedup-groups semantics,
    one exchange, no distinct shuffle — see lsh_near_duplicates)."""
    from pyspark.sql import functions as F

    from ..operators.similarity import lsh_near_duplicates, norm_expr

    feats = mfcc_features(df, n_mfcc=n_mfcc, **mfcc_kwargs)
    vecs = (
        feats.where(F.col("n_frames").isNotNull())
        .select("clip_id", F.slice("mfcc", 2, n_mfcc - 1).alias("_mfcc_vec"))
        .where(norm_expr("_mfcc_vec") > 1e-6)
    )
    return lsh_near_duplicates(
        vecs,
        "clip_id",
        "_mfcc_vec",
        min_cosine=min_cosine,
        num_planes=num_planes,
        dim=n_mfcc - 1,
        round_digits=round_digits,
        mode=mode,
    )


def pitch_features(
    df,
    *,
    head: int = PITCH_HEAD,
    fmin: float = PITCH_FMIN,
    fmax: float = PITCH_FMAX,
):
    """DataFrame entry point: one output row per input clip, zero
    shuffles (pure mapInArrow over the pruned 4-column scan)."""
    kernel = partial(pitch_batch, head=head, fmin=fmin, fmax=fmax)
    return map_clips(df, CLIP_COLS, kernel, PITCH_OUT_SCHEMA)
