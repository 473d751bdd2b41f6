"""Audio payload transforms — sample-rate normalization for training
pipelines (the audio analog of image resize).

``resample_clips`` decodes each clip (same LUT kernels as the
invariant), linearly resamples it to a target rate, and re-encodes
pcm16 — all inside one ``mapInArrow`` pass with NO per-row Python
loop: the interpolation positions for every output sample of every
clip in the batch are built as flat vectors (offsets + repeat) and a
single ``np.interp`` call over the concatenated sample buffer does the
whole batch. Per-segment position mapping is endpoint-to-endpoint
(position = in_off + local * (len_in-1)/(len_out-1)), so positions
never cross a clip boundary — neighbor clips cannot blend.

Linear interpolation is the documented quality/cost point (no
polyphase filter): adequate for the sine-plus-noise reference corpus
and for feature pipelines; a production kernel would swap in a
windowed-sinc filter behind the same batch plumbing.
"""

from __future__ import annotations

from functools import partial

import numpy as np

from .audio import (
    CLIP_COLS,
    _WS,
    clip_batch,
    decoded_chunks,
    map_clips,
    masked_array,
    row_starts,
    segment_reduce,
)

RESAMPLE_OUT_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, n_samples long"
)

RESAMPLE_CHUNK_ROWS = 2048


def _encode_pcm16(x: np.ndarray) -> np.ndarray:
    """Re-encode float PCM in [-1, 1] to int16 with the SAME scale the
    decoder uses (1/32768), so decode -> encode is an exact bit-for-bit
    round-trip for pcm16 sources: trim_silence is a pure cut of kept
    samples and an identity-rate resample is lossless.  (Encoding with
    32767 — the previous behavior — perturbed full-scale samples by
    1 LSB.)  Clipped to the int16 range: only +1.0 exactly maps above
    32767 and clips to it."""
    return np.clip(np.rint(x * 32768.0), -32768, 32767).astype("<i2")


def _gain_scaled_pcm16_chunk(
    dec32: np.ndarray, lens: np.ndarray, target_amp: float
):
    """One decoded codec chunk through the normalize_gain chain —
    per-clip RMS gain to ``target_amp``, clip, pcm16 quantize — with
    every per-sample temporary in the per-worker workspace.

    The round-5 form allocated ~7 fresh multi-MB numpy arrays per chunk
    (``astype(float64)``, ``dec * dec``, ``np.repeat(gains, lens)``,
    and four more inside ``_encode_pcm16``); across 32 workers those
    mmap allocations serialize on the kernel page allocator (the
    audio._Workspace lesson — measured here as the fused drift kernel
    running 4x the plain metrics pass over the same corpus).  Every
    operation below is value-identical to that form: the f32->f64 copy
    is the exact widening ``astype`` performed, the per-row scalar
    multiply applies the same float64 product ``np.repeat`` expanded
    elementwise, and the in-place rint/clip with an int16 buffer
    assignment is ``_encode_pcm16``'s chain (the cast is exact — values
    are integral after rint).

    Takes one decoded chunk (``dec32`` float32 samples, ``lens`` per
    row) and returns (pcm int16 workspace view, starts, gain_db); the
    view is valid until the next chunk on this worker."""
    m = dec32.shape[0]
    starts = row_starts(lens)
    # dtype= forces the exact widen-then-square float64 loop over the
    # f32 samples — identical to the astype(float64) copy the round-5
    # form paid a full memory pass for (_segment_stats' same trick)
    sq = np.multiply(dec32, dec32, dtype=np.float64, out=_WS.f64("gn_sq", m))
    ssum = segment_reduce(np.add, sq, lens)
    rms = np.sqrt(ssum / np.maximum(lens, 1))
    gains = np.where(rms > 0.0, target_amp / np.maximum(rms, 1e-300), 1.0)
    gain_db = np.where(
        rms > 0.0, 20.0 * np.log10(np.maximum(gains, 1e-300)), 0.0
    )
    dec = _WS.f64("gn_dec64", m)
    for j in range(len(lens)):
        s = int(starts[j])
        e = s + int(lens[j])
        # widen-then-multiply f64 loop == astype + elementwise product;
        # dtype= is required: without it numpy 1.x demotes the f64
        # scalar and runs the f32 loop (1-LSB flips after rint)
        np.multiply(dec32[s:e], gains[j], dtype=np.float64, out=dec[s:e])
    # the round-5 clip(-1, 1) pass is provably absorbed by the int16
    # clamp below: for |x| > 1, rint(x * 32768) lands outside
    # [-32768, 32767] exactly when clip-then-scale would, and both
    # forms emit the same saturated sample — one fewer full pass
    dec *= 32768.0
    np.rint(dec, out=dec)
    np.clip(dec, -32768, 32767, out=dec)
    pcm = _WS._get("gn_pcm", m, np.dtype("<i2"))
    pcm[:] = dec
    return pcm, starts, gain_db


def _pcm16_offsets(final_off: np.ndarray) -> np.ndarray:
    """Byte offsets for the output pa.binary() column.  Arrow's binary
    type carries int32 offsets; one mapInArrow batch whose re-encoded
    payload exceeds 2**31-1 bytes (~1.07e9 samples) would silently wrap
    negative and emit a corrupt RecordBatch — raise instead so callers
    lower spark.sql.execution.arrow.maxRecordsPerBatch (or chunk long
    clips upstream)."""
    total = int(final_off[-1]) * 2
    if total > np.iinfo(np.int32).max:
        raise ValueError(
            f"re-encoded PCM payload for this Arrow batch is {total} bytes, "
            "over the int32 offset limit of pa.binary(); reduce "
            "spark.sql.execution.arrow.maxRecordsPerBatch so fewer clips "
            "land in one batch"
        )
    return (final_off * 2).astype(np.int32)


def _pcm16_columns(final_off: np.ndarray, data: np.ndarray, valid: np.ndarray):
    """(bytes, codec) output columns of the re-encoding kernels: the
    pcm16 payloads ``data`` split at sample offsets ``final_off`` and a
    'pcm16' codec, both NULL where ``valid`` is False."""
    import pyarrow as pa
    import pyarrow.compute as pc

    offsets = _pcm16_offsets(final_off)
    raw = pa.Array.from_buffers(
        pa.binary(),
        len(final_off) - 1,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
    )
    mask = pa.array(valid)
    return (
        pc.if_else(mask, raw, pa.scalar(None, pa.binary())),
        pc.if_else(
            mask, pa.scalar("pcm16", pa.string()), pa.scalar(None, pa.string())
        ),
    )


def _resample_flat(
    flat: np.ndarray, in_lens: np.ndarray, out_lens: np.ndarray
) -> np.ndarray:
    """Vectorized per-segment linear resample of the concatenated
    sample buffer: one np.interp over the whole batch."""
    n_out = int(out_lens.sum())
    if n_out == 0:
        return np.empty(0, dtype=np.float64)
    in_off = row_starts(in_lens)
    out_off = row_starts(out_lens)

    # local output index within each segment
    gidx = np.arange(n_out, dtype=np.float64)
    gidx -= np.repeat(out_off, out_lens)
    # endpoint-to-endpoint ratio; single-sample outputs pin to start
    denom = np.maximum(out_lens - 1, 1).astype(np.float64)
    ratio = (in_lens - 1).astype(np.float64) / denom
    pos = gidx * np.repeat(ratio, out_lens) + np.repeat(in_off, out_lens)
    return np.interp(pos, np.arange(flat.shape[0], dtype=np.float64), flat)


def resample_arrow_batch(batch, target_sr: int):
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    n, sr = cb.n, cb.sr
    rows = (cb.n_avail > 0) & (sr > 0)

    # pass 1 (metadata only): output length per row, so the final
    # binary column's offsets and sample buffer can be allocated up
    # front and each chunk's samples SCATTERED into place with one
    # fancy-index assignment — no per-row Python in the assembly either
    out_n = np.zeros(n, dtype=np.int64)
    out_n[rows] = np.maximum(
        (cb.n_avail[rows] * target_sr + sr[rows] // 2) // sr[rows], 1
    )
    final_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_n, out=final_off[1:])
    data = np.zeros(int(final_off[-1]), dtype="<i2")

    for _c, sel, dec, in_lens in decoded_chunks(
        cb, rows, chunk_rows=RESAMPLE_CHUNK_ROWS, buf_name="tr_buf"
    ):
        dec = dec.astype(np.float64)
        out_lens = out_n[sel]
        res = _resample_flat(dec, in_lens, out_lens)
        pcm = _encode_pcm16(res)
        local = np.arange(int(out_lens.sum()), dtype=np.int64)
        local -= np.repeat(row_starts(out_lens), out_lens)
        dest = np.repeat(final_off[sel], out_lens) + local
        data[dest] = pcm

    valid = out_n > 0
    bytes_arr, codec_out = _pcm16_columns(final_off, data, valid)
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(cb.col["clip_id"], pa.string()),
            bytes_arr,
            pa.array(
                np.where(valid, target_sr, 0).astype(np.int32), type=pa.int32()
            ),
            pc.cast(cb.col["dur_ms"], pa.int32()),
            codec_out,
            pa.array(out_n, type=pa.int64()),
        ],
        names=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "n_samples"],
    )


def resample_clips(df, target_sr: int):
    """DataFrame entry point: re-encode every decodable clip as pcm16
    at ``target_sr`` (one row out per row in; undecodable rows keep
    NULL payload/codec and n_samples 0 so callers can route them to the
    violation stream). Zero shuffles — a pure mapInArrow over the
    pruned scan."""
    if target_sr < 1:
        raise ValueError(f"target_sr {target_sr} < 1")
    return map_clips(
        df,
        ("clip_id", "bytes", "sr_hz", "dur_ms", "codec"),
        partial(resample_arrow_batch, target_sr=target_sr),
        RESAMPLE_OUT_SCHEMA,
    )


TRIM_OUT_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, codec string, "
    "n_samples long, trimmed_head long, trimmed_tail long"
)


def trim_silence_arrow_batch(batch, threshold: float):
    """One Arrow RecordBatch -> leading/trailing silence stripped from
    every decodable clip, re-encoded pcm16. Zero per-row Python: the
    per-clip first/last active sample comes from min/max.reduceat over
    index vectors masked by |x| >= threshold, and the kept runs scatter
    into the preallocated output buffer exactly like resample."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    n = cb.n
    decodable = cb.n_avail > 0
    out_n = np.zeros(n, dtype=np.int64)
    head_cut = np.zeros(n, dtype=np.int64)
    tail_cut = np.zeros(n, dtype=np.int64)
    first_rel = np.zeros(n, dtype=np.int64)

    def chunks():
        return decoded_chunks(
            cb, decodable, chunk_rows=RESAMPLE_CHUNK_ROWS, buf_name="tr_buf"
        )

    # pass 1: decode per chunk, locate each clip's active run
    for _c, sel, dec, lens in chunks():
        starts = row_starts(lens)
        total = int(lens.sum())
        idxs = np.arange(total, dtype=np.int64)
        active = np.abs(dec) >= np.float32(threshold)
        big = total + 1
        # an empty or fully-silent clip gets first > last
        first = segment_reduce(
            np.minimum, np.where(active, idxs, big), lens, dtype=np.int64, fill=big
        )
        last = segment_reduce(
            np.maximum, np.where(active, idxs, -1), lens, dtype=np.int64, fill=-1
        )
        silent = first > last
        rel_first = np.where(silent, 0, first - starts)
        rel_last = np.where(silent, -1, last - starts)
        keep = rel_last - rel_first + 1  # 0 for fully-silent clips
        out_n[sel] = keep
        head_cut[sel] = np.where(silent, lens, rel_first)
        tail_cut[sel] = np.where(silent, 0, lens - 1 - rel_last)
        first_rel[sel] = rel_first

    final_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_n, out=final_off[1:])
    data = np.zeros(int(final_off[-1]), dtype="<i2")

    # pass 2: re-decode per chunk and scatter the kept runs
    for _c, sel, dec, lens in chunks():
        dec = dec.astype(np.float64)
        starts = row_starts(lens)
        keep = out_n[sel]
        kept_total = int(keep.sum())
        if kept_total == 0:
            continue
        local = np.arange(kept_total, dtype=np.int64)
        local -= np.repeat(row_starts(keep), keep)
        src = np.repeat(starts + first_rel[sel], keep) + local
        dest = np.repeat(final_off[sel], keep) + local
        data[dest] = _encode_pcm16(dec[src])

    bytes_arr, codec_out = _pcm16_columns(final_off, data, decodable)
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(cb.col["clip_id"], pa.string()),
            bytes_arr,
            pc.cast(cb.col["sr_hz"], pa.int32()),
            codec_out,
            masked_array(out_n, decodable, pa.int64()),
            masked_array(head_cut, decodable, pa.int64()),
            masked_array(tail_cut, decodable, pa.int64()),
        ],
        names=[
            "clip_id",
            "bytes",
            "sr_hz",
            "codec",
            "n_samples",
            "trimmed_head",
            "trimmed_tail",
        ],
    )


def trim_silence_clips(df, *, threshold: float = 1e-4):
    """DataFrame entry point: strip leading/trailing samples with
    |x| < ``threshold`` from every decodable clip (the VAD-lite
    pre-processing step before feature extraction / packing);
    re-encoded pcm16, one row out per row in. Fully-silent clips come
    back with an EMPTY payload and n_samples 0 (trimmed away, still
    addressable); undecodable rows keep NULL payload/codec. Samples at
    exactly the threshold are active (>=). Zero shuffles — a pure
    mapInArrow over the pruned scan."""
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold {threshold} outside (0, 1)")
    return map_clips(
        df,
        CLIP_COLS,
        partial(trim_silence_arrow_batch, threshold=threshold),
        TRIM_OUT_SCHEMA,
    )


SEGMENT_OUT_SCHEMA = (
    "clip_id string, seg_idx int, bytes binary, sr_hz int, "
    "codec string, n_samples long, start_sample long"
)


def segment_clips_batch(batch, segment_ms: int, hop_ms: int):
    """One Arrow RecordBatch of clips -> one RecordBatch of fixed-length
    training windows (the audio analog of ``chunk_documents``): each
    decodable clip yields segments of ``segment_ms`` starting every
    ``hop_ms`` (overlap when hop < segment), the final partial window
    kept. Undecodable / NULL-payload rows yield ZERO segments — they
    belong to the violation stream, and a variable-fanout kernel has no
    NULL row to hang them on.

    Vectorized like the other transform kernels: per codec chunk, the
    segment table (clip index, start, length) is built with
    repeat/cumsum vectors, ONE fancy-index gather pulls every output
    sample from the decoded buffer, and the binary column assembles via
    Array.from_buffers with guarded int32 offsets. The only Python
    loops are over codecs and fixed-size chunks."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    sr = cb.sr
    out_clip_idx: list[np.ndarray] = []
    out_seg_idx: list[np.ndarray] = []
    out_start: list[np.ndarray] = []
    out_data: list[np.ndarray] = []
    out_lens: list[np.ndarray] = []

    for _c, sel, dec, lens in decoded_chunks(
        cb,
        (cb.n_avail > 0) & (sr > 0),
        chunk_rows=RESAMPLE_CHUNK_ROWS,
        buf_name="tr_buf",
    ):
        dec = dec.astype(np.float64)
        base = row_starts(lens)
        seg_len = np.maximum(sr[sel] * segment_ms // 1000, 1)
        hop = np.maximum(sr[sel] * hop_ms // 1000, 1)
        n_segs = (lens - 1) // hop + 1  # lens > 0 by selection

        clip_of_seg = np.repeat(np.arange(len(sel)), n_segs)
        local_seg = np.arange(int(n_segs.sum()), dtype=np.int64)
        local_seg -= np.repeat(row_starts(n_segs), n_segs)
        starts = local_seg * hop[clip_of_seg]
        seg_n = np.minimum(seg_len[clip_of_seg], lens[clip_of_seg] - starts)

        local_sample = np.arange(int(seg_n.sum()), dtype=np.int64)
        local_sample -= np.repeat(row_starts(seg_n), seg_n)
        src = np.repeat(base[clip_of_seg] + starts, seg_n) + local_sample

        out_clip_idx.append(sel[clip_of_seg])
        out_seg_idx.append(local_seg)
        out_start.append(starts)
        out_lens.append(seg_n)
        out_data.append(_encode_pcm16(dec[src]))

    if out_lens:
        clip_idx = np.concatenate(out_clip_idx)
        seg_idx = np.concatenate(out_seg_idx)
        starts = np.concatenate(out_start)
        seg_n = np.concatenate(out_lens)
        data = np.concatenate(out_data)
    else:
        clip_idx = seg_idx = starts = seg_n = np.empty(0, dtype=np.int64)
        data = np.empty(0, dtype="<i2")

    final_off = np.zeros(len(seg_n) + 1, dtype=np.int64)
    np.cumsum(seg_n, out=final_off[1:])
    bytes_out, codec_out = _pcm16_columns(
        final_off, data, np.ones(len(seg_n), dtype=bool)
    )
    take = pa.array(clip_idx, type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(pc.take(cb.col["clip_id"], take), pa.string()),
            pa.array(seg_idx.astype(np.int32), type=pa.int32()),
            bytes_out,
            pc.cast(pc.take(cb.col["sr_hz"], take), pa.int32()),
            codec_out,
            pa.array(seg_n, type=pa.int64()),
            pa.array(starts, type=pa.int64()),
        ],
        names=[
            "clip_id",
            "seg_idx",
            "bytes",
            "sr_hz",
            "codec",
            "n_samples",
            "start_sample",
        ],
    )


def segment_clips(df, *, segment_ms: int, hop_ms: int | None = None):
    """DataFrame entry point: fixed-length (optionally overlapping)
    training windows from every decodable clip, re-encoded pcm16 —
    variable fanout (rows out != rows in), zero shuffles (pure
    mapInArrow over the pruned scan). ``hop_ms`` defaults to
    ``segment_ms`` (non-overlapping tiling); the final partial window
    is kept, matching ``chunk_documents``' lossless-tail contract."""
    if segment_ms < 1:
        raise ValueError(f"segment_ms {segment_ms} < 1")
    hop_ms = segment_ms if hop_ms is None else hop_ms
    if hop_ms < 1:
        raise ValueError(f"hop_ms {hop_ms} < 1")
    return map_clips(
        df,
        CLIP_COLS,
        partial(segment_clips_batch, segment_ms=segment_ms, hop_ms=hop_ms),
        SEGMENT_OUT_SCHEMA,
    )


GAIN_OUT_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, codec string, "
    "n_samples long, gain_db double"
)


def normalize_gain_batch(batch, target_dbfs: float):
    """One Arrow RecordBatch -> every decodable clip rescaled to
    ``target_dbfs`` RMS (loudness normalization, the standard training
    corpus leveler): per-clip RMS via one reduceat over squared
    samples, one gain multiply over the flat buffer, clipped pcm16
    re-encode. Fully-silent clips (RMS 0) pass through at gain 0 dB
    (nothing to scale); undecodable rows keep NULL payload and NULL
    gain. Zero per-row Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    n = cb.n
    decodable = cb.n_avail > 0
    out_n = cb.n_avail
    gain_db = np.zeros(n, dtype=np.float64)
    final_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_n, out=final_off[1:])
    data = np.zeros(int(final_off[-1]), dtype="<i2")

    target_amp = 10.0 ** (target_dbfs / 20.0)
    for _c, sel, dec32, lens in decoded_chunks(
        cb, decodable, chunk_rows=RESAMPLE_CHUNK_ROWS, buf_name="gn_buf"
    ):
        # workspace-backed gain+quantize (value-identical; see
        # _gain_scaled_pcm16_chunk for the allocator story)
        pcm, starts, gdb = _gain_scaled_pcm16_chunk(dec32, lens, target_amp)
        gain_db[sel] = gdb
        # contiguous per-row copy into the output buffer — the
        # round-5 fancy-index scatter built three full-size index
        # arrays (arange + two repeats) to express what is a
        # row-sliced memcpy
        for j in range(len(sel)):
            s = int(starts[j])
            ln = int(lens[j])
            d = int(final_off[sel[j]])
            data[d : d + ln] = pcm[s : s + ln]

    bytes_arr, codec_out = _pcm16_columns(final_off, data, decodable)
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(cb.col["clip_id"], pa.string()),
            bytes_arr,
            pc.cast(cb.col["sr_hz"], pa.int32()),
            codec_out,
            pa.array(out_n, type=pa.int64()),
            masked_array(gain_db, decodable),
        ],
        names=["clip_id", "bytes", "sr_hz", "codec", "n_samples", "gain_db"],
    )


def normalize_gain(df, *, target_dbfs: float = -20.0):
    """DataFrame entry point: loudness-normalize every decodable clip
    to ``target_dbfs`` RMS (clipped pcm16 re-encode; the applied gain
    is reported in dB per clip). One row out per row in, zero shuffles
    — a pure mapInArrow over the pruned scan.

    For the quality metrics of the releveled audio, call
    :func:`gain_normalized_quality_metrics` on ``df`` instead of
    measuring this frame: same values from one decode, without the
    re-encoded payload column."""
    if not (-100.0 <= target_dbfs <= 0.0):
        raise ValueError(f"target_dbfs {target_dbfs} outside [-100, 0]")
    return map_clips(
        df,
        CLIP_COLS,
        partial(normalize_gain_batch, target_dbfs=target_dbfs),
        GAIN_OUT_SCHEMA,
    )


def gain_quality_batch(batch, target_dbfs: float):
    """One Arrow RecordBatch -> the quality-metrics RecordBatch of its
    normalize_gain output, from one decode (see
    :func:`gain_normalized_quality_metrics`)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .audio_quality import _quality_batch

    cb = clip_batch(batch)
    target_amp = 10.0 ** (target_dbfs / 20.0)

    def chunks():
        # same rows as normalize_gain_batch: its output rows are
        # decodable by the downstream metrics pass iff they were
        # decodable here (pcm16 re-encode keeps n_samples > 0)
        for c, sel, dec32, lens in decoded_chunks(
            cb, cb.n_avail > 0, chunk_rows=RESAMPLE_CHUNK_ROWS, buf_name="gn_buf"
        ):
            # normalize_gain_batch's exact chain — per-clip RMS gain ->
            # clip -> pcm16 quantize — through the shared
            # workspace-backed kernel ...
            pcm, _starts, _gdb = _gain_scaled_pcm16_chunk(dec32, lens, target_amp)
            # ... then the decoder's int16 * float32(1/32768) —
            # bit-identical to decoding the re-encoded payload
            samples = np.multiply(
                pcm,
                np.float32(1.0 / 32768.0),
                out=_WS.f32("gm_dec", pcm.shape[0]),
            )
            yield c, sel, samples, lens

    # the chained form's codec column is normalize_gain's OUTPUT
    # codec: 'pcm16' for every decodable row, NULL otherwise
    codec_out = pc.if_else(
        pa.array(cb.n_avail > 0),
        pa.scalar("pcm16", pa.string()),
        pa.scalar(None, pa.string()),
    )
    return _quality_batch(cb, codec_out, chunks())


def gain_normalized_quality_metrics(df, *, target_dbfs: float):
    """EXACTLY ``audio_quality_metrics(normalize_gain(df, target_dbfs))``
    from ONE decode of ``bytes`` — the fused current-snapshot side of
    audio_feature_drift (guide §4: the unfused chain decodes, scales,
    re-encodes pcm16, ships the full payload column Python->JVM->
    Python across two MapInArrow nodes, then decodes AGAIN; at MB-scale
    clips the payload round-trip dominates the whole check).

    Bit-exactness: pcm16 encode (clip(rint(x*32768))) followed by the
    decoder's ``int16 * float32(1/32768)`` is a deterministic
    quantization of the scaled samples — the fused kernel applies that
    exact chain in memory, so every metric matches the chained form
    bit-for-bit (pinned by tests/test_audio_transform.py::
    test_gain_metrics_fusion_exact)."""
    from .audio_quality import QUALITY_OUT_SCHEMA

    if not (-100.0 <= target_dbfs <= 0.0):
        raise ValueError(f"target_dbfs {target_dbfs} outside [-100, 0]")
    return map_clips(
        df,
        CLIP_COLS,
        partial(gain_quality_batch, target_dbfs=target_dbfs),
        QUALITY_OUT_SCHEMA,
    )
