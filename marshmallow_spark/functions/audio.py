"""Audio payload validation: codecs, deterministic reference PCM, SNR.

Implements U4 from SURVEY.md §2.8 — the per-row audio invariant
(decode ``bytes`` per codec/sr_hz, SNR>=30dB vs the deterministic
reference signal, transcript equality) as the columnar rendering of the
reference's per-field deserialize-then-validate pipeline
(/root/reference/src/marshmallow/fields.py:347-373).

Everything here is batch-vectorized numpy: variable-length rows are
processed by concatenating payloads into one flat buffer and using
offset arithmetic (``np.repeat`` + ``np.add.reduceat``) — zero per-row
Python in the hot path. Codec tables are the public ITU-T G.711
mu-law/A-law companding laws, built once per executor as 256-entry
decode LUTs.

This module also holds the decode scaffold every Arrow audio kernel
(``functions/audio*.py``) is built on:

- ``clip_batch(batch)`` unpacks a clips RecordBatch once: payload
  offsets/data/validity, ``byte_len``, ``sr``, per-codec masks, sample
  ``width`` and ``n_avail`` (whole samples in the payload; 0 for a
  NULL payload or a NULL/unknown codec).
- ``decoded_chunks(cb, rows, *, max_samples=None, chunk_rows,
  buf_name)`` decodes exactly the rows set in the boolean mask ``rows``
  (rows of a NULL/unknown codec are never decoded), codec by codec in
  ``KNOWN_CODECS`` order and at most ``chunk_rows`` rows at a time (each
  kernel passes its own module constant: 512, 1024 or 2048). It yields
  ``(codec, sel, dec, lens)``: ``sel`` the chunk's row indices in
  ascending order, ``lens`` the samples decoded per row and ``dec``
  their float32 samples in [-1, 1], concatenated. A row decodes its
  whole usable prefix (``n_avail`` samples: an odd trailing pcm16 byte
  is dropped) or, with ``max_samples``, only its head
  (``min(n_avail, max_samples)``). ``dec`` and the gather buffer
  ``buf_name`` live in the per-worker workspace and are valid until the
  next chunk.
- ``map_clips(df, cols, kernel, schema, passthrough=())`` is the single
  ``mapInArrow`` entry point; ``passthrough`` columns are carried from
  each input batch onto its same-row-count output batch.
- ``masked_array(vals, valid, type)`` assembles a NULL-masked output
  column from numpy in one call.
- ``segment_reduce(ufunc, x, lens, dtype=, fill=)`` reduces each
  ``lens``-long run of a concatenated buffer (runs start at
  ``row_starts(lens)``) and gives an empty run ``fill``; every per-clip
  reduction whose clip may be empty goes through it.
"""

from __future__ import annotations

import math
import re
from typing import NamedTuple

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# G.711 companding (public ITU-T spec), vectorized
# --------------------------------------------------------------------------

_ULAW_BIAS = 0x84
_ULAW_CLIP = 32635

# floor(log2(i)) for i in 0..255 (0 -> 0), used as the segment finder
_EXP_LUT = np.zeros(256, dtype=np.int32)
for _i in range(1, 256):
    _EXP_LUT[_i] = int(math.floor(math.log2(_i)))


def ulaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM -> mu-law bytes (uint8), segmented G.711 encoding."""
    pcm = pcm.astype(np.int32)
    sign = np.where(pcm < 0, 0x80, 0x00)
    mag = np.minimum(np.abs(pcm), _ULAW_CLIP) + _ULAW_BIAS
    seg = _EXP_LUT[(mag >> 7) & 0xFF]
    mantissa = (mag >> (seg + 3)) & 0x0F
    return (~(sign | (seg << 4) | mantissa)).astype(np.uint8)


def _build_ulaw_decode_lut() -> np.ndarray:
    codes = np.arange(256, dtype=np.uint8)
    u = (~codes).astype(np.int32) & 0xFF
    sign = u & 0x80
    seg = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = (((mantissa << 3) + _ULAW_BIAS) << seg) - _ULAW_BIAS
    return np.where(sign, -mag, mag).astype(np.int16)


_ALAW_CLIP = 32767


def alaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM -> A-law bytes (uint8), segmented G.711 encoding."""
    pcm = pcm.astype(np.int32)
    sign = np.where(pcm >= 0, 0x80, 0x00)
    mag = np.minimum(np.abs(pcm), _ALAW_CLIP)
    seg = _EXP_LUT[(mag >> 8) & 0xFF] + 1
    seg = np.where(mag < 256, 0, seg)
    mantissa = np.where(seg == 0, mag >> 4, (mag >> (seg + 3)) & 0x0F)
    return ((sign | (seg << 4) | mantissa) ^ 0x55).astype(np.uint8)


def _build_alaw_decode_lut() -> np.ndarray:
    codes = np.arange(256, dtype=np.int32) ^ 0x55
    sign = codes & 0x80
    seg = (codes >> 4) & 0x07
    mantissa = codes & 0x0F
    mag = np.where(
        seg == 0,
        (mantissa << 4) + 8,
        ((mantissa << 4) + 0x108) << (seg - 1),
    )
    return np.where(sign, mag, -mag).astype(np.int16)


ULAW_DECODE_LUT = _build_ulaw_decode_lut()
ALAW_DECODE_LUT = _build_alaw_decode_lut()

#: bytes per sample by codec
SAMPLE_WIDTH = {"pcm16": 2, "ulaw": 1, "alaw": 1}
KNOWN_CODECS = tuple(SAMPLE_WIDTH)


def decode_payload_batch(buf: np.ndarray, codec: str) -> np.ndarray:
    """Decode one codec subgroup's concatenated payload to float32 PCM
    in [-1, 1] (a workspace view, valid until the next decode)."""
    if codec == "pcm16":
        arr = np.frombuffer(buf, dtype="<i2")
    else:
        raw = np.frombuffer(buf, dtype=np.uint8)
        lut = ULAW_DECODE_LUT if codec == "ulaw" else ALAW_DECODE_LUT
        arr = lut[raw]
    out = _WS.f32("dec", arr.shape[0])
    np.multiply(arr, np.float32(1.0 / 32768.0), out=out)
    return out


# --------------------------------------------------------------------------
# Deterministic reference signal (shared by the generator and the checker)
# --------------------------------------------------------------------------

AMPLITUDE = 0.45
NOISE_AMPLITUDE = 0.01


def n_samples(sr_hz: np.ndarray, dur_ms: np.ndarray) -> np.ndarray:
    return (sr_hz.astype(np.int64) * dur_ms.astype(np.int64)) // 1000


class _Workspace:
    """Per-worker reusable float buffers. Fresh multi-MB numpy
    temporaries are glibc mmap allocations; freeing and re-faulting
    them on every Arrow batch serializes on the kernel page allocator
    across workers (measured: a 32-process fixed-work numpy benchmark
    runs 3x slower per-process than 1-process purely from this).
    Reusing warm buffers removes that contention entirely.

    Returned views alias the workspace: they are valid until the next
    request for the same name, so callers must consume (or reduce)
    a buffer before re-requesting it."""

    def __init__(self):
        self._bufs: dict[str, np.ndarray] = {}
        self._arange: np.ndarray = np.empty(0, dtype=np.float64)

    def _get(self, name: str, n: int, dtype) -> np.ndarray:
        b = self._bufs.get(name)
        if b is None or b.shape[0] < n:
            b = np.empty(int(n * 1.3) + 16, dtype=dtype)
            self._bufs[name] = b
        return b[:n]

    def f64(self, name: str, n: int) -> np.ndarray:
        return self._get(name, n, np.float64)

    def f32(self, name: str, n: int) -> np.ndarray:
        return self._get(name, n, np.float32)

    def arange(self, n: int) -> np.ndarray:
        """Cached 0..n-1 float64 ramp (read-only by convention) —
        avoids refilling a multi-MB sequential buffer every batch."""
        if self._arange.shape[0] < n:
            self._arange = np.arange(int(n * 1.3) + 16, dtype=np.float64)
        return self._arange[:n]


_WS = _Workspace()

#: samples per tile for the frac/sin chain in reference_pcm_flat:
#: 64K samples = 512 KB f64, comfortably L2-resident alongside the
#: f32 scratch tiles
_PCM_TILE = 1 << 16


# NOTE on the row-sliced fill loops below: they iterate over ROWS of a
# bounded chunk (<= UDF_CHUNK_ROWS), with every iteration a vectorized
# numpy slice op over that row's samples — the per-SAMPLE hot path
# stays pure numpy. Measured vs the allocation-free scatter-diff+cumsum
# rep: 1.2 ms vs 4.1 ms per 1.2M-sample chunk (one memory pass instead
# of three, and no sequential cumsum dependency).


def reference_pcm_flat(
    idx: np.ndarray, sr_hz: np.ndarray, dur_ms: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Generate the concatenated reference float PCM for a batch of
    clips. Returns (flat_float32, lengths). Fully vectorized AND
    allocation-free in steady state: all per-sample arrays live in the
    per-worker _Workspace (see UDF_CHUNK_ROWS for why that matters);
    the returned array aliases the workspace and is valid until the
    next call on this worker.

    Math is equivalent to the naive form:
      x = A*sin(2*pi*f*t/sr) + eps*pseudo_noise(t, idx)
    with t the intra-clip sample position. Both sines run through a
    float64 range-reduction (phase mod 1 cycle) followed by float32
    SIMD ``np.sin`` — numpy's float64 sin is scalar libm and ~20x
    slower (measured 86 ms vs 4 ms per 4M samples). Worst-case
    perturbation vs the all-float64 form is ~-60 dB (the hash-noise
    construction amplifies the 1-ulp float32 sin error by 43758 before
    frac), far below the 30 dB verdict threshold — and the synthetic
    generator (sources/synth.py:70) shares this exact kernel, so
    generated payloads and the checker's reference stay bit-consistent
    up to codec quantization."""
    lens = n_samples(sr_hz, dur_ms)
    keep = lens > 0
    if not keep.all():
        # drop zero-length rows for the kernel (callers see lens=0 rows
        # contribute no samples, same as np.repeat semantics)
        flat, _ = reference_pcm_flat(idx[keep], sr_hz[keep], dur_ms[keep])
        return flat, lens
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.float32), lens
    starts = row_starts(lens)

    two_pi_32 = np.float32(2.0 * np.pi)
    inv_two_pi = 1.0 / (2.0 * np.pi)

    # per-row phase constants (tiny arrays, float64):
    #   signal phase cycles  = (f/sr) * t
    #   noise  phase cycles  = t * 12.9898/2pi + frac(idx * 78.233/2pi)
    # the noise constant is range-reduced per ROW so the per-sample
    # affine stays small enough for exact f64 frac later
    freq = 110.0 * (1.0 + (idx % 40))
    cf = freq / sr_hz.astype(np.float64)
    c1 = 12.9898 * inv_two_pi
    nconst = np.mod(idx.astype(np.float64) * (78.233 * inv_two_pi), 1.0)

    sig64 = _WS.f64("a", total)
    nz64 = _WS.f64("b", total)
    ar = _WS.arange(total)
    for i in range(len(lens)):  # row-sliced fill (see note above)
        s = int(starts[i])
        e = s + int(lens[i])
        t = ar[: e - s]
        np.multiply(t, cf[i], out=sig64[s:e])
        np.multiply(t, c1, out=nz64[s:e])
        nz64[s:e] += nconst[i]

    # frac -> f32 sin -> combine, TILED so every intermediate stays
    # L2-resident: the phase arrays are read from DRAM once and only
    # the final f32 signal is written back (measured 1.24x over the
    # full-array chain single-threaded, bit-identical output; the
    # DRAM-traffic cut matters more under multi-worker contention)
    sig = _WS.f32("sig", total)
    tmp = _WS.f64("t", _PCM_TILE)
    nz = _WS.f32("nz", _PCM_TILE)
    fl = _WS.f32("fl", _PCM_TILE)
    amp32 = np.float32(AMPLITUDE)
    hash32 = np.float32(43758.5453)
    half32 = np.float32(0.5)
    eps32 = np.float32(NOISE_AMPLITUDE)
    for lo in range(0, total, _PCM_TILE):
        hi = min(lo + _PCM_TILE, total)
        m = hi - lo
        a = sig64[lo:hi]
        b = nz64[lo:hi]
        t = tmp[:m]
        np.floor(a, out=t)
        a -= t  # frac -> phase in [0, 1) cycles, exact in f64
        sseg = sig[lo:hi]
        sseg[:] = a  # cast+copy in one pass
        sseg *= two_pi_32
        np.sin(sseg, out=sseg)
        sseg *= amp32
        # noise: eps * (frac(sin(arg) * 43758.5453) - .5), f32 post-sin
        np.floor(b, out=t)
        b -= t
        nn = nz[:m]
        nn[:] = b
        nn *= two_pi_32
        np.sin(nn, out=nn)
        nn *= hash32
        f = fl[:m]
        np.floor(nn, out=f)
        nn -= f
        nn -= half32
        nn *= eps32
        sseg += nn
    return sig, lens


def reference_pcm16_flat(
    idx: np.ndarray, sr_hz: np.ndarray, dur_ms: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    flat, lens = reference_pcm_flat(idx, sr_hz, dur_ms)
    return (flat * 32767.0).astype(np.int16), lens


# --------------------------------------------------------------------------
# Deterministic transcripts
# --------------------------------------------------------------------------

_WORDS = (
    "the quick brown fox jumps over lazy dog pack my box with five dozen "
    "liquor jugs how vexingly daft zebras sphinx of black quartz judge vow"
).split()


def reference_transcript(i: int) -> str:
    k = 4 + (i % 9)
    return " ".join(_WORDS[(i * 7 + j * 13) % len(_WORDS)] for j in range(k))


#: reference_transcript is periodic in i: word choice cycles with
#: i % len(_WORDS) (26) and length with i % 9 -> period lcm(26, 9) = 234.
#: A 234-entry LUT turns the per-row string build into one fancy-index.
_TRANSCRIPT_PERIOD = 234
_TRANSCRIPT_LUT = np.array(
    [reference_transcript(i) for i in range(_TRANSCRIPT_PERIOD)], dtype=object
)


def reference_transcripts(idx: np.ndarray) -> pd.Series:
    return pd.Series(_TRANSCRIPT_LUT[np.mod(idx, _TRANSCRIPT_PERIOD)], dtype="object")


# --------------------------------------------------------------------------
# The Arrow decode scaffold shared by every audio kernel
# --------------------------------------------------------------------------
#
# Payloads are read from the BinaryArray's flat data buffer + offsets
# directly (zero-copy via np.frombuffer): no per-row Python ``bytes``
# objects and no ``b"".join`` memcpy before the kernel sees a sample.

#: the clip columns every decode kernel reads
CLIP_COLS = ("clip_id", "bytes", "sr_hz", "codec")


def _varlen_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets int64 view, flat uint8 data view) of a binary/utf8
    Arrow array, honoring the array's slice offset."""
    import pyarrow as pa

    bufs = arr.buffers()
    big = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type)
    odt = np.int64 if big else np.int32
    offsets = np.frombuffer(bufs[1], dtype=odt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    return offsets, data


def _gather_bytes(
    b_data: np.ndarray,
    offs: np.ndarray,
    lens: np.ndarray,
    name: str = "gather_buf",
) -> np.ndarray:
    """Concatenate the selected rows' payload slices into a REUSED
    per-worker workspace buffer (returns the filled uint8 view).

    Replaces the bare ``np.concatenate([...slices...])`` per chunk:
    that allocates a fresh multi-MB array every chunk, and across 32
    workers those mmap allocations serialize on the kernel page
    allocator (the _Workspace story). The gather itself stays
    ``np.concatenate`` — its C copy loop over the row views — just
    targeted at warm pages via ``out=`` (a first cut used per-row
    Python slice assignments instead; at ~5 KB head slices the ~2 us
    Python dispatch per row cost MORE than the allocation it saved —
    clips_mfcc measured 6.1 -> 8.7 s before this form reverted it)."""
    total = int(lens.sum())
    buf = _WS._get(name, total, np.uint8)
    if len(offs) == 0:
        return buf
    return np.concatenate(
        [
            b_data[o : o + ln]
            for o, ln in zip(offs.tolist(), lens.tolist())
        ],
        out=buf,
    )


def _np_bool(arrow_bool) -> np.ndarray:
    out = arrow_bool.to_numpy(zero_copy_only=False)
    if out.dtype != np.bool_:
        out = np.asarray([bool(x) for x in out], dtype=np.bool_)
    return out


def _np_int(arrow_ints) -> np.ndarray:
    out = arrow_ints.to_numpy(zero_copy_only=False)
    if out.dtype.kind == "f":  # nulls promote to float+NaN
        out = np.nan_to_num(out, nan=0.0)
    return out.astype(np.int64)


class ClipBatch(NamedTuple):
    """One Arrow batch of clips, unpacked once (see :func:`clip_batch`)."""

    col: dict  # column name -> Arrow array
    n: int
    off: np.ndarray  # payload byte offsets (int64, n + 1)
    data: np.ndarray  # payload flat uint8 buffer
    valid: np.ndarray  # payload is non-NULL
    byte_len: np.ndarray  # payload bytes, 0 for NULL
    sr: np.ndarray  # sr_hz, 0 for NULL
    is_codec: dict  # codec -> row mask, in KNOWN_CODECS order
    width: np.ndarray  # bytes per sample, 0 for a NULL/unknown codec
    n_avail: np.ndarray  # whole samples in the payload, 0 if undecodable


def clip_batch(batch) -> ClipBatch:
    """Unpack a clips RecordBatch (``bytes``, ``codec``, ``sr_hz`` and
    any other columns) into numpy views and per-codec masks."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
    n = batch.num_rows
    b_arr = col["bytes"]
    valid = _np_bool(pc.is_valid(b_arr))
    off, data = _varlen_buffers(b_arr)
    byte_len = np.where(valid, np.diff(off), 0).astype(np.int64)
    codec_arr = col["codec"]
    is_codec = {
        c: _np_bool(pc.fill_null(pc.equal(codec_arr, pa.scalar(c)), False))
        for c in KNOWN_CODECS
    }
    width = np.zeros(n, dtype=np.int64)
    for c, m in is_codec.items():
        width[m] = SAMPLE_WIDTH[c]
    n_avail = np.where(width > 0, byte_len // np.maximum(width, 1), 0)
    return ClipBatch(
        col, n, off, data, valid, byte_len, _np_int(col["sr_hz"]),
        is_codec, width, n_avail,
    )


def row_starts(lens: np.ndarray) -> np.ndarray:
    """Start of each row's run in a buffer of concatenated ``lens``-long runs."""
    starts = np.zeros(len(lens), dtype=np.int64)
    if len(lens) > 1:
        np.cumsum(lens[:-1], out=starts[1:])
    return starts


def segment_reduce(ufunc, x, lens, *, dtype=np.float64, fill=0):
    """Per-row ``ufunc.reduceat(x, ..., dtype=dtype)`` over ``x`` split
    into ``lens``-long runs; empty rows get ``fill``. reduceat returns
    ``x[start]`` for an empty run and raises for a trailing one (its
    start is ``len(x)``), so only the non-empty runs are reduced and
    their results scattered back into a ``dtype`` array."""
    out = np.full(len(lens), fill, dtype=dtype)
    nz = lens > 0
    if nz.any():
        out[nz] = ufunc.reduceat(x, row_starts(lens)[nz], dtype=dtype)
    return out


def decoded_chunks(
    cb: ClipBatch,
    rows: np.ndarray,
    *,
    max_samples: int | None = None,
    chunk_rows: int,
    buf_name: str,
):
    """Decode the ``rows`` (bool mask) of ``cb`` codec by codec, at most
    ``chunk_rows`` rows at a time; yields ``(codec, sel, dec, lens)``
    (see the module docstring for the contract)."""
    for c, is_c in cb.is_codec.items():
        w = SAMPLE_WIDTH[c]
        sel_all = np.flatnonzero(rows & is_c)
        for lo in range(0, len(sel_all), chunk_rows):
            sel = sel_all[lo : lo + chunk_rows]
            lens = cb.n_avail[sel]
            if max_samples is not None:
                lens = np.minimum(lens, max_samples)
            buf = _gather_bytes(cb.data, cb.off[sel], lens * w, name=buf_name)
            yield c, sel, decode_payload_batch(buf, c), lens


def masked_array(vals, valid, type=None):
    """Arrow array of ``vals`` (numpy) with NULL where ``valid`` is
    False, built in one call (float64 unless ``type`` says otherwise)."""
    import pyarrow as pa

    type = type or pa.float64()
    return pa.array(
        np.ascontiguousarray(vals, dtype=type.to_pandas_dtype()),
        type=type,
        mask=~np.asarray(valid, dtype=bool),
    )


def map_clips(df, cols, kernel, schema: str, passthrough=()):
    """The one ``mapInArrow`` entry point of the audio kernels: prunes
    ``df`` to ``cols`` (names or Columns) plus ``passthrough``, runs
    ``kernel`` (RecordBatch -> RecordBatch or None) on every batch, and
    appends the ``passthrough`` input columns to each output batch
    (same-row-count kernels only) with their input types."""
    import pyarrow as pa

    pruned = df.select(*cols, *passthrough)
    if passthrough:
        schema += "".join(
            f", `{f.name}` {f.dataType.simpleString()}"
            for f in pruned.schema.fields[len(cols) :]
        )

    def run(batches):
        for batch in batches:
            out = kernel(batch)
            if out is None:
                continue
            if passthrough:
                out = pa.RecordBatch.from_arrays(
                    out.columns + [batch.column(p) for p in passthrough],
                    names=out.schema.names + list(passthrough),
                )
            yield out

    return pruned.mapInArrow(run, schema=schema)


# --------------------------------------------------------------------------
# The invariant checker: mapInArrow over (clip_id, bytes, sr_hz, dur_ms,
# codec, transcript) -> violation rows
# --------------------------------------------------------------------------

SNR_THRESHOLD_DB = 30.0

INVARIANT_COLS = ("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")

INVARIANT_OUT_SCHEMA = (
    "clip_id string, field string, message string, snr_db double"
)

#: output of the fused invariant+quality kernel (check_invariant_arrow_batch
#: with quality=): invariant rows carry (field, message, snr_db); quality
#: rows carry the raw metrics of clips that breach at least one threshold
#: and are rendered to violation messages JVM-side (audio_quality
#: fused_audio_violations) so the text is byte-identical to the
#: standalone quality gate's format_string output.
FUSED_OUT_SCHEMA = (
    "clip_id string, field string, message string, snr_db double, "
    "check string, rms_dbfs double, clipping_ratio double, dc_offset double"
)

#: Rows per numpy working set inside the UDF. Arrow hands us batches of
#: spark.sql.execution.arrow.maxRecordsPerBatch (10k) rows; at ~4k
#: samples/clip that is ~40M samples and reference_pcm_flat's float64
#: temporaries hit ~2-3 GB per worker — 32 workers then fight the page
#: allocator and the stage runs SLOWER at higher parallelism (measured
#: 26s@8w -> 70s@32w on 600k clips). Chunking to 1024 rows bounds the
#: working set to ~100 MB/worker and restores near-linear scaling; the
#: numpy calls stay batch-vectorized.
UDF_CHUNK_ROWS = 1024


def _snr_db(ref_flat, dec_flat, lens) -> np.ndarray:
    """Per-row SNR from per-row power sums over the concatenated sample
    arrays."""
    n = len(ref_flat)
    # square into a reusable f64 buffer (accumulation stays float64 for
    # the per-row sums); err lives in a f32 workspace view
    p = _WS.f64("t", n)
    np.multiply(ref_flat, ref_flat, out=p)
    sig_pow = segment_reduce(np.add, p, lens)
    err = _WS.f32("err", n)
    np.subtract(ref_flat, dec_flat, out=err)
    np.multiply(err, err, out=p)
    err_pow = segment_reduce(np.add, p, lens)
    with np.errstate(divide="ignore", invalid="ignore"):
        snr = 10.0 * np.log10(sig_pow / np.maximum(err_pow, 1e-30))
    return np.where(err_pow <= 1e-30, np.inf, snr)


#: transcript LUT flattened to bytes for vectorized comparison (ASCII,
#: so utf8-byte equality == string equality)
_TX_ENC = [t.encode() for t in _TRANSCRIPT_LUT]
_TX_LEN = np.array([len(b) for b in _TX_ENC], dtype=np.int64)
_TX_OFF = np.zeros(_TRANSCRIPT_PERIOD + 1, dtype=np.int64)
np.cumsum(_TX_LEN, out=_TX_OFF[1:])
_TX_FLAT = np.frombuffer(b"".join(_TX_ENC), dtype=np.uint8)

_ID_PREFIX = np.frombuffer(b"clip-", dtype=np.uint8)
_ID_POWERS = 10 ** np.arange(11, -1, -1, dtype=np.int64)


def _clip_indices_arrow(id_off: np.ndarray, id_data: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """clip-%012d -> int64 index; -1 for null/malformed. Fast path:
    when every id is the canonical 17-byte form, one reshape + digit
    dot-product parses the whole batch."""
    n = len(id_off) - 1
    lens = np.diff(id_off)
    if valid.all() and (lens == 17).all():
        block = id_data[id_off[0] : id_off[-1]].reshape(n, 17)
        if (block[:, :5] == _ID_PREFIX).all():
            digs = block[:, 5:].astype(np.int64) - 48
            if ((digs >= 0) & (digs <= 9)).all():
                return digs @ _ID_POWERS
    idx = np.full(n, -1, dtype=np.int64)
    for i in range(n):  # malformed-id fallback only
        if not valid[i]:
            continue
        s = bytes(id_data[id_off[i] : id_off[i + 1]]).decode("utf-8", "replace")
        m = re.search(r"(\d+)$", s)
        if m:
            idx[i] = int(m.group(1))
    return idx


def _transcript_mismatch_arrow(
    idx: np.ndarray, t_off: np.ndarray, t_data: np.ndarray, t_valid: np.ndarray
) -> np.ndarray:
    """Vectorized transcript-vs-LUT comparison: length check first,
    then a padded 2D byte gather for equal-length rows."""
    e = np.mod(idx, _TRANSCRIPT_PERIOD)
    elen = _TX_LEN[e]
    alen = np.diff(t_off)
    cand = t_valid & (idx >= 0)
    mismatch = cand & (alen != elen)
    rows = np.flatnonzero(cand & (alen == elen))
    if len(rows):
        width = int(elen[rows].max())
        cols = np.arange(width, dtype=np.int64)
        a_ix = np.minimum(t_off[rows, None] + cols[None, :], len(t_data) - 1)
        e_ix = np.minimum(_TX_OFF[e[rows], None] + cols[None, :], len(_TX_FLAT) - 1)
        live = cols[None, :] < alen[rows, None]
        neq = ((t_data[a_ix] != _TX_FLAT[e_ix]) & live).any(axis=1)
        mismatch[rows[neq]] = True
    return mismatch


def _id_at(i: int, id_off: np.ndarray, id_data: np.ndarray) -> str:
    return bytes(id_data[id_off[i] : id_off[i + 1]]).decode("utf-8", "replace")


def check_invariant_arrow_batch(batch, *, quality: dict | None = None):
    """One Arrow RecordBatch -> violation RecordBatch (or None).

    Checks, in skip-on-structural-error order (parity with
    marshmallow's skip_on_field_errors, src/marshmallow/schema.py):
      1. codec known (else "Must be one of: ...")
      2. payload length == n_samples * width ("Truncated audio payload ...")
      3. decoded PCM SNR >= 30 dB vs reference ("Audio does not match ...")
      4. transcript equality vs deterministic reference
    Clip indices are parsed by reshaping the fixed-width id strings and
    transcripts are compared against the periodic LUT with a padded 2D
    byte gather — only flagged rows pay per-row string extraction.

    ``quality`` fuses the signal-quality gate into the SAME decode
    pass (keys: min_rms_dbfs / max_clipping_ratio / max_abs_dc_offset):
    sum, sum-of-squares, and clipped-sample counts accumulate from the
    samples already decoded for the SNR check, and rows the invariant
    does not decode (truncated payloads, rows failing the optional
    ``_inv_eligible`` input column) get a prefix-decode so the gate
    measures exactly the rows the standalone audio_quality_metrics
    measures. Output switches to FUSED_OUT_SCHEMA:
    invariant rows plus one metrics row per threshold-breaching clip
    (messages rendered JVM-side downstream). An ``_inv_eligible``
    boolean input column, when present, gates every invariant-side
    check (the suite's structural pre-filter pushed into the kernel so
    the quality gate can still measure ineligible rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cb = clip_batch(batch)
    n, col, sr = cb.n, cb.col, cb.sr
    id_arr = col["clip_id"]
    id_valid = _np_bool(pc.is_valid(id_arr))
    id_off, id_data = _varlen_buffers(id_arr)
    idx = _clip_indices_arrow(id_off, id_data, id_valid)
    dur = _np_int(col["dur_ms"])

    if "_inv_eligible" in col:
        elig = _np_bool(pc.fill_null(col["_inv_eligible"], False))
    else:
        elig = np.ones(n, dtype=bool)

    codec_known = cb.width > 0
    structural_ok = elig & codec_known & (sr > 0) & (dur > 0) & cb.valid

    out_id: list[str] = []
    out_field: list[str] = []
    out_msg: list[str] = []
    out_snr: list[float | None] = []

    choices_text = ", ".join(KNOWN_CODECS)
    for i in np.flatnonzero(~codec_known & elig):
        out_id.append(_id_at(i, id_off, id_data))
        out_field.append("codec")
        out_msg.append(f"Must be one of: {choices_text}.")
        out_snr.append(None)

    expected_bytes = n_samples(sr, dur) * cb.width
    bad_len = structural_ok & (cb.byte_len != expected_bytes)
    for i in np.flatnonzero(bad_len):
        out_id.append(_id_at(i, id_off, id_data))
        out_field.append("bytes")
        out_msg.append(
            f"Truncated audio payload: expected {int(expected_bytes[i])} bytes, got {int(cb.byte_len[i])}."
        )
        out_snr.append(None)

    if quality is not None:
        from .audio_quality import _sample_sums

        q_n = np.zeros(n, dtype=np.int64)
        q_s = np.zeros(n)
        q_ss = np.zeros(n)
        q_clip = np.zeros(n)

        def measure(sel, x, lens):
            q_n[sel] = lens
            q_s[sel], q_ss[sel], q_clip[sel], _ = _sample_sums(x, lens)

    decodable = structural_ok & ~bad_len
    for _c, sel, dec, _ in decoded_chunks(
        cb, decodable, chunk_rows=UDF_CHUNK_ROWS, buf_name="gather_buf"
    ):
        ref_flat, lens = reference_pcm_flat(idx[sel], sr[sel], dur[sel])
        if quality is not None:
            # the fused gate reuses THIS decode — the whole point:
            # bytes are scanned and decoded once for both checks
            measure(sel, dec[: len(ref_flat)], lens)
        snr = _snr_db(ref_flat, dec[: len(ref_flat)], lens)
        for j in np.flatnonzero(snr < SNR_THRESHOLD_DB):
            i = sel[j]
            out_id.append(_id_at(i, id_off, id_data))
            out_field.append("bytes")
            out_msg.append(
                f"Audio does not match reference: SNR {snr[j]:.1f} dB < {SNR_THRESHOLD_DB:.0f} dB."
            )
            out_snr.append(float(snr[j]))

    if quality is not None:
        # quality-only rows the invariant never decodes (truncated
        # payloads, ineligible rows): usable-prefix decode, matching
        # standalone audio_quality_metrics semantics. Violation-rate
        # sized in practice — the clean-path common set decoded above.
        for _c, sel, dec, lens in decoded_chunks(
            cb,
            (cb.n_avail > 0) & ~decodable,
            chunk_rows=UDF_CHUNK_ROWS,
            buf_name="gather_buf",
        ):
            measure(sel, dec, lens)

    t_arr = col["transcript"]
    t_valid = _np_bool(pc.is_valid(t_arr))
    t_off, t_data = _varlen_buffers(t_arr)
    for i in np.flatnonzero(
        _transcript_mismatch_arrow(idx, t_off, t_data, t_valid) & elig
    ):
        out_id.append(_id_at(i, id_off, id_data))
        out_field.append("transcript")
        out_msg.append("Transcript does not match reference.")
        out_snr.append(None)

    if quality is None:
        if not out_id:
            return None
        return pa.RecordBatch.from_arrays(
            [
                pa.array(out_id, type=pa.string()),
                pa.array(out_field, type=pa.string()),
                pa.array(out_msg, type=pa.string()),
                pa.array(out_snr, type=pa.float64()),
            ],
            names=["clip_id", "field", "message", "snr_db"],
        )

    # threshold prefilter (same comparisons the JVM renderer re-applies
    # on the exact float64 values shipped below, so the flagged set is
    # identical to the standalone gate's)
    n_inv = len(out_id)
    q_measured = q_n > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        denom = np.maximum(q_n, 1).astype(np.float64)
        rms_dbfs = 20.0 * np.log10(np.maximum(np.sqrt(q_ss / denom), 1e-12))
        dc = q_s / denom
        ratio = q_clip / denom
    bad = np.zeros(n, dtype=bool)
    if quality.get("min_rms_dbfs") is not None:
        bad |= q_measured & (rms_dbfs < float(quality["min_rms_dbfs"]))
    if quality.get("max_clipping_ratio") is not None:
        bad |= q_measured & (ratio > float(quality["max_clipping_ratio"]))
    if quality.get("max_abs_dc_offset") is not None:
        bad |= q_measured & (np.abs(dc) > float(quality["max_abs_dc_offset"]))
    q_rows = np.flatnonzero(bad)
    for i in q_rows:
        out_id.append(_id_at(i, id_off, id_data))
        out_field.append("bytes")
        out_msg.append(None)
        out_snr.append(None)

    if not out_id:
        return None
    n_q = len(q_rows)
    check = ["audio"] * n_inv + ["audio_quality"] * n_q
    pad = [None] * n_inv
    return pa.RecordBatch.from_arrays(
        [
            pa.array(out_id, type=pa.string()),
            pa.array(out_field, type=pa.string()),
            pa.array(out_msg, type=pa.string()),
            pa.array(out_snr, type=pa.float64()),
            pa.array(check, type=pa.string()),
            pa.array(pad + [float(rms_dbfs[i]) for i in q_rows], type=pa.float64()),
            pa.array(pad + [float(ratio[i]) for i in q_rows], type=pa.float64()),
            pa.array(pad + [float(dc[i]) for i in q_rows], type=pa.float64()),
        ],
        names=[
            "clip_id",
            "field",
            "message",
            "snr_db",
            "check",
            "rms_dbfs",
            "clipping_ratio",
            "dc_offset",
        ],
    )


def audio_invariant_violations(df):
    """DataFrame-level entry point: violation rows (clip_id, field,
    message, snr_db) from one mapInArrow pass with zero-copy payload
    access — no per-row bytes objects, no join memcpy on the input
    side.

    Column pruning matters at 100 TB: this selects exactly the six
    columns the check needs, so Parquet never materializes anything
    else; the scan of ``bytes`` dominates and is unavoidable for this
    check (and ONLY this check — structural checks never read it).
    """
    return map_clips(
        df, INVARIANT_COLS, check_invariant_arrow_batch, INVARIANT_OUT_SCHEMA
    )
