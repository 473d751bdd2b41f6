"""Deterministic synthetic audio clips table (FIXTURES.md F1).

Generated distributed via ``spark.range(n).mapInPandas`` — every
attribute (sample rate, duration, codec, waveform, transcript,
violation injection) is a pure function of the clip index, so the same
table materializes identically at any parallelism level and any scale
(no wall-clock, no stateful RNG). This is both the engine's test
fixture and its bench corpus.

Violation schedule (all deterministic, disjoint-ish prime moduli):
  i % 997 == 1  -> duplicate clip_id (copies content of i-1)    ~0.1%
  i % 100 == 7  -> hot key "clip-%012d" % HOT_INDEX (skew)        ~1%
  i % 499 == 3  -> corrupted payload (XOR bit flips, SNR<30)    ~0.2%
  i % 991 == 5  -> truncated payload (90% of bytes)             ~0.1%
  i % 1009 == 11 -> invalid sr_hz (12345)                       ~0.1%
  i % 1013 == 13 -> invalid dur_ms (-5)                         ~0.1%
  i % 1019 == 17 -> unknown codec ("opus")                      ~0.1%
  i % 983 == 19 -> NULL transcript                              ~0.1%
  i % 977 == 23 -> mismatched transcript                        ~0.1%
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions import audio

CLIP_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, transcript string"
)

SR_CHOICES = np.array([8000, 16000, 22050, 44100], dtype=np.int64)
CODEC_CHOICES = np.array(["pcm16", "ulaw", "alaw"], dtype=object)
HOT_INDEX = 7


def _fmt_ids(idx: np.ndarray) -> pd.Series:
    return pd.Series(idx).map(lambda i: f"clip-{i:012d}")


def _attrs_for(idx: np.ndarray, dur_lo: int, dur_hi: int):
    """Deterministic per-index attributes (vectorized)."""
    sr = SR_CHOICES[idx % 4]
    dur = dur_lo + (idx * 37) % (dur_hi - dur_lo)
    codec = CODEC_CHOICES[idx % 3]
    return sr, dur.astype(np.int64), codec


def generate_batch(
    idx: np.ndarray, *, with_violations: bool, dur_lo: int, dur_hi: int
) -> pd.DataFrame:
    """Generate one batch of clips for the given indices."""
    n = len(idx)
    # content identity: duplicates / hot keys take over another index's
    # identity AND content, so their payload stays reference-consistent
    # (they violate uniqueness, not the audio invariant)
    content_idx = idx.copy()
    if with_violations:
        dup = (idx % 997 == 1) & (idx > 0)
        content_idx[dup] = idx[dup] - 1
        hot = idx % 100 == 7
        content_idx[hot] = HOT_INDEX

    sr, dur, codec = _attrs_for(content_idx, dur_lo, dur_hi)
    pcm_flat, lens = audio.reference_pcm16_flat(content_idx, sr, dur)
    starts = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(lens[:-1], out=starts[1:])

    # encode per codec subgroup (batch-level numpy; per-row work is only
    # the final buffer slicing)
    payload: list[bytes | None] = [None] * n
    for c, enc in (("pcm16", None), ("ulaw", audio.ulaw_encode), ("alaw", audio.alaw_encode)):
        sel = np.flatnonzero(codec == c)
        if len(sel) == 0:
            continue
        if c == "pcm16":
            for i in sel:
                s, l = starts[i], lens[i]
                payload[i] = pcm_flat[s : s + l].astype("<i2").tobytes()
        else:
            encoded = enc(pcm_flat)
            for i in sel:
                s, l = starts[i], lens[i]
                payload[i] = encoded[s : s + l].tobytes()

    tx = audio.reference_transcripts(content_idx)

    clip_id = _fmt_ids(content_idx)
    sr_out = sr.copy()
    dur_out = dur.copy()
    codec_out = codec.astype(object).copy()

    if with_violations:
        corrupt = idx % 499 == 3
        for i in np.flatnonzero(corrupt):
            b = bytearray(payload[i])
            b[:: max(1, len(b) // 64)] = bytes(
                (x ^ 0xE0) & 0xFF for x in b[:: max(1, len(b) // 64)]
            )
            payload[i] = bytes(b)
        trunc = idx % 991 == 5
        for i in np.flatnonzero(trunc):
            payload[i] = payload[i][: int(len(payload[i]) * 0.9)]
        sr_out[idx % 1009 == 11] = 12345
        dur_out[idx % 1013 == 13] = -5
        codec_out[idx % 1019 == 17] = "opus"
        tx = tx.mask(pd.Series(idx % 983 == 19))
        bad_tx = idx % 977 == 23
        tx = tx.mask(pd.Series(bad_tx), tx + " xxx")

    return pd.DataFrame(
        {
            "clip_id": clip_id,
            "bytes": payload,
            "sr_hz": sr_out.astype(np.int32),
            "dur_ms": dur_out.astype(np.int32),
            "codec": codec_out,
            "transcript": tx,
        }
    )


def synth_clips(
    spark: SparkSession,
    n: int,
    *,
    with_violations: bool = True,
    dur_lo: int = 40,
    dur_hi: int = 120,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic clips table of ``n`` rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx = pdf["id"].to_numpy(dtype=np.int64)
            yield generate_batch(
                idx, with_violations=with_violations, dur_lo=dur_lo, dur_hi=dur_hi
            )

    rng = spark.range(0, n, numPartitions=num_partitions) if num_partitions else spark.range(0, n)
    return rng.mapInPandas(gen, schema=CLIP_SCHEMA)


def codecs_dim(spark: SparkSession) -> DataFrame:
    """3-row codec dimension for broadcast referential joins (F1).

    An inline ``VALUES`` table, so it plans as a LocalRelation: a
    ``createDataFrame`` list is a scan of a Python RDD, which runs a
    Python-worker task inside every query that joins it."""
    return spark.sql(
        "SELECT * FROM VALUES ('pcm16', 16, true), ('ulaw', 8, true), "
        "('alaw', 8, true) AS codecs(codec, bits_per_sample, lawful)"
    )


def clips_ref_manifest(
    spark: SparkSession, n: int, *, num_partitions: int | None = None
) -> DataFrame:
    """Reference manifest (clip_id, transcript) regenerated from the
    same deterministic functions — the big-big sort-merge join side for
    transcript-equality checks (F1 companion table)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx = pdf["id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "clip_id": _fmt_ids(idx),
                    "transcript": audio.reference_transcripts(idx),
                }
            )

    rng = spark.range(0, n, numPartitions=num_partitions) if num_partitions else spark.range(0, n)
    return rng.mapInPandas(gen, schema="clip_id string, transcript string")
