"""Multimodal (image / video) column plumbing.

Audio is first-class in this engine (functions/audio.py — real G.711
decode + SNR). Image and video payloads follow the same pattern:
opaque ``binary`` columns + typed metadata, processed in Arrow-batched
``mapInPandas`` UDFs. The decode kernels themselves need codec
libraries that are NOT in this container, so they are STUBBED behind
``NotImplementedError`` with a deterministic fake — the Spark-side
plumbing (schemas, batch shapes, partitioning, UDF signatures) is real
and tested.

Batch discipline mirrors audio.py: the fake-decode path is a single
numpy pass over the CONCATENATED payload buffer per chunk (offsets +
one bincount), never a per-row Python loop — the measured anti-scaling
audio.py documents (26s@8w -> 70s@32w with big per-worker temporaries)
applies identically here, so batches are chunked to bound the working
set. The only per-row Python remaining is the call boundary where a
real codec would sit.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

#: Canonical metadata schemas for multimodal tables.
IMAGE_SCHEMA = (
    "image_id string, bytes binary, width int, height int, channels int, format string"
)
VIDEO_SCHEMA = (
    "video_id string, bytes binary, fps double, n_frames int, codec string"
)

IMAGE_FEATURES_SCHEMA = "image_id string, feat array<float>, decode_ok boolean"
FRAME_SAMPLE_SCHEMA = "video_id string, frame_index int, frame_bytes binary"

def _probe_decoders() -> str | None:
    """Import-probe for real image codec libraries (round-2 advice:
    the real path must light up AUTOMATICALLY on any machine with
    codecs installed, not behind a hand-flipped constant). Probed in
    preference order; returns the backend name or None."""
    try:  # pragma: no cover - not installed in the CI container
        import PIL.Image  # noqa: F401

        return "pillow"
    except ImportError:
        pass
    try:  # pragma: no cover - not installed in the CI container
        import cv2  # noqa: F401

        return "opencv"
    except ImportError:
        pass
    return None


#: Backend name ("pillow" / "opencv") or None. Evaluated once at
#: import; conformance tests (tests/test_multimodal.py) skip unless a
#: backend is present, so the same suite is green with or without
#: codecs and exercises the real kernels automatically where they
#: exist.
DECODER_BACKEND = _probe_decoders()
REAL_DECODERS_AVAILABLE = DECODER_BACKEND is not None

#: Rows per numpy working set inside the UDFs (same rationale as
#: audio.UDF_CHUNK_ROWS: bound per-worker temporaries so 32 workers
#: don't fight the page allocator).
UDF_CHUNK_ROWS = 1024


def _decode_image_real(payload: bytes, fmt: str) -> np.ndarray:
    """Decode one image payload to a normalized 256-bin grayscale
    intensity histogram (float32) — the same feature contract as the
    fake path, computed over DECODED PIXELS instead of raw bytes.

    This is the per-row codec call site; everything around it (schema,
    chunking, offsets, Arrow batching) is identical for both paths.
    Raises NotImplementedError only when no codec library is installed.
    """
    if DECODER_BACKEND == "pillow":  # pragma: no cover - codec-gated
        import io

        import PIL.Image

        img = PIL.Image.open(io.BytesIO(payload)).convert("L")
        px = np.asarray(img, dtype=np.uint8).ravel()
    elif DECODER_BACKEND == "opencv":  # pragma: no cover - codec-gated
        import cv2

        px = cv2.imdecode(
            np.frombuffer(payload, dtype=np.uint8), cv2.IMREAD_GRAYSCALE
        )
        if px is None:
            raise ValueError("undecodable image payload")
        px = px.ravel()
    else:
        raise NotImplementedError(
            "image decode requires PIL/opencv which are not installed in "
            "this container; the deterministic fake path exercises the "
            "identical Spark plumbing"
        )
    hist = np.bincount(px, minlength=256).astype(np.float32)
    return hist / np.float32(max(len(px), 1))


def _payload_offsets(payloads: np.ndarray) -> tuple[bytes, np.ndarray, np.ndarray]:
    """object array of bytes/None -> (concatenated buffer, per-row
    lengths, per-row exclusive-prefix starts)."""
    lens = np.fromiter(
        (len(b) if b is not None else 0 for b in payloads),
        dtype=np.int64,
        count=len(payloads),
    )
    starts = np.zeros(len(lens), dtype=np.int64)
    if len(lens) > 1:
        np.cumsum(lens[:-1], out=starts[1:])
    buf = b"".join(b for b in payloads if b is not None)
    return buf, lens, starts


def _fake_image_features_batch(payloads: np.ndarray, feat_dim: int) -> np.ndarray:
    """Deterministic stand-in decoder, one numpy pass for the WHOLE
    chunk: normalized byte histogram per row. Rows are separated by
    indexing each byte as row_id*256 + value and bincounting once —
    the same offsets trick audio.decode_payload_batch uses; no per-row
    Python loop anywhere."""
    buf, lens, starts = _payload_offsets(payloads)
    n = len(payloads)
    arr = np.frombuffer(buf, dtype=np.uint8)
    # int32 everywhere: the combined index tops out at UDF_CHUNK_ROWS*256
    # (~256k), and avoiding int64 temporaries halves the memory traffic
    # of the three passes below
    row_base = np.repeat(
        np.arange(n, dtype=np.int32) << 8, lens
    )
    combined = row_base + arr
    hist = np.bincount(combined, minlength=n * 256).reshape(n, 256)
    denom = np.maximum(lens, 1).astype(np.float32)[:, None]
    feats = hist.astype(np.float32) / denom
    return feats[:, :feat_dim]


def image_features(df: DataFrame, *, feat_dim: int = 256) -> DataFrame:
    """Batch feature extraction over an IMAGE_SCHEMA table.

    Arrow-batched mapInPandas: selects only the needed columns (the
    scan never reads unrelated metadata); the fake path is one
    vectorized numpy pass per chunk. A real decoder would slot in at
    the clearly-marked per-row boundary and everything around it —
    schema, chunking, offsets — stays identical.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), UDF_CHUNK_ROWS):
                chunk = pdf.iloc[lo : lo + UDF_CHUNK_ROWS]
                payloads = chunk["bytes"].to_numpy(dtype=object)
                if REAL_DECODERS_AVAILABLE:  # pragma: no cover - codec-gated
                    # per-row boundary: real codecs decode one image at
                    # a time; this loop is the codec call site only.
                    # Undecodable payloads become (zeros, decode_ok=False)
                    # rows instead of failing the task.
                    feats, ok_list = [], []
                    for p in payloads:
                        if p is None:
                            feats.append(np.zeros(feat_dim, np.float32))
                            ok_list.append(False)
                            continue
                        try:
                            feats.append(
                                np.asarray(
                                    _decode_image_real(p, "png")[:feat_dim],
                                    dtype=np.float32,
                                )
                            )
                            ok_list.append(True)
                        except Exception:
                            feats.append(np.zeros(feat_dim, np.float32))
                            ok_list.append(False)
                    oks = np.array(ok_list, dtype=bool)
                else:
                    fm = _fake_image_features_batch(payloads, feat_dim)
                    # rows stay float32 ndarrays — Arrow converts them
                    # zero-copy-ish; .tolist() here would materialize
                    # feat_dim Python floats per row and dominate wall
                    feats = list(fm)
                    oks = np.array([p is not None for p in payloads])
                yield pd.DataFrame(
                    {
                        "image_id": chunk["image_id"].reset_index(drop=True),
                        "feat": pd.Series(feats, dtype=object),
                        "decode_ok": oks,
                    }
                )

    return df.select("image_id", "bytes", "width", "height", "channels").mapInPandas(
        run, schema=IMAGE_FEATURES_SCHEMA
    )


def sample_frames(df: DataFrame, *, every_n: int = 10) -> DataFrame:
    """Frame sampling over a VIDEO_SCHEMA table: one output row per
    sampled frame index. Real frame extraction is stubbed (no ffmpeg in
    the container); byte-range slicing stands in, preserving the
    one-to-many batch shape a real sampler produces.

    Index math is fully vectorized (repeat + exclusive-prefix ordinal);
    the per-output-row byte slice is the stand-in for the codec call —
    a real extractor performs exactly one such call per output row too.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), UDF_CHUNK_ROWS):
                chunk = pdf.iloc[lo : lo + UDF_CHUNK_ROWS]
                payloads = chunk["bytes"].to_numpy(dtype=object)
                n_frames = (
                    chunk["n_frames"].fillna(0).to_numpy(dtype=np.int64)
                )
                sizes = np.fromiter(
                    (len(b) if b is not None else 0 for b in payloads),
                    dtype=np.int64,
                    count=len(payloads),
                )
                # ceil(n / every_n) sampled frames per video
                n_sampled = (np.maximum(n_frames, 0) + every_n - 1) // every_n
                total = int(n_sampled.sum())
                if total == 0:
                    continue
                row_of_out = np.repeat(
                    np.arange(len(chunk), dtype=np.int64), n_sampled
                )
                cum = np.zeros(len(chunk), dtype=np.int64)
                if len(chunk) > 1:
                    np.cumsum(n_sampled[:-1], out=cum[1:])
                ordinal = np.arange(total, dtype=np.int64) - cum[row_of_out]
                frame_idx = ordinal * every_n
                per = np.maximum(sizes // np.maximum(n_frames, 1), 1)
                starts = frame_idx * per[row_of_out]
                ends = starts + per[row_of_out]
                ids = chunk["video_id"].to_numpy(dtype=object)[row_of_out]
                # stand-in codec call site: one slice per output row
                frames = [
                    bytes(payloads[r][s:e]) if payloads[r] is not None else b""
                    for r, s, e in zip(row_of_out, starts, ends)
                ]
                yield pd.DataFrame(
                    {
                        "video_id": ids,
                        "frame_index": frame_idx.astype(np.int32),
                        "frame_bytes": frames,
                    }
                )

    return df.select("video_id", "bytes", "n_frames").mapInPandas(
        run, schema=FRAME_SAMPLE_SCHEMA
    )
