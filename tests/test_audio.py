"""Audio codec + invariant checks: G.711 roundtrip SNR, corruption
detection, truncation, transcript mismatch — on the deterministic synth
table."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from marshmallow_spark.functions import audio
from marshmallow_spark.sources.synth import generate_batch, synth_clips


def test_ulaw_roundtrip_snr():
    idx = np.arange(8, dtype=np.int64)
    sr = np.full(8, 8000, dtype=np.int64)
    dur = np.full(8, 100, dtype=np.int64)
    pcm, lens = audio.reference_pcm16_flat(idx, sr, dur)
    dec = audio.ULAW_DECODE_LUT[audio.ulaw_encode(pcm)].astype(np.float32) / 32768.0
    ref = pcm.astype(np.float32) / 32768.0
    snr = audio._snr_db(ref, dec, lens)
    assert (snr > 30).all(), snr


def test_alaw_roundtrip_snr():
    idx = np.arange(8, dtype=np.int64)
    sr = np.full(8, 16000, dtype=np.int64)
    dur = np.full(8, 80, dtype=np.int64)
    pcm, lens = audio.reference_pcm16_flat(idx, sr, dur)
    dec = audio.ALAW_DECODE_LUT[audio.alaw_encode(pcm)].astype(np.float32) / 32768.0
    ref = pcm.astype(np.float32) / 32768.0
    snr = audio._snr_db(ref, dec, lens)
    assert (snr > 30).all(), snr


def _arrow_violations(pdf):
    """check_invariant_arrow_batch over one generated pandas batch, as a
    DataFrame (empty when the kernel emits no batch)."""
    out = audio.check_invariant_arrow_batch(pa.RecordBatch.from_pandas(pdf))
    if out is None:
        return pd.DataFrame(columns=["clip_id", "field", "message", "snr_db"])
    return out.to_pandas()


def test_clean_batch_has_no_violations():
    idx = np.arange(50, dtype=np.int64)
    pdf = generate_batch(idx, with_violations=False, dur_lo=40, dur_hi=120)
    out = _arrow_violations(pdf)
    assert len(out) == 0, out


def test_injected_violations_detected():
    # indices covering each violation class
    idx = np.array([3, 5, 17, 23, 499 * 3 + 3, 991 + 5, 977 + 23], dtype=np.int64)
    pdf = generate_batch(idx, with_violations=True, dur_lo=40, dur_hi=120)
    out = _arrow_violations(pdf)
    by_field = out.groupby("field").size().to_dict()
    assert by_field.get("bytes", 0) >= 3  # corrupt x2 + truncated
    assert by_field.get("transcript", 0) >= 2
    # corrupted rows report SNR below threshold
    snrs = out[out["message"].str.startswith("Audio does not match")]["snr_db"]
    assert (snrs < 30).all()


def test_unknown_codec_detected():
    idx = np.array([17, 1019 + 17], dtype=np.int64)
    pdf = generate_batch(idx, with_violations=True, dur_lo=40, dur_hi=120)
    out = _arrow_violations(pdf)
    assert "Must be one of: pcm16, ulaw, alaw." in set(out["message"])


def test_synth_clips_deterministic(spark):
    a = synth_clips(spark, 200, num_partitions=2).orderBy("clip_id").collect()
    b = synth_clips(spark, 200, num_partitions=4).orderBy("clip_id").collect()
    assert len(a) == 200
    for ra, rb in zip(a, b):
        assert ra.clip_id == rb.clip_id
        assert ra.bytes == rb.bytes
        assert ra.transcript == rb.transcript


def test_invariant_on_spark(spark):
    df = synth_clips(spark, 1000, num_partitions=4)
    viol = audio.audio_invariant_violations(df)
    rows = viol.collect()
    assert len(rows) > 0
    fields = {r.field for r in rows}
    assert "bytes" in fields
    # clean table has zero invariant violations
    clean = synth_clips(spark, 500, with_violations=False, num_partitions=2)
    assert audio.audio_invariant_violations(clean).count() == 0


def test_zero_sample_decodable_row_does_not_crash(spark):
    """A structurally-plausible clip whose sr*dur yields ZERO samples
    (sr=1 Hz, dur=1 ms -> n_samples=0, empty payload matches expected
    length) sits last in the batch: its reduceat start index equals the
    flat array length — the fuzz-caught out-of-bounds. Both the plain
    invariant kernel and the fused invariant+quality kernel must
    process the batch; the empty clip is simply unmeasured."""
    rows = [
        ("ok-000000000003", None, 8000, 500, "pcm16", None),
        ("zz-empty", b"", 1, 1, "pcm16", "x"),
    ]
    # give the ok row a real payload from the generator
    from marshmallow_spark.sources.synth import synth_clips

    base = synth_clips(spark, 50, with_violations=False, num_partitions=1)
    extra = spark.createDataFrame(
        [rows[1]],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    df = base.unionByName(extra, allowMissingColumns=True).coalesce(1)
    # invariant kernel
    viol = audio.audio_invariant_violations(df).collect()
    assert all(r.clip_id != "zz-empty" or r.field in ("bytes", "transcript") for r in viol)
    # fused kernel
    from marshmallow_spark.functions.audio_quality import fused_audio_violations

    fused = fused_audio_violations(df, min_rms_dbfs=-60.0).collect()
    assert not any(r.clip_id == "zz-empty" and r.check == "audio_quality" for r in fused)


# --------------------------------------------------------------------------
# Edge batch through every Arrow audio kernel
# --------------------------------------------------------------------------

EDGE_ROWS = 2200  # > 2048 pcm16 rows: more than one chunk for every kernel
EDGE_NULL_BYTES, EDGE_NULL_CODEC, EDGE_UNKNOWN, EDGE_ODD, EDGE_CORRUPT = (
    10, 500, 777, 1500, 1800,
)


def _edge_batch() -> pa.RecordBatch:
    """Reference clips (125 ms at 8 kHz, mostly pcm16 with some ulaw and
    alaw) plus one row of each edge case: NULL bytes, NULL codec, an
    unknown codec, an odd-length pcm16 payload, a corrupted payload, and
    a zero-sample row (sr 1 Hz, 1 ms, empty payload) in last position."""
    n = EDGE_ROWS
    idx = np.arange(n, dtype=np.int64)
    sr = np.full(n, 8000, dtype=np.int64)
    dur = np.full(n, 125, dtype=np.int64)
    pcm, lens = audio.reference_pcm16_flat(idx, sr, dur)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    codec = ["ulaw" if i % 50 == 1 else "alaw" if i % 50 == 2 else "pcm16" for i in range(n)]
    enc = {
        "pcm16": lambda x: x.astype("<i2").tobytes(),
        "ulaw": lambda x: audio.ulaw_encode(x).tobytes(),
        "alaw": lambda x: audio.alaw_encode(x).tobytes(),
    }
    payload = [enc[codec[i]](pcm[starts[i] : starts[i] + lens[i]]) for i in range(n)]
    ids = [f"clip-{i:012d}" for i in range(n)]
    tx = list(audio.reference_transcripts(idx))
    payload[EDGE_NULL_BYTES] = None
    codec[EDGE_NULL_CODEC] = None
    codec[EDGE_UNKNOWN] = "opus"
    payload[EDGE_ODD] = payload[EDGE_ODD][:-1]
    b = bytearray(payload[EDGE_CORRUPT])
    b[1::8] = bytes(v ^ 0xE0 for v in b[1::8])  # pcm16 high bytes
    payload[EDGE_CORRUPT] = bytes(b)
    ids.append("zz-empty")
    payload.append(b"")
    codec.append("pcm16")
    tx.append("x")
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids, pa.string()),
            pa.array(payload, pa.binary()),
            pa.array(np.append(sr, 1), pa.int32()),
            pa.array(np.append(dur, 1), pa.int32()),
            pa.array(codec, pa.string()),
            pa.array(tx, pa.string()),
        ],
        names=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
    )


def _edge_kernels():
    """name -> (kernel, output kind, column that is NULL exactly on the
    undecodable rows)."""
    from marshmallow_spark.functions import audio_features as af
    from marshmallow_spark.functions import audio_fingerprint as fp
    from marshmallow_spark.functions import audio_mfcc as am
    from marshmallow_spark.functions import audio_quality as aq
    from marshmallow_spark.functions import audio_transform as at
    from marshmallow_spark.functions import audio_vad as av

    every_clip_silent = {"min_rms_dbfs": 0.0, "clip_threshold": 0.999}
    return {
        "invariant": (audio.check_invariant_arrow_batch, "violations", None),
        "fused_quality": (
            lambda b: audio.check_invariant_arrow_batch(b, quality=every_clip_silent),
            "violations",
            None,
        ),
        "spectral": (af.spectral_batch, "rows", "n_head"),
        "quality": (aq.quality_metrics_arrow_batch, "rows", "rms_dbfs"),
        "noise_floor": (aq.noise_floor_batch, "rows", "noise_floor_dbfs"),
        "mfcc": (am.mfcc_batch, "rows", "n_frames"),
        "pitch": (am.pitch_batch, "rows", "n_head"),
        "vad": (av.speech_activity_batch, "rows", "active_ms"),
        "resample": (lambda b: at.resample_arrow_batch(b, 16000), "rows", "bytes"),
        "trim": (lambda b: at.trim_silence_arrow_batch(b, 1e-4), "rows", "bytes"),
        "segment": (lambda b: at.segment_clips_batch(b, 37, 20), "segments", None),
        "normalize_gain": (lambda b: at.normalize_gain_batch(b, -20.0), "rows", "gain_db"),
        "gain_metrics": (lambda b: at.gain_quality_batch(b, -20.0), "rows", "rms_dbfs"),
        "fingerprint": (fp.fingerprint_batch, "rows", "env_a"),
    }


def _rows(out) -> list[dict]:
    return [] if out is None else out.to_pylist()


def _sorted_rows(rows: list[dict]) -> list[dict]:
    return sorted(rows, key=lambda r: [repr(v) for v in r.values()])


@pytest.mark.parametrize("name", sorted(_edge_kernels()))
def test_edge_batch_every_kernel(name):
    """Every kernel on one batch holding NULL bytes, a NULL codec, an
    unknown codec, an odd-length pcm16 payload, a zero-sample last row
    and more than one chunk of pcm16 rows: the row-count contract
    holds, NULL outputs fall exactly on the undecodable rows, and the
    output equals the concatenated outputs of two slices at an odd
    split (slices carry a non-zero Arrow offset)."""
    kernel, kind, null_col = _edge_kernels()[name]
    batch = _edge_batch()
    ids = batch.column(0).to_pylist()
    undecodable = {
        ids[i] for i in (EDGE_NULL_BYTES, EDGE_NULL_CODEC, EDGE_UNKNOWN, len(ids) - 1)
    }
    decodable = set(ids) - undecodable
    rows = _rows(kernel(batch))

    if kind == "rows":
        assert [r["clip_id"] for r in rows] == ids
        assert {r["clip_id"] for r in rows if r[null_col] is None} == undecodable
    elif kind == "segments":
        assert {r["clip_id"] for r in rows} == decodable
    else:
        inv = [(r["clip_id"], r["field"]) for r in rows if r.get("check", "audio") == "audio"]
        assert sorted(inv) == sorted(
            [
                (ids[EDGE_NULL_CODEC], "codec"),
                (ids[EDGE_UNKNOWN], "codec"),
                (ids[EDGE_ODD], "bytes"),
                (ids[EDGE_CORRUPT], "bytes"),
            ]
        )
        snr_rows = {r["clip_id"] for r in rows if r["snr_db"] is not None}
        assert snr_rows == {ids[EDGE_CORRUPT]}
        if name == "fused_quality":
            measured = [r for r in rows if r["check"] == "audio_quality"]
            assert {r["clip_id"] for r in measured} == decodable
            assert all(r["rms_dbfs"] is not None for r in measured)

    k = 1031
    split = _rows(kernel(batch.slice(0, k))) + _rows(kernel(batch.slice(k)))
    if kind != "rows":
        assert _sorted_rows(split) == _sorted_rows(rows)
    elif name == "mfcc":
        # the mel/DCT matrix products run through BLAS, whose blocking
        # depends on the chunk's frame count: allow float rounding there
        for a, b in zip(split, rows, strict=True):
            assert {c: v for c, v in a.items() if c != "mfcc"} == {
                c: v for c, v in b.items() if c != "mfcc"
            }
            np.testing.assert_allclose(a["mfcc"], b["mfcc"], rtol=1e-12, atol=0)
    else:
        assert split == rows


def test_decode_scaffold_is_the_only_decode_path():
    """Outside the scaffold in functions/audio.py (clip_batch,
    decoded_chunks, map_clips), no audio kernel or streaming module may
    call decode_payload_batch, _gather_bytes or .mapInArrow directly,
    or loop over KNOWN_CODECS: they all decode through the scaffold."""
    import ast
    import pathlib

    pkg = pathlib.Path(audio.__file__).resolve().parents[1]
    files = sorted((pkg / "functions").glob("audio*.py"))
    files += sorted((pkg / "streaming").glob("*.py"))
    scaffold = {"clip_batch", "decoded_chunks", "map_clips"}
    assert all(callable(getattr(audio, f)) for f in scaffold)
    banned = {"decode_payload_batch", "_gather_bytes", "mapInArrow"}
    offenders = []
    for path in files:
        for top in ast.parse(path.read_text()).body:
            if path.name == "audio.py" and getattr(top, "name", None) in scaffold:
                continue
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                    if name in banned:
                        offenders.append(f"{path.name}:{node.lineno} calls {name}")
                elif (
                    isinstance(node, (ast.For, ast.comprehension))
                    and isinstance(node.iter, ast.Name)
                    and node.iter.id == "KNOWN_CODECS"
                ):
                    offenders.append(f"{path.name}:{node.iter.lineno} loops over KNOWN_CODECS")
    assert not offenders, offenders
