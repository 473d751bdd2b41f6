#!/usr/bin/env python
"""Benchmark harness: headline validation workloads at SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "clips_validated_per_sec", "value": N, "unit": "clips/sec",
   "queries": {...per-query seconds...}, "sf": ..., "clips": ...,
   "cpus": ...}

The flagship number is the north-star metric: clips validated per
second through the FULL constraint suite (structural schema pass,
uniqueness, referential, audio SNR invariant) over the deterministic
synthetic clips table materialized to parquet (so the timed pass reads
parquet exactly like production, generation excluded).

Scaling evidence (north_rule N->4N) is produced by bench_scaling.py,
which runs this same workload at local[8] and local[32] and writes
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CLIP_CACHE = os.environ.get("SPARK_GRAFT_CLIP_CACHE", "/tmp/msk_bench_clips")


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def clips_for(sf: float) -> int:
    override = os.environ.get("SPARK_GRAFT_CLIPS")
    if override:
        return int(override)
    # ~12M clips/sf-unit -> 1.2M at sf0.1 (~3 GB audio). The kernel
    # optimizations dropped the 600k full-suite wall under 10s, at
    # which point per-job fixed costs (plan compile, stage scheduling,
    # Python worker fork — ~3-5s across the suite) bound the measured
    # clips/sec; the 10^12-row workload this estimates amortizes those
    # costs away entirely (the 2.4M-clip scaling run sustains 114k/s
    # where 600k reports ~65k). 1.2M keeps the suite wall ~15-20s —
    # fixed costs <25% — without stretching total bench runtime.
    return max(int(12_000_000 * sf), 2_000)


def ensure_clips_parquet(spark, n: int) -> str:
    from marshmallow_spark.sources.synth import synth_clips

    # fixed partition count so local[8] and local[32] scaling runs read
    # the IDENTICAL file layout (north_rule two-cluster-size evidence)
    path = f"{CLIP_CACHE}_{n}.parquet"
    if not os.path.exists(path):
        synth_clips(spark, n, num_partitions=64).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def main() -> None:
    from marshmallow_spark.session import get_spark

    spark = get_spark(
        "marshmallow_spark_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    sf = sf_of(SF_DIR)
    n_clips = clips_for(sf)
    clips_path = ensure_clips_parquet(spark, n_clips)

    from pyspark.sql import functions as F

    from marshmallow_spark.queries import QUERIES
    from marshmallow_spark.plans.pipeline import ClipValidationSuite
    from marshmallow_spark.sources.synth import codecs_dim

    timings: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - t0, 3)

    # -- flagship: full clip validation suite over parquet ---------------
    suite = ClipValidationSuite(codecs_dim(spark))
    clips_df = spark.read.parquet(clips_path)

    def run_suite():
        v, verd = suite.run(clips_df)
        # noop-consume BOTH outputs (round-4 verdict item #7): a parquet
        # write of violations + agg over verdicts let Catalyst prune any
        # column nothing reads (message strings, per-check rollup
        # fields) — on a clean corpus that can skip real structural
        # work. The noop sink forces every output column of every row.
        v.write.mode("overwrite").format("noop").save()
        verd.write.mode("overwrite").format("noop").save()
        v.unpersist()

    # BASELINE.md protocol: ONE untimed warm-up pass (JVM JIT + codegen
    # + Python/Arrow worker spawn + page-cache fill — on this noisy
    # host the cold pass can run 4x the steady state), then repeats,
    # take min — steady-state throughput is what a long-running 100 TB
    # job sees.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    run_suite()
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        run_suite()
        best = min(best, time.perf_counter() - t0)
    timings["clips_full_suite"] = round(best, 3)

    # -- structural-only pass (no audio decode) ---------------------------
    structural = suite.schema.validate_df(clips_df.drop("bytes"))
    timed(
        "clips_structural_only",
        lambda: structural.violations.write.mode("overwrite")
        .format("noop")
        .save(),
    )

    # -- audio invariant only ---------------------------------------------
    from marshmallow_spark.functions import audio

    timed(
        "clips_audio_only",
        lambda: audio.audio_invariant_violations(clips_df)
        .write.mode("overwrite")
        .format("noop")
        .save(),
    )

    # -- per-clip signal-quality metrics over the SAME parquet clips ------
    # (these run BEFORE the relational block: the bench takes ~9 min and
    # co-tenants systematically return mid-run — trailing position cost
    # these entries 3x in every full run; the early slot measures code)
    from marshmallow_spark.functions.audio_quality import audio_quality_metrics

    def run_quality():
        audio_quality_metrics(clips_df).agg(
            F.count(F.lit(1)), F.sum(F.col("is_silent").cast("long"))
        ).collect()

    # warm-up: this entry sits late in the run where co-tenant load has
    # usually returned, and a cold single shot has measured 3x its warm
    # wall (44s vs ~13s) purely from first-call worker/JIT+allocator
    # effects under load
    run_quality()
    timed("clips_audio_quality", run_quality)

    # -- MFCC featurization over the SAME parquet clips --------------------
    # the heaviest per-clip audio kernel (batched rfft over up to 8
    # Hann frames + mel/DCT projections); noop-consumed so Catalyst
    # can't prune the mfcc list column
    from marshmallow_spark.functions.audio_mfcc import mfcc_features

    def run_mfcc():
        mfcc_features(clips_df).write.mode("overwrite").format("noop").save()

    run_mfcc()
    timed("clips_mfcc", run_mfcc)

    # -- energy VAD speech-activity over the SAME parquet clips ------------
    # one decode + windowed-power pass with run-length silence analysis
    # (the kernel behind the cross-modal transcript_consistency check);
    # noop-consumed so Catalyst can't prune the metric columns
    from marshmallow_spark.functions.audio_vad import speech_activity_metrics

    def run_vad():
        speech_activity_metrics(clips_df).write.mode("overwrite").format(
            "noop"
        ).save()

    run_vad()
    timed("clips_speech_activity", run_vad)

    # -- audio-feature snapshot drift over the SAME parquet clips ----------
    # two full decode passes (reference metrics + the gain-normalized
    # current side's fused gain+metrics kernel) feeding one
    # (feature, bin) exchange for all four monitored metrics; the 4-row
    # collect consumes the histograms, which consume every decoded
    # sample — nothing for Catalyst to prune
    from marshmallow_spark.functions.audio_quality import audio_feature_drift
    from marshmallow_spark.functions.audio_transform import (
        gain_normalized_quality_metrics,
    )

    def run_feature_drift():
        audio_feature_drift(
            audio_quality_metrics(clips_df),
            gain_normalized_quality_metrics(clips_df, target_dbfs=-12.0),
        ).collect()

    run_feature_drift()
    timed("clips_feature_drift", run_feature_drift)

    # -- quality-gated full suite: invariant + quality gate from ONE decode --
    # the fused kernel folds the quality gate into the invariant's
    # decode: bytes are scanned + decoded once (1 MapInArrow node).
    # Warm-up pass first so the entry measures steady state, not JIT.
    QT = {
        "min_rms_dbfs": -60.0,
        "max_clipping_ratio": 0.001,
        "max_abs_dc_offset": 0.03,
    }
    qsuite = ClipValidationSuite(codecs_dim(spark), quality_thresholds=QT)

    def run_q():
        qsuite.violations(clips_df).write.mode("overwrite").format("noop").save()

    run_q()
    timed("clips_quality_suite_fused", run_q)

    # -- incremental validation of a 5% append (snapshot-manifest table) --
    # The 100 TB deployment unit of work: upstream appends a nightly
    # batch, the validator scans ONLY the appended files
    # (sources/snapshots.py added_between), never the accumulated
    # table. Priced against clips_full_suite: the ratio should track
    # the append fraction, not the table size. The timed pass includes
    # the REAL outputs of the deployment op — the violations parquet
    # write, landed-stats agg, and lineage manifest — not a noop.
    from marshmallow_spark.sources.snapshots import (
        SnapshotTable,
        SnapshotValidationLog,
        is_snapshot_table,
    )
    from marshmallow_spark.sources.synth import synth_clips as _synth

    snap_root = f"{CLIP_CACHE}_{n_clips}_snap"
    n_append = max(n_clips // 20, 500)
    if not is_snapshot_table(snap_root):
        SnapshotTable.create(snap_root, clips_df)
        SnapshotTable(snap_root).append(
            _synth(spark, n_clips + n_append).where(
                F.col("clip_id") >= f"clip-{n_clips:012d}"
            )
        )
    snap_table = SnapshotTable(snap_root)
    inc_run_dir = f"{CLIP_CACHE}_{n_clips}_incrun"
    inc_log = SnapshotValidationLog(snap_table, inc_run_dir)
    _pointer = os.path.join(inc_run_dir, "last-validated.text")

    def run_incremental():
        # reset the log to "snapshot 1 validated" so every repeat times
        # the SAME 5% increment; the overwrite-into-partition write
        # makes the repeat idempotent by design
        with open(_pointer, "w") as f:
            f.write("1")
        inc_log.validate_increment(spark, suite)

    run_incremental()
    timed("clips_incremental_append", run_incremental)

    # -- relational headline queries over the sf tables --------------------
    headline = [] if os.environ.get("SPARK_GRAFT_SKIP_RELATIONAL") else [
        "q01_pricing_summary",
        "q03_range_violations",
        "q08_duplicate_keys",
        "q09_duplicate_keys_salted",
        "q10_referential_orphans",
        "q12_histogram",
        "q18_token_stats",
        "q22_minhash_signatures",
        # ANN headline is the LSH-bucketed scale path (q32); the q26
        # brute-force crossJoin is the exactness baseline, not the plan
        # you'd run at 100 TB.
        "q32_lsh_topk",
        # end-to-end dedup pipeline (MinHash -> salted LSH -> candidate
        # verify -> star clustering) — perf-gates the round-3 swap to
        # connected_components_star + live salting
        "q31_minhash_dedup_pipeline",
        # same pipeline with STAR candidates (bucket-min spanning edges,
        # linear in bucket size where q31's all-pairs is quadratic) —
        # the group-dedup plan you'd run at 100 TB; the q31/q45 wall
        # ratio measures what the all-pairs contract costs
        "q45_star_dedup_pipeline",
        # distributed exact two-sample KS (no global single-partition
        # sort) — the drift check's 10^12-row plan shape
        "q46_ks_exact_distributed",
        # benchmark decontamination: broadcast inverted n-gram index,
        # train side unshuffled until the output-bounded pair count
        "q48_benchmark_contamination",
        # per-group 3-sigma outliers: group stats broadcast back, fact
        # side unshuffled
        "q50_zscore_outliers",
        # gap sessionization: the one-exchange window+rollup plan
        "q51_sessionization",
        # as-of join compiled to union-and-sweep (no join node)
        "q52_asof_join",
        # winnow containment: posting-list self-join off one exchange
        "q58_winnow_containment",
        # TF-IDF keyword extraction: doc side one exchange end-to-end,
        # idf dictionary broadcast
        "q61_tfidf_topk",
        # increment-vs-corpus banded dedup (the continuous-ingestion
        # shape): prices the cross-side candidate join + verify
        "q64_incremental_dedup",
        # trailing-window features: the one-exchange range-frame window
        "q67_rolling_features",
        # BM25 retrieval: zero-exchange conditional-count formulation
        "q72_bm25_topk",
        # BPE token counting: the Arrow merges-loop kernel (round 5) —
        # prices the tokenizer-accurate budget path per document
        "q75_bpe_token_counts",
        # span-level duplicate trimming: sketch-bounded candidate pairs
        # + full-resolution rehash + fold rebuild (round 5)
        "q77_trim_contained_spans",
    ]
    # Consumption: a noop-format write, NOT agg(count(1)). Catalyst
    # prunes columns nothing consumes — under count(1) a projection-only
    # query (token stats, minhash signatures, rolling features) times
    # the optimizer deleting the work, not the work (caught round 4:
    # the minhash fold "won" a count-based A/B by having its entire md5
    # fold pruned as dead code). The noop sink forces every output
    # column to be computed and discards it JVM-side. Numbers from this
    # change on are NOT comparable to earlier rounds' count-based lines
    # for projection-only queries.
    for name in headline:
        fn = QUERIES[name]
        timed(
            name,
            lambda fn=fn: fn(spark, SF_DIR)
            .write.mode("overwrite")
            .format("noop")
            .save(),
        )

    wall = timings["clips_full_suite"]
    clips_per_sec = round(n_clips / wall, 1) if wall > 0 else 0.0
    # co-tenancy context: this host's 32 vCPUs share ~10.5 physical
    # cores with neighbors and identical code measures 2-2.5x apart
    # across the day (variance table in BENCH/BASELINE.md) — the load
    # averages let a cross-run comparison tell engine changes from
    # neighbor noise
    try:
        load1, load5, load15 = os.getloadavg()
    except OSError:
        load1 = load5 = load15 = -1.0
    print(
        json.dumps(
            {
                "metric": "clips_validated_per_sec",
                "value": clips_per_sec,
                "unit": "clips/sec",
                "queries": timings,
                "sf": sf,
                "clips": n_clips,
                "cpus": CPUS,
                "host_load_avg": [round(load1, 2), round(load5, 2), round(load15, 2)],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
