"""The workloads: inputs, the timed operation, its output check, and
the layer calls a traced run times.

Each workload exposes ``rows`` (input rows per operation),
``settle_ops`` (untimed operations after the setups), ``min_ops`` (the
fewest timed operations per run), ``prepare(spark)``, ``op()`` (one
timed operation), ``traced_op(tracer)`` (the same operation with layer
spans inside it), ``check(out)``, ``release(out)``, ``layers(tracer)``
and ``layer_metrics(tracer, log, pass_span)``.
"""

from __future__ import annotations

import os
import statistics

from fixtures import (
    CLIPS_FILE_ROWS,
    DOC_ROWS,
    INCREMENT_ROWS,
    SUITE_FILES,
    VIOLATION_COLUMNS,
    base_table,
    compare,
    digest,
    docs_oracle,
    fresh_table,
    increment_files,
    increment_order,
    load_expected,
    per_check,
    rewrite_docs,
    suite_files,
    suite_window,
)


def noop(df) -> None:
    """Force every output column of every row; discard JVM-side."""
    df.write.mode("overwrite").format("noop").save()


def _file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


class ClipsSuite:
    """The north-star path: the full clip suite over parquet clips."""

    name = "clips_suite"
    # untimed operations after the setups; wall time per operation
    # levels off after about six operations in a process
    settle_ops = 4
    min_ops = 3

    def __init__(self, seed: int, run_dir: str):
        self.seed, self.run_dir = seed, run_dir
        self.files = suite_files(seed)
        window = suite_window(seed)
        pins = load_expected()
        self.expected = pins["clips_suite"][str(window)]
        self.expected_increments = pins["increments"]
        self.increments = increment_files()
        base_table()  # built once per checkout, never inside a timed region
        self.rows = SUITE_FILES * CLIPS_FILE_ROWS
        self.inputs = {
            "clips": self.rows,
            "window": window,
            "files": len(self.files),
            "parquet_bytes": _file_bytes(self.files),
            "expected_violations": len(self.expected),
        }

    def prepare(self, spark) -> None:
        from marshmallow_spark.plans.pipeline import ClipValidationSuite
        from marshmallow_spark.sources.synth import codecs_dim

        self.spark = spark
        self.clips = spark.read.parquet(*self.files)
        self.suite = ClipValidationSuite(codecs_dim(spark))

    def op(self):
        violations, verdicts = self.suite.run(self.clips)
        noop(violations)
        noop(verdicts)
        return violations

    def traced_op(self, tr):
        # the pass's time outside these two spans is ``suite.run``
        # building the plan on the driver
        violations, verdicts = self.suite.run(self.clips)
        with tr.span("plans.violations"):
            noop(violations)
        with tr.span("plans.verdicts"):
            noop(verdicts)
        return violations

    def check(self, violations) -> dict:
        rows = [tuple(r) for r in violations.select(*VIOLATION_COLUMNS).collect()]
        violations.unpersist()
        res = compare(rows, self.expected)
        res["per_check"] = per_check(rows)
        return res

    def release(self, violations) -> None:
        violations.unpersist()

    def layers(self, tr) -> None:
        from marshmallow_spark.functions import audio
        from marshmallow_spark.operators.referential import referential_check
        from marshmallow_spark.operators.uniqueness import uniqueness_violations
        from marshmallow_spark.plans.pipeline import ClipSchema
        from marshmallow_spark.sources.synth import codecs_dim

        spark, clips = self.spark, self.clips
        with tr.span("sources.scan"):
            noop(spark.read.parquet(*self.files))
        with tr.span("schema.validate_df"):
            with tr.span("schema.compile"):
                res = ClipSchema().validate_df(clips.drop("bytes"))
            noop(res.violations)
        with tr.span("operators.uniqueness"):
            noop(uniqueness_violations(clips, "clip_id"))
        with tr.span("operators.referential"):
            noop(
                referential_check(
                    clips.select("clip_id", "codec"),
                    "codec",
                    codecs_dim(spark),
                    "codec",
                    row_key="clip_id",
                    broadcast=True,
                )
            )
        with tr.span("functions.audio_invariant"):
            noop(audio.audio_invariant_violations(clips))
        self._snapshot_cycles(tr)

    def _snapshot_cycles(self, tr) -> None:
        """Append each increment of the pool to a fresh copy of the base
        snapshot table and validate it incrementally with the same suite;
        checks the landed violation rows against the pins."""
        import pyarrow.parquet as pq

        from marshmallow_spark.sources.snapshots import SnapshotTable, SnapshotValidationLog

        root = fresh_table(self.run_dir)
        table = SnapshotTable(os.path.join(root, "table"))
        log = SnapshotValidationLog(table, os.path.join(root, "log"))
        for k in increment_order(self.seed, len(self.increments)):
            with tr.span("snapshots.cycle"):
                with tr.span("snapshots.append"):
                    sid = table.append(self.spark.read.parquet(self.increments[k]))
                with tr.span("snapshots.validate"):
                    manifest = log.validate_increment(self.spark, self.suite)
            landed = pq.read_table(os.path.join(log.run_dir, "violations", f"snapshot={sid}"))
            rows = list(zip(*(landed.column(c).to_pylist() for c in VIOLATION_COLUMNS)))
            res = compare(rows, self.expected_increments[str(k)])
            ok = (
                res["ok"]
                and manifest["rows_scanned"] == INCREMENT_ROWS
                and manifest["violations"] == len(rows)
                and manifest["digest"] == digest(rows)
            )
            if not ok:
                raise RuntimeError(f"increment {k}: output differs: {res} {manifest}")

    def layer_metrics(self, tr, log, pass_span: str) -> dict:
        m = {}
        for name in ("sources.scan", "schema.validate_df", "operators.uniqueness",
                     "operators.referential", "functions.audio_invariant", "plans.verdicts"):
            m[f"{name}_s"] = tr.median_total(name)
        m["schema.compile_ms"] = tr.median_total("schema.compile") * 1e3
        fn = log.get("functions.audio_invariant")
        m["functions.audio_invariant_cpu_s"] = tr.median_cpu("functions.audio_invariant")
        if fn is not None:
            m["functions.py_sent_mb"] = fn.total("py_sent_bytes") / 2**20
            m["functions.py_returned_mb"] = fn.total("py_returned_bytes") / 2**20
            m["functions.py_run_s"] = fn.total("py_run_ms") / 1e3
            m["functions.py_start_s"] = fn.total("py_start_ms") / 1e3
            m["functions.rows"] = fn.total("input_records")
        m["unattributed"] = statistics.median(
            tr.self_s(s) / (s["end"] - s["start"]) for s in tr.instances(pass_span)
        )
        m["snapshots.append_s"] = tr.median_total("snapshots.append")
        m["snapshots.validate_s"] = tr.median_total("snapshots.validate")
        cycles = len(tr.instances("snapshots.cycle"))
        parts = [log[d] for d in ("snapshots.append", "snapshots.validate") if d in log]
        increment_bytes = statistics.median(_file_bytes([p]) for p in self.increments)
        m["snapshots.rows_read_per_row"] = (
            sum(p.total("input_records") for p in parts) / cycles / INCREMENT_ROWS
        )
        m["snapshots.write_mb_per_input_mb"] = (
            sum(p.total("output_bytes") for p in parts) / cycles / increment_bytes
        )
        return m


DEDUP_STAGES = ("signatures", "candidates", "verify", "cluster")


class DocsDedup:
    """q31: MinHash signatures, banded LSH candidates, Jaccard verify and
    star connected components over the documents corpus."""

    name = "docs_dedup"
    settle_ops = 3
    # the fewest timed operations per run (each takes 2.5-6 s)
    min_ops = 4

    def __init__(self, seed: int, run_dir: str):
        self.expected = docs_oracle()
        self.sf_dir = rewrite_docs(run_dir, seed)
        self.rows = DOC_ROWS
        self.inputs = {
            "documents": DOC_ROWS,
            "parquet_bytes": _file_bytes(
                os.path.join(self.sf_dir, "documents.parquet", f)
                for f in os.listdir(os.path.join(self.sf_dir, "documents.parquet"))
            ),
            "expected_rows": len(self.expected),
        }

    def prepare(self, spark) -> None:
        self.spark = spark

    def op(self):
        from marshmallow_spark.queries import q31_minhash_dedup_pipeline

        return [tuple(r) for r in q31_minhash_dedup_pipeline(self.spark, self.sf_dir).collect()]

    def traced_op(self, tr):
        return self.op()

    def check(self, rows) -> dict:
        return compare(rows, self.expected)

    def release(self, rows) -> None:
        pass

    def layers(self, tr) -> None:
        from marshmallow_spark.operators import dedup

        spark = self.spark
        path = os.path.join(self.sf_dir, "documents.parquet")
        with tr.span("sources.scan"):
            noop(spark.read.parquet(path))
        docs = spark.read.parquet(path)
        # q31's arguments (queries.q31_minhash_dedup_pipeline), with
        # a persist + count after each of the four calls
        with tr.span("dedup.signatures"):
            sigs = dedup.minhash_signatures(
                docs, "doc_id", "text", num_hashes=16, k=3
            ).persist()
            sigs.count()
        with tr.span("dedup.candidates"):
            cand = dedup.lsh_banded_pairs(
                sigs, "doc_id", num_bands=4, rows_per_band=4,
                salt_threshold=64, num_salts=8, mode="pairs",
            ).persist()
            n_cand = cand.count()
        with tr.span("dedup.verify"):
            verified = dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", k=3, candidates=cand,
                min_jaccard=0.5, assume_distinct_candidates=True,
            ).persist()
            n_verified = verified.count()
        with tr.span("dedup.cluster"):
            rows = [
                tuple(r)
                for r in dedup.connected_components_star(
                    verified, "a", "b", assume_normalized=True
                ).orderBy("id").collect()
            ]
        for df in (sigs, cand, verified):
            df.unpersist()
        res = compare(rows, self.expected)
        if not res["ok"]:
            raise RuntimeError(f"traced q31 chain differs from the oracle: {res}")
        self.counts = (n_cand, n_verified)

    def layer_metrics(self, tr, log, pass_span: str) -> dict:
        m = {"sources.scan_s": tr.median_total("sources.scan")}
        for stage in DEDUP_STAGES:
            m[f"dedup.{stage}_s"] = tr.median_total(f"dedup.{stage}")
        n_cand, n_verified = self.counts
        m["dedup.candidate_pairs"] = n_cand
        m["dedup.verified_pairs"] = n_verified
        m["dedup.verify_yield"] = n_verified / n_cand if n_cand else 0.0
        cluster = log.get("dedup.cluster")
        m["dedup.cluster_jobs"] = (
            len(cluster.jobs) / len(tr.instances("dedup.cluster")) if cluster else 0
        )
        # the share of the q31 pass that the four calls, timed
        # separately, do not account for
        chain = sum(tr.median_total(f"dedup.{stage}") for stage in DEDUP_STAGES)
        m["unattributed"] = 1.0 - chain / tr.median_total(pass_span)
        return m


WORKLOADS = {w.name: w for w in (ClipsSuite, DocsDedup)}
