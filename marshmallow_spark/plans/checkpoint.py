"""Per-partition checkpoint manifests + resume (A8, SURVEY.md §4.2(3)).

The input is bucketed by ``pmod(hash(clip_id), num_buckets)`` — a
STABLE partitioning (independent of file layout or executor count), so
a resumed run sees exactly the same buckets. Each completed bucket
writes:

- its violation rows under ``<dir>/violations/bucket=<b>/`` (parquet)
- a JSON manifest ``<dir>/manifest/bucket_<b>.json`` carrying lineage
  (bucket id, row/violation counts, a value digest, snapshot id)

Resume = set-difference of all buckets against manifests on disk (the
driver-side rendering of ``new.join(done, 'partition_id', 'left_anti')``;
the bucket list is tiny so a driver set beats a join). On a real
cluster the manifest dir lives on object storage and the snapshot id
pins the Iceberg read — the sandbox uses immutable parquet.
"""

from __future__ import annotations

import json
import os
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CheckpointedRun:
    def __init__(
        self,
        suite,
        output_dir: str,
        *,
        num_buckets: int = 32,
        snapshot_id: str | None = None,
    ):
        self.suite = suite
        self.output_dir = output_dir
        self.num_buckets = num_buckets
        self.snapshot_id = snapshot_id
        os.makedirs(os.path.join(output_dir, "manifest"), exist_ok=True)
        os.makedirs(os.path.join(output_dir, "violations"), exist_ok=True)

    # -- manifest bookkeeping ---------------------------------------------
    def _manifest_path(self, bucket: int) -> str:
        return os.path.join(self.output_dir, "manifest", f"bucket_{bucket:05d}.json")

    def completed_buckets(self) -> set[int]:
        done = set()
        mdir = os.path.join(self.output_dir, "manifest")
        for name in os.listdir(mdir):
            if name.startswith("bucket_") and name.endswith(".json"):
                done.add(int(name[len("bucket_") : -len(".json")]))
        return done

    def pending_buckets(self) -> list[int]:
        done = self.completed_buckets()
        return [b for b in range(self.num_buckets) if b not in done]

    # -- execution ---------------------------------------------------------
    def _bucket_col(self):
        return F.pmod(F.hash("clip_id"), F.lit(self.num_buckets))

    def run(
        self,
        df: DataFrame,
        *,
        buckets_per_batch: int = 8,
        max_batches: int | None = None,
    ) -> list[dict]:
        """Process pending buckets in batches; returns the manifests
        written this call. Safe to kill and re-invoke: completed buckets
        are skipped."""
        written: list[dict] = []
        pending = self.pending_buckets()
        batches = [
            pending[i : i + buckets_per_batch]
            for i in range(0, len(pending), buckets_per_batch)
        ]
        if max_batches is not None:
            batches = batches[:max_batches]
        for group in batches:
            written.extend(self._run_buckets(df, group))
        return written

    def _run_buckets(self, df: DataFrame, buckets: Iterable[int]) -> list[dict]:
        buckets = list(buckets)
        sub = df.where(self._bucket_col().isin(buckets))
        violations = self.suite.violations(sub).withColumn(
            "bucket", self._bucket_col()
        )
        vpath = os.path.join(self.output_dir, "violations")
        # dynamic overwrite replaces only the buckets written here, so a
        # bucket re-run after a kill that landed its rows but not its
        # manifest does not land them twice
        (
            violations.repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(vpath)
        )
        # per-bucket metrics + content digest, one small agg over what
        # was just written (re-read: cheap, and exactly-what-landed)
        landed = (
            df.sparkSession.read.parquet(vpath)
            .where(F.col("bucket").isin(buckets))
        )
        vstats = {
            int(r.bucket): r
            for r in landed.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("violations"),
                F.sum(
                    F.crc32(F.concat_ws("\x1f", "clip_id", "field", "message"))
                ).alias("digest"),
            )
            .collect()
        }
        rstats = {
            int(r.bucket): r.rows
            for r in sub.groupBy(self._bucket_col().alias("bucket"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        }
        out = []
        for b in buckets:
            manifest = {
                "bucket": b,
                "num_buckets": self.num_buckets,
                "snapshot_id": self.snapshot_id,
                "rows": int(rstats.get(b, 0)),
                "violations": int(vstats[b].violations) if b in vstats else 0,
                "digest": int(vstats[b].digest) if b in vstats else 0,
                "passed": b not in vstats,
            }
            # write-then-rename: a kill mid-dump leaves no manifest, so
            # the bucket stays pending instead of reading as done
            path = self._manifest_path(b)
            with open(path + ".tmp", "w") as f:
                json.dump(manifest, f)
            os.replace(path + ".tmp", path)
            out.append(manifest)
        return out

    # -- results -----------------------------------------------------------
    def all_violations(self, spark) -> DataFrame:
        return spark.read.parquet(os.path.join(self.output_dir, "violations"))

    def manifests(self) -> list[dict]:
        out = []
        for b in sorted(self.completed_buckets()):
            with open(self._manifest_path(b)) as f:
                out.append(json.load(f))
        return out


def write_once_parquet(
    df: DataFrame, path: str, *, cluster_by: str | None = None
) -> DataFrame:
    """Materialize ``df`` as a written parquet table exactly once and
    return the read-back frame — the 10^12-row deployment shape for a
    derived index (ANN cell/bucket assignments, signature tables):
    the expensive projection is paid at WRITE time, every consumer
    (including both sides of a self-join) scans the table instead of
    re-deriving it, and a killed run resumes against the already-written
    files.

    Idempotence contract: if ``path`` already holds a COMMITTED write
    (parquet's ``_SUCCESS`` marker), it is reused verbatim and ``df`` is
    never evaluated — the caller owns invalidation, exactly like any
    persisted index (delete the directory to rebuild). A partial write
    from a killed run has no ``_SUCCESS`` and is overwritten.

    ``cluster_by`` repartitions on the named column before writing so
    the files land clustered by the downstream join key (an on-disk
    analogue of bucketing; on a real cluster this would be a bucketed /
    Iceberg-partitioned table so the self-join skips its shuffle
    entirely).
    """
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        out = df.repartition(F.col(cluster_by)) if cluster_by else df
        out.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)
