"""Table-backed ANN index mode (round-4 verdict item #2): the keyed
(id, vec, cell/bucket, norm, probes) frame is WRITTEN to parquet once
and both self-join sides scan the table — the deployment shape for
10^12 rows, where the executor cache that nprobe>1 otherwise persists
the keyed frame into cannot hold the assignment frame.

Three contracts, each test-enforced:
1. results identical to the storage-free mode (which is oracle-green):
   the eager cache at nprobe=2, the repartition(key) self-join at
   nprobe=1;
2. the executed plan reads ONLY the written index — every FileScan
   points at the storage path, the source embeddings parquet is never
   rescanned, so the codebook / hyperplane assignment projection is
   absent from the query plan;
3. kill/restart: a second run against the same path reuses the
   committed files without re-evaluating the input (write-once), and a
   partial write (no _SUCCESS) is rebuilt.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from marshmallow_spark.operators import similarity

from test_plan_audit import file_scans, final_plan


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def centroids(emb):
    return [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_storage_mode_matches_cache_mode(emb, centroids, tmp_path):
    cached = similarity.ivf_topk(
        emb, "vec_id", "embedding", centroids, k=5, nprobe=2
    )
    stored = similarity.ivf_topk(
        emb, "vec_id", "embedding", centroids, k=5, nprobe=2,
        storage=str(tmp_path / "idx"),
    )
    assert _rows(stored) == _rows(cached)


def test_lsh_storage_mode_matches_cache_mode(emb, tmp_path):
    cached = similarity.lsh_topk(
        emb, "vec_id", "embedding", k=5, num_planes=8, dim=64, nprobe=2
    )
    stored = similarity.lsh_topk(
        emb, "vec_id", "embedding", k=5, num_planes=8, dim=64,
        nprobe=2, storage=str(tmp_path / "lsh_index"),
    )
    assert _rows(stored) == _rows(cached)


def test_ivf_storage_nprobe1_matches_repartition_mode(emb, centroids, tmp_path):
    """nprobe=1 with storage= (no probe list in the written index)
    returns q38's rows, like its repartition(cell) form."""
    plain = similarity.ivf_topk(emb, "vec_id", "embedding", centroids, k=5)
    stored = similarity.ivf_topk(
        emb, "vec_id", "embedding", centroids, k=5,
        storage=str(tmp_path / "idx1"),
    )
    assert _rows(stored) == _rows(plain)


def test_lsh_storage_nprobe1_matches_repartition_mode(emb, tmp_path):
    """nprobe=1 with storage= returns q32's rows, like its
    repartition(bucket) form."""
    plain = similarity.lsh_topk(emb, "vec_id", "embedding", k=5, num_planes=8, dim=64)
    stored = similarity.lsh_topk(
        emb, "vec_id", "embedding", k=5, num_planes=8, dim=64,
        storage=str(tmp_path / "lsh_index1"),
    )
    assert _rows(stored) == _rows(plain)


def test_storage_plan_reads_only_the_written_index(emb, centroids, tmp_path):
    """Every FileScan in the executed plan is a scan of the index
    table; the embeddings source never appears, so the assignment
    projection cannot be in the plan (it only exists derived from the
    source), and no executor cache is involved."""
    path = str(tmp_path / "idx")
    plan = final_plan(
        similarity.ivf_topk(
            emb, "vec_id", "embedding", centroids, k=5, nprobe=2,
            storage=path,
        )
    )
    scans = file_scans(plan)
    assert len(scans) >= 2, plan  # both join sides scan the table
    assert all("/idx" in ln for ln in scans), plan
    assert "embeddings.parquet" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan


def test_storage_is_write_once_and_restart_safe(emb, centroids, tmp_path):
    path = str(tmp_path / "idx")
    first = _rows(
        similarity.ivf_topk(
            emb, "vec_id", "embedding", centroids, k=5, nprobe=2,
            storage=path,
        )
    )
    files_before = sorted(os.listdir(path))
    mtimes = {f: os.path.getmtime(os.path.join(path, f)) for f in files_before}

    # restart with a DIFFERENT (empty) input: the committed index wins,
    # the new input is never evaluated — results come from the table
    again = _rows(
        similarity.ivf_topk(
            emb.limit(0), "vec_id", "embedding", centroids, k=5, nprobe=2,
            storage=path,
        )
    )
    assert again == first
    assert sorted(os.listdir(path)) == files_before
    assert all(
        os.path.getmtime(os.path.join(path, f)) == mtimes[f]
        for f in files_before
    )

    # a killed partial write (no _SUCCESS) is rebuilt, not trusted
    os.remove(os.path.join(path, "_SUCCESS"))
    rebuilt = _rows(
        similarity.ivf_topk(
            emb, "vec_id", "embedding", centroids, k=5, nprobe=2,
            storage=path,
        )
    )
    assert rebuilt == first
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
