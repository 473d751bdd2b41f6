"""Benchmark inputs, made from the seed and cached in the checkout.

Everything here runs before the first timed region of a run. The clip
pool, the increment pool, the base snapshot table and the q31 oracle
are built once per checkout (the first run pays for them) and reused by
every later run; a seed only selects among them or rewrites a small
copy, so ``setup_s`` never includes input generation.

Expected outputs never come from the timed code path of the run they
check: ``clips_suite`` compares against rows pinned from the engine at
the commit that defined the benchmark (``expected.json``, written by
``pin.py``), ``docs_dedup`` against the DuckDB oracle of q31.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import uuid
import zlib
from collections import Counter

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
FIXTURES = os.path.join(WORK, "fixtures")
DOCS_SOURCE = os.path.join(HERE, "data", "documents_sf0.1.parquet")
EXPECTED = os.path.join(HERE, "expected.json")

# clips_suite reads SUITE_FILES consecutive pool files; the seed picks
# which, so there are POOL_FILES - SUITE_FILES + 1 distinct inputs
CLIPS_FILE_ROWS = 5_000
POOL_FILES = 12
SUITE_FILES = 8
WINDOWS = POOL_FILES - SUITE_FILES + 1
# the traced clips_suite run appends every increment, from a seed-chosen
# start, to a copy of the base snapshot table and validates it
INCREMENT_ROWS = 2_000
INCREMENTS = 4
INCREMENT_BASE_INDEX = POOL_FILES * CLIPS_FILE_ROWS
BASE_TABLE_FILES = 1
# docs_dedup: the first DOC_ROWS documents by doc_id, rewritten per seed
DOC_ROWS = 500
DOC_FILES = 4

VIOLATION_COLUMNS = ("clip_id", "field", "message", "check")

# driver heap (session.get_spark reads SPARK_DRIVER_MEM; 8g by default);
# 2 GB leaves the host's memory to other tenants
DRIVER_MEM = "2g"


# -- comparison ---------------------------------------------------------------


def digest(rows) -> int:
    """Order-insensitive digest: the sum of crc32 over the row's values
    joined by U+001F, nulls skipped (the rule
    ``SnapshotValidationLog.validate_increment`` uses)."""
    return sum(
        zlib.crc32("\x1f".join(str(v) for v in r if v is not None).encode("utf-8"))
        for r in rows
    )


def compare(actual, expected) -> dict:
    """Multiset comparison of two row lists, with the differing rows."""
    a = Counter(tuple(r) for r in actual)
    e = Counter(tuple(r) for r in expected)
    missing, extra = e - a, a - e
    return {
        "ok": not missing and not extra,
        "rows": sum(a.values()),
        "expected_rows": sum(e.values()),
        "digest": digest(a.elements()),
        "expected_digest": digest(e.elements()),
        "missing": [list(r) for r in sorted(missing.elements(), key=repr)[:20]],
        "extra": [list(r) for r in sorted(extra.elements(), key=repr)[:20]],
    }


def per_check(rows) -> dict:
    return dict(sorted(Counter(r[-1] for r in rows).items()))


def load_expected() -> dict:
    with open(EXPECTED) as f:
        pins = json.load(f)
    sizes = {
        "clips_file_rows": CLIPS_FILE_ROWS,
        "suite_files": SUITE_FILES,
        "windows": WINDOWS,
        "increment_rows": INCREMENT_ROWS,
        "increments": INCREMENTS,
    }
    if pins["sizes"] != sizes:
        raise RuntimeError(f"expected.json pins {pins['sizes']}, benchmark uses {sizes}")
    return pins


# -- clips --------------------------------------------------------------------


def _publish(tmp: str, final: str) -> None:
    """Move a finished fixture into place; if a concurrent run published
    first, its copy stays and ours is dropped."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise


def _write_clip_files(dirname: str, first_index: int, rows: int, files: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from marshmallow_spark.sources.synth import generate_batch

    final = os.path.join(FIXTURES, dirname)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    schema = pa.schema(
        [
            ("clip_id", pa.string()),
            ("bytes", pa.binary()),
            ("sr_hz", pa.int32()),
            ("dur_ms", pa.int32()),
            ("codec", pa.string()),
            ("transcript", pa.string()),
        ]
    )
    for k in range(files):
        lo = first_index + k * rows
        pdf = generate_batch(
            np.arange(lo, lo + rows, dtype=np.int64),
            with_violations=True,
            dur_lo=40,
            dur_hi=120,
        )
        table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(tmp, f"part-{k:05d}.parquet"))
    _publish(tmp, final)
    return final


def clip_pool() -> list[str]:
    d = _write_clip_files(
        f"clips_{CLIPS_FILE_ROWS}x{POOL_FILES}", 0, CLIPS_FILE_ROWS, POOL_FILES
    )
    return [os.path.join(d, f"part-{k:05d}.parquet") for k in range(POOL_FILES)]


def suite_window(seed: int) -> int:
    return seed % WINDOWS


def suite_files(seed: int) -> list[str]:
    w = suite_window(seed)
    return clip_pool()[w : w + SUITE_FILES]


def increment_files() -> list[str]:
    d = _write_clip_files(
        f"increments_{INCREMENT_BASE_INDEX}_{INCREMENT_ROWS}x{INCREMENTS}",
        INCREMENT_BASE_INDEX,
        INCREMENT_ROWS,
        INCREMENTS,
    )
    return [os.path.join(d, f"part-{k:05d}.parquet") for k in range(INCREMENTS)]


def increment_order(seed: int, n: int) -> list[int]:
    start = seed % INCREMENTS
    return [(start + c) % INCREMENTS for c in range(n)]


def _build_base_table(files: list[str], out: str) -> None:
    """Runs in a child process with its own JVM, so the parent's first
    session start stays cold like every other run's. Leaves the table at
    ``out/table`` and a validation log with its first snapshot already
    validated at ``out/log``."""
    sys.path.insert(0, ROOT)
    from marshmallow_spark.plans.pipeline import ClipValidationSuite
    from marshmallow_spark.session import get_spark
    from marshmallow_spark.sources.snapshots import SnapshotTable, SnapshotValidationLog
    from marshmallow_spark.sources.synth import codecs_dim

    from procstat import become_subreaper, end_descendants, stop_jvm

    # the child exits only after its JVM and every process that started,
    # so none of them still runs while the parent times its setups
    become_subreaper()
    spark = get_spark("perfbench-fixture", extra_conf=spark_conf(out))
    try:
        table = SnapshotTable.create(os.path.join(out, "table"), spark.read.parquet(*files))
        log = SnapshotValidationLog(table, os.path.join(out, "log"))
        log.validate_increment(spark, ClipValidationSuite(codecs_dim(spark)))
    finally:
        spark.stop()
        try:
            stop_jvm()
        finally:
            end_descendants()
    for scratch in ("spark-local", "spark-warehouse"):
        shutil.rmtree(os.path.join(out, scratch), ignore_errors=True)


def base_table() -> str:
    """The snapshot table and validation log every clips_append setup
    starts from (a fresh copy each time, see :func:`fresh_table`)."""
    import subprocess

    final = os.path.join(FIXTURES, f"base_table_{CLIPS_FILE_ROWS}x{BASE_TABLE_FILES}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    files = clip_pool()[:BASE_TABLE_FILES]
    proc = subprocess.run([sys.executable, os.path.abspath(__file__), "base-table", tmp, *files])
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"building the base snapshot table failed ({proc.returncode})")
    _publish(tmp, final)
    return final


def fresh_table(run_dir: str) -> str:
    """Copy of :func:`base_table` under ``run_dir``; holds ``table`` and
    ``log``."""
    dst = os.path.join(run_dir, "snapshot_table")
    shutil.copytree(base_table(), dst)
    return dst


# -- documents ----------------------------------------------------------------


def _doc_subset():
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(DOCS_SOURCE)
    t = t.take(pc.sort_indices(t, [("doc_id", "ascending")]))
    return t.slice(0, DOC_ROWS)


def rewrite_docs(run_dir: str, seed: int) -> str:
    """A copy of the document subset with seed-chosen row order and file
    split; returns a directory q31 can read as its ``sf_dir``. The row
    set is the same for every seed, so q31's result is too."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    t = _doc_subset()
    t = t.take(rng.permutation(t.num_rows))
    # equal-sized files: each becomes one scan partition, and uneven ones
    # would make the seed change the first stage's longest task
    cuts = np.linspace(0, t.num_rows, DOC_FILES + 1).round().astype(int)
    out = os.path.join(run_dir, "docs", "documents.parquet")
    os.makedirs(out)
    for k in range(DOC_FILES):
        pq.write_table(
            t.slice(cuts[k], cuts[k + 1] - cuts[k]),
            os.path.join(out, f"part-{k:05d}.parquet"),
        )
    return os.path.dirname(out)


def docs_oracle() -> list[tuple]:
    """q31's (id, comp) rows from DuckDB over the document subset,
    computed once per checkout."""
    cache = os.path.join(FIXTURES, f"q31_oracle_{DOC_ROWS}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return [tuple(r) for r in json.load(f)]
    import duckdb
    import pyarrow.parquet as pq

    from marshmallow_spark.queries import ORACLES

    os.makedirs(FIXTURES, exist_ok=True)
    src = f"{cache}.src-{uuid.uuid4().hex[:8]}.parquet"
    pq.write_table(_doc_subset(), src)
    try:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{src}'")
        rows = [tuple(int(v) for v in r) for r in con.execute(ORACLES["q31_minhash_dedup_pipeline"]).fetchall()]
        con.close()
    finally:
        os.remove(src)
    tmp = f"{cache}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, cache)
    return rows


# -- spark --------------------------------------------------------------------


def spark_conf(run_dir: str, event_log_dir: str | None = None) -> dict:
    """Session settings that keep every file the run writes inside
    ``run_dir``. The engine's own defaults (session.get_spark) stay."""
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # a fixed-size heap: G1's adaptive growth made the JVM's RSS, and
        # with it peak_rss_mb, differ by a quarter between runs; no
        # hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={run_dir}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


if __name__ == "__main__":
    if sys.argv[1:2] == ["base-table"]:
        _build_base_table(sys.argv[3:], sys.argv[2])
    else:
        sys.exit("usage: fixtures.py base-table OUT FILE...")
