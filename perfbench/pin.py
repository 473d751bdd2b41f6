"""Writes expected.json: the violation rows of every clips_suite window
and every clips_append increment, pinned from the engine at the commit
that defines the benchmark.

    python3 perfbench/pin.py

Run it only when the benchmark's inputs change (the size constants in
fixtures.py); a change to the engine must keep matching these pins.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    import fixtures
    from marshmallow_spark.plans.pipeline import ClipValidationSuite
    from marshmallow_spark.session import get_spark
    from marshmallow_spark.sources.synth import codecs_dim

    run_dir = os.path.join(fixtures.WORK, f"pin-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    files, increments = fixtures.clip_pool(), fixtures.increment_files()
    spark = get_spark("perfbench-pin", extra_conf=fixtures.spark_conf(run_dir))
    try:
        suite = ClipValidationSuite(codecs_dim(spark))

        def rows(paths):
            v = suite.violations(spark.read.parquet(*paths))
            return sorted(
                [list(r) for r in v.select(*fixtures.VIOLATION_COLUMNS).collect()],
                key=lambda r: [str(x) for x in r],
            )

        pins = {
            "sizes": {
                "clips_file_rows": fixtures.CLIPS_FILE_ROWS,
                "suite_files": fixtures.SUITE_FILES,
                "windows": fixtures.WINDOWS,
                "increment_rows": fixtures.INCREMENT_ROWS,
                "increments": fixtures.INCREMENTS,
            },
            "clips_suite": {
                str(w): rows(files[w : w + fixtures.SUITE_FILES])
                for w in range(fixtures.WINDOWS)
            },
            "increments": {str(k): rows([p]) for k, p in enumerate(increments)},
        }
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(fixtures.EXPECTED, "w") as f:
        json.dump(pins, f, indent=0)
        f.write("\n")


if __name__ == "__main__":
    main()
