"""divergence_report_multi + audio_feature_drift: the multi-column
drift dashboard (one exchange for all features) and its audio-axis
wrapper over decoded quality metrics."""

import pytest
from pyspark.sql import functions as F

from marshmallow_spark.operators.drift import (
    divergence_report,
    divergence_report_multi,
)


@pytest.fixture(scope="module")
def base_rows(spark):
    # two populations of (x, y): group 1's x is shifted, y identical
    rows = []
    for i in range(400):
        rows.append((float(i % 20), float(i % 7), 0))
        rows.append((float(i % 20) + (6.0 if i % 3 else 0.0), float(i % 7), 1))
    return spark.createDataFrame(rows, "x double, y double, g int")


def test_single_feature_matches_divergence_report(spark, base_rows):
    """A one-feature multi call must reproduce divergence_report's row
    exactly (the formulas are term-for-term shared)."""
    single = divergence_report(base_rows, "x", "g", 0.0, 26.0, 13).collect()[0]
    multi = divergence_report_multi(
        base_rows, {"x": (0.0, 26.0)}, "g", 13
    ).collect()
    assert len(multi) == 1
    m = multi[0]
    assert m["feature"] == "x"
    assert m["psi"] == single["psi"]
    assert m["chi2"] == single["chi2"]
    assert m["dof"] == single["dof"]
    assert m["jsd"] == single["jsd"]


def test_multi_separates_shifted_from_identical(spark, base_rows):
    out = {
        r["feature"]: r
        for r in divergence_report_multi(
            base_rows, {"x": (0.0, 26.0), "y": (0.0, 7.0)}, "g", 13
        ).collect()
    }
    assert set(out) == {"x", "y"}
    # y's distributions are identical -> exact zeros
    assert out["y"]["psi"] == 0.0
    assert out["y"]["chi2"] == 0.0
    assert out["y"]["jsd"] == 0.0
    # x's shift registers on every member of the family
    assert out["x"]["psi"] > 0.05
    assert out["x"]["chi2"] > 10.0
    assert out["x"]["jsd"] > 0.01


def test_null_values_drop_out(spark):
    """NULLs must not contribute to any histogram (the melt filters
    them engine-side before the explode)."""
    df = spark.createDataFrame(
        [(1.0, 0), (None, 0), (1.0, 1), (None, 1)], "x double, g int"
    )
    row = divergence_report_multi(df, {"x": (0.0, 2.0)}, "g", 4).collect()[0]
    # one occupied bin on each side, identical -> zeros; dof counts
    # only observed bins
    assert row["psi"] == 0.0 and row["jsd"] == 0.0
    assert row["dof"] == 0


@pytest.fixture(scope="module")
def clips(spark):
    from marshmallow_spark.sources.synth import synth_clips

    return synth_clips(spark, 300, with_violations=True, num_partitions=4)


def test_audio_feature_drift_identical_snapshots_zero(spark, clips):
    from marshmallow_spark.functions.audio_quality import (
        audio_feature_drift,
        audio_quality_metrics,
    )

    m = audio_quality_metrics(clips)
    rows = audio_feature_drift(m, m).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["psi"] == 0.0, r
        assert r["chi2"] == 0.0, r
        assert r["jsd"] == 0.0, r


def test_audio_feature_drift_detects_releveling(spark, clips):
    """Loudness-normalizing the current snapshot must light up
    rms_dbfs while leaving the gain-invariant zero-crossing rate near
    zero — the separation that makes the check diagnostic, not just a
    change detector."""
    from marshmallow_spark.functions.audio_quality import (
        audio_feature_drift,
        audio_quality_metrics,
    )
    from marshmallow_spark.functions.audio_transform import (
        gain_normalized_quality_metrics,
    )

    out = {
        r["feature"]: r
        for r in audio_feature_drift(
            audio_quality_metrics(clips),
            gain_normalized_quality_metrics(clips, target_dbfs=-12.0),
        ).collect()
    }
    assert set(out) == {
        "rms_dbfs",
        "clipping_ratio",
        "dc_offset",
        "zero_crossing_rate",
    }
    assert out["rms_dbfs"]["psi"] > 1.0
    assert out["zero_crossing_rate"]["psi"] < 0.05
    assert out["rms_dbfs"]["psi"] > 10 * out["zero_crossing_rate"]["psi"]


def test_drift_has_one_fixed_bin_scaffold():
    """The fixed-bin operators share one bin expression (_bin) and one
    two-population count (_two_sample_counts), and the multi-feature
    melt is a plain inline: drift.py must hold exactly one floor call,
    one .alias("c0") and no F.filter, so a second copy of the scaffold
    cannot grow back."""
    import ast

    from marshmallow_spark.operators import drift

    with open(drift.__file__) as f:
        tree = ast.parse(f.read())
    floors = c0_aliases = filters = 0
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            continue
        attr, owner = node.func.attr, node.func.value
        floors += attr == "floor"
        c0_aliases += attr == "alias" and [
            a.value for a in node.args if isinstance(a, ast.Constant)
        ] == ["c0"]
        filters += attr == "filter" and isinstance(owner, ast.Name) and owner.id == "F"
    assert (floors, c0_aliases, filters) == (1, 1, 0)
