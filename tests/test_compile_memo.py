"""Compile once, bind per DataFrame: the Schema's per-input-type column
memo and the suite's fixed Columns."""

import gc

import pytest
from pyspark.sql import functions as F

from marshmallow_spark import Schema, fields, validate
from marshmallow_spark.decorators import pre_load
from marshmallow_spark.plans import ClipValidationSuite
from marshmallow_spark.plans.pipeline import ClipSchema
from marshmallow_spark.sources.synth import codecs_dim, synth_clips


class Reading(Schema):
    rid = fields.String(required=True)
    level = fields.Integer(required=True, validate=validate.Range(min=0, max=9))
    tag = fields.String(required=True, validate=validate.OneOf(["a", "b"]))

    class Meta:
        row_key = "rid"


def _rows(res):
    return sorted(tuple(r) for r in res.violations.select("rid", "field", "message").collect())


@pytest.fixture(scope="module")
def windows(spark):
    """Two 1,000-clip windows of one synth table: same StructType,
    different rows and different violations."""
    full = synth_clips(spark, 2000, num_partitions=2).persist()
    cut = f"clip-{1000:012d}"
    yield full.where(F.col("clip_id") < cut), full.where(F.col("clip_id") >= cut)
    full.unpersist()


def test_same_type_windows_get_their_own_violations(spark, windows):
    a, b = windows
    schema = ClipSchema()
    va = schema.validate_df(a.drop("bytes")).violations
    vb = schema.validate_df(b.drop("bytes")).violations
    assert len(schema._memo) == 1

    def fresh(df):
        return {tuple(r) for r in ClipSchema().validate_df(df.drop("bytes")).violations.collect()}

    want_a, want_b = fresh(a), fresh(b)
    assert want_a and want_b and want_a != want_b
    assert {tuple(r) for r in va.collect()} == want_a
    assert {tuple(r) for r in vb.collect()} == want_b
    # both bindings in one plan: the shared Columns must resolve
    # against each side's own input
    both = va.unionByName(vb)
    assert sorted(tuple(r) for r in both.collect()) == sorted(want_a | want_b)
    pairs = va.alias("x").join(vb.alias("y"), F.col("x.field") == F.col("y.field"))
    assert pairs.count() == sum(
        1 for x in want_a for y in want_b if x[1] == y[1]
    )


def test_suite_windows_match_a_fresh_suite(spark, windows):
    suite = ClipValidationSuite(codecs_dim(spark))
    for df in windows:
        got = sorted(tuple(r) for r in suite.violations(df).collect())
        want = sorted(
            tuple(r)
            for r in ClipValidationSuite(codecs_dim(spark)).violations(df).collect()
        )
        assert got == want and got


def test_changed_type_recompiles(spark):
    schema = Reading()
    df = spark.createDataFrame([("r1", 3, "a"), ("r2", 12, "c")], "rid string, level int, tag string")
    as_int = [
        ("r2", "level", "Must be greater than or equal to 0 and less than or equal to 9."),
        ("r2", "tag", "Must be one of: a, b."),
    ]
    assert _rows(schema.validate_df(df)) == as_int
    # a changed type: the string level must now be cast-checked
    as_text = df.withColumn("level", F.when(F.col("rid") == "r1", "x").otherwise("4"))
    assert _rows(schema.validate_df(as_text)) == [
        ("r1", "level", "Not a valid integer."),
        ("r2", "tag", "Must be one of: a, b."),
    ]
    # an added column: unknown defaults to RAISE
    extra = df.withColumn("note", F.lit("n"))
    assert ("r1", "note", "Unknown field.") in _rows(schema.validate_df(extra))
    assert len(schema._memo) == 3
    # and the first type is still served its own entry
    assert _rows(schema.validate_df(df)) == as_int
    assert len(schema._memo) == 3


def test_partial_override_has_its_own_entry(spark):
    schema = Reading()
    df = spark.createDataFrame([("r1", 3)], "rid string, level int")
    missing = [("r1", "tag", "Missing data for required field.")]
    assert _rows(schema.validate_df(df)) == missing
    assert _rows(schema.validate_df(df, partial=True)) == []
    assert _rows(schema.validate_df(df, partial=["tag"])) == []
    assert _rows(schema.validate_df(df, partial=["level"])) == missing
    assert _rows(schema.validate_df(df)) == missing
    assert schema.partial is False
    assert len(schema._memo) == 4


def test_pre_load_hook_runs_on_every_call(spark):
    calls = []

    class Trimmed(Reading):
        @pre_load
        def strip(self, df):
            calls.append(1)
            return df.withColumn("tag", F.trim("tag"))

    schema = Trimmed()
    first = spark.createDataFrame([("r1", 1, " a ")], "rid string, level int, tag string")
    second = spark.createDataFrame([("r2", 1, " z ")], "rid string, level int, tag string")
    assert _rows(schema.validate_df(first)) == []
    assert _rows(schema.validate_df(second)) == [("r2", "tag", "Must be one of: a, b.")]
    assert len(calls) == 2
    assert len(schema._memo) == 1


def _py4j_commands(spark, action) -> int:
    """py4j commands ``action`` sends, garbage-collection deletes aside
    (their timing follows Python's collection of earlier objects)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command[:1])
        return send(command, *args, **kwargs)

    gc.disable()
    client.send_command = counting
    try:
        action()
    finally:
        client.send_command = send
        gc.enable()
    return len(sent)


def test_warm_suite_run_sends_few_py4j_commands(spark, windows):
    """A warm run binds memoized Columns with DataFrame calls only; a
    run that rebuilt every Column sent about 2,600 commands here."""
    suite = ClipValidationSuite(codecs_dim(spark))
    a, _ = windows

    def run():
        v, _ = suite.run(a)
        v.unpersist()

    run()
    assert _py4j_commands(spark, run) <= 500

