"""Key-uniqueness checks with explicit partitioning + skew salting (A3).

Lifts the reference's compile-time data_key/attribute collision errors
(/root/reference/src/marshmallow/schema.py:994-1018) to data scale:
a duplicated key IS a violation row.

Scale notes (10^12 rows, skewed keys — the north_rule case):
- Plain ``groupBy(key).count()`` already does map-side partial
  aggregation, so uniform duplicates are cheap. The killer is a single
  hot key (FIXTURES.md plants one at ~1% of all rows): every pre-
  aggregated partial for that key lands on one reducer. With count-like
  aggregates partials are O(#distinct keys per partition) so even the
  hot key reduces to ~P rows — fine. The *salted two-phase* variant
  below exists for aggregation states that are NOT constant-size (e.g.
  collecting example row-ids per key), and to demonstrate the pattern
  the north_rule names.
- ``repartition(n, hash(key))`` before the agg pins a stable
  partitioning that checkpoint manifests can align to (A8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def duplicate_keys(
    df: DataFrame,
    key: str,
    *,
    salted: bool = False,
    num_salts: int = 16,
) -> DataFrame:
    """Keys appearing more than once -> (key, dup_count).

    ``salted=True``: two-phase aggregation — phase 1 groups on
    (key, salt) where salt = pmod(hash of a *different* column or a
    random-ish row hash, num_salts) so one hot key spreads over
    ``num_salts`` reducers; phase 2 re-aggregates the per-salt partial
    counts by key. Identical result, bounded reducer load.
    """
    if salted:
        salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(num_salts))
        phase1 = (
            df.select(F.col(key), salt.alias("_salt"))
            .groupBy(key, "_salt")
            .agg(F.count(F.lit(1)).alias("_partial"))
        )
        agg = phase1.groupBy(key).agg(F.sum("_partial").alias("dup_count"))
    else:
        agg = df.groupBy(key).agg(F.count(F.lit(1)).alias("dup_count"))
    return agg.where(F.col("dup_count") > 1)


def duplicate_key_rows(df: DataFrame, key: str) -> DataFrame:
    """Keep full rows of duplicated keys via a window count — single
    shuffle on the key, no join back."""
    w = Window.partitionBy(key)
    return (
        df.withColumn("_key_count", F.count(F.lit(1)).over(w))
        .where(F.col("_key_count") > 1)
        .drop("_key_count")
    )


def uniqueness_violations(
    df: DataFrame, key: str, *, salted: bool = False, num_salts: int = 16
) -> DataFrame:
    """Violation-row shape (row_key, field, message) for duplicated
    keys, message matching marshmallow's validator vocabulary."""
    dups = duplicate_keys(df, key, salted=salted, num_salts=num_salts)
    return dups.select(*violation_columns(key))


def violation_columns(key: str, key_name: str = "row_key") -> list[Column]:
    """The (``key_name``, field, message) projection of
    ``duplicate_keys`` output; callers that run the check repeatedly
    build it once."""
    return [
        F.col(key).cast("string").alias(key_name),
        F.lit(key).alias("field"),
        F.concat(
            F.lit("Duplicate key: appears "), F.col("dup_count"), F.lit(" times.")
        ).alias("message"),
    ]
