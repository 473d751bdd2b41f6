"""Referential-integrity checks via anti-joins (A4).

Generalizes the reference's OneOf / class-registry lookups
(/root/reference/src/marshmallow/validate.py:566;
/root/reference/src/marshmallow/class_registry.py:72-94) to
foreign-key containment at dataset scale.

Scale notes:
- Small dimension (codecs, enum tables): ``F.broadcast`` forces a
  broadcast-hash anti-join — zero shuffle of the fact table.
- Big-big (clip_id ⊆ manifest at 10^12): sort-merge left_anti on the
  join key; AQE skew-join splits oversized partitions at runtime.
  Callers co-locating repeated checks should bucket both sides by the
  key once and reuse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def referential_violations(
    df: DataFrame,
    fk: str,
    dim: DataFrame,
    pk: str,
    *,
    broadcast: bool = True,
) -> DataFrame:
    """Rows of ``df`` whose ``fk`` has no match in ``dim.pk``
    (NULL fks are not violations — SQL FK semantics; pair with
    allow_none for null checks)."""
    right = dim.select(F.col(pk).alias(fk)).distinct()
    if broadcast:
        right = F.broadcast(right)
    return df.where(F.col(fk).isNotNull()).join(right, on=fk, how="left_anti")


def referential_check(
    df: DataFrame,
    fk: str,
    dim: DataFrame,
    pk: str,
    *,
    row_key: str,
    broadcast: bool = True,
) -> DataFrame:
    """Violation-row shape (row_key, field, message) for orphan FKs."""
    bad = referential_violations(df, fk, dim, pk, broadcast=broadcast)
    return bad.select(*violation_columns(fk, row_key))


def violation_columns(
    fk: str, row_key: str, key_name: str = "row_key"
) -> list[Column]:
    """The (``key_name``, field, message) projection of
    ``referential_violations`` output; callers that run the check
    repeatedly build it once."""
    return [
        F.col(row_key).cast("string").alias(key_name),
        F.lit(fk).alias("field"),
        F.concat(
            F.lit("Value not present in reference table: "), F.col(fk).cast("string"), F.lit(".")
        ).alias("message"),
    ]
