"""Skew mitigation: salting for hot keys.

AQE's skew-join splitting (on in session.py) handles most runtime skew;
salting is the explicit tool for pathological keys — e.g. a change log
where one row's key receives half the traffic, which would serialize the
reference's per-key worker exactly the same way it concentrates one Spark
shuffle partition.

`salted_last_writer_wins` is a two-phase LWW: max_by is associative, so
a per-(key, salt) partial reduce followed by a per-key combine is exact
while spreading each hot key over `buckets` reducers.

Salts derive from xxhash64 of the row id (deterministic, no RNG state).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_col(unique_col: Column, buckets: int) -> Column:
    return F.pmod(F.xxhash64(unique_col), F.lit(buckets)).cast("int")


def salted_last_writer_wins(changes: DataFrame, key_cols: list[str],
                            buckets: int = 16, id_col: str = "id",
                            op_col: str = "operation") -> DataFrame:
    """Exact LWW under key skew: phase 1 reduces each (key, salt) slice
    (hot keys spread over `buckets` tasks), phase 2 combines the at-most-
    `buckets` survivors per key — tiny."""
    payload_cols = [c for c in changes.columns if c not in (id_col, op_col)]
    non_key_payload = [c for c in payload_cols if c not in key_cols]
    salted = changes.withColumn("_salt", salt_col(F.col(id_col), buckets))

    def reduce_step(df: DataFrame, group: list[str]) -> DataFrame:
        return df.groupBy(*group).agg(
            F.max_by(F.struct(F.col(op_col).alias(op_col),
                              *[F.col(c).alias(c) for c in non_key_payload]),
                     F.col(id_col)).alias("_w"),
            F.max(id_col).alias(id_col),
        ).select(*group, id_col, f"_w.{op_col}",
                 *[F.col(f"_w.{c}").alias(c) for c in non_key_payload])

    partial = reduce_step(salted, [*key_cols, "_salt"]).drop("_salt")
    final = reduce_step(partial, list(key_cols))
    return (final.where(F.col(op_col) != "D")
            .select(*payload_cols))
