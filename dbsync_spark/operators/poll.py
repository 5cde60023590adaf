"""Incremental poll scan (S4/J1) — next-batch selection.

The reference polls the change log with
  sync_data LEFT JOIN sync_polled ON id=dataId WHERE dataId IS NULL
  ORDER BY id LIMIT batch
then marks the extracted ids polled (dbopt/PgOperation.scala:27-45,
driver loop sync/DataPoller.scala:41-78).

Spark-first: in streaming mode the checkpoint/offset log replaces
sync_polled entirely (exactly-once extraction for free). The batch form
below is the declarative equivalent: LEFT ANTI join + order + limit.
Catalyst broadcasts the polled side when small; at scale the anti-join
shuffles on id — both sides are pre-bucketable on id to avoid it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def poll_batch(log: DataFrame, polled: DataFrame, batch_size: int,
               id_col: str = "id", polled_id_col: str = "dataId") -> DataFrame:
    """Next `batch_size` unpolled changes in id order."""
    return (
        log.join(polled.select(F.col(polled_id_col).alias(id_col)), on=id_col, how="left_anti")
        .orderBy(id_col)
        .limit(batch_size)
    )
