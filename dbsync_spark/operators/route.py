"""Routing, multi-target fan-out, and per-op condition filters.

- P2 table routing: (sourceDb, schema, table) -> (targetSchema, targetTable);
  changes for unconfigured tables are dropped with a warning
  (sync/DataPoller.scala:80-90, defaults config/ConfigParser.scala:42-54).
- S11 fan-out: one change per comma-separated target
  (trigger loop dbopt/PgOperation.scala:125-128).
- P1 condition filters: arbitrary SQL boolean per op type, default 1=1
  (config/ConfigParser.scala:50-52).

Spark-first: routing is an inner join against a *broadcast* config
DataFrame (the config is tiny — never shuffle the log for it); fan-out is
explode(split(...)); conditions are F.expr() filters that Catalyst pushes
down to the scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class SyncRule:
    """One sync[] config entry (config/ConfigObjects.scala:28-32)."""

    source_db: str
    source_schema: str
    source_table: str
    source_keys: tuple[str, ...]
    target_db: str | None = None
    target_schema: str | None = None
    target_table: str | None = None
    insert_condition: str = "1=1"
    update_condition: str = "1=1"
    delete_condition: str = "1=1"

    def resolved_target(self) -> tuple[str, str]:
        # Defaulting rule of ConfigParser.scala:48-49: target defaults to source.
        return (self.target_schema or self.source_schema,
                self.target_table or self.source_table)


def rules_df(spark: SparkSession, rules: list[SyncRule]) -> DataFrame:
    rows = []
    for r in rules:
        ts, tt = r.resolved_target()
        rows.append((r.source_db, r.source_schema, r.source_table, ts, tt))
    return spark.createDataFrame(
        rows, ["sourceDb", "schema", "table", "targetSchema", "targetTable"])


def route(log: DataFrame, rules: DataFrame) -> DataFrame:
    """Inner join to the broadcast rule table; unknown tables drop out
    (the reference logs a warning and skips, DataPoller.scala:86-88)."""
    return log.join(F.broadcast(rules), on=["sourceDb", "schema", "table"], how="inner")


def fanout_targets(log: DataFrame, target_col: str = "targetDb") -> DataFrame:
    """One output row per target in the comma-separated list."""
    return log.withColumn(target_col, F.explode(F.split(F.col(target_col), ",")))


def condition(rule: SyncRule, op_col: str = "operation"):
    """The rule's per-op condition as one boolean Column over the decoded
    row image. NOTE the reference's MySQL impl gates U/D on
    insertCondition (dbopt/MysqlOperation.scala:160,202) — a reference
    bug; we implement the documented per-op semantics."""
    op = F.col(op_col)
    return (
        (op == "I") & F.expr(rule.insert_condition)
        | (op == "U") & F.expr(rule.update_condition)
        | (op == "D") & F.expr(rule.delete_condition)
    )
