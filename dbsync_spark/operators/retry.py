"""Failure semantics: error-hash blocking, retry, unblock replay (O4-O6).

Reference behavior (sync/QueueManager.scala:29-53, sync/StateManger.scala,
sync/ErrorResolver.scala:43-78, doc/architecture.cn.md:21-27):
- an apply failure marks that change ERR and records its 64-bit key hash in
  a blocked map;
- later changes whose key hash is blocked are diverted (status BLK) in
  arrival order — unrelated keys flow on untouched (availability);
- a resolver retries ERR rows every retryInterval up to maxRetry; when a
  hash's failed set empties, its blocked rows replay in original id order;
- the converged state is identical to a failure-free run (idempotent
  upserts make replay safe).

Spark-first: the blocked/retry state is a status TABLE, not queues, and a
retry pass is pure window algebra — no Python in the loop. Within one pass,
a key-hash group applies its pending changes in id order until the first
failure: everything before it lands (OK), the failure is ERR (retry+1),
everything behind it is BLK. That is exactly one `row_number` window plus a
min-over-failures comparison, all JVM-side. The 64-bit hash granularity
matches the reference's "1/10^16" blocking claim (xxhash64 vs their
murmur3_128 — engine-specific, same property).

Scale: state is (id, key_hash, tries, status) — narrow. Pass 1 shuffles the
full batch once on key_hash; every later pass touches only the keys that
still have non-OK rows (a tiny, shrinking set). Pass count is bounded by
the failure depth, not data size. Each pass is localCheckpoint()ed so
accumulated tries/status are pinned, not recomputed through lineage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsync_spark.schemas import STATUS_BLK, STATUS_ERR, STATUS_OK, STATUS_PENDING


def key_hash(key: Column) -> Column:
    """64-bit key hash — blocking granularity of the reference
    (Readme.md:10: only same-hash changes block each other)."""
    return F.xxhash64(key)


# private state columns: a pass can run over a frame with payload columns
_STATE_NAMES = {"_key_hash": "key_hash", "_fail_until": "fail_until",
                "_tries": "tries", "_status": "status"}


def run_pass(rows: DataFrame) -> DataFrame:
    """One retry pass over rows carrying `id`, `_key_hash`, `_fail_until`
    and `_tries`: per key-hash group in id order, rows before the first
    failing row (`_tries < _fail_until`) become OK, the first failing row
    becomes ERR (`_tries`+1), the rest BLK — written to `_status`. Every
    other column rides along. Rows already OK are never re-applied
    (ack-once, DataSyncer.scala:141)."""
    group = Window.partitionBy("_key_hash")
    ranked = rows.withColumn("_rn", F.row_number().over(group.orderBy("id")))
    # first failing rank per group (NULL if the whole chain succeeds)
    ranked = ranked.withColumn(
        "_ffr",
        F.min(F.when(F.col("_tries") < F.col("_fail_until"), F.col("_rn")))
        .over(group))
    first = F.col("_rn") == F.col("_ffr")
    return ranked.withColumns({
        "_tries": (F.col("_tries") + F.when(first, 1).otherwise(0)).cast("int"),
        "_status": F.when(F.col("_ffr").isNull()
                          | (F.col("_rn") < F.col("_ffr")), STATUS_OK)
        .when(first, STATUS_ERR)
        .otherwise(STATUS_BLK),
    }).drop("_rn", "_ffr")


def apply_with_retry(changes: DataFrame, key: Column, fail_until: Column,
                     max_passes: int = 100,
                     initial_tries: Column | None = None) -> tuple[DataFrame, int]:
    """Drive the ERR/BLK/retry state machine to convergence.

    `changes` must carry unique ids; `fail_until` is the injected-failure
    spec (a change fails while tries < fail_until — deterministic stand-in
    for a flaky target). `initial_tries` seeds the attempt counter from a
    persisted status table, so retries resume across micro-batches /
    driver passes instead of restarting from zero. Returns (state, passes):
    state has one row per change id with final status (all OK on
    convergence) and the retry count, mirroring sync_data_status.retry.
    """
    if initial_tries is None:
        initial_tries = F.lit(0)
    state = changes.select(
        F.col("id"),
        key_hash(key).alias("_key_hash"),
        fail_until.cast("int").alias("_fail_until"),
        initial_tries.cast("int").alias("_tries"),
        F.lit(STATUS_PENDING).alias("_status"),
    ).localCheckpoint()
    done = state.where(F.col("_status") == STATUS_OK)  # empty at start
    pending = state
    passes = 0
    while passes < max_passes:
        result = run_pass(pending).localCheckpoint()
        passes += 1
        done = done.unionByName(result.where(F.col("_status") == STATUS_OK))
        pending = result.where(F.col("_status") != STATUS_OK)
        # after the last allowed pass an emptiness job changes nothing
        if passes == max_passes or pending.isEmpty():
            break
    return done.unionByName(pending).withColumnsRenamed(_STATE_NAMES), passes


def converged_apply(changes: DataFrame, state: DataFrame) -> DataFrame:
    """Changes that reached the target (status OK), for downstream LWW."""
    ok = state.where(F.col("status") == STATUS_OK).select("id")
    return changes.join(ok, on="id", how="left_semi")


def bootstrap_reset(status: DataFrame, max_retry: int | None = None) -> DataFrame:
    """O7 bootstrap recovery: drop BLK and retryable ERR statuses so the
    unfinished work re-polls (sync/StateManger.scala:85-90,
    PgOperation.scala:389-405). Exhausted ERR rows (retry >= maxRetry)
    stay as dead letters."""
    keep = F.col("status") == STATUS_OK
    if max_retry is not None:
        keep = keep | ((F.col("status") == STATUS_ERR) & (F.col("retry") >= max_retry))
    return status.where(keep)
