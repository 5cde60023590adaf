from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from dbsync_spark.sinks.layout import (
    read_date_partitioned,
    write_bucketed,
    write_date_partitioned,
)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Co-located join: both sides bucketed on the key -> no Exchange in
    the join plan (the 100 TB co-location story, SURVEY §2.5 O1).
    Auto-broadcast is disabled so the tiny fixture takes the sort-merge
    path a 100 TB table would."""
    import shutil

    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        write_bucketed(orders, "b_orders", ["o_orderkey"], 8,
                       sort_cols=["o_orderkey"])
        write_bucketed(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
                       "b_lineitem", ["o_orderkey"], 8, sort_cols=["o_orderkey"])

        joined = spark.table("b_orders").join(spark.table("b_lineitem"),
                                              on="o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:2000]}"
        # sanity: same result as the plain join
        plain = orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            on="o_orderkey")
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow
def test_date_partitioned_retention_prunes(spark, sf_dir):
    """Retention cutoff on a date-partitioned log shows up as a partition
    filter — the sweep never reads live partitions."""
    from dbsync_spark.changelog import build_log_orders

    workdir = tempfile.mkdtemp(prefix="dbsync_layout_")
    log = build_log_orders(spark, sf_dir)
    write_date_partitioned(log, f"{workdir}/log")

    raw = spark.read.parquet(f"{workdir}/log")
    expired = raw.where(F.col("_date") < F.lit("1998-01-01"))
    plan = expired._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_date" in plan or \
           "PartitionFilters: [(_date" in plan, plan[:1500]

    # round-trip fidelity
    back = read_date_partitioned(spark, f"{workdir}/log")
    assert back.count() == log.count()
    assert sorted(back.columns) == sorted(log.columns)


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Status-table small-file compaction: N appends -> target_files,
    identical contents (the reference's post-retention OPTIMIZE)."""
    import glob

    from dbsync_spark.sinks.layout import compact

    path = str(tmp_path / "acks")
    df = spark.range(100).select(F.col("id").alias("dataId"))
    for _ in range(6):
        df.coalesce(2).write.mode("append").parquet(path)
    before_files = len(glob.glob(f"{path}/*.parquet"))
    before_rows = spark.read.parquet(path).count()
    after_files = compact(spark, path, target_files=2)
    assert after_files <= 2 < before_files
    assert spark.read.parquet(path).count() == before_rows


def test_range_clustered_files_are_disjoint(spark, sf_dir, tmp_path):
    """write_range_clustered: every output file covers a disjoint ts
    range (verified from parquet row-group statistics), so a ts filter
    can skip whole files."""
    import glob

    import pyarrow.parquet as pq

    from dbsync_spark.sinks.layout import write_range_clustered
    from dbsync_spark.sources.tables import read_table

    events = read_table(spark, sf_dir, "events")
    path = str(tmp_path / "range_clustered")
    write_range_clustered(events, path, "ts", num_files=6)

    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(md.row_group(rg).column(i)
                       for i in range(md.num_columns)
                       if md.row_group(rg).column(i).path_in_schema == "ts")
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file ranges overlap - no skipping possible"

    # row count preserved
    back = spark.read.parquet(path)
    assert back.count() == events.count()


def test_zorder_clustering_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """Z-order layout: a point/range predicate on EITHER clustered column
    must be satisfiable by a strict subset of files (file-level min/max
    covers only a compact rectangle), where single-column range
    clustering serves only its own column. Also checks the write is
    lossless."""
    import glob

    import pyarrow.parquet as pq

    from dbsync_spark.sinks.layout import write_zorder_clustered

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "zorder")
    write_zorder_clustered(li, path, ["l_orderkey", "l_partkey"],
                           bits=8, num_files=8)

    def file_ranges(col_name):
        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(md.row_group(rg).column(i)
                           for i in range(md.num_columns)
                           if md.row_group(rg).column(i).path_in_schema == col_name)
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            if mins:
                out.append((min(mins), max(maxs)))
        return out

    back = spark.read.parquet(path)
    assert back.count() == li.count()
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) >= 4

    for col in ("l_orderkey", "l_partkey"):
        ranges = file_ranges(col)
        lo = min(r[0] for r in ranges)
        hi = max(r[1] for r in ranges)
        # probe the low quartile of the value domain: at least one file
        # must be skippable (its [min,max] excludes the probe point)
        probe = lo + (hi - lo) // 4
        covering = sum(1 for mn, mx in ranges if mn <= probe <= mx)
        assert covering < len(ranges), (
            f"no file-level pruning possible on {col}: every file's "
            f"min/max covers the probe")
