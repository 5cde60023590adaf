from __future__ import annotations

from pyspark.sql import functions as F


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
