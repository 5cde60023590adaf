from __future__ import annotations

import pytest

from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
from dbsync_spark.operators.apply import last_writer_wins, parse_changes
from dbsync_spark.sources.log_source import read_log


@pytest.mark.parametrize("fmt", ["parquet"])
def test_log_roundtrip_all_formats(spark, sf_dir, tmp_path, fmt):
    """The change log read back through the declared wire schema yields
    the same final state as the frame that was written."""
    log = build_log_orders(spark, sf_dir).cache()
    path = str(tmp_path / fmt)
    log.write.parquet(path)
    back = read_log(spark, path)
    assert back.count() == log.count()

    # nullability flags and timestamp flavor (NTZ in the in-memory fixture
    # vs LTZ in the declared wire schema; identical wall times under the
    # UTC session) differ between construction and file read
    def norm(schema):
        return [(f.name, f.dataType.simpleString().replace("_ntz", ""))
                for f in schema.fields]

    assert norm(back.schema) == norm(log.schema)

    got = last_writer_wins(parse_changes(back, ORDERS_PAYLOAD_SCHEMA),
                           ["o_orderkey"])
    want = last_writer_wins(parse_changes(log, ORDERS_PAYLOAD_SCHEMA),
                            ["o_orderkey"])
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
