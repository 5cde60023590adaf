"""Drive the driver contract end-to-end, the way the grading driver does:
import __spark_entry__, smoke-run entry(spark), then run every queries()
entry at the given sf dir and hash-compare with its oracle_sql() in DuckDB.

Usage: python tools/drive_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    import pandas as pd
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return tuple(norm(x) for x in seq)
    return v


def canon(pdf):
    cols = sorted(pdf.columns)
    return sorted(
        (tuple(norm(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )


def run_contract(spark, sf_dir: str, only: set[str],
                 out_env: str = "CONTRACT_JSON",
                 extra_meta: dict | None = None) -> int:
    """The compare loop, callable under ANY SparkSession — the
    multi-JVM evidence run (tools/cluster_contract.py) reuses it under
    local-cluster mode with zero query-side special-casing."""
    import duckdb

    import __spark_entry__ as mod

    t0 = time.time()
    edf = mod.entry(spark)
    n = edf.count()
    print(f"entry(): {n} rows, schema={[f.name for f in edf.schema.fields]}, {time.time()-t0:.1f}s")
    assert n >= 0

    import os

    con = duckdb.connect()
    # big generated-SQL oracles (minhash at sf1) spill; the default
    # relative ".tmp" dir failed mid-sweep — pin an absolute tmpfs path
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    # fail fast instead of filling the disk: the char-5-gram minhash
    # oracle at sf1 spilled 69 GB before this cap existed (the ENGINE
    # side runs sf1 in ~22 s — the generated SQL oracle is the
    # intractable half; its verified decade tops out at sf0.1)
    con.execute("SET max_temp_directory_size='%s'"
                % os.environ.get("DUCKDB_MAX_TEMP", "20GB"))

    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        # driver fixtures are single files; generated decades
        # (.scratch/sf1, sf3) are Spark-written directories
        pat = f"{src}/*.parquet" if os.path.isdir(src) else src
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")

    queries, oracles = mod.queries(), mod.oracle_sql()
    fails = []
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
            if name in oracles:
                dpdf = con.execute(oracles[name]).fetchdf()
                ok_cols = sorted(spdf.columns) == sorted(dpdf.columns)
                ok_rows = len(spdf) == len(dpdf)
                ok_vals = ok_cols and ok_rows and canon(spdf) == canon(dpdf)
                status = "MATCH" if ok_vals else "MISMATCH"
                detail = f"rows={len(spdf)}/{len(dpdf)} cols_ok={ok_cols}"
            else:
                # (q_partition is fully oracle-checked since r5; the
                # murmur3 engine path's pure-Python parity spec is
                # pinned in tests/test_partition.py)
                status, detail = "ROWS-ONLY", f"rows={len(spdf)}"
            print(f"  {name:28s} {status:9s} {detail}  {time.time()-t0:.1f}s")
            results[name] = {"status": status, "detail": detail,
                             "secs": round(time.time() - t0, 2)}
            if status == "MISMATCH":
                fails.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"  {name:28s} ERROR     {type(e).__name__}: {e}")
            results[name] = {"status": "ERROR",
                             "detail": f"{type(e).__name__}: {e}"}
            fails.append(name)
    print("FAILURES:", fails if fails else "none")

    out = os.environ.get(out_env)
    if out:
        import json

        payload = {"sf_dir": sf_dir, "n_queries": len(results),
                   "failures": fails, "results": results}
        payload.update(extra_meta or {})
        with open(out, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {out}")
    return 1 if fails else 0


def main() -> int:
    from dbsync_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("drive-contract")
    spark.sparkContext.setLogLevel("ERROR")
    rc = run_contract(spark, sf_dir, only)
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
