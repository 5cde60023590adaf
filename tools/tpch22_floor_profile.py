"""Attribute the tpch_22_suite scheduling floor (judge r10 item #7).

The serial cell's wall exceeds the sum of its constituents' solo cells
by ~1.2 s. Candidate components, each timed separately per query here:

  construct — QUERIES[q](spark, SF_DIR): Python-side DataFrame builder
              (read_table -> spark.read.parquet schema inference +
              transformation chain, all py4j round-trips);
  analyze   — first touch of df.schema: analysis/resolution in the JVM
              (cheap if construct already resolved it);
  execute   — df.count(): optimization + scheduling + the actual jobs.

If construct+analyze carry a material share, pre-resolving plans outside
the timed loop is a legitimate cut (VERDICT r10 item #7 sanctions it);
if execute is ~everything, the floor is scheduling and the item closes
as "all scheduling, nothing to cut".

Usage: python tools/tpch22_floor_profile.py [sf_dir] [reps]
Writes TPCH22_FLOOR_PROFILE.json next to the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

TPCH = [
    "q_pricing_summary", "q_min_cost_supplier", "q_top_revenue_orders",
    "q_exists_semi", "q_regional_volume", "q_forecast_revenue",
    "q_nation_volume", "q_market_share", "q_profit_by_nation",
    "q_returned_items", "q_important_parts", "q_shipmode_priority",
    "q_order_count_dist", "q_promo_share", "q_top_supplier",
    "q_supplier_counts", "q_small_qty_revenue", "q_large_volume_customers",
    "q_disjunctive_revenue", "q_excess_suppliers", "q_waiting_suppliers",
    "q_global_sales_opportunity",
]


def main() -> int:
    from dbsync_spark.queries import QUERIES
    from dbsync_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("tpch22-floor-profile")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up pass: JIT, file-listing cache, codegen — the bench cell
    # runs after ~15 warm minutes, so cold costs are not what we chase
    for q in TPCH:
        QUERIES[q](spark, sf_dir).count()

    per_q: dict[str, dict[str, float]] = {}
    for rep in range(reps):
        for q in TPCH:
            t0 = time.time()
            df = QUERIES[q](spark, sf_dir)
            t1 = time.time()
            _ = df.schema  # force analysis
            t2 = time.time()
            df.count()
            t3 = time.time()
            acc = per_q.setdefault(
                q, {"construct": 0.0, "analyze": 0.0, "execute": 0.0})
            acc["construct"] += t1 - t0
            acc["analyze"] += t2 - t1
            acc["execute"] += t3 - t2
    for q, acc in per_q.items():
        for k in acc:
            acc[k] = round(acc[k] / reps, 4)

    # the serial wall the bench cell sees, same reps
    walls = []
    for rep in range(reps):
        t0 = time.time()
        for q in TPCH:
            QUERIES[q](spark, sf_dir).count()
        walls.append(round(time.time() - t0, 3))

    tot = {k: round(sum(a[k] for a in per_q.values()), 3)
           for k in ("construct", "analyze", "execute")}
    out = {
        "sf_dir": sf_dir,
        "reps": reps,
        "per_query_mean_s": per_q,
        "component_totals_s": tot,
        "serial_wall_s": walls,
        "note": "construct+analyze is the pre-resolvable share; execute "
                "includes optimization, scheduling and the jobs",
    }
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "TPCH22_FLOOR_PROFILE.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"component_totals_s": tot, "serial_wall_s": walls}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
