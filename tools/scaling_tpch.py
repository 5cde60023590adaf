"""sf1 decade for the 22-query TPC-H-ish analytic suite (judge r6 item
#8): the dedup/DSIR/twin families have 100x evidence; this times each of
the 22 suite queries at sf0.1 and at the generated sf1 fixture
(.scratch/sf1, tools/gen_sf1.py) and records the growth exponent
alpha = log(t_sf1 / t_sf0.1) / log(10) per query into SCALING.json
under "tpch_sf1".

alpha <= ~1 means the plan scales linearly-or-better; each timing is
best-of-2 (per-job scheduling floor and host noise dominate the small
side, which biases alpha DOWN-scale-up — best-of-2 damps the spikes).

Usage: python tools/scaling_tpch.py [out.json]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".scratch/sf1")

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
    import __spark_entry__ as mod
    from dbsync_spark.session import get_spark

    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "SCALING.json")
    if not os.path.isdir(SF1):
        print("sf1 fixture missing: run python tools/gen_sf1.py first")
        return 2
    spark = get_spark("scaling-tpch")
    spark.sparkContext.setLogLevel("ERROR")
    queries = mod.queries()

    def best_of_2(name: str, sf_dir: str) -> float:
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            queries[name](spark, sf_dir).count()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        return round(best, 3)

    rows: dict[str, dict] = {}
    suite = {SF01: 0.0, SF1: 0.0}
    for name in TPCH:
        t01 = best_of_2(name, SF01)
        t1 = best_of_2(name, SF1)
        suite[SF01] += t01
        suite[SF1] += t1
        alpha = round(math.log(max(t1, 1e-3) / max(t01, 1e-3))
                      / math.log(10), 3)
        rows[name] = {"sf0.1_s": t01, "sf1_s": t1, "alpha": alpha}
        print(f"{name:32s} {t01:7.3f}s -> {t1:7.3f}s  alpha={alpha}",
              flush=True)

    suite_alpha = round(math.log(suite[SF1] / suite[SF01]) / math.log(10), 3)
    print(f"{'SUITE':32s} {suite[SF01]:7.3f}s -> {suite[SF1]:7.3f}s "
          f"alpha={suite_alpha}")

    data = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            data = json.load(fh)
    data["tpch_sf1"] = {
        "suite_sf0.1_s": round(suite[SF01], 3),
        "suite_sf1_s": round(suite[SF1], 3),
        "suite_alpha": suite_alpha,
        "queries": rows,
    }
    with open(out_path, "w") as fh:
        json.dump(data, fh, indent=1)
    print(f"wrote {out_path} [tpch_sf1]")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
