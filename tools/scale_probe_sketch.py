"""10x scale probe for the sketch family and analytics packs II and III.

Blowup shape: FACT tables grow 10x (lineitem + orders multiply their key
space; events multiply user keys) while DIMENSIONS (customer, supplier,
part, nation, region) stay fixed — how a warehouse actually grows.  Join
consistency is preserved: l_orderkey and o_orderkey are re-keyed with the
same (key*10 + r) map, so every lineitem still finds its order; o_custkey
is left unchanged so the fixed customer dimension keeps matching.

A scale-safe operator should land close to 10x wall-clock on 10x rows
(linear); anything superlinear is a red flag the probe exists to catch.
Prints one JSON line {query: {"sf0.1": s, "x10": s, "ratio": r}, ...}
where ratio = x10 / (10 * sf0.1) — i.e. 1.0 == perfectly linear.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
PROBE_DIR = "/tmp/cdis_sketch_probe"

REGISTRY_PROBES = [
    "bloom_semijoin_revenue",
    "heavy_hitter_parts",
    "distinct_users_by_type",
    "nation_pair_trade",
    "market_share_yearly",
    "promo_revenue_monthly",
    "top_supplier_by_revenue",
    "small_qty_revenue_share",
    "large_order_customers",
    "idle_rich_customers",
    "important_parts_value",
    "cust_order_distribution",
    "part_supplier_counts",
    "discounted_revenue_disjunctive",
    "excess_shipped_suppliers",
    "waiting_orders_blame",
    # session-2 continuation: layout, grouping, Q2, incremental rollup
    "zorder_rewrite",
    "skipscan_events_range",
    "revenue_cube_flag_status",
    # round 9: bounded-state exact order-statistic quantiles
    "exact_quantiles_events",
    "event_type_pivot_daily",
    "cheapest_supplier_per_part",
    "rollup_incremental_events",
]


def build_probe_tables(spark) -> None:
    from pyspark.sql import functions as F

    shutil.rmtree(PROBE_DIR, ignore_errors=True)
    os.makedirs(PROBE_DIR, exist_ok=True)

    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    li10 = li.withColumn("r", F.explode(F.expr("sequence(0, 9)"))).select(
        (F.col("l_orderkey") * 10 + F.col("r")).alias("l_orderkey"),
        *[c for c in li.columns if c != "l_orderkey"],
    )
    li10.write.mode("overwrite").parquet(f"{PROBE_DIR}/lineitem.parquet")

    od = spark.read.parquet(f"{BASE}/orders.parquet")
    o10 = od.withColumn("r", F.explode(F.expr("sequence(0, 9)"))).select(
        (F.col("o_orderkey") * 10 + F.col("r")).alias("o_orderkey"),
        *[c for c in od.columns if c != "o_orderkey"],
    )
    o10.write.mode("overwrite").parquet(f"{PROBE_DIR}/orders.parquet")

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    ev10 = ev.withColumn("r", F.explode(F.expr("sequence(0, 9)"))).select(
        (F.col("event_id") * 10 + F.col("r")).alias("event_id"),
        "ts",
        (F.col("user_id") * 10 + F.col("r")).alias("user_id"),
        "event_type", "value", "props",
    )
    ev10.write.mode("overwrite").parquet(f"{PROBE_DIR}/events.parquet")

    for name in os.listdir(BASE):
        dst = os.path.join(PROBE_DIR, name)
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE, name), dst)


def main() -> None:
    from confluent_data_ingestion_spark.caching import release_caches
    from confluent_data_ingestion_spark.queries import QUERIES as REGISTRY
    from confluent_data_ingestion_spark.session import get_spark

    spark = get_spark("cdis-sketch-probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_probe_tables(spark)

    def run(fn, pre=None) -> float:
        best = None
        for _ in range(2):  # warm second run
            if pre is not None:
                pre()
            t0 = time.perf_counter()
            fn()
            release_caches()
            best = time.perf_counter() - t0
        return round(best, 3)

    # zorder_rewrite is a one-off write: clear its layout cache before
    # each run so BOTH runs pay the rewrite (the warm run would otherwise
    # just re-read the cached layout).  skipscan_events_range then probes
    # with the cache left POPULATED — it is the steady-state read path.
    def _clear_layout_cache():
        from confluent_data_ingestion_spark import queries as _q

        _q.release_artifact_families(["skipscan"])

    pre_hooks = {"zorder_rewrite": _clear_layout_cache}

    out = {}
    for name in REGISTRY_PROBES:
        base_s = run(lambda: REGISTRY[name](spark, BASE)
                     .write.format("noop").mode("overwrite").save(),
                     pre=pre_hooks.get(name))
        big_s = run(lambda: REGISTRY[name](spark, PROBE_DIR)
                    .write.format("noop").mode("overwrite").save(),
                    pre=pre_hooks.get(name))
        out[name] = {
            "sf0.1": base_s,
            "x10": big_s,
            "ratio": round(big_s / (10 * base_s), 3) if base_s else None,
        }
    print(json.dumps(out))
    shutil.rmtree(PROBE_DIR, ignore_errors=True)


if __name__ == "__main__":
    main()
