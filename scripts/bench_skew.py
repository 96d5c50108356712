"""Skew handling evidence (north rule: "salted-repartition for dense
urban cells", SURVEY.md §4.2): a workload with one pathologically
dense cell, conflated three ways — plain AQE, AQE skew-join only, and
explicit hot-cell salting — with wall times to BENCH/SKEW.md.

Output equality across all three is separately property-tested
(tests/test_conflate_golden.py::test_salt_invariance); this script
measures the physical effect.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from overmatch_spark import expressions as X


def skewed_layers(spark, sf_dir: str, cpus: int):
    """orders-derived layers where ~2.7% of keys (every 37th) pile
    into ONE ~300 m cell — the 'dense urban cell'."""
    from overmatch_spark import demo

    base = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderkey").alias("k"))
        .repartition(2 * cpus)
    )

    def apply_hot(layer, id_col):
        k = F.split(F.col(id_col), "/").getItem(1).cast("long")
        h = (k % 37) == 0
        jx = ((k * 131) % 280).cast("double") - 140.0
        jy = ((k * 173) % 280).cast("double") - 140.0
        hx = F.lit(float(demo.X0 + 90_000)) + jx
        hy = F.lit(float(demo.Y0 + 150)) + jy
        return layer.withColumn(
            "lon", F.when(h, X.inv_merc_lon(hx)).otherwise(F.col("lon"))
        ).withColumn(
            "lat", F.when(h, X.inv_merc_lat(hy)).otherwise(F.col("lat"))
        )

    a = apply_hot(demo.spark_layer_a(spark, sf_dir, None, "k", df=base), "osm_id")
    b = apply_hot(demo.spark_layer_b(spark, sf_dir, None, "k", df=base), "id")
    return a, b


def run(conflate_kwargs, a, b) -> float:
    from overmatch_spark.operators.conflate import conflate

    t0 = time.time()
    conflate(a, b, **conflate_kwargs).write.format("noop").mode(
        "overwrite"
    ).save()
    return round(time.time() - t0, 2)


def main():
    from overmatch_spark import demo
    from overmatch_spark.operators.conflate import detect_hot_cells
    from overmatch_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("skew-bench", cpus=cpus, extra_conf=demo.BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    a, b = skewed_layers(spark, sf_dir, cpus)
    demo.warm_workers(spark, cpus)

    bb = b.withColumn("x", X.merc_x(F.col("lon"))).withColumn(
        "y", X.merc_y(F.col("lat"))
    )
    hot = detect_hot_cells(bb, res=17, threshold=1000)
    print(f"hot cells detected: {len(hot)}")

    results = {}
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    results["plain (no skew handling)"] = min(run({}, a, b) for _ in range(2))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results["AQE skew-join"] = min(run({}, a, b) for _ in range(2))
    results["AQE + explicit salting (k=16)"] = min(
        run({"hot_cells": hot, "salt_factor": 16}, a, b) for _ in range(2)
    )
    print(json.dumps(results))

    with open("BENCH/SKEW.md", "w") as f:
        f.write(
            "# BENCH — skew handling (dense urban cell)\n\n"
            "150k orders-derived features, ~2.7% of BOTH layers piled "
            "into one ~300 m cell (~4k x 4k = 16M candidate pairs in a "
            "single join key). Same output all three ways "
            f"(property-tested); wall times, local[{cpus}], best of 2:\n\n"
            "| strategy | wall (s) |\n|---|---|\n"
            + "".join(f"| {k} | {v} |\n" for k, v in results.items())
            + f"\nhot cells detected by the pre-pass: {len(hot)}\n"
        )
    print("wrote BENCH/SKEW.md")
    spark.stop()


if __name__ == "__main__":
    main()
