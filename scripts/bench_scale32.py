"""19.2M-feature (32x) conflation scale row, min-of-3 + window-probe
discipline (VERDICT r3 #6: same methodology as the 600k headline).

Runs OUTSIDE the driver bench: a single 19.2M conflation takes
60-260 s depending on the host window, which would blow bench.py's
wall budget; bench.py carries the 8x (4.8M) min-of-2 row as the
per-round reproducible scale check and this script records the 32x
record in BENCH/BASELINE.md. Probe fields make the window quality
part of the artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from window_probe import CLEAN_MOPS, probe


def main():
    from overmatch_spark import demo
    from overmatch_spark.operators.conflate import conflate
    from overmatch_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    probe_before = probe(mb=32)

    spark = get_spark("overmatch-scale32", cpus=cpus, extra_conf=demo.BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    # persisted input layers — same input-materialization rationale as
    # bench.py's headline: timed runs scan materialized input bytes,
    # not the synthetic 20-expression derivation
    a, b = demo.bench_layers(spark, sf_dir, cpus, mult=32)
    a, b = a.persist(), b.persist()
    demo.warm_workers(spark, cpus)
    n = a.count()
    b.count()

    runs = []
    for i in range(3):
        t0 = time.time()
        conflate(a, b).write.format("noop").mode("overwrite").save()
        runs.append(round(time.time() - t0, 2))
        print(f"run{i}: {runs[-1]}s", file=sys.stderr, flush=True)
    spark.stop()
    probe_after = probe(mb=32)

    best = min(runs)
    result = {
        "features": n,
        "runs": runs,
        "sec": best,
        "throughput_features_per_sec": round(n / best, 1),
        "cpus": cpus,
        "probe_before": probe_before,
        "probe_after": probe_after,
        "good_cpu_window": bool(
            min(probe_before["alu_mops"], probe_after["alu_mops"]) > CLEAN_MOPS
        ),
    }
    print(json.dumps(result))
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"""
## 19.2M-feature (32x) scale row — min-of-3, window-probed

Same conflation (J1-J5), lineitem keys x32 = {n:,} features,
local[{cpus}]. Runs {runs} -> best {best} s
({result["throughput_features_per_sec"]:,} features/s). Probe before
{probe_before} / after {probe_after}
(clean window = alu > {CLEAN_MOPS} Mops on both: {result["good_cpu_window"]}).

Raw: `{json.dumps(result)}`
"""
        )
    print("appended BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
