"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload nightly_dense --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a human-readable summary and, as
the last line of stdout, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
# Warm iteration time of either workload on a 4-core host. The window
# measures round(--seconds / ITERATION_S) iterations, a count fixed by
# the arguments, so every run reports the same statistic.
ITERATION_S = 10.0

END_TO_END = {  # name -> unit; bounded in BENCHMARK.json
    "job_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warmup_s": "s",
    "input.materialize_s": "s",
    "conflate.wall_s": "s",
    "conflate.cpu_s": "s",
    "conflate.cover_rows": "count",
    "conflate.candidate_pairs": "count",
    "conflate.pair_yield": "ratio",
    "conflate.shuffle_bytes": "bytes",
    "conflate.matches": "count",
    "indel.rows_in": "count",
    "indel.bytes_to_python": "bytes",
    "knn.wall_s": "s",
    "knn.cpu_s": "s",
    "knn.probes": "count",
    "knn.coarse_rows": "count",
    "knn.exchanges": "count",
    "knn.shuffle_bytes": "bytes",
    "pmtiles.wall_s": "s",
    "pmtiles.driver_s": "s",
    "pmtiles.cpu_s": "s",
    "pmtiles.tiles": "count",
    "pmtiles.contents": "count",
    "pmtiles.archive_bytes": "bytes",
    "checkpoint.prepare_s": "s",
    "checkpoint.bucket_s": "s",
    "checkpoint.bucket_skew": "ratio",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.spark_jobs": "count",
    "checkpoint.recomputed_buckets": "count",
    "checkpoint.resume_s": "s",
    "dedup.wall_s": "s",
    "dedup.cpu_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_yield": "ratio",
    "dedup.shuffle_bytes": "bytes",
    "dedup.spark_jobs": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.task_skew": "ratio",
    "spark.smj_joins": "count",
    "spark.shj_joins": "count",
    "spark.bhj_joins": "count",
    "process.peak_rss_mb": "MB",
    "trace.job_s": "s",
    "trace.job_self_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_settings(work: str) -> dict[str, str]:
    """Driver memory and Spark local dir sized to the host, passed
    through the package's own overrides: a quarter of physical RAM
    (at most 4 GiB) for the driver heap, and shuffle/spill on disk
    inside the work dir rather than on a RAM-backed tmpfs."""
    ram_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    return {
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(4, int(ram_gib // 4)))}g"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
    }


def start_session(work: str):
    from overmatch_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's scratch files (native-library unpacking)
            # inside the work dir too
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Start the Python worker pool on every core and import the
    package's UDF kernel in each."""
    from pyspark.sql import functions as F

    from overmatch_spark.udfs import indel_sim

    s = F.col("id").cast("string")
    spark.range(0, CPUS * 256, 1, CPUS).select(indel_sim(s, s)) \
        .write.format("noop").mode("overwrite").save()


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait
    for it (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str) -> tuple[dict, dict, list[str]]:
    from perfbench import tracing as T
    from perfbench import workloads as W

    wl = W.WORKLOADS[args.workload](args.seed, work)

    # ---- set-up, once per process: JVM and session start, inputs,
    # Python workers ----
    setup0 = T.host_ticks()
    phases = {"start": time.time()}
    spark = start_session(work)
    phases["session"] = time.time()
    try:
        input_digest = wl.materialize(spark)
        phases["inputs"] = time.time()
        warm_workers(spark)
        phases["workers"] = time.time()
        setup_steal = T.steal_share(setup0, T.host_ticks())
        status = T.SparkStatus(spark)
        records, failures = [], []

        def iteration(traced: bool) -> dict:
            tracer = T.Tracer(traced)
            out = W.fresh_dir(os.path.join(work, "out", str(len(records))))
            mark = status.watermark() if traced else None
            cpu0, host0 = T.tree_cpu_s(), T.host_ticks()
            t0 = time.time()
            with tracer.span("job"):
                outputs = wl.iteration(spark, tracer, out)
            rec = {"wall_s": time.time() - t0, "cpu_s": T.tree_cpu_s() - cpu0,
                   "steal": T.steal_share(host0, T.host_ticks()),
                   **wl.summary(outputs)}
            # the host is a shared VM: the time the hypervisor ran other
            # guests instead varies from minute to minute, not with the code
            rec["job_s"] = rec["wall_s"] * (1 - rec["steal"])
            if traced:
                led = status.since(mark)
                parts = T.by_span(led, tracer.spans)
                rec["layers"] = {
                    **wl.layers(tracer.spans, parts, outputs),
                    **T.engine_metrics(led),
                    "trace.job_s": rec["job_s"],
                    # the job span is spans[0]; its self time is what
                    # the iteration spends outside every operator call
                    "trace.job_self_s": T.self_times(tracer.spans)[0],
                    "trace.overhead_s": tracer.overhead_s,
                }
            records.append(rec)
            return outputs

        # Warm-up: the first job of the process pays for JIT
        # compilation and query code generation, wants more cores than
        # the host has, and spreads too widely from run to run to bound.
        # It is checked and listed in the summary, not measured. The
        # references are computed meanwhile, on another thread.
        with ThreadPoolExecutor(1) as pool:
            refs = pool.submit(wl.expect, spark)
            outputs = [iteration(False)]
            refs.result()
        phases["warm-up job"] = time.time()
        # Measured window: a fixed number of whole iterations. Outputs
        # are kept and checked after it. The traced run traces the first
        # of them; memory is sampled there only, since reading every
        # process's smaps costs CPU.
        n_window = max(1, round(args.seconds / ITERATION_S))
        if args.trace:
            with T.RssPeak() as rss:
                outputs.append(iteration(True))
        while len(outputs) <= n_window:
            outputs.append(iteration(False))
        phases["window"] = time.time()
        for i, out in enumerate(outputs):
            failures.extend(f"iteration {i}: {b}" for b in wl.check(out))
        phases["checks"] = time.time()
    finally:
        stop_jvm(spark)
    phases["stop"] = time.time()
    marks = list(phases.values())
    phase_s = {k: t - marks[i] for i, (k, t) in enumerate(list(phases.items())[1:])}

    window = records[1:]
    job_s = T.median(r["job_s"] for r in window)
    attempted = len(records)
    failed_iters = len({f.split(":")[0] for f in failures})
    if args.trace:
        values = {
            "session.start_s": phase_s["session"],
            "input.materialize_s": phase_s["inputs"],
            "session.worker_warmup_s": phase_s["workers"],
            "process.peak_rss_mb": rss.peak / 2**20,
        }
        for name in PER_LAYER:
            values.setdefault(name, window[0]["layers"].get(name, 0.0))
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "job_s": job_s,
            "rows_per_s": wl.rows / job_s,
            "cpu_s": T.median(r["cpu_s"] for r in window),
            "setup_s": (phase_s["session"] + phase_s["inputs"] + phase_s["workers"])
                       * (1 - setup_steal),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    # reported, not bounded: error_rate is 0 when all is well, and
    # resume_s exists on the resume workload only
    unbounded = {"error_rate": (failed_iters / attempted, "ratio")}
    if "resume_s" in window[0]:
        unbounded["resume_s"] = (T.median(r["resume_s"] for r in window), "s")
    notes = [
        f"workload {args.workload} seed {args.seed} input digest {input_digest}",
        f"host: driver memory {os.environ['SPARK_GRAFT_DRIVER_MEM']}, "
        f"local dir {os.environ['SPARK_GRAFT_LOCAL_DIR']}, local[{CPUS}]",
        "phases: " + ", ".join(f"{k} {t:.1f} s" for k, t in phase_s.items()),
        f"{attempted} iterations (warm-up first), wall s: "
        + " ".join(f"{r['wall_s']:.2f}" for r in records)
        + "; steal share: " + " ".join(f"{r['steal']:.3f}" for r in records)
        + f" (set-up {setup_steal:.3f})"
        + "; cpu_s: " + " ".join(f"{r['cpu_s']:.2f}" for r in records),
        f"{failed_iters} of {attempted} iterations failed",
        *failures,
    ]
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed_iters,
        "metrics": metrics,
    }
    return result, unbounded, notes


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "overmatch_spark")):
        print("overmatch_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(host_settings(work))
    # Python workers import the package's UDF kernels; put the
    # repository on their path whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result, unbounded, notes = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in notes:
        print(line)
    for name, m in result["metrics"].items():
        print(f"{name:32s} {m['value']:16.6f} {m['unit']}")
    if not args.trace:
        for name, (value, unit) in unbounded.items():
            print(f"{name:32s} {value:16.6f} {unit}  (not bounded)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
