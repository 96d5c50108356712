"""Checkpointed, resumable conflation job (SURVEY.md §7.2.8; north
rule: "checkpoint per-partition progress with lineage + metrics so any
run resumes mid-job without recomputing completed cells").

The job is `conflate` cut at the cell key: `prepare` materializes
conflate's own probe and build sides (operators.conflate._sides) plus
a bucket column, and `run` applies conflate's own cell join and
matcher (_cell_join + _match) one bucket at a time — so the resumable
job cannot drift from one-shot conflation.

Reference precedent: the KV loader's skip-existing resume + batch
retry (/root/reference/api/load_matches.py:105-142,176-264). Here the
unit of work is a SPATIAL BUCKET: a hash of the cell id, so bucket
boundaries respect the cell-join locality:

  - layer_b rows live in exactly one bucket (their cell's bucket).
  - layer_a probe rows are exploded to their cover cells first; each
    (probe, cover-cell) pair goes to that cell's bucket. A pair
    (a, b) is therefore evaluated in exactly one bucket — the bucket
    of b's cell — and the union over buckets equals the single-shot
    join exactly (property-tested, including kill/resume equality).

Exactly-once sink without Iceberg: each bucket writes to its own
directory (`matches/bucket=K/`) with mode=overwrite, and its lineage
row (`lineage/bucket=K/`) is committed only AFTER the data write; a
crash between the two reruns the bucket idempotently. With Iceberg
available, the same protocol is `overwrite-by-filter` + a lineage
table MERGE. The lineage's `n_matches` is counted by an Observation
on the written rows, so the commit needs no read-back of the sink.

Buckets run as concurrent Spark jobs. A single bucket is a few small
jobs of one or two tasks each, so run one at a time they leave most
cores idle. `run` submits the pending buckets, in bucket order, to
`min(defaultParallelism, pending)` threads; a one-core session
therefore keeps the sequential loop. Exactly-once is per bucket, so
it holds with several buckets in flight: buckets share no output
directory, each lineage commit follows its own bucket's write, and a
bucket whose commit did not happen, whether it failed, was in flight
at a crash or was never started, reruns idempotently on resume. On
the first failure `run` cancels the buckets that have not started,
lets the in-flight ones finish and commit, and re-raises. Each thread
inherits the caller's local properties and job tags, so a job group
set before `run` covers every bucket job and `cancelJobGroup` stops a
resume in progress. `prepare` writes its two sides the same way, as
two concurrent jobs.

At 100 TB: stage 0 is one full shuffle (the partitionBy write) that
would already exist as the conflation's own shuffle; stage 1's
per-bucket jobs read back only `bucket=K` via partition pruning, so a
resume touches no completed bucket's bytes.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from overmatch_spark.operators.conflate import (
    DEFAULT_BUFFER_M,
    DEFAULT_RES,
    DEFAULT_SIM,
    _cell_join,
    _match,
    _sides,
)


def _concurrently(spark: SparkSession, fn, args: list) -> None:
    """Call fn(x) for every x in args, in order, on at most
    defaultParallelism threads that inherit the caller's local
    properties and job tags. On the first failure, cancel the calls
    not yet started, wait for the running ones, and re-raise."""
    width = min(spark.sparkContext.defaultParallelism, len(args))
    with ThreadPoolExecutor(width) as pool:
        # one wrap per call: each call gets its own copy of the local
        # properties, which Spark mutates per execution
        futures = [
            pool.submit(inheritable_thread_target(spark)(fn), x) for x in args
        ]
        try:
            for f in as_completed(futures):
                f.result()
        except BaseException:
            pool.shutdown(cancel_futures=True)
            raise


class ConflationJob:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        n_buckets: int = 32,
        res: int = DEFAULT_RES,
        buffer_m: float = DEFAULT_BUFFER_M,
        sim_threshold: float = DEFAULT_SIM,
    ):
        self.spark = spark
        self.work_dir = work_dir
        self.n_buckets = n_buckets
        self.res = res
        self.buffer_m = buffer_m
        self.sim_threshold = sim_threshold
        self.stage_dir = os.path.join(work_dir, "stage")
        self.sink_dir = os.path.join(work_dir, "matches")
        self.lineage_dir = os.path.join(work_dir, "lineage")

    # -- stage 0: bucketed materialization ---------------------------------
    def prepare(self, layer_a: DataFrame, layer_b: DataFrame) -> None:
        sides = dict(zip("ab", _sides(layer_a, layer_b, self.res, self.buffer_m)))
        bucket = F.pmod(F.xxhash64(F.col("cell")), F.lit(self.n_buckets))

        def write(name: str) -> None:
            sides[name].withColumn("bucket", bucket).write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(os.path.join(self.stage_dir, name))

        _concurrently(self.spark, write, ["a", "b"])

    # -- lineage ------------------------------------------------------------
    def completed_buckets(self) -> set[int]:
        done = set()
        if not os.path.isdir(self.lineage_dir):
            return done
        for name in os.listdir(self.lineage_dir):
            if name.startswith("bucket="):
                marker = os.path.join(self.lineage_dir, name, "_DONE.json")
                if os.path.exists(marker):
                    done.add(int(name.split("=")[1]))
        return done

    def _commit_lineage(self, bucket: int, metrics: dict) -> None:
        d = os.path.join(self.lineage_dir, f"bucket={bucket}")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, "_DONE.json.tmp")
        with open(tmp, "w") as f:
            json.dump(metrics, f)
        os.replace(tmp, os.path.join(d, "_DONE.json"))  # atomic commit

    def lineage(self) -> list[dict]:
        out = []
        for k in sorted(self.completed_buckets()):
            with open(
                os.path.join(self.lineage_dir, f"bucket={k}", "_DONE.json")
            ) as f:
                out.append(json.load(f))
        return out

    # -- stage 1: per-bucket conflation with resume --------------------------
    def run(self, max_buckets: int | None = None) -> int:
        """Process pending buckets (optionally capped, for fault
        injection in tests). Returns the number processed."""
        done = self.completed_buckets()
        pending = [k for k in range(self.n_buckets) if k not in done]
        if max_buckets is not None:
            pending = pending[:max_buckets]
        if not pending:
            return 0
        a = self.spark.read.parquet(os.path.join(self.stage_dir, "a"))
        b = self.spark.read.parquet(os.path.join(self.stage_dir, "b"))

        def bucket(k: int) -> None:
            t0 = time.time()
            # partition-pruned scans: only bucket=k bytes are read
            in_k = F.col("bucket") == k
            cand = _cell_join(a.filter(in_k), b.filter(in_k), ["cell"],
                              self.buffer_m)
            written = Observation()
            out = _match(cand, self.sim_threshold).observe(
                written, F.count(F.lit(1)).alias("n")
            )
            sink = os.path.join(self.sink_dir, f"bucket={k}")
            out.write.mode("overwrite").parquet(sink)  # idempotent per bucket
            self._commit_lineage(
                k,
                {
                    "bucket": k,
                    "n_matches": written.get["n"],
                    "wall_ms": int((time.time() - t0) * 1000),
                    "res": self.res,
                    "buffer_m": self.buffer_m,
                },
            )

        _concurrently(self.spark, bucket, pending)
        return len(pending)

    def result(self) -> DataFrame:
        return self.spark.read.parquet(self.sink_dir)
