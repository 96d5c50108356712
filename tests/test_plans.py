"""Physical-plan properties of the engine's operators, checked on the
plan Spark actually ran.

`executed(df)` collects a frame, then walks its final executed plan:
adaptive plans are unwrapped to the plan AQE settled on, query stages
to the plan they ran, and a cached relation's plan is walked once,
under its first scan (a cache read k times would otherwise count its
joins k times). Checked here: parquet pushdown and codegen; one Arrow
UDF node, above the cell join and its distance predicate; shuffles
that carry keys and ids but no payload (near-dup self-joins, ADC
codes, bucketed re-attach); bounded knn nested loops and pure-JVM
spatial joins; one exchange per raster pyramid; one scan per tile
assignment; a tile table with no join and no shuffle but (z, x, y);
archives that Spark does not sort and a bounded job count per
matches_to_pmtiles call; match ids assigned without a Window;
signature projections (simhash, minhash, PQ lookup table) whose size
does not grow with their constant tables; IVF distances and
multi-probe plane dots computed once per row; near-dup pair keys
computed once per doc; and a corpus dedup that reads the corpus
twice, runs a bounded number of jobs and checkpoints one aggregate
per label round.

The module runs under demo.BENCH_CONF. It turns size-based broadcasts
off, so the joins that shuffle at scale shuffle here too (explicit
broadcast() hints still apply), and the conflate join strategy seen
here is the one the bench runs.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field

import pytest
from pyspark.sql import functions as F

from overmatch_spark import demo

SF = "/root/testdata/sf0.01"


@dataclass(eq=False)
class Node:
    name: str  # nodeName(), e.g. "ShuffledHashJoin"
    desc: str  # simpleString, e.g. "Exchange hashpartitioning(cell#3L, 8), ..."
    cols: list[str]  # output column names
    # a file scan's metadata (PushedFilters, ReadSchema, Bucketed, ...);
    # an in-memory scan's {"cache": id of the cached relation}
    meta: dict[str, str]
    kids: list[Node] = field(default_factory=list)

    def walk(self):
        yield self
        for k in self.kids:
            yield from k.walk()

    def named(self, name: str) -> list[Node]:
        return [n for n in self.walk() if n.name == name]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def executed(df) -> Node:
    """Collect `df` and return its final executed plan as a Node tree."""
    df.collect()
    jvm = df.sparkSession.sparkContext._jvm
    file_scan = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.DataSourceScanExec"
    )
    walked = set()

    def node(p) -> Node:
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            return node(p.executedPlan())
        if name.endswith("QueryStage"):
            return node(p.plan())
        kids, meta = _seq(p.children()), {}
        if file_scan.isInstance(p):
            it = p.metadata().iterator()
            while it.hasNext():
                kv = it.next()
                meta[kv._1()] = kv._2()
        elif name == "InMemoryTableScan":
            rel = p.relation()
            meta["cache"] = jvm.System.identityHashCode(rel.cacheBuilder())
            if meta["cache"] not in walked:
                walked.add(meta["cache"])
                kids.append(rel.cachedPlan())
        cols = [a.name() for a in _seq(p.output())]
        return Node(name, p.simpleString(1000), cols, meta, [node(k) for k in kids])

    return node(df._jdf.queryExecution().executedPlan())


def _python(n: Node) -> bool:
    """A node that runs Python: ArrowEvalPython, FlatMapGroupsInPandas, ..."""
    return any(s in n.name for s in ("Python", "Pandas", "Arrow"))


def _hash_keys(n: Node) -> list[str] | None:
    """The columns an Exchange hash-partitions on, else None."""
    m = re.match(r"Exchange hashpartitioning\((.*), \d+\)", n.desc)
    return [c.split("#")[0] for c in m.group(1).split(", ")] if m else None


@pytest.fixture(scope="module", autouse=True)
def bench_conf(spark):
    old = {k: spark.conf.get(k, None) for k in demo.BENCH_CONF}
    for k, v in demo.BENCH_CONF.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def layers(spark):
    return demo.spark_layer_a(spark, SF), demo.spark_layer_b(spark, SF)


# --- parquet scan: pushdown and codegen ---

@pytest.fixture(scope="module")
def scan(spark):
    return executed(
        spark.read.parquet(f"{SF}/customer.parquet")
        .filter(F.col("c_custkey") < 100)
        .select("c_custkey", "c_name")
    )


def _file_scan(plan: Node) -> Node:
    (s,) = [n for n in plan.walk() if "ReadSchema" in n.meta]
    return s


def test_scan_pushes_the_filter_into_parquet(scan):
    assert "LessThan(c_custkey,100)" in _file_scan(scan).meta["PushedFilters"]


def test_scan_reads_only_the_selected_columns(scan):
    read = _file_scan(scan).meta["ReadSchema"]
    assert read == "struct<c_custkey:bigint,c_name:string>"


def test_scan_filter_runs_in_whole_stage_codegen(scan):
    stages = [n for n in scan.walk() if n.name.startswith("WholeStageCodegen")]
    assert any(n.name == "Filter" for w in stages for n in w.walk())


# --- conflate: one Arrow UDF, above the cell join ---

@pytest.fixture(scope="module")
def conflated(layers):
    from overmatch_spark.operators.conflate import conflate

    return executed(conflate(*layers))


def test_conflate_evaluates_one_arrow_udf_node(conflated):
    assert len(conflated.named("ArrowEvalPython")) == 1


def test_conflate_udf_runs_above_the_cell_join(conflated):
    (udf,) = conflated.named("ArrowEvalPython")
    assert any(n.name.endswith("Join") for n in udf.walk())


def test_conflate_distance_predicate_runs_below_the_udf(conflated):
    """The `dist <= 100` predicate (a Filter, or the join condition
    Catalyst folds it into) is applied below the UDF node, so the
    name kernel only sees pairs within the radius."""
    (udf,) = conflated.named("ArrowEvalPython")
    below = list(udf.walk())
    preds = [n for n in conflated.walk() if "<= 100.0" in n.desc]
    above = [n.name for n in preds if n not in below]
    assert preds and not above, above


def test_conflate_cell_join_runs_as_shuffled_hash_join(conflated):
    """Under demo.BENCH_CONF, AQE runs the cell join as a
    ShuffledHashJoin: no sort on either side."""
    (join,) = [n for n in conflated.walk() if n.name.endswith("Join")]
    assert join.name == "ShuffledHashJoin" and "[cell#" in join.desc


def test_conflate_honours_the_broadcast_hint(layers):
    from overmatch_spark.operators.conflate import conflate

    plan = executed(conflate(*layers, broadcast_b=True))
    assert plan.named("BroadcastHashJoin") and plan.named("BroadcastExchange")


# --- near-dup pair operators: the self-join shuffles keys and ids ---

# operator: (its self-join keys, the value column it carries per side)
PAIRS = {
    "minhash_lsh_pairs": (["band", "key"], ()),
    "winnow_pairs": (["fp"], ()),
    "simhash_hamming_pairs": (["bi", "bv"], ("sig",)),
    "embedding_near_dups": (["bucket"], ("v",)),
}
IDS = {"doc_id", "id_a", "id_b"}


@pytest.fixture(scope="module")
def pair_plan(spark):
    """Executed plan of a pair operator, run once on first use."""
    from overmatch_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plans = {}

    def plan(op: str) -> Node:
        if op not in plans:
            if op == "embedding_near_dups":
                df = dedup.embedding_near_dups(emb, "embedding", "vec_id")
            else:
                df = getattr(dedup, op)(docs, "text", "doc_id")
            plans[op] = executed(df)
        return plans[op]

    return plan


def _band_exchanges(plan: Node) -> list[Node]:
    return [
        n for n in plan.walk()
        if n.name in ("Exchange", "BroadcastExchange")
        and {"band", "key"} <= set(n.cols)
    ]


def test_minhash_band_join_shuffles_on_the_band(pair_plan):
    assert _band_exchanges(pair_plan("minhash_lsh_pairs"))


def test_minhash_band_exchange_carries_no_shingles(pair_plan):
    bands = _band_exchanges(pair_plan("minhash_lsh_pairs"))
    shingles = [c for n in bands for c in n.cols if c.split("_")[0] == "sh"]
    assert bands and not shingles, shingles


@pytest.mark.parametrize("op", PAIRS)
def test_pair_self_join_shuffles_only_keys_ids_and_carry(pair_plan, op):
    keys, carry = PAIRS[op]
    allowed = {*keys, *IDS, *carry, *(f"{c}_{s}" for c in carry for s in "ab")}
    shuffled = [
        set(n.cols) for n in pair_plan(op).named("Exchange")
        if _hash_keys(n) == keys and IDS & set(n.cols)
    ]
    assert shuffled and all(cols <= allowed for cols in shuffled), shuffled


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", F.length("text").alias("score")
    )


@pytest.mark.parametrize("op", ["minhash_lsh_pairs", "simhash_hamming_pairs"])
def test_pair_keys_are_computed_once_per_doc(spark, corpus, op):
    """The two self-join sides read one exchange on the keys, so each
    doc's keys (shingles and minhashes, or the simhash) are computed
    by one Generate, also where AQE may broadcast a side (the plain
    session's threshold, not this module's)."""
    from overmatch_spark.operators import dedup

    key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.unset(key)
    try:
        plan = executed(getattr(dedup, op)(corpus, "text", "doc_id"))
    finally:
        spark.conf.set(key, demo.BENCH_CONF[key])
    assert len(plan.named("Generate")) == 1


# --- corpus dedup: winners picked once, one aggregate per label round ---

def test_dedup_corpus_reads_the_corpus_twice(corpus):
    """The survivors are the corpus semi-joined to each cluster's
    winner, picked once from the nodes' labels: one read for the
    nodes, one for the rows, and no per-node survivor table."""
    from overmatch_spark.operators.dedup import dedup_corpus

    plan = executed(dedup_corpus(corpus, "text", "doc_id", score_col="score"))
    assert len([n for n in plan.walk() if "ReadSchema" in n.meta]) == 2


# Spark jobs one keep-best dedup_corpus call, its survivors collected,
# runs on the sf0.01 documents: the pair query's stages, the
# checkpoint of every label round and the survivor query.
DEDUP_JOBS = 25


def test_dedup_corpus_job_count(spark, corpus):
    """Rounds and stages, not rows, are dedup's cost at this size, so
    the number of jobs one call runs is bounded."""
    from overmatch_spark.operators.dedup import dedup_corpus

    sc = spark.sparkContext
    sc.setJobGroup("dedup_corpus", "job-count check")
    try:
        dedup_corpus(corpus, "text", "doc_id", score_col="score").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("dedup_corpus")
    assert 0 < len(jobs) <= DEDUP_JOBS, len(jobs)


def test_label_round_is_one_aggregate_over_two_joins(spark, monkeypatch):
    """Each label round is one min per node over its offers (own label,
    neighbours' labels, label's label): two joins and one aggregate in
    the frame the round checkpoints."""
    from overmatch_spark.operators import dedup

    frames, checkpoint = [], dedup._checkpoint

    def record(df):
        frames.append(df)
        return checkpoint(df)

    monkeypatch.setattr(dedup, "_checkpoint", record)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 6)], "id_a long, id_b long"
    )
    dedup.dedup_clusters(pairs)

    def names(p):
        yield p.nodeName()
        for k in _seq(p.children()):
            yield from names(k)

    rounds = [  # after the edge list's and the first labels' checkpoints
        Counter(names(df._jdf.queryExecution().optimizedPlan())) for df in frames[2:]
    ]
    assert rounds and all(
        (r["Join"], r["Aggregate"]) == (2, 1) for r in rounds
    ), rounds


# --- match ids: a range partition, no Window ---

def test_match_ids_run_without_a_window(spark, layers):
    """assign_match_ids checkpoints the range-partitioned table and
    returns a projection over that checkpoint, so its own plan is an
    RDD scan. The check reads the executions it ran instead: they
    range-partition on the key, and none has a Window (a global
    row_number would funnel every row through one task)."""
    from perfbench.tracing import SparkStatus

    from overmatch_spark.operators.conflate import conflate
    from overmatch_spark.operators.tiles import assign_match_ids

    bus = spark.sparkContext._jsc.sc().listenerBus()
    status = SparkStatus(spark)
    bus.waitUntilEmpty()
    mark = status.watermark()
    assign_match_ids(conflate(*layers))
    bus.waitUntilEmpty()
    nodes = [n for e in status.since(mark).executions for n in e.nodes]
    assert not [n.desc for n in nodes if "Window" in n.name]
    assert [n for n in nodes if "rangepartitioning(osm_id#" in n.desc]


# --- knn: cached build table, bounded nested loops, no Python ---

@pytest.fixture(scope="module")
def knn(layers):
    from overmatch_spark.operators.knn import knn_fallback, release_caches

    a, b = layers
    caches: list = []
    try:
        return executed(
            knn_fallback(a, b, a.select("osm_id").limit(100), caches=caches)
        )
    finally:
        release_caches(caches)


def test_knn_reuses_one_cached_build_table_across_phases(knn):
    scans = Counter(n.meta["cache"] for n in knn.named("InMemoryTableScan"))
    assert scans and scans.most_common(1)[0][1] >= 3, scans


def test_knn_nested_loops_are_only_the_bounded_prunes(knn):
    """Each nested-loop join is one of two bounded shapes, which
    broadcast the tiny side: the histogram bbox prune (xlo in its
    output) builds right, the needed-levels ladder prune (lvl and
    overture_id) builds left. AQE drops the ladder prune when no
    probe picks a coarse level, so only one shape need be present."""
    assert not [n.desc for n in knn.named("CartesianProduct")]
    loops = knn.named("BroadcastNestedLoopJoin")
    assert loops
    for n in loops:
        if "xlo" in n.cols:
            shape = "BuildRight, Cross"
        elif {"lvl", "overture_id"} <= set(n.cols):
            shape = "BuildLeft, Cross"
        else:
            shape = "an unbounded shape"
        assert n.desc.startswith(f"BroadcastNestedLoopJoin {shape}"), n.desc


def test_knn_runs_no_python(knn):
    assert not [n.name for n in knn.walk() if _python(n)]


def test_spatial_join_is_a_pure_jvm_hash_equi_join(layers):
    from overmatch_spark.operators.conflate import spatial_join

    plan = executed(spatial_join(*layers, radius_m=120.0))
    names = [n.name for n in plan.walk()]
    assert {"SortMergeJoin", "ShuffledHashJoin"} & set(names)
    assert not [
        n for n in names if "NestedLoop" in n or n == "CartesianProduct"
    ]
    assert not [n.name for n in plan.walk() if _python(n)]


# --- ANN: the ADC join streams codes, never raw vectors ---

# operator: how its ADC join starts (pq broadcasts the probes' LUTs to
# every code; ivfpq hash-joins them on the inverted-list id)
ADC = {
    "pq_topk": "BroadcastNestedLoopJoin ",
    "ivfpq_topk": "BroadcastHashJoin [ivf#",
}


def _below_codegen(n: Node) -> Node:
    """`n` with its codegen-stage wrappers skipped: a projection of
    higher-order functions runs outside whole-stage codegen, so the
    join it reads sits under a WholeStageCodegen and an InputAdapter."""
    while n.name.startswith("WholeStageCodegen") or n.name == "InputAdapter":
        (n,) = n.kids
    return n


@pytest.mark.parametrize("op", ADC)
def test_adc_join_streams_codes_not_vectors(spark, op):
    """The ADC join is the one whose parent computes `adc`. It carries
    codes and lookup tables only; raw vectors (cv) belong to the scan
    that derives the codes and to the id-keyed re-rank join."""
    from overmatch_spark.operators import ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    args = (emb, emb.filter(F.col("vec_id") < 5), "embedding", "vec_id")
    books = ann.reference_pq_codebooks()
    df = {
        "pq_topk": lambda: ann.pq_topk(*args, books, k=5, shortlist=20),
        "ivfpq_topk": lambda: ann.ivfpq_topk(
            *args, ann.reference_ivf_centroids(16), books, k=5, nprobe=2,
            shortlist=20,
        ),
    }[op]()
    plan = executed(df)
    adc = [
        k for n in plan.walk() if " AS adc#" in n.desc
        for k in map(_below_codegen, n.kids) if k.name.endswith("Join")
    ]
    assert adc
    for j in adc:
        assert j.desc.startswith(ADC[op]), j.desc
        assert {"codes", "lut"} <= set(j.cols) and "cv" not in j.cols, j.cols


# --- signatures: one expression per constant table ---

def _higher_order_nodes(df) -> int:
    """Higher-order-function nodes (transform, aggregate, zip_with, ...)
    in the expressions of `df`'s optimized plan; no job runs."""
    jvm = df.sparkSession.sparkContext._jvm
    hof = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.HigherOrderFunction"
    )

    def count(e) -> int:
        return hof.isInstance(e) + sum(count(k) for k in _seq(e.children()))

    def plan(p) -> int:
        own = sum(count(e) for e in _seq(p.expressions()))
        return own + sum(plan(k) for k in _seq(p.children()))

    return plan(df._jdf.queryExecution().optimizedPlan())


# signature: its expression over (text, v) with n constants, and two n
SIGNATURES = {
    "simhash": ((30, 60), lambda dedup, ann, n: dedup.simhash(
        dedup.shingles(F.col("text")))),
    "minhash": ((8, 16), lambda dedup, ann, n: dedup.minhash_signature_from_hashes(
        dedup.minhash_token_hashes(dedup.shingles(F.col("text"))), n)),
    "pq_lut": ((8, 16), lambda dedup, ann, n: ann.pq_lut(
        F.col("v"), [cb[:n] for cb in ann.reference_pq_codebooks()])),
}


@pytest.mark.parametrize("sig", SIGNATURES)
def test_signature_plan_does_not_grow_with_its_constants(spark, monkeypatch, sig):
    """Each constant table (simhash bit masks, minhash permutations, PQ
    codewords) is one literal array read by one expression, so the
    projection holds as many higher-order functions for n constants as
    for 2n. simhash reads its width from dedup.SIMHASH_BITS."""
    from overmatch_spark.operators import ann, dedup

    row = spark.range(1).select(
        F.col("id").cast("string").alias("text"),
        F.array_repeat(F.col("id").cast("double"), 64).alias("v"),
    )
    sizes, build = SIGNATURES[sig]
    counts = []
    for n in sizes:
        if sig == "simhash":
            monkeypatch.setattr(dedup, "SIMHASH_BITS", n)
        counts.append(_higher_order_nodes(row.select(build(dedup, ann, n))))
    assert counts[0] == counts[1] > 0, counts


def _transforms_over_literals(df, name: str) -> list[int]:
    """For each expression aliased `name` in `df`'s optimized plan, the
    transforms over a literal array (a constant table) it holds; no
    job runs. Spark does not share subexpressions that hold lambdas,
    so each one is evaluated."""
    jvm = df.sparkSession.sparkContext._jvm

    def cls(name):
        return jvm.java.lang.Class.forName(
            f"org.apache.spark.sql.catalyst.expressions.{name}"
        )

    alias, transform, literal = cls("Alias"), cls("ArrayTransform"), cls("Literal")

    def over_literal(e) -> int:
        own = transform.isInstance(e) and literal.isInstance(e.argument())
        return own + sum(over_literal(k) for k in _seq(e.children()))

    counts = []

    def walk(p):
        counts.extend(
            over_literal(e) for e in _seq(p.expressions())
            if alias.isInstance(e) and e.name() == name
        )
        for k in _seq(p.children()):
            walk(k)

    walk(df._jdf.queryExecution().optimizedPlan())
    return counts


def test_ivf_assign_computes_its_distances_once(spark):
    """ivf_topk's `ivf` projection holds ONE transform over the
    centroid literal: ivf_assign binds the distances once."""
    from overmatch_spark.operators import ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = ann.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), "embedding", "vec_id",
        ann.reference_ivf_centroids(16), k=5, nprobe=2,
    )
    counts = _transforms_over_literals(df, "ivf")
    assert counts == [1], counts


def test_multiprobe_buckets_compute_their_plane_dots_once(spark):
    """A probe's bucket list holds ONE transform over the hyperplane
    literal: the base bucket, the margins and every flip read the dot
    products multiprobe_buckets binds once."""
    from overmatch_spark.operators import ann, dedup

    row = spark.range(1).select(
        F.array_repeat(F.col("id").cast("double"), 64).alias("v")
    )
    planes = dedup.hyperplanes(6, 64)
    df = row.select(ann.multiprobe_buckets(F.col("v"), planes, 2).alias("buckets"))
    counts = _transforms_over_literals(df, "buckets")
    assert counts == [1], counts


# --- tiles ---

def test_raster_pyramid_is_one_exchange_and_one_python_node(layers):
    from overmatch_spark.operators.raster import raster_tiles

    plan = executed(raster_tiles(layers[1].select("lon", "lat"), zooms=(10, 12)))
    exchanges = [_hash_keys(n) for n in plan.named("Exchange")]
    assert exchanges == [["z", "x", "y"]]
    assert len(plan.named("FlatMapGroupsInPandas")) == 1
    assert not plan.named("CartesianProduct")


def test_tile_assignment_over_two_zooms_scans_once(layers):
    from overmatch_spark.operators.tiles import assign_tiles

    b = layers[1]
    plan = executed(
        assign_tiles(
            b.select(F.col("id").alias("match_id"), "lon", "lat"), zooms=(10, 12)
        )
    )
    assert len([n for n in plan.walk() if n.name.startswith("Scan")]) == 1
    assert len(plan.named("Generate")) == 1
    assert not plan.named("Union")


@pytest.fixture(scope="module")
def matches(layers):
    """The sf0.01 conflation matches, checkpointed: the tiling checks
    below see the tiling layer's plans and jobs only."""
    from overmatch_spark.operators.conflate import conflate

    return conflate(*layers).select("osm_id", "overture_id", "lon", "lat") \
        .localCheckpoint()


@pytest.fixture(scope="module")
def pyramid(matches):
    from overmatch_spark.operators.tiles import (
        assign_match_ids, assign_tiles, density_drop, tile_table,
    )

    return tile_table(density_drop(assign_tiles(assign_match_ids(matches)), 3))


def test_tile_table_joins_nothing_back(pyramid):
    """Tile rows carry their features, so the pyramid has no join and
    one kind of shuffle: the (z, x, y) exchange the density drop and
    the tile table share."""
    plan = executed(pyramid)
    assert not [
        n.desc for n in plan.walk()
        if "Join" in n.name or n.name == "BroadcastExchange"
    ]
    keys = [_hash_keys(n) for n in plan.named("Exchange")]
    assert keys and all(k == ["z", "x", "y"] for k in keys), keys


def test_write_pmtiles_runs_no_spark_sort(spark, pyramid, tmp_path):
    """The driver orders the archive by tile id, so no execution of
    write_pmtiles range-partitions on tileid (a Spark global sort)."""
    from perfbench.tracing import SparkStatus

    from overmatch_spark.operators.pmtiles import write_pmtiles

    bus = spark.sparkContext._jsc.sc().listenerBus()
    status = SparkStatus(spark)
    bus.waitUntilEmpty()
    mark = status.watermark()
    write_pmtiles(pyramid, str(tmp_path / "t.pmtiles"))
    bus.waitUntilEmpty()
    nodes = [n for e in status.since(mark).executions for n in e.nodes]
    assert nodes
    assert not [n.desc for n in nodes if "rangepartitioning(tileid" in n.desc]


# Spark jobs one matches_to_pmtiles call runs on the sf0.01 matches:
# the feature count for the zoom rule, the match ids' range sample,
# checkpoint and count pass, and the archive's encode and stream.
PMTILES_JOBS = 9


def test_matches_to_pmtiles_job_count(spark, matches, tmp_path):
    """Orchestration, not rows, is the tiling layer's cost at this
    size, so the number of jobs one call runs is bounded."""
    from overmatch_spark.operators.pmtiles import matches_to_pmtiles

    sc = spark.sparkContext
    sc.setJobGroup("matches_to_pmtiles", "job-count check")
    try:
        matches_to_pmtiles(matches, str(tmp_path / "m.pmtiles"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("matches_to_pmtiles")
    assert 0 < len(jobs) <= PMTILES_JOBS, len(jobs)


# --- bucketed tables: the bucketed side never shuffles ---

@pytest.mark.parametrize("case", ["attach_payload", "cell_join"])
def test_bucketed_side_joins_without_an_exchange(spark, layers, tmp_path, case):
    """A table written with io.write_bucketed joins on its bucket key
    with NO Exchange above its scan: only the other side shuffles, so
    the bucketed side's payload never crosses the network, and the
    rows equal the unbucketed join's. attach_payload re-attaches a
    payload by id; cell_join joins probes to a layer bucketed on the
    cell key."""
    from overmatch_spark.operators import io
    from overmatch_spark.operators.conflate import attach_payload

    if case == "attach_payload":
        b = layers[1]
        table = b.select("id", F.sha2(F.col("name"), 256).alias("payload"))
        key, sort_col = "id", None
        side = b.select(F.col("id").alias("overture_id"))

        def join(t):
            return attach_payload(side, t, "overture_id", "id")
    else:
        table = spark.range(0, 5000).select(
            F.col("id").alias("bid"), (F.col("id") % 97).alias("cell"),
            (F.col("id") * 7 % 1000).alias("payload"),
        )
        key, sort_col = "cell", "cell"
        side = spark.range(0, 800).select(
            F.col("id").alias("pid"), (F.col("id") % 97).alias("cell")
        )

        def join(t):
            return side.join(t, "cell")

    name = f"bucketed_{case}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    io.write_bucketed(table, name, key, 8, str(tmp_path / name), sort_col)
    try:
        joined = join(io.read_bucketed(spark, name))
        plan = executed(joined)
        exchanges = plan.named("Exchange")
        assert len(exchanges) == 1, [n.desc for n in exchanges]
        ex = exchanges[0]
        assert "payload" not in ex.cols
        assert not [n for n in ex.walk() if n.meta.get("Bucketed") == "true"]
        assert [n for n in plan.walk() if n.meta.get("Bucketed") == "true"]
        rows = Counter(joined.collect())
        assert rows == Counter(join(table).collect()) and rows
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
