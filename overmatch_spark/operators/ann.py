"""Approximate-nearest-neighbor search over an embedding column.

All six top-k operators are one candidate-then-verify composition:
project each side (`_sides`), join the corpus to the BROADCAST probes
on a key and drop self-pairs (`_candidates`), then rank per probe by
(score, cand_id) (`_rank`). The exact verify is `_cosine_topk`; the PQ
verify (`_adc_topk`) shortlists by ADC distance over codes only, then
re-ranks the shortlist by exact cosine against the raw vectors joined
back by id. The operators differ only in key and verify:

  brute_force_topk  no key (cross join)                          cosine
  multiprobe_topk   `bucket`: the hyperplane-LSH bucket vs the
                    probe's bucket + `extra` lowest-margin flips  cosine
  lsh_topk          multiprobe_topk with extra=0                  cosine
  ivf_topk          `ivf`: nearest centroid vs the probe's
                    nprobe nearest lists                          cosine
  pq_topk           no key                                        ADC
  ivfpq_topk        `ivf`                                         ADC

At scale the key is the corpus table's partition column, so probes
prune partitions; only the probe side is ever broadcast. Each constant
table (hyperplanes, centroids, a PQ codebook) is one literal array in
the plan, read by one higher-order expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from overmatch_spark.operators.dedup import (
    _sign_bits,
    cosine,
    embedding_bucket,
    fold_sum,
    hyperplanes,
    plane_dots,
)


def _sides(
    corpus: DataFrame, probes: DataFrame, vec_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The corpus as (cand_id, cv) and the probes as (probe_id, pv)."""

    def side(df: DataFrame, id_as: str, vec_as: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(id_as),
            F.col(vec_col).cast("array<double>").alias(vec_as),
        )

    return side(corpus, "cand_id", "cv"), side(probes, "probe_id", "pv")


def _candidates(c: DataFrame, p: DataFrame, key: str | None = None) -> DataFrame:
    """Corpus rows joined to the broadcast probe rows with an equal
    `key` column (None: every pair), self-pairs dropped. The corpus
    is scanned once and never shuffled for the join."""
    b = F.broadcast(p)
    pairs = c.crossJoin(b) if key is None else c.join(b, key)
    return pairs.filter(F.col("cand_id") != F.col("probe_id"))


def _rank(scored: DataFrame, score: Column, k: int) -> DataFrame:
    """Each probe's first k rows by (score, cand_id), as `rank` 1..k."""
    w = Window.partitionBy("probe_id").orderBy(score, F.col("cand_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k over (probe_id, pv, cand_id, cv) pairs."""
    scored = pairs.withColumn(
        "cos_sim", F.round(cosine(F.col("pv"), F.col("cv")), 9)
    )
    return _rank(scored, F.col("cos_sim").desc(), k).select(
        "probe_id", "cand_id", "cos_sim", "rank"
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each probe: every corpus vector is a
    candidate (a partial top-k would use F.max_by at scale)."""
    c, p = _sides(corpus, probes, vec_col, id_col)
    return _cosine_topk(_candidates(c, p), k)


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    num_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's own LSH
    bucket (dedup.embedding_bucket). Recall < 1 by design;
    multiprobe_topk with extra > 0 also searches the neighboring
    buckets."""
    return multiprobe_topk(
        corpus, probes, vec_col, id_col, k, num_planes, dim, extra=0
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: trained coarse quantizer + cluster-pruned search
# ---------------------------------------------------------------------------

def reference_ivf_centroids(k: int = 16):
    """The repo's pinned IVF quantizers — CHECKED-IN trained artifacts
    (overmatch_spark/artifacts.py), so Spark queries and DuckDB
    oracles share identical centroid literals without any runtime
    dependency on the training file. k=16 is the oracle-checked
    quantizer; k=64 is the production dial (better list concentration
    at equal scan fraction — see BENCH/BASELINE.md recall curve).
    See artifacts.py for provenance, scripts/train_ivf_artifact.py
    for byte-exact regeneration."""
    from overmatch_spark.artifacts import IVF_CENTROIDS, IVF_CENTROIDS_64

    if k == 16:
        return IVF_CENTROIDS
    if k == 64:
        return IVF_CENTROIDS_64
    raise ValueError(f"no pinned quantizer with k={k}")

def train_ivf_centroids(
    vectors: list[list[float]], k: int = 16, iters: int = 5
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over a fixed training sample —
    driver-side numpy, so the centroids are plan constants on any
    engine: in Spark one literal array, read by one transform
    (`_sqdists`, the same discipline as dedup.hyperplanes). An IVF coarse
    quantizer is a trained artifact reused across queries/partitions;
    sample-based training is the standard practice at corpus scale.
    Init = first k sample vectors (id order), fixed iteration count —
    no randomness anywhere."""
    import numpy as np

    X = np.asarray(vectors, dtype=np.float64)
    C = X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return [[float(v) for v in row] for row in C]


def _sqdists(vec: Column, table: list[list[float]]) -> Column:
    """Squared distances from `vec` to each row of `table`: the table
    is one literal array read by one transform."""
    rows = F.lit([[float(x) for x in row] for row in table])
    return F.transform(
        rows, lambda c: fold_sum(F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)))
    )


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """1-based id of the nearest centroid (ties -> lowest index, the
    same first-occurrence rule as DuckDB list_position). The
    distances are bound once, as a lambda argument (as in pq_encode):
    Spark does not share subexpressions that hold lambdas, so naming
    them twice would compute them twice."""
    return F.transform(
        F.array(_sqdists(vec, centroids)),
        lambda d: F.array_position(d, F.array_min(d)),
    )[0].cast("int")


def ivf_probe_lists(vec: Column, centroids: list[list[float]],
                    nprobe: int) -> Column:
    """The nprobe nearest centroid ids for a probe vector (sorted by
    (distance, id) — engine-portable determinism)."""
    pairs = F.array_sort(
        F.transform(
            _sqdists(vec, centroids),
            lambda d, i: F.struct(d.alias("d"), (i + 1).alias("j")),
        )
    )
    return F.transform(F.slice(pairs, 1, nprobe), lambda s: s["j"])


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: the corpus is partitioned by nearest-centroid id
    (at rest this is the table's partition column — probes then prune
    partitions); each probe scans only its nprobe nearest inverted
    lists and re-ranks by exact cosine. Approximate like every IVF;
    recall is the nprobe dial."""
    c, p = _sides(corpus, probes, vec_col, id_col)
    c = c.withColumn("ivf", ivf_assign(F.col("cv"), centroids))
    lists = ivf_probe_lists(F.col("pv"), centroids, nprobe)
    return _cosine_topk(_candidates(c, p.withColumn("ivf", F.explode(lists)), "ivf"), k)


# The clustered fixture: cluster = id % _CLUSTERS; its center is _AMP
# at coordinate cluster * _SPREAD of a _DIM-dim vector, and the
# original vector shrinks to _SCALE noise around it. The Spark view,
# its DuckDB twin and the analytic centers all read these.
_CLUSTERS, _SPREAD, _AMP, _SCALE, _DIM = 16, 4, 6.0, 0.3, 64


def clustered_view(vec: Column, id_expr: Column) -> Column:
    """Deterministic CLUSTERED view of an embedding column: shrink the
    original (near-isotropic) vector to noise and add a one-hot
    cluster center. Models the clustered geometry real embedding
    corpora have — where an IVF quantizer's list pruning actually pays
    (the driver's isotropic vectors provably bound any pruning index
    to recall ≈ scan fraction; see BENCH/BASELINE.md). Pure
    elementwise arithmetic -> identical doubles on any engine."""
    c = (id_expr % _CLUSTERS).cast("int")
    return F.transform(
        vec,
        lambda x, i: x * F.lit(_SCALE)
        + F.when(i == c * _SPREAD, F.lit(_AMP)).otherwise(F.lit(0.0)),
    )


def sql_clustered_view(vec: str, id_expr: str) -> str:
    """DuckDB twin of clustered_view (1-based list indexing)."""
    return (
        f"list_transform(range(1, len({vec}) + 1), "
        f"i -> {vec}[i] * {_SCALE!r} "
        f"+ CASE WHEN i - 1 = (CAST({id_expr} AS INTEGER) % {_CLUSTERS}) "
        f"* {_SPREAD} THEN {_AMP!r} ELSE 0.0 END)"
    )


def clustered_centers() -> list[list[float]]:
    """The TRUE centers of the clustered fixture — the exact coarse
    quantizer for it (an IVF quantizer is an offline artifact; for a
    synthetic mixture the analytic centers are the trained result)."""
    return [
        [_AMP if j == c * _SPREAD else 0.0 for j in range(_DIM)]
        for c in range(_CLUSTERS)
    ]


def sql_sqdist(vec: str, centroid: list[float]) -> str:
    consts = "[" + ", ".join(f"{float(c)!r}" for c in centroid) + "]"
    return (
        f"list_reduce(list_transform(range(1, len({vec}) + 1), "
        f"i -> ({vec}[i] - ({consts})[i]) * ({vec}[i] - ({consts})[i])), "
        f"(s, x) -> s + x)"
    )


def sql_ivf_assign(vec: str, centroids: list[list[float]]) -> str:
    dists = "[" + ", ".join(sql_sqdist(vec, c) for c in centroids) + "]"
    return f"list_position({dists}, list_min({dists}))"


def sql_ivf_probe_list(vec: str, centroids: list[list[float]],
                       nprobe: int) -> str:
    pairs = "[" + ", ".join(
        f"{{'d': {sql_sqdist(vec, c)}, 'j': {j + 1}}}"
        for j, c in enumerate(centroids)
    ) + "]"
    return (
        f"list_transform(list_slice(list_sort({pairs}), 1, {nprobe}), "
        f"s -> s.j)"
    )


def multiprobe_buckets(vec: Column, planes: list[list[int]],
                       extra: int) -> Column:
    """Array of LSH buckets to probe: the base bucket
    (dedup.embedding_bucket) plus `extra` single-bit flips of the
    LOWEST-|margin| hyperplanes — the buckets whose sign decision was
    least certain are exactly the ones a true neighbor most plausibly
    fell into (standard multi-probe LSH). All buckets are distinct
    (distinct single-bit flips), so no candidate is scored twice.
    Margin ties break on plane index for engine-portable determinism.
    extra=0 gives the base bucket alone. The plane dot products are
    bound once, as a lambda argument (as in ivf_assign): Spark does not
    share subexpressions that hold lambdas."""
    powers = F.array(*[F.lit(1 << kk).cast("long") for kk in range(len(planes))])

    def probes(dots: Column) -> Column:
        base = _sign_bits(dots)
        margins = F.array_sort(
            F.transform(dots, lambda d, j: F.struct(F.abs(d).alias("m"), j.alias("j")))
        )
        flips = F.transform(
            F.slice(margins, 1, extra),
            lambda s: base.bitwiseXOR(F.element_at(powers, s["j"] + 1)),
        )
        return F.concat(F.array(base), flips)

    return F.transform(F.array(plane_dots(vec, planes)), probes)[0]


def multiprobe_topk(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    num_planes: int = 6,
    dim: int = 64,
    extra: int = 2,
) -> DataFrame:
    """LSH top-k with multi-probe: each probe also searches the
    `extra` neighboring buckets reached by flipping its lowest-margin
    sign bits, closing most of single-bucket LSH's recall cliff for
    (extra+1)x the candidate volume — the corpus side is untouched
    (still one bucket per vector, still partition-prunable at scale)."""
    planes = hyperplanes(num_planes, dim)
    c, p = _sides(corpus, probes, vec_col, id_col)
    c = c.withColumn("bucket", embedding_bucket(F.col("cv"), planes))
    buckets = multiprobe_buckets(F.col("pv"), planes, extra)
    return _cosine_topk(
        _candidates(c, p.withColumn("bucket", F.explode(buckets)), "bucket"), k
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed ANN with exact re-rank
# ---------------------------------------------------------------------------

def reference_pq_codebooks():
    """The repo's pinned PQ codebooks (m=8 subvectors x k*=16
    codewords x 8 dims): CHECKED-IN trained artifacts
    (overmatch_spark/artifacts.py, scripts/train_pq_artifact.py for
    byte-exact regeneration). At 10^12-vector scale raw float32
    embeddings (256 B/vec) cannot live in memory; PQ codes (32
    bits/vec here, 64x compression) can — the corpus stores codes,
    search runs asymmetric-distance (ADC) against a per-probe lookup
    table, and only a tiny shortlist touches raw vectors for the
    exact re-rank."""
    from overmatch_spark.artifacts import PQ_CODEBOOKS

    return PQ_CODEBOOKS


def pq_lut(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """Per-probe ADC lookup table: lut[j][c] = ||q_j - C_j[c]||^2,
    one `_sqdists` per subvector. Computed ONCE per probe (m x k*
    doubles), so the candidate join only does m array lookups + a
    fixed-order sum per pair."""
    dsub = len(codebooks[0][0])
    return F.array(
        *[
            _sqdists(F.slice(vec, j * dsub + 1, dsub), cb)
            for j, cb in enumerate(codebooks)
        ]
    )


def pq_encode(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """Per-subvector nearest-codeword ids: the argmin of each pq_lut
    row (1-based, ties -> lowest, the same first-occurrence rule as
    ivf_assign / DuckDB list_position). The stored representation of
    a corpus vector."""
    return F.transform(
        pq_lut(vec, codebooks),
        lambda d: F.array_position(d, F.array_min(d)).cast("int"),
    )


def pq_adc(codes: Column, lut: Column) -> Column:
    """Asymmetric PQ distance: sum_j lut[j][codes[j]] — a fixed-order
    fold, so any engine reproduces the exact double."""
    return fold_sum(F.zip_with(lut, codes, lambda row, c: F.element_at(row, c)))


def _adc_topk(
    c: DataFrame,
    p: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    shortlist: int,
    key: str | None = None,
    probe_key: Column | None = None,
) -> DataFrame:
    """PQ verify. The candidate join carries the corpus as codes only
    (at rest, `codes` is the stored column and raw vectors live in a
    separate id-keyed table) against each probe's broadcast m x k* ADC
    lookup table; the (adc, cand_id) shortlist then joins the raw
    vectors BY ID for the exact-cosine re-rank. `key` names a column
    of `c`, and `probe_key` gives each probe's values for it (it may
    explode); the re-rank joins the probes before that explode."""
    coded = c.select(
        "cand_id",
        *([] if key is None else [key]),
        pq_encode(F.col("cv"), codebooks).alias("codes"),
    )
    luts = p.withColumn("lut", pq_lut(F.col("pv"), codebooks))
    if key is not None:
        luts = luts.withColumn(key, probe_key)
    scored = _candidates(coded, luts.drop("pv"), key).withColumn(
        "adc", pq_adc(F.col("codes"), F.col("lut"))
    )
    short = _rank(scored, F.col("adc").asc(), shortlist).select(
        "probe_id", "cand_id"
    )
    return _cosine_topk(short.join(c, "cand_id").join(p, "probe_id"), k)


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 20,
) -> DataFrame:
    """PQ-ADC top-k with exact cosine re-rank (`_adc_topk` over every
    pair) — the standard memory-bounded retrieval stack at
    10^12-vector scale.

    PROBE-BATCH BOUND (inherent to flat PQ, not a defect): every
    probe broadcasts one ~1 KB LUT and the ADC scan touches ALL
    corpus codes once per probe batch — cost is
    O(|probes| x |corpus|) code lookups and the broadcast is
    O(|probes| KB). Fine for bounded probe batches (ad-hoc queries,
    re-rank tails, <= ~10k probes); LARGE probe sets belong on
    ivfpq_topk, whose inverted-list pruning bounds the scan to
    nprobe/k_lists of the codes per probe."""
    c, p = _sides(corpus, probes, vec_col, id_col)
    return _adc_topk(c, p, codebooks, k, shortlist)


def sql_pq_codes(vec: str, codebooks: list[list[list[float]]]) -> str:
    """DuckDB twin of pq_encode (1-based list_slice/list_position)."""
    dsub = len(codebooks[0][0])
    parts = []
    for j, cb in enumerate(codebooks):
        sub = f"list_slice({vec}, {j * dsub + 1}, {(j + 1) * dsub})"
        dists = "[" + ", ".join(sql_sqdist(sub, c) for c in cb) + "]"
        parts.append(f"CAST(list_position({dists}, list_min({dists})) AS INTEGER)")
    return "[" + ", ".join(parts) + "]"


def sql_pq_lut(vec: str, codebooks: list[list[list[float]]]) -> str:
    """DuckDB twin of pq_lut."""
    dsub = len(codebooks[0][0])
    rows = []
    for j, cb in enumerate(codebooks):
        sub = f"list_slice({vec}, {j * dsub + 1}, {(j + 1) * dsub})"
        rows.append("[" + ", ".join(sql_sqdist(sub, c) for c in cb) + "]")
    return "[" + ", ".join(rows) + "]"


def sql_pq_adc(codes: str, lut: str, m: int) -> str:
    """DuckDB twin of pq_adc (same fixed-order sum)."""
    return " + ".join(f"({lut}[{j + 1}])[({codes})[{j + 1}]]" for j in range(m))


def ivfpq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 20,
) -> DataFrame:
    """IVF + PQ composed — the standard memory-bounded ANN stack
    (FAISS IVFPQ shape): the corpus is stored as (inverted-list id,
    PQ codes) — list id is the partition key at rest (partition
    pruning), codes are 32 bits/vector — so the candidate scan
    touches only nprobe lists and never a raw vector; the ADC
    shortlist re-ranks by exact cosine via the id-keyed join back to
    raw storage. Both quantizers are pinned offline artifacts."""
    c, p = _sides(corpus, probes, vec_col, id_col)
    c = c.withColumn("ivf", ivf_assign(F.col("cv"), centroids))
    lists = ivf_probe_lists(F.col("pv"), centroids, nprobe)
    return _adc_topk(c, p, codebooks, k, shortlist, "ivf", F.explode(lists))
