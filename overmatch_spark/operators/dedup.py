"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's own operator set (its dedup surface is only
the anti-join resume, D1/J9), a 10^12-row corpus engine needs
content dedup. All variants below are DataFrame combinators whose
hashes are engine-portable (md5-derived 60-bit ints), so every one of
them has an exact DuckDB oracle. Each constant table (minhash
permutations, simhash bit masks, hyperplanes) is one literal array in
the plan, read by one higher-order expression per signature, so plans
do not grow with the number of constants.

One pair core: each near-dup operator is per-doc signature keys ->
`_self_pairs` (key self-join, id_a < id_b, one row per pair) -> its
own verify. Only keys, ids and a declared carry ride the self-join,
never shingles or text: minhash_lsh_pairs (band, key; Jaccard over
shingles attached by id), winnow_pairs (fp; shared fingerprints),
hamming_pairs (bi, bv, carry sig; bit_count(xor)) and
embedding_near_dups (bucket, carry v; cosine).
"""

from __future__ import annotations

import hashlib

from py4j.java_gateway import JavaObject
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Portable hashing: 60-bit int from md5 (identical in Spark & DuckDB)
# ---------------------------------------------------------------------------

def h60(col: Column) -> Column:
    """First 15 hex digits of md5 as a non-negative int64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_h60(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content; one shuffle on the
    content hash (the hash, not the text, is the shuffle key — at
    corpus scale the payload stays put until the winner is known)."""
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Word shingles
# ---------------------------------------------------------------------------

# Word shingle size of every text near-dup operator.
SHINGLE_K = 3


def shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word k-shingles; docs shorter than k words contribute
    the whole text as one shingle."""
    words = F.split(text, " ")
    n = F.size(words)
    kgrams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.array_join(F.slice(words, i, k), " "),
    )
    return F.array_distinct(F.when(n >= k, kgrams).otherwise(F.array(text)))


def sql_shingles(text: str, k: int = SHINGLE_K) -> str:
    words = f"string_split({text}, ' ')"
    return (
        f"list_distinct(CASE WHEN len({words}) >= {k} THEN "
        f"list_transform(range(1, len({words}) - {k - 2}), "
        f"i -> array_to_string(list_slice({words}, i, i + {k - 1}), ' ')) "
        f"ELSE [{text}] END)"
    )


# ---------------------------------------------------------------------------
# The pair core: key self-join -> candidate pairs
# ---------------------------------------------------------------------------

def _self_pairs(
    keyed: DataFrame,
    keys: list[str],
    carry: tuple[str, ...] = (),
    one_key: bool = False,
) -> DataFrame:
    """Every pair of distinct docs of `keyed` (doc_id, *keys, *carry)
    that share the keys, once, as (id_a, id_b, *carry_a, *carry_b,
    shared) with id_a < id_b; `shared` counts the key rows the pair
    shares. Only the keys, the ids and `carry` ride the self-join.

    `one_key`: each doc has one key row, so no pair repeats; the
    per-pair aggregate (an exchange on the ids) and `shared` are
    skipped.

    `keyed` is exchanged once on the keys before the two aliases, so
    the second side reuses that exchange and each doc's keys are
    computed once."""
    keyed = keyed.repartition(*keys)

    def side(s: str) -> DataFrame:
        return keyed.select(
            *keys,
            F.col("doc_id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    pairs = side("a").join(side("b"), keys).filter(F.col("id_a") < F.col("id_b"))
    carried = [f"{c}_{s}" for s in "ab" for c in carry]
    if one_key:
        return pairs.select("id_a", "id_b", *carried)
    return pairs.groupBy("id_a", "id_b").agg(
        *[F.first(c).alias(c) for c in carried],
        F.count("*").alias("shared"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# Minhash permutation space: largest prime < 2^30. a*h + b stays
# under 2^60 for h, a, b < P — exact int64 arithmetic in BOTH engines
# (DuckDB BIGINT errors on overflow rather than wrapping, so the
# bound is what makes the SQL twin byte-identical, not just close).
P_MINHASH = 1_073_741_789


def _minhash_perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) permutation constants, md5-derived and
    identical on any engine/host (a_j != 0). Spark holds them as one
    literal array of (a, b) structs, read by the one signature fold."""
    out = []
    for j in range(num_hashes):
        a = (
            int(hashlib.md5(f"minhash-a-{j}".encode()).hexdigest()[:15], 16)
            % (P_MINHASH - 1)
        ) + 1
        b = int(
            hashlib.md5(f"minhash-b-{j}".encode()).hexdigest()[:15], 16
        ) % P_MINHASH
        out.append((a, b))
    return out


def minhash_token_hashes(sh: Column) -> Column:
    """ONE portable md5 per shingle, reduced into the permutation
    space. The num_hashes minhash values are then cheap integer
    permutations of these — not num_hashes separate string hashes
    per shingle (the naive form costs 16 md5s per shingle; this is
    the classic universal-hashing minhash and is ~10x cheaper in the
    kernel)."""
    return F.transform(sh, lambda t: h60(t) % F.lit(P_MINHASH))


def minhash_signature_from_hashes(th: Column, num_hashes: int) -> Column:
    """Array of num_hashes minhash values from a token-hash array:
    min over tokens of (a_j * h + b_j) mod P, kept by one fold over the
    tokens against the literal (a, b) array. The minima start null and
    `least` skips nulls, as array_min does: no tokens -> all null."""
    consts = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _minhash_perm_consts(num_hashes)
        ]
    )
    return F.aggregate(
        F.coalesce(th, F.array().cast("array<bigint>")),
        F.array_repeat(F.lit(None).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            consts,
            lambda m, c: F.least(m, (c["a"] * h + c["b"]) % F.lit(P_MINHASH)),
        ),
    )


def band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """The LSH band keys of a minhash signature: band b's key is its
    rows_per_band values joined by "," (null values skipped)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.array_join(
            F.slice(sig, b * rows_per_band + 1, rows_per_band).cast("array<string>"),
            ",",
        ),
    )


def sql_minhash_token_hashes(sh: str) -> str:
    return f"list_transform({sh}, t -> ({sql_h60('t')} % {P_MINHASH}))"


def sql_minhash_sig_item(th: str, j: int) -> str:
    a, b = _minhash_perm_consts(j + 1)[j]
    return (
        f"list_min(list_transform({th}, "
        f"h -> ({a} * h + {b}) % {P_MINHASH}))"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.7,
    caches: list | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash, verified with
    exact shingle Jaccard. Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    `caches`: when given, the (doc_id, shingles, token-hashes) base
    is persisted into it (caller unpersists after materializing) so
    the shingle/string work runs ONCE instead of once per consumer
    (signature + each verify side). Without it the attach sides
    recompute only the shingles (column pruning drops the hashes)."""
    num_hashes = bands * rows_per_band
    # Scale-adaptive parallelism floor: the shingle + per-shingle md5
    # pass is the operator's dominant map-side compute, and it runs at
    # the INPUT's partitioning — a small parquet scan (or narrow
    # union) arrives in 1-2 partitions, serializing the whole pass on
    # 1-2 cores (measured: ~32x underuse at sf0.1). An input whose
    # estimated size is below `target` file partitions' worth of
    # bytes is repartitioned up to the default parallelism: one tiny
    # round-robin exchange of raw text. Larger inputs (the 100 TB
    # case) are left untouched, so no payload shuffle is ever added
    # at scale. The estimate is the optimized plan's, read without a
    # job (a partition count would finalize AQE and run any upstream
    # shuffle at construction).
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    size = src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    part_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if size < target * part_bytes:
        src = src.repartition(target)
    base = src.select(
        F.col("doc_id"),
        shingles(F.col(text_col)).alias("sh"),
    ).withColumn("th", minhash_token_hashes(F.col("sh")))
    if caches is not None:
        base = base.persist()
        caches.append(base)
    sig = base.withColumn(
        "sig", minhash_signature_from_hashes(F.col("th"), num_hashes)
    )

    # The band self-join carries ONLY (band, key, doc_id): the shingle
    # arrays would otherwise shuffle `bands` times per doc. They are
    # re-attached by id-join below, exactly once per side (the same
    # attach_payload discipline as conflate.py).
    banded = sig.select(
        "doc_id",
        F.posexplode(band_keys(F.col("sig"), bands, rows_per_band)).alias(
            "band", "key"
        ),
    )
    cand_ids = _self_pairs(banded, ["band", "key"])

    # exact-Jaccard verification: shingles attached by id, once
    sh_a = base.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    cand = cand_ids.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        cand.withColumn("jaccard", F.round(inter / union, 9))
        .filter(F.col("jaccard") >= F.lit(jaccard_threshold))
        .select("id_a", "id_b", "jaccard")
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.7,
    score_col: str | None = None,
) -> DataFrame:
    """The one-call corpus dedup a pipeline user actually runs:
    MinHash+LSH near-dup pairs -> connected components -> survivor
    per cluster (min-id, or keep-best via `score_col` on `df`) ->
    the SURVIVING ROWS of `df`, all columns intact. Composes the
    verified operators; the survivor semi-join carries ids only, so
    payload columns never shuffle."""
    pairs = minhash_lsh_pairs(
        df, text_col, id_col,
        bands=bands, rows_per_band=rows_per_band,
        jaccard_threshold=jaccard_threshold,
    )
    return _survivors(df, pairs, id_col, score_col)


def _survivors(
    df: DataFrame, pairs: DataFrame, id_col: str, score_col: str | None
) -> DataFrame:
    """The survivor step of every one-call dedup: `df`'s ids (plus the
    optional score) left-joined to the labels of `pairs` -> each
    cluster's winner -> the rows of `df` that win, by a left-semi join
    on ids only."""
    winners = _winners(_clustered(df, id_col, score_col, _labels(pairs, _MAX_ITERS)))
    return df.join(winners.select(F.col("doc_id").alias(id_col)), id_col, "left_semi")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling k-gram hashes + window-min selection)
# ---------------------------------------------------------------------------

def winnow_gram_hashes(text: Column, k: int = 4) -> Column:
    """Ordered word k-gram hash array (the rolling-hash stream); docs
    shorter than k words contribute the whole text as one gram."""
    words = F.split(text, " ")
    nw = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), nw - F.lit(k - 1))),
        lambda i: F.array_join(F.slice(words, i, k), " "),
    )
    return F.transform(grams, lambda g: h60(g) % F.lit(P_MINHASH))


def winnow_mins(hashes: Column, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS scheme) over WORD k-grams: the minimum of each sliding
    window of w consecutive gram hashes (winnow_gram_hashes: ORDERED
    grams, no distinct before windowing), so any shared span of
    >= k + w - 1 words between two documents is GUARANTEED to share a
    fingerprint. Returns the sorted distinct fingerprint array
    (~n_words/w values per doc); fewer than w grams form one window.

    Feed a MATERIALIZED column (winnow_pairs stages it with withColumn):
    Catalyst does not CSE array subexpressions across higher-order
    lambdas, so inlining the gram hashing here re-evaluates the whole
    O(n*k) stream once per window — O(n^2*k) per doc (measured ~5x
    on the gate corpus; DuckDB behaves identically, hence the staged
    CTE in the SQL twin)."""
    nwin = F.greatest(F.lit(1), F.size(hashes) - F.lit(w - 1))
    mins = F.transform(
        F.sequence(F.lit(1), nwin),
        lambda j: F.array_min(F.slice(hashes, j, w)),
    )
    return F.array_sort(F.array_distinct(mins))


def sql_winnow_gram_hashes(text: str, k: int = 4) -> str:
    words = f"string_split({text}, ' ')"
    grams = (
        f"list_transform(range(1, greatest(1, len({words}) - {k - 1}) + 1), "
        f"i -> array_to_string(list_slice({words}, i, i + {k - 1}), ' '))"
    )
    return f"list_transform({grams}, g -> ({sql_h60('g')} % {P_MINHASH}))"


def sql_winnow_mins(hashes: str, w: int = 4) -> str:
    """`hashes` should name a CTE column, not inline the gram
    expression — see winnow_mins on the quadratic re-evaluation."""
    mins = (
        f"list_transform(range(1, greatest(1, len({hashes}) - {w - 1}) + 1), "
        f"j -> list_min(list_slice({hashes}, j, j + {w - 1})))"
    )
    return f"list_sort(list_distinct({mins}))"


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 8,
) -> DataFrame:
    """Near-dup candidate pairs by SHARED winnowing fingerprints —
    the fingerprint index is the classic plagiarism/contained-overlap
    detector (copies, near-copies, and long shared passages all
    surface; MinHash answers whole-doc similarity, winnowing answers
    'do these docs share any sufficiently long span'). Same shuffle
    discipline as the band join: only (fingerprint, doc_id) rides
    the self-join, payloads never. Returns (id_a, id_b, shared)
    pairs sharing >= min_shared fingerprints.

    `max_df` drops fingerprints present in more than that many docs
    BEFORE the self-join — the stop-fingerprint cap every production
    fingerprint index needs: a boilerplate span shared by d docs
    would otherwise alone contribute d^2/2 pairs (quadratic blowup on
    template/header text), while a fingerprint that common identifies
    nothing. The document-frequency pass is a partial aggregate (one
    row per distinct fingerprint)."""
    fps = (
        df.select(
            F.col(id_col).alias("doc_id"),
            winnow_gram_hashes(F.col(text_col), k).alias("_gh"),
        )
        .select("doc_id", F.explode(winnow_mins(F.col("_gh"), w)).alias("fp"))
    )
    if max_df is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("dfreq"))
            .filter(F.col("dfreq") <= F.lit(max_df))
            .select("fp")
        )
        fps = fps.join(keep, "fp")
    return _self_pairs(fps, ["fp"]).filter(F.col("shared") >= F.lit(min_shared))


# ---------------------------------------------------------------------------
# SimHash (60-bit to stay in signed int64)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash(sh: Column) -> Column:
    """60-bit simhash over a token array: bit k = sign of the sum of
    (+1/-1) votes from each token's hash bit k, all kept by one fold
    over the token hashes against the literal mask array."""
    masks = F.lit([1 << k for k in range(SIMHASH_BITS)]).cast("array<bigint>")
    votes = F.aggregate(
        F.transform(sh, lambda t: h60(t)),
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return _sign_bits(votes)


def _sign_bits(xs: Column) -> Column:
    """The long whose bit j is xs[j] > 0, packed by one fold from the
    high bit down; null if any xs[j] is null."""
    return F.aggregate(
        F.reverse(xs),
        F.lit(0).cast("long"),
        lambda s, x: s * 2 + (x > 0).cast("long"),
    )


def sql_token_hashes(sh: str) -> str:
    """list of h60 token hashes — materialize in a CTE, then feed to
    sql_simhash_from_hashes so the 60 bit-vote terms share it."""
    return f"list_transform({sh}, t -> {sql_h60('t')})"


def sql_simhash_from_hashes(th: str) -> str:
    terms = []
    for k in range(SIMHASH_BITS):
        vote = (
            f"list_reduce(list_transform({th}, h -> (h >> {k}) % 2 * 2 - 1), "
            f"(a, b) -> a + b)"
        )
        terms.append(
            f"(CASE WHEN ({vote}) > 0 THEN CAST({1 << k} AS BIGINT) ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= k, found
    EXACTLY via pigeonhole blocking — see hamming_pairs (the generic
    machinery, shared with image phash dedup). Returns
    (id_a, id_b, hamming)."""
    sig = df.select(
        F.col(id_col).alias("doc_id"),
        simhash(shingles(F.col(text_col))).alias("sig"),
    )
    return hamming_pairs(sig, k=k, bits=SIMHASH_BITS)


def hamming_pairs(
    sig: DataFrame, k: int = 3, bits: int = 60
) -> DataFrame:
    """All pairs with hamming(sig) <= k over sig(doc_id, sig long),
    found EXACTLY via pigeonhole blocking: the `bits`-bit signature
    splits into k+1 blocks — any pair within hamming k agrees exactly
    on at least one block (k flipped bits can dirty at most k
    blocks). Pairs come from the self-join on (block index, block
    value), verified with bit_count(xor) — signatures are single
    longs, so carrying them through the block join shuffles 8 bytes,
    not payloads. Works for any integer signature: 60-bit text
    simhash, 64-bit image phash. Returns (id_a, id_b, hamming).
    """
    nblocks = k + 1
    per = bits // nblocks
    blocks = [F.shiftrightunsigned(F.col("sig"), i * per) for i in range(nblocks)]
    # the last block absorbs the remainder bits
    blocks = [b.bitwiseAND(F.lit((1 << per) - 1)) for b in blocks[:-1]] + blocks[-1:]
    keyed = sig.select(
        "doc_id", "sig", F.posexplode(F.array(*blocks)).alias("bi", "bv")
    )
    return (
        _self_pairs(keyed, ["bi", "bv"], ("sig",))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= F.lit(k))
        .select("id_a", "id_b", "hamming")
    )


def sql_simhash_block(sig: str, i: int, per: int, nblocks: int) -> str:
    if i < nblocks - 1:
        return f"(({sig} >> {i * per}) & {(1 << per) - 1})"
    return f"({sig} >> {i * per})"


def simhash_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group docs by identical simhash; keep lowest id per bucket."""
    sig = df.select(
        F.col(id_col).alias("doc_id"),
        simhash(shingles(F.col(text_col))).alias("simhash"),
    )
    w = Window.partitionBy("simhash").orderBy(F.col("doc_id").asc())
    return sig.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    ).drop("rn")


# ---------------------------------------------------------------------------
# Cluster formation: near-dup pairs -> connected components -> survivors
# ---------------------------------------------------------------------------

def _checkpoint(df: DataFrame) -> tuple[DataFrame, JavaObject]:
    """`df` materialized by one action (localCheckpoint) and rebuilt as
    a new relation over the same rows, with no size estimate of its
    own. A checkpoint keeps the estimate of the plan it replaced, and
    an iterative loop multiplies it through its joins every round: on
    a 23-node chain its decimal digits doubled per round (58, 134,
    285, ... 1.24 million at round 15), and from about round 13 the
    planner's BigInt products dominate (15 rounds: 58 s, 12: 9 s).
    The rebuilt relation starts every round from the default estimate
    (19 digits).

    Also returns the JVM RDD that holds the checkpoint's blocks:
    `DataFrame.unpersist()` does nothing on a localCheckpointed frame,
    so `rdd.unpersist(False)` is the only way to free them before GC."""
    ckpt = df.localCheckpoint()
    jdf = df.sparkSession._jsparkSession.internalCreateDataFrame(
        ckpt._jdf.queryExecution().toRdd(), ckpt._jdf.schema(), False
    )
    blocks = ckpt._jdf.queryExecution().analyzed().rdd()
    return DataFrame(jdf, df.sparkSession), blocks


_MAX_ITERS = 50  # label rounds before dedup_clusters raises


def _labels(pairs: DataFrame, max_iters: int) -> DataFrame:
    """(doc_id, cluster_id) for every id of `pairs` (id_a, id_b): the
    smallest id of its connected component, by min-label propagation
    with pointer jumping (deterministic, so a DuckDB recursive CTE
    replays it exactly).

    Scale: each round is one checkpoint action over one (node)-keyed
    min of each node's offers: its own label, its neighbours' labels
    (sym ⋈ lab) and its label's label (lab ⋈ lab, the pointer jump).
    The loop exits as soon as a round changes nothing. Near-dup
    components are shallow (stars/cliques around a template), so 2-3
    rounds in practice. A chain with seeded permuted ids needs 16
    rounds at 23 nodes, 46 at 64 (22 s on 4 cores), 119 at 256 (70 s)
    and, by a Python replay, 353 at 1,024. Raises RuntimeError when
    `max_iters` rounds pass and labels still move."""
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # A checkpoint on every iteration state: the loop would otherwise
    # grow the LOGICAL plan each round and Catalyst re-analysis cost
    # explodes — the classic iterative-DataFrame pitfall.
    sym, sym_blocks = _checkpoint(
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    lab, lab_blocks = _checkpoint(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iters):
        # the own offer also carries the old label, for the moved count
        own = lab.select("node", "label", F.col("label").alias("old"))
        nbr = sym.join(lab.select(F.col("node").alias("dst"), "label"), "dst").select(
            F.col("src").alias("node"), "label"
        )
        # every label is a node, so the pointer jump is an inner join
        jump = lab.select("node", F.col("label").alias("via")).join(
            lab.select(F.col("node").alias("via"), "label"), "via"
        ).select("node", "label")
        # convergence is observed on the round's own checkpoint action
        # (rows whose label moved), not counted by a second job
        moved = Observation()
        lab, blocks = _checkpoint(
            own.unionByName(nbr.unionByName(jump), allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            .observe(moved, F.count_if(F.col("label") != F.col("old")).alias("n"))
            .select("node", "label")
        )
        # round r is materialized and reads nothing of round r-1's
        # blocks (a checkpoint cuts the lineage): free them now, not
        # at GC, so a deep component holds two rounds, not all
        lab_blocks.unpersist(False)
        lab_blocks = blocks
        if not moved.get["n"]:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters: labels still moving after max_iters={max_iters} rounds"
        )
    # the result reads only the last round's labels
    sym_blocks.unpersist(False)
    return lab.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def _clustered(
    nodes: DataFrame, id_col: str, score_col: str | None, labels: DataFrame
) -> DataFrame:
    """`nodes`' ids as doc_id (and `score_col` as score) with a
    cluster_id: the doc's label, or its own id where no pair names it
    (a singleton)."""
    score = [] if score_col is None else [F.col(score_col).alias("score")]
    return (
        nodes.select(F.col(id_col).alias("doc_id"), *score)
        .join(labels, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    )


def _winners(clustered: DataFrame) -> DataFrame:
    """(cluster_id, doc_id) of each cluster's survivor in `clustered`
    (doc_id, cluster_id[, score]). min(struct(-score, doc_id)) is (max
    score, tie min id), a partial aggregate that shuffles one row per
    cluster. Without a score every doc scores 0.0, so the min id wins.
    A null score counts as -inf and LOSES (SQL 'ORDER BY score DESC
    NULLS LAST'); Spark's struct ordering would sort it first."""
    score = F.lit(0.0)
    if "score" in clustered.columns:
        score = F.coalesce(F.col("score").cast("double"), F.lit(float("-inf")))
    return clustered.groupBy("cluster_id").agg(
        F.min(F.struct((-score).alias("ns"), F.col("doc_id").alias("did")))["did"]
        .alias("doc_id")
    )


def dedup_clusters(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    max_iters: int = _MAX_ITERS,
    score_col: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs (id_a, id_b) by
    iterative min-label propagation (`_labels`); the canonical
    survivor per component is its smallest id.

    Returns (doc_id, cluster_id, survivor). If `nodes` (first column =
    doc id) is given, the rows are the nodes': isolated docs appear as
    their own singletons, and ids that only `pairs` names are dropped
    — the full survivor table a dedup pipeline feeds downstream
    (reference precedent for pair->group formation:
    /root/reference/api/load_matches.py:204-212).

    `score_col` (requires `nodes` carrying that column) switches the
    survivor policy from min-id to KEEP-BEST (`_winners`): the
    cluster's survivor is its highest-scoring doc (ties -> smallest
    doc_id), the standard corpus-dedup knob (e.g. keep the longest
    document). Cluster ids stay min-id labels either way; the score is
    deterministic data, so single-node oracles replay the choice
    exactly.
    """
    if score_col is not None and nodes is None:
        raise ValueError("score_col requires `nodes` carrying that column")
    out = _labels(pairs, max_iters)
    if nodes is not None:
        out = _clustered(nodes, nodes.columns[0], score_col, out)
    if score_col is None:
        # the labels are the min-id winners
        return out.withColumn("survivor", F.col("doc_id") == F.col("cluster_id"))
    best = _winners(out).select("cluster_id", F.col("doc_id").alias("_best_id"))
    return out.join(best, "cluster_id").select(
        "doc_id", "cluster_id", (F.col("doc_id") == F.col("_best_id")).alias("survivor")
    )


# ---------------------------------------------------------------------------
# Embedding LSH (random-hyperplane signs) + cosine verification
# ---------------------------------------------------------------------------

def hyperplanes(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane components from md5, computed
    driver-side in plain Python, so they are plan constants on ANY
    engine: in Spark one literal array, read by one transform
    (plane_dots)."""
    out = []
    for j in range(num_planes):
        row = []
        for i in range(dim):
            digest = hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()
            row.append(1 if int(digest[:2], 16) % 2 == 0 else -1)
        out.append(row)
    return out


def fold_sum(xs: Column) -> Column:
    """Left-fold sum of an array<double> from 0.0 (the fold order of
    DuckDB's list_reduce, so oracles agree to the last ulp)."""
    return F.aggregate(xs, F.lit(0.0), lambda s, v: s + v)


def _dot(a: Column, b: Column) -> Column:
    return fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def _sql_dot(u: str, v: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({u}) + 1), "
        f"i -> {u}[i] * {v}[i]), (s, x) -> s + x)"
    )


def cosine(a: Column, b: Column) -> Column:
    """Exact-fold cosine similarity of two array<double> columns."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"


def plane_dots(vec: Column, planes: list[list[int]]) -> Column:
    """Array of the dot products of `vec` with each hyperplane."""
    table = F.lit([[float(c) for c in hp] for hp in planes])
    return F.transform(table, lambda hp: _dot(vec, hp))


def sql_plane_dots(vec: str, planes: list[list[int]]) -> list[str]:
    return [
        _sql_dot(vec, "([" + ", ".join(f"{float(c)!r}" for c in hp) + "])")
        for hp in planes
    ]


def embedding_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """LSH bucket id = sign bits of the hyperplane dot products."""
    return _sign_bits(plane_dots(vec, planes))


def sql_embedding_bucket(vec: str, planes: list[list[int]]) -> str:
    return "(" + " + ".join(
        f"(CASE WHEN ({d}) > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j, d in enumerate(sql_plane_dots(vec, planes))
    ) + ")"


def sql_multiprobe_buckets(vec: str, planes: list[list[int]],
                           extra: int) -> str:
    """DuckDB twin of operators.ann.multiprobe_buckets: list of the
    base bucket (sql_embedding_bucket) plus `extra` lowest-|margin|
    single-bit flips. Fold order, sort order (struct
    field-lexicographic) and tie-break (plane index) match the Spark
    expression exactly."""
    base = sql_embedding_bucket(vec, planes)
    margins = "[" + ", ".join(
        f"{{'m': abs({d}), 'j': {j}}}"
        for j, d in enumerate(sql_plane_dots(vec, planes))
    ) + "]"
    powers = "[" + ", ".join(
        f"CAST({1 << k} AS BIGINT)" for k in range(len(planes))
    ) + "]"
    flips = (
        f"list_transform(list_slice(list_sort({margins}), 1, {extra}), "
        f"s -> xor({base}, ({powers})[s.j + 1]))"
    )
    return f"list_prepend({base}, {flips})"


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int = 8,
    dim: int = 64,
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by cosine, candidates bucketed by
    hyperplane LSH (the scale path: the self-join only touches
    same-bucket pairs)."""
    planes = hyperplanes(num_planes, dim)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("bucket", embedding_bucket(F.col("v"), planes))
    return (
        _self_pairs(base, ["bucket"], ("v",), one_key=True)
        .withColumn("cos_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), 9))
        .filter(F.col("cos_sim") >= F.lit(cosine_threshold))
        .select("id_a", "id_b", "cos_sim")
    )
