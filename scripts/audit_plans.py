"""Physical-plan audit (SURVEY.md §4.2): capture .explain("formatted")
for the engine's headline operators and verify the plan properties
that matter at 100 TB — parquet filter/column pushdown, codegen
coverage, broadcast decisions, exchange reuse. Writes PLANS.md.

Usage: python scripts/audit_plans.py
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def grab_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _knn_bnlj_shapes_ok(knn_plan: str) -> bool:
    """Per-shape BNLJ validation (review fix: a global type check plus
    marker-anywhere matching let a regressed shape pass). Pair each
    BNLJ node id from the TREE (which prints the join type) with its
    DETAIL block (whose consumer Input line carries the output
    columns), then require the type matches the identified shape:
      - histogram bbox prune (xlo in consumer input) MUST be
        Cross BuildRight (tiny bbox table broadcast);
      - ladder prune (lvl + overture_id) MUST be Cross BuildLeft
        (tiny needed-levels table broadcast);
    every BNLJ must classify as exactly one of the two."""
    tree = {
        nid: t.strip()
        for t, nid in re.findall(
            r"BroadcastNestedLoopJoin ([A-Za-z ]+)\((\d+)\)", knn_plan
        )
    }
    if not tree:
        return False
    details = re.split(r"\((\d+)\) BroadcastNestedLoopJoin", knn_plan)[1:]
    pairs = list(zip(details[0::2], details[1::2]))  # (node id, block)
    if not pairs:
        return False
    for nid, block in pairs:
        head = block[:800]
        hist = "xlo" in head
        ladder = "lvl" in head and "overture_id" in head and not hist
        jt = tree.get(nid, "")
        if hist:
            if jt != "Cross BuildRight":
                return False
        elif ladder:
            if jt != "Cross BuildLeft":
                return False
        else:
            return False
    return True


_IDS = {"doc_id", "id_a", "id_b"}


def _key_exchanges(plan: str, keys: list[str]) -> list[set[str]]:
    """Column names carried by each Exchange that hash-partitions on
    exactly `keys` (a key self-join's shuffle)."""
    out = []
    for cols, part in re.findall(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: hashpartitioning\(([^)]*)\)",
        plan,
    ):
        if [c.split("#")[0] for c in part.split(", ")[:-1]] == keys:
            out.append({c.split("#")[0] for c in cols.split(", ")})
    return out


def _adc_joins(plan: str, join: str) -> list[tuple[str, str]]:
    """(join detail, streamed columns) for each `join` node whose
    consumer computes `adc`: the consumer's Input line is exactly what
    the join outputs."""
    out = []
    for block in re.split(rf"\(\d+\) {join}", plan)[1:]:
        detail, consumer = block.split("\n\n")[:2]
        inp = re.search(r"Input \[\d+\]: \[([^\]]+)\]", consumer)
        if "AS adc#" in consumer and inp:
            out.append((detail, inp.group(1)))
    return out


def main():
    from pyspark.sql import functions as F

    from overmatch_spark import demo
    from overmatch_spark.operators.conflate import conflate
    from overmatch_spark.session import get_spark

    # autoBroadcastJoinThreshold=-1: at audit scale every table fits a
    # broadcast, which would hide the SHUFFLE plan shapes that matter
    # at 100 TB (the band self-join's exchanges). Explicit broadcast()
    # hints are unaffected.
    spark = get_spark(
        "plan-audit", cpus=8, shuffle_partitions=8,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"

    sections = []

    # 1. pushdown: a filtered, projected scan
    scan = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .filter(F.col("c_custkey") < 100)
        .select("c_custkey", "c_name")
    )
    p = grab_plan(scan)
    sections.append(("Projected+filtered parquet scan (P2-P4/S4)", p, None))

    # 2. the conflation join
    a = demo.spark_layer_a(spark, sf)
    b = demo.spark_layer_b(spark, sf)
    m = conflate(a, b)
    sections.append(("Conflation join J1-J5", grab_plan(m), None))

    # 3. broadcast variant
    mb = conflate(a, b, broadcast_b=True)
    sections.append(("Conflation join, broadcast build side", grab_plan(mb), None))

    # 4. minhash LSH: the band self-join must NOT shuffle shingle arrays
    from overmatch_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    mh_plan = grab_plan(minhash_lsh_pairs(docs, "text", "doc_id"))
    sections.append(("MinHash LSH pairs (band join de-payloaded)", mh_plan, None))

    # 4b. the other pair operators share the minhash self-join
    # (dedup._self_pairs): only keys, ids and the declared carry
    # column may ride their key exchanges
    from overmatch_spark.operators.dedup import (
        embedding_near_dups, simhash_hamming_pairs, winnow_pairs,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    winnow_plan = grab_plan(winnow_pairs(docs, "text", "doc_id"))
    sections.append(("Winnowing pairs (fingerprint self-join)", winnow_plan, None))
    hamming_plan = grab_plan(simhash_hamming_pairs(docs, "text", "doc_id"))
    sections.append(("SimHash hamming pairs (block self-join)", hamming_plan, None))
    embdup_plan = grab_plan(embedding_near_dups(emb, "embedding", "vec_id"))
    sections.append(("Embedding near-dups (bucket self-join)", embdup_plan, None))
    pair_plans = [
        ("minhash", mh_plan, ["band", "key"], ()),
        ("winnow", winnow_plan, ["fp"], ()),
        ("simhash hamming", hamming_plan, ["bi", "bv"], ("sig",)),
        ("embedding near-dup", embdup_plan, ["bucket"], ("v",)),
    ]

    # 5. match-id assignment: no Window at all (the two-phase offset
    # plan), hence no single-partition global sort
    from overmatch_spark.operators.tiles import assign_match_ids

    ids_plan = grab_plan(assign_match_ids(m))
    sections.append(("Stable match-id assignment W7", ids_plan, None))

    # 6. kNN fallback: one cached build table reused across phases,
    # exactly one broadcast nested-loop (the histogram prune), and no
    # Python added by the operator itself (matches passed as a plain
    # id table so the conflation UDF's lineage doesn't blur the check)
    from overmatch_spark.operators.knn import knn_fallback

    matched_ids = a.select("osm_id").limit(100)
    knn_plan = grab_plan(knn_fallback(a, b, matched_ids))
    sections.append(("kNN fallback J8", knn_plan, None))

    # 7. generic public radius join: same physical shape as J2/J3 —
    # hash equi-join on the cell key, codegen distance filter, no
    # nested-loop/cartesian fallback, pure JVM
    from overmatch_spark.operators.conflate import spatial_join

    sj_plan = grab_plan(spatial_join(a, b, radius_m=120.0))
    sections.append(("Generic radius join (public API)", sj_plan, None))

    # 8. PQ payload discipline: the ADC candidate join must stream
    # CODES only — raw vectors (cv) may appear at the scan projection
    # that derives the codes and in the id-keyed re-rank join, never
    # as a column OF the ADC join itself
    from overmatch_spark.operators.ann import pq_topk, reference_pq_codebooks

    pq_plan = grab_plan(
        pq_topk(
            emb, emb.filter(F.col("vec_id") < 5), "embedding", "vec_id",
            reference_pq_codebooks(), k=5, shortlist=20,
        )
    )
    sections.append(("PQ ADC top-k (codes-only candidate join)", pq_plan, None))

    # 8b. the same payload discipline through the inverted lists: the
    # ivfpq ADC join (hash join on the list id) streams codes and
    # LUTs only
    from overmatch_spark.operators.ann import ivfpq_topk, reference_ivf_centroids

    ivfpq_plan = grab_plan(
        ivfpq_topk(
            emb, emb.filter(F.col("vec_id") < 5), "embedding", "vec_id",
            reference_ivf_centroids(16), reference_pq_codebooks(), k=5,
            nprobe=2, shortlist=20,
        )
    )
    sections.append(
        ("IVF+PQ ADC top-k (codes-only candidate join)", ivfpq_plan, None)
    )

    # 9. raster tile pyramid: the whole multi-zoom rasterization must
    # cost ONE hash exchange (the groupBy(z,x,y) feeding
    # applyInPandas) and ONE Python eval node (the per-tile bincount
    # + PNG encode); the per-point tile/pixel math stays in Catalyst
    from overmatch_spark.operators.raster import raster_tiles

    raster_plan = grab_plan(
        raster_tiles(b.select("lon", "lat"), zooms=(10, 12))
    )
    sections.append(("Raster tile pyramid (density PNGs)", raster_plan, None))

    # 10. vector tile assignment: every zoom's tile and pixel come
    # from ONE scan of the features (one Generate), not a union of
    # one scan per zoom
    from overmatch_spark.operators.tiles import assign_tiles

    tiles_plan = grab_plan(
        assign_tiles(
            b.select(F.col("id").alias("match_id"), "lon", "lat"),
            zooms=(10, 12),
        )
    )
    sections.append(("Vector tile assignment, two zooms", tiles_plan, None))

    # 11. bucketed payload re-attach (VERDICT r5 #2): when the payload
    # table lives bucketed on its id (io.write_bucketed), the
    # attach_payload join must read the bucketed scan with NO Exchange
    # above it — only the (narrow) match side shuffles, so payload
    # bytes never cross the network on the re-attach. The match side
    # here is a bare projection so the plan's single Exchange is
    # attributable to it alone.
    import shutil
    import tempfile

    from overmatch_spark.operators import io as io_mod
    from overmatch_spark.operators.conflate import attach_payload

    payload = b.select(
        F.col("id"), F.sha2(F.col("name"), 256).alias("blob")
    )
    bdir = tempfile.mkdtemp(prefix="audit_bucketed_payload_")
    spark.sql("DROP TABLE IF EXISTS audit_payload_bucketed")
    io_mod.write_bucketed(
        payload, "audit_payload_bucketed", "id", 8, bdir + "/payload"
    )
    pb = io_mod.read_bucketed(spark, "audit_payload_bucketed")
    ms = b.select(F.col("id").alias("overture_id"))
    ap_plan = grab_plan(attach_payload(ms, pb, "overture_id", "id"))
    sections.append(
        ("Bucketed payload re-attach (attach_payload over "
         "write_bucketed)", ap_plan, None)
    )

    checks = []

    def check(name, cond):
        checks.append((name, bool(cond)))

    scan_plan = sections[0][1]
    check("parquet filter pushdown (PushedFilters has LessThan)",
          re.search(r"PushedFilters: \[.*(LessThan|IsNotNull)", scan_plan))
    check("column pruning (ReadSchema only 2 cols)",
          "c_acctbal" not in scan_plan.split("ReadSchema")[1][:200])
    conf_plan = sections[1][1]
    check("whole-stage codegen present (scan plan)", "codegen id" in scan_plan)
    check(
        "single Arrow UDF eval node (no duplicate kernel eval)",
        len(re.findall(r"\(\d+\) ArrowEvalPython", conf_plan)) == 1,
    )
    udf = re.search(r"\((\d+)\) ArrowEvalPython", conf_plan)
    join = re.search(r"\((\d+)\) (BroadcastHashJoin|SortMergeJoin)", conf_plan)
    check(
        "UDF evaluated AFTER the join+distance stage (join id < udf id)",
        udf and join and int(join.group(1)) < int(udf.group(1)),
    )
    bc_plan = sections[2][1]
    check("broadcast hint honored", "BroadcastHashJoin" in bc_plan
          or "BroadcastExchange" in bc_plan)
    band_inputs = [
        s
        for s in re.findall(
            r"\(\d+\) (?:Exchange|BroadcastExchange)\s*\n"
            r"Input \[\d+\]: \[([^\]]+)\]",
            mh_plan,
        )
        if "band#" in s and "key#" in s
    ]
    check("minhash band exchange present", len(band_inputs) >= 1)
    check(
        "minhash band exchange carries ids only (no shingle arrays)",
        band_inputs and all("sh#" not in s for s in band_inputs),
    )
    for name, plan, keys, carry in pair_plans:
        allowed = {*keys, *_IDS, *carry}
        allowed |= {f"{c}_{s}" for c in carry for s in "ab"}
        shuffled = [c for c in _key_exchanges(plan, keys) if c & _IDS]
        check(
            f"{name} self-join exchange on ({', '.join(keys)}) carries "
            f"only its keys, the ids{''.join(f' and {c}' for c in carry)}",
            shuffled and all(c <= allowed for c in shuffled),
        )
    check("match-id assignment plan has no Window node", "Window" not in ids_plan)
    check(
        "knn reuses ONE cached build table across phases (>=3 cache scans)",
        len(re.findall(r"InMemoryTableScan", knn_plan)) >= 3,
    )
    # TWO broadcast nested-loop shapes are allowed, both provably
    # bounded: the histogram prune (tiny bbox table broadcast, MUST
    # be Cross BuildRight, identified by xlo in the consumer's Input
    # line) and the ladder build prune (needed-levels x b0, MUST be
    # Cross BuildLeft, identified by lvl + overture_id). Validation
    # is PER SHAPE — each BNLJ node id pairs its tree-line join type
    # with its own detail block (_knn_bnlj_shapes_ok), so a shape
    # regressing to broadcasting the unbounded side fails even if the
    # other shape's type still appears somewhere in the plan. The
    # formatted plan reprints a cached relation's stored plan at each
    # scan site, so occurrences are counted by shape, not number;
    # nothing may fall back to a cartesian.
    check(
        "knn nested-loop joins are ONLY the bounded broadcast prunes "
        "(per-shape: histogram bbox=BuildRight, ladder=BuildLeft)",
        _knn_bnlj_shapes_ok(knn_plan)
        and "CartesianProduct" not in knn_plan,
    )
    check(
        "knn plan is pure JVM (no Python eval nodes)",
        "EvalPython" not in knn_plan,
    )
    check(
        "spatial_join is a pure-JVM hash equi-join (no NLJ, no Python)",
        ("SortMergeJoin" in sj_plan or "ShuffledHashJoin" in sj_plan)
        and "NestedLoop" not in sj_plan
        and "CartesianProduct" not in sj_plan
        and "EvalPython" not in sj_plan,
    )
    # The ADC join is the one whose consumer computes `adc`: for pq the
    # BNLJ (the broadcast LUT cross join), for ivfpq the
    # BroadcastHashJoin on the list id. It must stream codes# and lut#,
    # never a raw cv# vector — raw vectors belong to the scan-side code
    # derivation and the id-keyed re-rank join only.
    pq_adc = _adc_joins(pq_plan, "BroadcastNestedLoopJoin")
    check(
        "pq ADC candidate join streams codes only (no raw vectors)",
        len(pq_adc) >= 1
        and all(
            "codes#" in cols and "lut#" in cols and "cv#" not in cols
            for _, cols in pq_adc
        ),
    )
    ivfpq_adc = _adc_joins(ivfpq_plan, "BroadcastHashJoin")
    check(
        "ivfpq ADC candidate join streams codes only (no raw vectors)",
        len(ivfpq_adc) >= 1
        and all(
            "ivf#" in detail
            and "codes#" in cols and "lut#" in cols and "cv#" not in cols
            for detail, cols in ivfpq_adc
        ),
    )

    check(
        "raster pyramid: ONE hash exchange, ONE Python group-map node",
        len(re.findall(r"\(\d+\) Exchange", raster_plan)) == 1
        and "hashpartitioning(z#" in raster_plan
        and len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", raster_plan)) == 1
        and "CartesianProduct" not in raster_plan,
    )

    check(
        "tile assignment over two zooms: ONE scan, ONE Generate, no Union",
        len(re.findall(r"\(\d+\) Scan ", tiles_plan)) == 1
        and len(re.findall(r"\(\d+\) Generate", tiles_plan)) == 1
        and "Union" not in tiles_plan,
    )

    ap_exchanges = re.findall(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]+)\]", ap_plan
    )
    check(
        "bucketed payload re-attach: ONE exchange (match side only), "
        "bucketed scan used, payload bytes never shuffle",
        len(ap_exchanges) == 1
        and "blob#" not in ap_exchanges[0]
        and ("Bucketed: true" in ap_plan
             or "SelectedBucketsCount" in ap_plan),
    )
    spark.sql("DROP TABLE IF EXISTS audit_payload_bucketed")
    shutil.rmtree(bdir, ignore_errors=True)

    with open("PLANS.md", "w") as f:
        f.write("# PLANS — physical-plan audit\n\n")
        f.write("Automated checks (scripts/audit_plans.py):\n\n")
        for name, ok in checks:
            f.write(f"- [{'x' if ok else ' '}] {name}\n")
        f.write("\n")
        for title, plan, _ in sections:
            f.write(f"\n## {title}\n\n```\n{plan}\n```\n")
    bad = [n for n, ok in checks if not ok]
    print("checks:", len(checks) - len(bad), "ok,", len(bad), "failed", bad)
    spark.stop()


def _filter_before_udf(plan: str) -> bool:
    """In the formatted plan, the dist<=100 Filter must be a child of
    (executed before) the ArrowEvalPython node: its node id is larger
    (formatted plans number parents before children top-down)."""
    udf = re.search(r"\((\d+)\) ArrowEvalPython", plan)
    filt = None
    for m in re.finditer(r"\((\d+)\) Filter", plan):
        nid = int(m.group(1))
        seg = plan[m.end():m.end() + 400]
        if "100.0" in seg:
            filt = nid
            break
    return udf is not None and filt is not None and filt < int(udf.group(1))


if __name__ == "__main__":
    main()
