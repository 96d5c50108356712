"""Operator-level tests: kNN golden vs spec, checkpoint/resume
equality (kill + resume => identical sink), payload invariants,
multimodal plumbing, dedup kernels."""

import numpy as np
import pandas as pd
import pytest

from overmatch_spark import fixtures
from overmatch_spark.spec import conflate_spec, knn_spec

N = 600

# Operators built without any Spark job (TestLazyConstruction builds
# each over poisoned inputs).
LAZY_SPATIAL = [
    "conflate", "spatial_join", "nearest_join", "knn_fallback",
    "attach_payload", "detect_hot_cells_df",
]
LAZY_TILES = [
    "assign_tiles", "density_drop", "tile_table", "mvt_tiles", "raster_tiles",
]
LAZY_ANN = [
    "brute_force_topk", "lsh_topk", "multiprobe_topk", "ivf_topk",
    "pq_topk", "ivfpq_topk",
]
LAZY_DEDUP = [
    "exact_dedup", "minhash_lsh_pairs", "winnow_pairs",
    "simhash_hamming_pairs", "simhash_dedup", "hamming_pairs",
    "phash_near_dups", "embedding_near_dups",
]
LAZY_MULTIMODAL = [
    "extract_features", "compute_phash", "resize_nearest", "sample_frames",
    "audio_features",
]
# Operators that run Spark jobs on purpose, each with its reason.
EAGER = {
    "detect_hot_cells": "returns the hot cells as a driver-side list",
    "assign_match_ids": "pins the range-partitioned table with a "
    "localCheckpoint and collects its per-partition counts",
    "auto_max_zoom": "returns a zoom level read from the feature count",
    "write_pmtiles": "writes the archive from tiles it collects",
    "matches_to_pmtiles": "writes the archive (write_pmtiles)",
    "write_raster_pmtiles": "writes the archive (write_pmtiles)",
    "dedup_clusters": "connected components run one checkpoint action "
    "per round",
    "dedup_corpus": "runs the label rounds, one checkpoint action each",
    "dedup_images_by_content": "runs the label rounds, one checkpoint "
    "action each",
    "ConflationJob": "the checkpoint: prepare and run write the layers "
    "and each bucket's matches",
    "PartitionedSeenStore": "merge_batch and compact rewrite the "
    "touched buckets",
    "run_with_error_budget": "materializes the result to count its "
    "errors against the budget",
}


@pytest.fixture(scope="module")
def layers():
    images = fixtures.make_images(N, with_bytes=False)
    a = fixtures.derive_layer_a(images)
    b = fixtures.source_filter_b(fixtures.derive_layer_b(images))
    return a, b


@pytest.fixture(scope="module")
def golden(layers):
    a, b = layers
    return conflate_spec(a, b)


def _spark_layers(spark, layers):
    a, b = layers
    sa = spark.createDataFrame(a[["osm_id", "name", "housenumber", "lon", "lat"]])
    sb = spark.createDataFrame(b[["id", "name", "housenumber", "lon", "lat"]])
    return sa, sb


class TestKnn:
    def test_knn_golden(self, spark, layers, golden):
        from overmatch_spark.operators.conflate import conflate
        from overmatch_spark.operators.knn import knn_fallback

        from overmatch_spark.operators.knn import release_caches

        sa, sb = _spark_layers(spark, layers)
        m = conflate(sa, sb)
        exp = knn_spec(*layers, golden)
        # res0=15 additionally exercises the ODD-res0 ladder
        # (enumerable floor 1) end-to-end — output must be invariant.
        # Caller-owned caches released per iteration (knn.py contract
        # for repeated invocation in one session).
        for res0 in (16, 15):
            caches: list = []
            try:
                got = (
                    knn_fallback(sa, sb, m, res0=res0, caches=caches)
                    .toPandas()
                    .sort_values("osm_id")
                    .reset_index(drop=True)
                )
            finally:
                release_caches(caches)
            assert len(got) == len(exp) > 0
            pd.testing.assert_frame_equal(
                got[["osm_id", "overture_id", "distance_m"]],
                exp[["osm_id", "overture_id", "distance_m"]],
                check_exact=True,
            )

    def test_r6_cache_internals(self, spark, layers, golden):
        """The three persisted intermediates (b, best1, ubs) over
        duplicated input rows, output unchanged vs the spec: (a) the
        build side b holds no duplicate rows; (b) best1 holds ONE row
        per deduplicated probe point, a null dist where phase 1 found
        no candidate; (c) ubs holds exactly best1's null-dist points,
        the hintless stragglers (hinted ones go straight to the fine
        path)."""
        from pyspark.sql import functions as F

        from overmatch_spark import expressions as X
        from overmatch_spark.operators.conflate import conflate
        from overmatch_spark.operators.knn import knn_fallback, release_caches

        sa, sb = _spark_layers(spark, layers)
        # duplicate every input row — outputs must be identical to the
        # spec over the un-duplicated layers
        sa2 = sa.unionByName(sa)
        sb2 = sb.unionByName(sb)
        m = conflate(sa, sb)
        exp = knn_spec(*layers, golden)
        point = ["osm_id", "ax", "ay"]
        probes = (
            sa2.filter(F.col("name").isNotNull() & (F.col("name") != ""))
            .join(m.select("osm_id"), "osm_id", "left_anti")
            .select(
                "osm_id",
                X.merc_x(F.col("lon")).alias("ax"),
                X.merc_y(F.col("lat")).alias("ay"),
            )
            .distinct()
        )
        caches: list = []
        try:
            got = (
                knn_fallback(sa2, sb2, m, caches=caches)
                .toPandas()
                .sort_values("osm_id")
                .reset_index(drop=True)
            )
            assert len(got) == len(exp) > 0
            pd.testing.assert_frame_equal(
                got[["osm_id", "overture_id", "distance_m"]],
                exp[["osm_id", "overture_id", "distance_m"]],
                check_exact=True,
            )
            assert len(caches) == 3
            b0, best1, ubs = caches
            assert b0.count() == b0.distinct().count()
            assert sorted(best1.select(*point).collect()) == sorted(
                probes.collect()
            )
            hintless = best1.filter(F.col("dist").isNull()).select(*point)
            assert sorted(ubs.select(*point).collect()) == sorted(
                hintless.collect()
            )
        finally:
            release_caches(caches)

    def test_ladder_level_never_below_enumerable_floor(self, spark):
        """For ODD res0 the build ladder's coarsest level is 1, not 0;
        a worst-case ub must clamp to that enumerable floor or the
        probe would join an empty build side and silently vanish."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.knn import _ladder_floor, _ladder_level

        assert _ladder_floor(16) == 0 and _ladder_floor(15) == 1
        df = spark.range(1).select(
            _ladder_level(F.lit(5.7e7), 15).alias("odd"),
            _ladder_level(F.lit(5.7e7), 16).alias("even"),
            _ladder_level(F.lit(400.0), 15).alias("near"),
        )
        r = df.first()
        assert r["odd"] == 1  # in range(13, -1, -2)
        assert r["even"] == 0
        assert r["near"] == 15


class TestCheckpointResume:
    def test_kill_and_resume_identical(self, spark, layers, golden, tmp_path):
        from overmatch_spark.operators.checkpoint import ConflationJob

        sa, sb = _spark_layers(spark, layers)
        job = ConflationJob(spark, str(tmp_path / "job"), n_buckets=8)
        job.prepare(sa, sb)
        # simulate a crash after 3 buckets
        assert job.run(max_buckets=3) == 3
        assert len(job.completed_buckets()) == 3
        # resume finishes the rest, no recompute of completed buckets
        assert job.run() == 5
        got = (
            job.result()
            .toPandas()
            .sort_values(["osm_id", "overture_id"])
            .reset_index(drop=True)[
                ["osm_id", "overture_id", "lon", "lat", "distance_m", "similarity"]
            ]
        )
        exp = golden[
            ["osm_id", "overture_id", "lon", "lat", "distance_m", "similarity"]
        ]
        pd.testing.assert_frame_equal(got, exp, check_exact=True)
        # lineage carries metrics for every bucket
        lin = job.lineage()
        assert len(lin) == 8
        assert sum(r["n_matches"] for r in lin) == len(exp)
        # idempotent: a second run does nothing
        assert job.run() == 0


class TestCheckpointConcurrency:
    """ConflationJob runs its buckets as concurrent Spark jobs; the
    exactly-once protocol must hold with several buckets in flight."""

    @pytest.mark.parametrize("width", [8, 2])
    def test_uncommitted_buckets_rerun_after_failure(
        self, spark, layers, golden, tmp_path, monkeypatch, width
    ):
        """Bucket 2 writes its matches, then raises before its
        lineage commit (a crash between write and commit). At width 8
        all 8 buckets start at once; at width 2 the failure also
        cancels buckets that had not started."""
        import os

        from pyspark import SparkContext
        from pyspark.sql import DataFrameWriter

        from overmatch_spark.operators.checkpoint import ConflationJob

        sa, sb = _spark_layers(spark, layers)
        job = ConflationJob(spark, str(tmp_path / "job"), n_buckets=8)
        job.prepare(sa, sb)

        failed, fail = 2, True
        real_parquet = DataFrameWriter.parquet
        written = []

        def parquet(writer, path, *args, **kwargs):
            real_parquet(writer, path, *args, **kwargs)
            if path.startswith(job.sink_dir):
                k = int(path.rsplit("=", 1)[1])
                written.append(k)
                if fail and k == failed:
                    raise RuntimeError("injected bucket failure")

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        monkeypatch.setattr(SparkContext, "defaultParallelism", width)
        with pytest.raises(RuntimeError, match="injected bucket failure"):
            job.run()

        marker = os.path.join(job.lineage_dir, f"bucket={failed}", "_DONE.json")
        assert not os.path.exists(marker)
        committed = job.completed_buckets()
        assert failed not in committed
        for row in job.lineage():
            sink = os.path.join(job.sink_dir, f"bucket={row['bucket']}")
            assert row["n_matches"] == spark.read.parquet(sink).count()

        # a fresh job on the same dir processes exactly the rest
        fail = False
        written.clear()
        resumed = ConflationJob(spark, job.work_dir, n_buckets=8)
        uncommitted = set(range(8)) - committed
        assert resumed.run() == len(uncommitted)
        assert sorted(written) == sorted(uncommitted)
        assert resumed.completed_buckets() == set(range(8))
        got = (
            resumed.result()
            .toPandas()
            .sort_values(["osm_id", "overture_id"])
            .reset_index(drop=True)[
                ["osm_id", "overture_id", "lon", "lat", "distance_m", "similarity"]
            ]
        )
        exp = golden[
            ["osm_id", "overture_id", "lon", "lat", "distance_m", "similarity"]
        ]
        pd.testing.assert_frame_equal(got, exp, check_exact=True)
        assert sum(r["n_matches"] for r in resumed.lineage()) == len(exp)

    def test_bucket_jobs_inherit_job_group(self, spark, layers, tmp_path):
        """A job group set before run() covers every bucket job, so
        cancelJobGroup can stop a resume in progress."""
        from overmatch_spark.operators.checkpoint import ConflationJob

        sa, sb = _spark_layers(spark, layers)
        job = ConflationJob(spark, str(tmp_path / "job"), n_buckets=4)
        job.prepare(sa, sb)
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        last = max(tracker.getJobIdsForGroup(None), default=-1)
        sc.setJobGroup("ckpt", "checkpoint resume")
        try:
            assert job.run() == 4
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        # at least one write job per bucket, and no job outside the group
        assert len(tracker.getJobIdsForGroup("ckpt")) >= 4
        assert [j for j in tracker.getJobIdsForGroup(None) if j > last] == []


class TestImages:
    def test_payload_invariants(self, spark):
        from overmatch_spark.fixtures import caption_for, make_images
        from overmatch_spark.images import invariant_report

        pdf = make_images(60, with_bytes=True)
        df = spark.createDataFrame(pdf)
        rep = invariant_report(df, expected_caption_fn=caption_for).toPandas()
        assert len(rep) == 60
        assert rep["pixels_ok"].all()
        assert rep["caption_ok"].all()
        lossy = rep[rep["image_id"].isin(pdf[pdf.fmt == "qlossy"]["image_id"])]
        assert (lossy["psnr_db"] >= 40.0).all()

    def test_qlossy_psnr_bound(self):
        from overmatch_spark.images import decode, encode, gen_pixels, psnr_db

        px = gen_pixels("img/000000000001", 32, 32)
        dec = decode(encode(px, "qlossy"), 32, 32, "qlossy")
        assert 40.0 <= psnr_db(px, dec) < 50.0
        assert np.abs(px.astype(int) - dec.astype(int)).max() <= 2

    def test_unknown_fmt_stubbed(self):
        from overmatch_spark.images import encode

        # webp became a REAL VP8L codec late r5; the remaining stub
        # boundary is lossy/unknown formats
        with pytest.raises(NotImplementedError):
            encode(np.zeros((2, 2, 3), np.uint8), "avif")


class TestMultimodal:
    def test_extract_features_and_resize(self, spark):
        from overmatch_spark.fixtures import make_images
        from overmatch_spark.images import decode
        from overmatch_spark.operators.multimodal import (
            extract_features,
            resize_nearest,
        )

        pdf = make_images(30, with_bytes=True)
        df = spark.createDataFrame(pdf)
        feats = extract_features(df).toPandas()
        assert len(feats) == 30
        assert ((feats["mean_r"] > 100) & (feats["mean_r"] < 155)).all()

        small = resize_nearest(df, 8, 8).toPandas()
        assert (small["w"] == 8).all()
        row = small.iloc[0]
        px = decode(row["bytes"], 8, 8, row["fmt"])
        assert px.shape == (8, 8, 3)


class TestVideoAudio:
    def test_frame_sampling_exact_frames(self, spark):
        """sample_frames demuxes the RAWV container: every_n indices,
        each emitted frame byte-identical to the encoded original."""
        import pandas as pd

        from overmatch_spark.images import encode_video, gen_pixels
        from overmatch_spark.operators.multimodal import sample_frames

        frames = {
            "vid/0": [gen_pixels(f"vid/0#{i}", 8, 6) for i in range(7)],
            "vid/1": [gen_pixels(f"vid/1#{i}", 4, 4) for i in range(10)],
        }
        rows = [(k, encode_video(v, fps=24)) for k, v in frames.items()]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["video_id", "bytes"]))
        got = sample_frames(df, every_n=3).toPandas()
        # vid/0: idx 0,3,6 ; vid/1: idx 0,3,6,9
        key = got.groupby("video_id")["frame_idx"].apply(sorted).to_dict()
        assert key["vid/0"] == [0, 3, 6] and key["vid/1"] == [0, 3, 6, 9]
        for r in got.itertuples(index=False):
            assert bytes(r.bytes) == frames[r.video_id][r.frame_idx].tobytes()
            assert (r.w, r.h) == frames[r.video_id][0].shape[1::-1]

    def test_audio_features_match_numpy(self, spark):
        import numpy as np
        import pandas as pd

        from overmatch_spark.images import encode_audio
        from overmatch_spark.operators.multimodal import audio_features

        t = np.arange(1600)
        pcm = (10000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
        df = spark.createDataFrame(
            pd.DataFrame([("a/0", encode_audio(pcm, 16000))],
                         columns=["audio_id", "bytes"])
        )
        got = audio_features(df).toPandas().iloc[0]
        x = pcm.astype(np.float64) / 32768.0
        assert got["sample_rate"] == 16000
        assert abs(got["rms"] - np.sqrt(np.mean(x * x))) < 1e-12
        # a 440 Hz tone's spectral centroid sits near 440
        assert 380 < got["spectral_centroid_hz"] < 500
        assert abs(got["peak"] - np.abs(x).max()) < 1e-12

    def test_real_codecs_stubbed(self, spark):
        """Payloads needing an external codec (webm/EBML here; mp4 is
        now REAL via kernels/mp4.py) raise the documented
        NotImplementedError."""
        import pandas as pd
        import pytest as pt

        from overmatch_spark.operators.multimodal import sample_frames

        df = spark.createDataFrame(
            pd.DataFrame([("v", b"\x1aE\xdf\xa3webm-ebml-header")],
                         columns=["video_id", "bytes"])
        )
        with pt.raises(Exception, match="NotImplementedError|codec|container"):
            sample_frames(df, 2).collect()


class TestDedupKernels:
    def test_exact_dedup(self, spark):
        from pyspark.sql import functions as F

        from overmatch_spark.operators.dedup import exact_dedup

        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["x", "y", "x", "x"]})
        )
        kept = exact_dedup(df, "text", "doc_id").toPandas()
        assert sorted(kept["doc_id"]) == [1, 2]

    def test_minhash_finds_near_dups_not_distinct(self, spark):
        from overmatch_spark.operators.dedup import minhash_lsh_pairs

        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, base),
            (2, base + " tail"),
            (3, "completely different words entirely unrelated content here"),
        ]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        pairs = minhash_lsh_pairs(df, "text", "doc_id", jaccard_threshold=0.5)
        got = pairs.toPandas()
        assert {(r.id_a, r.id_b) for r in got.itertuples()} == {(1, 2)}

    def test_cosine_exact(self, spark):
        from pyspark.sql import functions as F

        from overmatch_spark.operators.dedup import cosine

        df = spark.createDataFrame(
            pd.DataFrame({"a": [[1.0, 0.0]], "b": [[1.0, 1.0]]})
        )
        got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).toPandas()["c"][0]
        assert got == pytest.approx(1 / np.sqrt(2), rel=1e-12)


# Edge inputs of the signature expressions, with the values the
# per-constant forms (one Column per bit, permutation, plane, centroid
# or codeword) gave on them, pinned exactly.
EDGE_TEXTS = [None, "", "  ", "word", "the quick brown fox jumps over the lazy dog"]
EDGE_VECS = [
    None,
    [0.0] * 64,
    [0.5] * 31 + [None] + [0.25] * 32,
    [((i * 37) % 11 - 5) / 7.0 for i in range(64)],
]
_NONE16 = [None] * 16
_SIGS = [
    [161824339, 290372, 258428824, 53100047, 1048003973, 282541224,
     515966918, 637636702, 26745616, 37779447, 717187712, 973108611,
     110709014, 997149912, 692024681, 756699108],
    [381588161, 859529998, 370470899, 947778105, 22617055, 695725657,
     1022554232, 287090998, 61298556, 1041528280, 409888239, 295594973,
     664849712, 316596455, 255138976, 63885067],
    [136660241, 848846039, 15335477, 221513735, 966387797, 201562321,
     1031837637, 662805003, 774564719, 867332402, 1020018768, 883926698,
     1042570067, 962294963, 233019144, 1000190019],
    [175044657, 35755205, 40255899, 174632112, 122721404, 56484342,
     47700105, 303557279, 123426818, 16747811, 98194943, 444190655,
     28125508, 92365259, 122225532, 77554402],
]
SIGNATURE_EDGES = {
    "simhash": [
        0, 955282973525019424, 160819926252864882, 884906229661199609,
        629028886362963404,
    ],
    # null text: shingles [null] -> 16 nulls, not 16 starting values
    "minhash_signature": [_NONE16, *_SIGS],
    "band_keys": [
        [""] * 8,
        *[[f"{s[2 * b]},{s[2 * b + 1]}" for b in range(8)] for s in _SIGS],
    ],
    "plane_dots": [
        [None] * 8,
        [0.0] * 8,
        [None] * 8,
        [2.8571428571428577, -3.9999999999999982, -4.000000000000001,
         1.7142857142857153, -0.28571428571428525, -4.0,
         -5.428571428571428, -5.714285714285712],
    ],
    # null vector -> null bucket, not bucket 0
    "embedding_bucket": [None, 0, None, 9],
    "multiprobe_buckets": [[None] * 3, [0, 1, 2], [None] * 3, [9, 25, 1]],
    "ivf_assign": [None, 9, None, 7],
    "ivf_probe_lists": [[1, 2, 3, 4], [9, 4, 15, 7], [1, 2, 3, 4], [7, 12, 6, 13]],
    "pq_encode": [
        [None] * 8,
        [2, 11, 16, 14, 13, 13, 7, 10],
        [14, 15, 10, None, 14, 16, 11, 3],
        [9, 12, 6, 10, 10, 10, 11, 12],
    ],
    # 8 x 16 doubles per row: the md5 of each row's repr
    "pq_lut": [
        "04f0bbdee6c2d794", "f8cf8f9fadfad8a2", "a5dd5b630c278bdc",
        "f493db125e4044d3",
    ],
    "pq_adc": [None, 0.31340284901232135, None, 10.500525911818587],
}


class TestSignatureEdges:
    @pytest.mark.parametrize("name", SIGNATURE_EDGES)
    def test_signature_on_edge_inputs_is_pinned(self, spark, name):
        """Nulls stay null: a minhash accumulator started at P, or sign
        bits packed through when/otherwise, turns them into values."""
        import hashlib

        from pyspark.sql import functions as F

        from overmatch_spark.operators import ann, dedup

        books = ann.reference_pq_codebooks()
        cents = ann.reference_ivf_centroids(16)
        sh = dedup.shingles(F.col("text"))
        sig = dedup.minhash_signature_from_hashes(dedup.minhash_token_hashes(sh), 16)
        v = F.col("v")
        expr = {
            "simhash": lambda: dedup.simhash(sh),
            "minhash_signature": lambda: sig,
            "band_keys": lambda: dedup.band_keys(sig, 8, 2),
            "plane_dots": lambda: dedup.plane_dots(v, dedup.hyperplanes(8, 64)),
            "embedding_bucket": lambda: dedup.embedding_bucket(
                v, dedup.hyperplanes(8, 64)
            ),
            "multiprobe_buckets": lambda: ann.multiprobe_buckets(
                v, dedup.hyperplanes(6, 64), 2
            ),
            "ivf_assign": lambda: ann.ivf_assign(v, cents),
            "ivf_probe_lists": lambda: ann.ivf_probe_lists(v, cents, 4),
            "pq_encode": lambda: ann.pq_encode(v, books),
            "pq_lut": lambda: ann.pq_lut(v, books),
            "pq_adc": lambda: ann.pq_adc(
                ann.pq_encode(v, books), ann.pq_lut(v, books)
            ),
        }[name]()
        if name in ("simhash", "minhash_signature", "band_keys"):
            rows, schema = EDGE_TEXTS, "i int, text string"
        else:
            rows, schema = EDGE_VECS, "i int, v array<double>"
        df = spark.createDataFrame(list(enumerate(rows)), schema)
        got = [r.s for r in df.select("i", expr.alias("s")).orderBy("i").collect()]
        if name == "pq_lut":
            got = [hashlib.md5(repr(g).encode()).hexdigest()[:16] for g in got]
        assert got == SIGNATURE_EDGES[name]


class TestKnnDuplicateIds:
    """One osm_id at two points: the answer is the nearest over BOTH
    points (the oracle's `PARTITION BY osm_id`), whichever phase each
    point resolves in. p1 sits 1 m east of a res-16 cell centre and p2
    20 cells east of it, so a build point 320 m west of p2 lies outside
    p2's phase-1 cover (p2 is hintless) while one 400 m east of p1 is a
    phase-1 hint beyond the exit radius."""

    @staticmethod
    def _case(spark, b_offsets):
        """(layer_a, layer_b, pandas twins) for the two points and a
        build point per (name, point index, x offset in metres)."""
        import math

        from overmatch_spark import expressions as X

        def lonlat(x, y):
            lon = x / X.R_MERC * 180.0 / math.pi
            lat = (
                (math.atan(math.exp(y / X.R_MERC)) * 2.0 - math.pi / 2.0)
                * 180.0 / math.pi
            )
            return lon, lat

        e = X.cell_edge_m(16)
        cx = (32768 + 0.5) * e - X.ORIGIN_M
        cy = X.ORIGIN_M - (32668 + 0.5) * e
        pts = [(cx + 1.0, cy), (cx + 20 * e + 1.0, cy)]
        a_pd = pd.DataFrame(
            [("n/1", "x", None, *lonlat(*p)) for p in pts],
            columns=["osm_id", "name", "housenumber", "lon", "lat"],
        )
        b_pd = pd.DataFrame(
            [
                (bid, "B", None, *lonlat(pts[i][0] + dx, pts[i][1]))
                for bid, i, dx in b_offsets
            ],
            columns=["id", "name", "housenumber", "lon", "lat"],
        )
        a = spark.createDataFrame(
            a_pd, "osm_id string, name string, housenumber string, "
            "lon double, lat double",
        )
        b = spark.createDataFrame(
            b_pd, "id string, name string, housenumber string, "
            "lon double, lat double",
        )
        return a, b, a_pd, b_pd

    @pytest.mark.parametrize(
        "op,b_offsets,want",
        [
            # p1 hinted (400 m), p2 hintless (320 m): p2 wins
            ("knn_fallback", [("b/1", 0, 400.0), ("b/2", 1, -320.0)],
             ("b/2", 320.0)),
            # the same input through the public wrapper
            ("nearest_join", [("b/1", 0, 400.0), ("b/2", 1, -320.0)],
             ("b/2", 320.0)),
            # p1 exits in phase 1 (100 m), p2 is hintless: ONE row, p1's
            ("knn_fallback", [("b/3", 0, 100.0), ("b/2", 1, -320.0)],
             ("b/3", 100.0)),
        ],
        ids=["hinted_and_hintless", "nearest_join", "exit_and_hintless"],
    )
    def test_nearest_over_all_points_of_an_id(self, spark, op, b_offsets, want):
        from overmatch_spark.operators.conflate import nearest_join
        from overmatch_spark.operators.knn import knn_fallback, release_caches

        a, b, a_pd, b_pd = self._case(spark, b_offsets)
        empty = pd.DataFrame({"osm_id": []})
        spec = knn_spec(a_pd, b_pd, empty)
        assert list(spec.itertuples(index=False, name=None)) == [("n/1", *want)]
        caches: list = []
        try:
            if op == "nearest_join":
                out = nearest_join(a.select("osm_id", "lon", "lat"),
                                   b.select("id", "lon", "lat"), caches=caches)
                rows = [(r.a_id, r.b_id, r.distance_m) for r in out.collect()]
            else:
                out = knn_fallback(
                    a, b, spark.createDataFrame(empty, "osm_id string"),
                    caches=caches,
                )
                rows = [
                    (r.osm_id, r.overture_id, r.distance_m)
                    for r in out.collect()
                ]
        finally:
            release_caches(caches)
        assert rows == [("n/1", *want)]


class TestKnnHistogramCap:
    def test_histogram_budget_cap_is_output_invariant(self, spark, monkeypatch):
        """Phase-2b broadcast guard: a build side spread over far more
        coarse cells than the histogram budget gets its broadcast
        histogram capped to the _MAX_HIST_CELLS densest cells — any
        non-empty subset of occupied cells yields valid (looser)
        upper bounds, so results match the numpy spec exactly."""
        import numpy as np

        from overmatch_spark import expressions as X
        from overmatch_spark.operators import knn
        from overmatch_spark.operators.knn import knn_fallback, release_caches
        from overmatch_spark.spec import knn_spec
        from pyspark.sql import functions as F

        def hashpts(n, salt):
            ks = np.arange(n, dtype=np.int64)
            hx = ((ks * 2654435761 + salt) % (2**20)) / float(2**20)
            hy = ((ks * 97003999 + salt * 7 + 13) % (2**20)) / float(2**20)
            return -179.0 + 358.0 * hx, -80.0 + 160.0 * hy

        import pandas as pd

        blon, blat = hashpts(3000, 5)
        b_pd = pd.DataFrame(
            {"id": [f"b/{k}" for k in range(3000)], "lon": blon, "lat": blat}
        )
        alon, alat = hashpts(50, 11)
        a_pd = pd.DataFrame(
            {
                "osm_id": [f"node/{k}" for k in range(50)],
                "name": [f"P{k}" for k in range(50)],
                "housenumber": [None] * 50,
                "lon": alon,
                "lat": alat,
            }
        )
        a = spark.createDataFrame(a_pd)
        b = spark.createDataFrame(b_pd)
        empty_matches = spark.createDataFrame([], "osm_id string")

        # precondition: globally-spread points occupy >> budget res-13
        # cells, so the cap genuinely truncates the histogram
        b0 = b.select(
            X.merc_x(F.col("lon")).alias("bx"), X.merc_y(F.col("lat")).alias("by")
        )
        occupied = b0.select(
            X.cell_of(F.col("bx"), F.col("by"), knn._COARSE_RES).alias("c")
        ).distinct().count()
        assert occupied > 500

        monkeypatch.setattr(knn, "_MAX_HIST_CELLS", 500)
        caches: list = []
        try:
            got = (
                knn_fallback(a, b, empty_matches, caches=caches)
                .toPandas()
                .sort_values("osm_id")
                .reset_index(drop=True)
            )
        finally:
            release_caches(caches)
        want = knn_spec(a_pd, b_pd, pd.DataFrame({"osm_id": []}))
        assert got["osm_id"].tolist() == want["osm_id"].tolist()
        assert got["overture_id"].tolist() == want["overture_id"].tolist()
        assert np.allclose(got["distance_m"], want["distance_m"], atol=0, rtol=0)


class TestLazyConstruction:
    @pytest.mark.parametrize("op", LAZY_SPATIAL)
    def test_construction_launches_no_jobs(self, spark, op):
        """Building a spatial operator must run ZERO driver-side
        actions (e.g. knn's old coarse-res sketch, an
        approx_count_distinct .first() that forced a full derivation
        of the build side before the timed job started). Inputs are
        poisoned so that evaluating ANY row raises — construction
        succeeding proves no job touched the data."""
        from overmatch_spark.operators.conflate import (
            attach_payload, conflate, detect_hot_cells_df, nearest_join,
            spatial_join,
        )
        from overmatch_spark.operators.knn import knn_fallback, release_caches
        from pyspark.sql import functions as F

        # row-dependent guard keeps Catalyst from constant-folding the
        # raise_error away (or evaluating it) at optimization time
        poison = F.when(
            F.col("id") >= 0, F.raise_error("evaluated at construction")
        ).otherwise(F.lit(None)).cast("double")
        named = [
            F.lit("x").alias("name"),
            F.lit(None).cast("string").alias("housenumber"),
        ]
        a = spark.range(4).select(
            F.col("id").cast("string").alias("osm_id"),
            *named,
            poison.alias("lon"),
            poison.alias("lat"),
        )
        b = spark.range(4).select(
            F.col("id").cast("string").alias("id"),
            *named,
            poison.alias("lon"),
            poison.alias("lat"),
        )
        m = spark.createDataFrame([], "osm_id string")

        caches: list = []
        build = {
            "conflate": lambda: conflate(a, b),
            "spatial_join": lambda: spatial_join(a, b, 100.0),
            "nearest_join": lambda: nearest_join(a, b, caches=caches),
            "knn_fallback": lambda: knn_fallback(a, b, m, caches=caches),
            "attach_payload": lambda: attach_payload(
                a, b.select("id", F.col("lat").alias("b_lat")), "osm_id", "id"
            ),
            "detect_hot_cells_df": lambda: detect_hot_cells_df(
                b.select(F.col("lon").alias("x"), F.col("lat").alias("y"))
            ),
        }[op]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup
        try:
            before = set(jobs())
            out = build()  # must not raise
            assert set(jobs()) == before
            # the poison is real: materializing DOES evaluate it
            with pytest.raises(Exception, match="evaluated at construction"):
                out.collect()
        finally:
            release_caches(caches)

    @pytest.mark.parametrize("op", LAZY_TILES)
    def test_tile_construction_launches_no_jobs(self, spark, op):
        """The tile operators are lazy too: building any stage of the
        vector pyramid (or the raster one) over poisoned lon/lat runs
        no Spark job."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.pmtiles import mvt_tiles
        from overmatch_spark.operators.raster import raster_tiles
        from overmatch_spark.operators.tiles import (
            assign_tiles, density_drop, tile_table,
        )

        poison = F.when(
            F.col("id") >= 0, F.raise_error("evaluated at construction")
        ).otherwise(F.lit(None)).cast("double")
        m = spark.range(4).select(
            F.col("id").alias("match_id"),
            F.col("id").alias("osm_id"),
            F.col("id").cast("string").alias("overture_id"),
            poison.alias("lon"),
            poison.alias("lat"),
        )

        def kept():
            return density_drop(assign_tiles(m, zooms=(10, 12)), 2)

        build = {
            "assign_tiles": lambda: assign_tiles(m, zooms=(10, 12)),
            "density_drop": kept,
            "tile_table": lambda: tile_table(kept()),
            "mvt_tiles": lambda: mvt_tiles(tile_table(kept())),
            "raster_tiles": lambda: raster_tiles(
                m.select("lon", "lat"), zooms=(10, 12)
            ),
        }[op]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup
        before = set(jobs())
        out = build()  # must not raise
        assert set(jobs()) == before
        with pytest.raises(Exception, match="evaluated at construction"):
            out.collect()

    @pytest.mark.parametrize("op", LAZY_ANN)
    def test_ann_construction_launches_no_jobs(self, spark, op):
        """The six ANN top-k operators are lazy: building one over a
        poisoned embedding column runs no Spark job."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators import ann

        poison = F.when(
            F.col("id") >= 0, F.raise_error("evaluated at construction")
        ).otherwise(F.lit(None)).cast("array<double>")
        e = spark.range(8).select(
            F.col("id").alias("vec_id"), poison.alias("embedding")
        )
        probes = e.filter(F.col("vec_id") < 2)
        args = (e, probes, "embedding", "vec_id")
        cents, books = ann.clustered_centers(), ann.reference_pq_codebooks()
        build = {
            "brute_force_topk": lambda: ann.brute_force_topk(*args),
            "lsh_topk": lambda: ann.lsh_topk(*args),
            "multiprobe_topk": lambda: ann.multiprobe_topk(*args),
            "ivf_topk": lambda: ann.ivf_topk(*args, cents, nprobe=1),
            "pq_topk": lambda: ann.pq_topk(*args, books),
            "ivfpq_topk": lambda: ann.ivfpq_topk(*args, cents, books, nprobe=1),
        }[op]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup
        before = set(jobs())
        out = build()  # must not raise
        assert set(jobs()) == before
        with pytest.raises(Exception, match="evaluated at construction"):
            out.collect()


    @pytest.mark.parametrize("op", LAZY_DEDUP)
    def test_dedup_construction_launches_no_jobs(self, spark, op):
        """The dedup operators are lazy: building one over a poisoned
        input with an upstream aggregate (whose partition count only a
        job could tell) runs no Spark job."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators import dedup
        from overmatch_spark.operators.multimodal import phash_near_dups

        poison = F.when(
            F.col("id") >= 0, F.raise_error("evaluated at construction")
        ).otherwise(F.lit(None))
        d = spark.range(16).groupBy((F.col("id") % 8).alias("doc_id")).agg(
            F.first(poison.cast("string")).alias("text"),
            F.first(poison.cast("long")).alias("sig"),
            F.first(poison.cast("array<double>")).alias("v"),
        )
        args = (d, "text", "doc_id")
        build = {
            "exact_dedup": lambda: dedup.exact_dedup(*args),
            "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(*args),
            "winnow_pairs": lambda: dedup.winnow_pairs(*args),
            "simhash_hamming_pairs": lambda: dedup.simhash_hamming_pairs(*args),
            "simhash_dedup": lambda: dedup.simhash_dedup(*args),
            "hamming_pairs": lambda: dedup.hamming_pairs(d),
            "phash_near_dups": lambda: phash_near_dups(d, "sig", "doc_id"),
            "embedding_near_dups": lambda: dedup.embedding_near_dups(
                d, "v", "doc_id"
            ),
        }[op]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup
        before = set(jobs())
        out = build()  # must not raise
        assert set(jobs()) == before
        with pytest.raises(Exception, match="evaluated at construction"):
            out.collect()

    @pytest.mark.parametrize("op", LAZY_MULTIMODAL)
    def test_multimodal_construction_launches_no_jobs(self, spark, op):
        """The media operators are lazy: building one over a poisoned
        bytes column runs no Spark job."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators import multimodal as mm

        poison = F.when(
            F.col("id") >= 0, F.raise_error("evaluated at construction")
        ).otherwise(F.lit(None)).cast("binary")
        media = spark.range(4).select(
            *[F.col("id").alias(f"{k}_id") for k in ("image", "video", "audio")],
            poison.alias("bytes"),
            F.lit(8).alias("w"), F.lit(8).alias("h"), F.lit("raw").alias("fmt"),
        )
        build = {
            "extract_features": lambda: mm.extract_features(media),
            "compute_phash": lambda: mm.compute_phash(media),
            "resize_nearest": lambda: mm.resize_nearest(media, 4, 4),
            "sample_frames": lambda: mm.sample_frames(media),
            "audio_features": lambda: mm.audio_features(media),
        }[op]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup
        before = set(jobs())
        out = build()  # must not raise
        assert set(jobs()) == before
        with pytest.raises(Exception, match="evaluated at construction"):
            out.collect()

    @pytest.mark.parametrize(
        "module",
        ["conflate", "knn", "tiles", "raster", "pmtiles", "ann", "dedup",
         "multimodal", "checkpoint", "seen_store", "errors"],
    )
    def test_operators_lazy_or_allowlisted(self, module):
        """Every public operator of the module that takes or returns a
        DataFrame (a class: through a public method) is either built
        without a job by a test above or named in EAGER with the
        reason it acts."""
        import importlib
        import inspect

        mod = importlib.import_module(f"overmatch_spark.operators.{module}")

        def on_frames(fn) -> bool:
            sig = inspect.signature(fn)
            return "DataFrame" in [
                sig.return_annotation,
                *(p.annotation for p in sig.parameters.values()),
            ]

        def functions(obj) -> list:  # a class's public methods
            if inspect.isclass(obj):
                return [f for n, f in vars(obj).items()
                        if inspect.isfunction(f) and not n.startswith("_")]
            return [obj] if inspect.isfunction(obj) else []

        ops = {
            name for name, obj in vars(mod).items()
            if not name.startswith("_")
            and getattr(obj, "__module__", "") == mod.__name__
            and any(on_frames(f) for f in functions(obj))
        }
        lazy = {*LAZY_SPATIAL, *LAZY_TILES, *LAZY_ANN, *LAZY_DEDUP,
                *LAZY_MULTIMODAL}
        assert ops and ops <= lazy | set(EAGER), ops - lazy - set(EAGER)
        assert not lazy & set(EAGER)


class TestMatchIds:
    def test_ids_equal_global_row_number(self, spark):
        """W7: the width-proportional two-phase plan must emit ids
        IDENTICAL to row_number() over a global (osm_id, overture_id)
        sort, also with fewer rows than partitions and on empty input
        (zero rows, a bigint match_id) — and the jobs it runs contain
        no single-partition Window (tests/test_plans.py)."""
        from pyspark.sql import Window, functions as F

        from overmatch_spark.operators.tiles import assign_match_ids

        n = 5000
        df = spark.range(n).select(
            F.concat(F.lit("node/"), (F.col("id") * 7919 % 997).cast("string"))
            .alias("osm_id"),
            F.concat(F.lit("ov/"), F.col("id").cast("string")).alias("overture_id"),
            (F.col("id") % 360).cast("double").alias("lon"),
            (F.col("id") % 170 - 85).cast("double").alias("lat"),
        ).repartition(16)

        def check(df, rows):
            got = assign_match_ids(df, num_partitions=8)
            assert dict(got.dtypes)["match_id"] == "bigint"
            w = Window.orderBy("osm_id", "overture_id")
            want = df.withColumn("match_id", F.row_number().over(w).cast("long"))
            key = ["osm_id", "overture_id"]
            g = got.toPandas().sort_values(key).reset_index(drop=True)
            e = want.toPandas().sort_values(key).reset_index(drop=True)
            assert len(g) == len(e) == rows
            assert (g["match_id"] == e["match_id"]).all()
            assert rows == 0 or (g["match_id"].min(), g["match_id"].max()) == (1, rows)

        check(df, n)
        # fewer rows than the 8 range partitions asked for
        check(df.filter(F.col("overture_id").isin("ov/1", "ov/2", "ov/3")), 3)
        check(df.limit(0), 0)  # empty input: no offsets, a typed null id


class TestLsh:
    def test_bucket_restriction_and_multiprobe_recall(self, spark):
        """lsh_topk pairs each probe only with candidates in its own
        embedding_bucket. multiprobe_topk(extra=2) ranks a superset of
        those candidates exactly, so every true top-5 neighbor that
        lsh_topk finds, multiprobe_topk finds too, and its recall@5
        against brute force is at least lsh_topk's."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.ann import (
            brute_force_topk,
            lsh_topk,
            multiprobe_topk,
        )
        from overmatch_spark.operators.dedup import embedding_bucket, hyperplanes

        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        probes = e.filter(F.col("vec_id") < 30)
        args = (e, probes, "embedding", "vec_id")
        bucket = embedding_bucket(
            F.col("embedding").cast("array<double>"), hyperplanes(6, 64)
        )
        of = dict(e.select("vec_id", bucket).collect())
        lsh = lsh_topk(*args, k=5).toPandas()
        assert len(lsh) > 0
        assert all(of[p] == of[c] for p, c in zip(lsh.probe_id, lsh.cand_id))

        def pairs(df):
            return set(zip(df.probe_id, df.cand_id))

        truth = pairs(brute_force_topk(*args, k=5).toPandas())
        assert len(truth) == 150
        hits_lsh = pairs(lsh) & truth
        hits_mp = pairs(multiprobe_topk(*args, k=5, extra=2).toPandas()) & truth
        assert hits_lsh <= hits_mp  # so recall@5 is at least lsh_topk's


class TestIvf:
    def test_full_probe_equals_brute_force(self, spark):
        """IVF with nprobe = #centroids scans every inverted list, so
        it must reproduce the exact brute-force top-k — the recall
        loss is ONLY the pruning, never the mechanics."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.ann import (
            brute_force_topk,
            ivf_topk,
            train_ivf_centroids,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        sample = [
            [float(x) for x in r["embedding"]]
            for r in e.filter(F.col("vec_id") < 64).orderBy("vec_id").collect()
        ]
        cents = train_ivf_centroids(sample, k=8, iters=3)
        probes = e.filter(F.col("vec_id") < 3)
        got = (
            ivf_topk(e, probes, "embedding", "vec_id", cents, k=5, nprobe=8)
            .toPandas()
            .sort_values(["probe_id", "rank"])
            .reset_index(drop=True)
        )
        want = (
            brute_force_topk(e, probes, "embedding", "vec_id", k=5)
            .toPandas()
            .sort_values(["probe_id", "rank"])
            .reset_index(drop=True)
        )
        assert got["cand_id"].tolist() == want["cand_id"].tolist()
        assert (got["cos_sim"] == want["cos_sim"]).all()

    def test_ivf_partitioned_corpus_prunes_at_scan(self, spark, tmp_path):
        """The IVF scale contract made concrete: a corpus written
        partitioned by its coarse list id is PARTITION-PRUNED at the
        scan when probing a subset of lists — the plan's PartitionFilters
        carries the ivf predicate, so unprobed lists are never read."""
        from pyspark.sql import functions as F

        from test_plans import executed

        from overmatch_spark.operators.ann import (
            ivf_assign,
            reference_ivf_centroids,
        )

        C = reference_ivf_centroids()
        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        corpus = e.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("cv")
        ).withColumn("ivf", ivf_assign(F.col("cv"), C))
        path = str(tmp_path / "ivf_corpus")
        corpus.write.partitionBy("ivf").parquet(path)

        at_rest = spark.read.parquet(path)
        probed = at_rest.filter(F.col("ivf").isin([1, 5]))
        (scan,) = [
            n for n in executed(probed).walk() if "PartitionFilters" in n.meta
        ]
        assert "ivf#" in scan.meta["PartitionFilters"]
        # pruning is semantic, not just cosmetic: the filtered read
        # returns exactly the rows of those lists
        want = corpus.filter(F.col("ivf").isin([1, 5])).count()
        assert probed.count() == want > 0

    def test_pinned_dial_reaches_recall80(self, spark):
        """The documented retrieval dial (pinned k=64 quantizer,
        nprobe=32) must keep recall@5 >= 0.8 — the serviceable-recall
        criterion from the round-2 review. The driver embeddings are
        near-isotropic, so this dial scans ~half the lists; on
        clustered real embeddings the same dial scans far less."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.ann import (
            brute_force_topk,
            ivf_topk,
            reference_ivf_centroids,
        )

        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        probes = e.filter(F.col("vec_id") < 30)
        truth = brute_force_topk(e, probes, "embedding", "vec_id", k=5).select(
            "probe_id", "cand_id"
        )
        got = ivf_topk(
            e, probes, "embedding", "vec_id",
            reference_ivf_centroids(64), k=5, nprobe=32,
        ).select("probe_id", "cand_id")
        n_truth = truth.count()
        hit = got.join(truth, ["probe_id", "cand_id"], "left_semi").count()
        assert n_truth == 150
        assert hit / n_truth >= 0.8, f"recall@5 {hit / n_truth:.3f} < 0.8"

    def test_clustered_geometry_high_recall_low_scan(self, spark):
        """VERDICT r3 #4: on CLUSTERED embeddings — the geometry real
        corpora have, built deterministically by ann.clustered_view
        from the same driver vectors — the IVF dial must reach
        recall@5 >= 0.9 while scanning <= 10% of the lists
        (nprobe=1 of 16 = 6.25%). This is the demonstration the
        isotropic driver data cannot provide (there, recall ~ scan
        fraction for ANY pruning index)."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.ann import (
            brute_force_topk,
            clustered_centers,
            clustered_view,
            ivf_topk,
        )

        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        ec = e.select(
            "vec_id",
            clustered_view(
                F.col("embedding").cast("array<double>"), F.col("vec_id")
            ).alias("embedding"),
        )
        probes = ec.filter(F.col("vec_id") < 30)
        truth = brute_force_topk(ec, probes, "embedding", "vec_id", k=5).select(
            "probe_id", "cand_id"
        )
        got = ivf_topk(
            ec, probes, "embedding", "vec_id", clustered_centers(),
            k=5, nprobe=1,
        ).select("probe_id", "cand_id")
        n_truth = truth.count()
        hit = got.join(truth, ["probe_id", "cand_id"], "left_semi").count()
        scan_frac = 1 / 16
        assert scan_frac <= 0.10
        assert n_truth == 150
        assert hit / n_truth >= 0.9, f"recall@5 {hit / n_truth:.3f} < 0.9"

    def test_pq_codes_match_numpy_and_recall(self, spark):
        """Product quantization: (a) the distributed pq_encode codes
        must equal a single-node numpy replay of the pinned codebooks
        exactly (argmin with first-occurrence ties, 1-based); (b) the
        ADC-shortlist + exact-re-rank pq_topk must recover a solid
        fraction of the true top-5 on the isotropic corpus even at
        64x compression (shortlist 20 of 500 = 4% of the corpus)."""
        import numpy as np
        from pyspark.sql import functions as F

        from overmatch_spark.operators.ann import (
            brute_force_topk,
            pq_encode,
            pq_topk,
            reference_pq_codebooks,
        )

        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        cb = reference_pq_codebooks()
        got = (
            e.select(
                "vec_id",
                pq_encode(
                    F.col("embedding").cast("array<double>"), cb
                ).alias("codes"),
            )
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        vecs = (
            e.select("vec_id", "embedding").toPandas()
            .sort_values("vec_id").reset_index(drop=True)
        )
        V = np.array([np.asarray(v, dtype=np.float64) for v in vecs["embedding"]])
        C = np.asarray(cb, dtype=np.float64)  # (m, 16, dsub)
        m, _, dsub = C.shape
        for j in range(m):
            d = (
                (V[:, None, j * dsub:(j + 1) * dsub] - C[j][None, :, :]) ** 2
            ).sum(axis=2)
            want = d.argmin(axis=1) + 1  # first-occurrence argmin, 1-based
            have = np.array([c[j] for c in got["codes"]])
            assert (want == have).all(), f"subvector {j} codes diverge"

        probes = e.filter(F.col("vec_id") < 30)
        truth = brute_force_topk(e, probes, "embedding", "vec_id", k=5).select(
            "probe_id", "cand_id"
        )
        got_pq = pq_topk(
            e, probes, "embedding", "vec_id", cb, k=5, shortlist=20
        ).select("probe_id", "cand_id")
        n_truth = truth.count()
        hit = got_pq.join(truth, ["probe_id", "cand_id"], "left_semi").count()
        assert n_truth == 150
        assert hit / n_truth >= 0.5, f"PQ recall@5 {hit / n_truth:.3f} < 0.5"

    def test_ivfpq_subset_of_pq_candidates_and_clustered_recall(self, spark):
        """IVF+PQ composition: on the CLUSTERED fixture (where list
        pruning is sound) the composed stack must keep high recall at
        nprobe=1 — list pruning AND 64x code compression at once,
        exact re-rank on a 4% shortlist."""
        import numpy as np  # noqa: F401
        from pyspark.sql import functions as F

        from overmatch_spark.operators.ann import (
            brute_force_topk,
            clustered_centers,
            clustered_view,
            ivfpq_topk,
            reference_pq_codebooks,
        )

        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        ec = e.select(
            "vec_id",
            clustered_view(
                F.col("embedding").cast("array<double>"), F.col("vec_id")
            ).alias("embedding"),
        )
        probes = ec.filter(F.col("vec_id") < 30)
        truth = brute_force_topk(ec, probes, "embedding", "vec_id", k=5).select(
            "probe_id", "cand_id"
        )
        got = ivfpq_topk(
            ec, probes, "embedding", "vec_id", clustered_centers(),
            reference_pq_codebooks(), k=5, nprobe=1, shortlist=28,
        ).select("probe_id", "cand_id")
        n_truth = truth.count()
        hit = got.join(truth, ["probe_id", "cand_id"], "left_semi").count()
        assert n_truth == 150
        assert hit / n_truth >= 0.8, (
            f"IVFPQ clustered recall@5 {hit / n_truth:.3f} < 0.8"
        )


# recall@5 of each ANN operator against brute force on the sf0.01
# embeddings (500 vectors), probes vec_id < 50: the true top-5 pairs it
# finds, out of 250. Every operator is deterministic, so each point is
# pinned exactly. The isotropic corpus bounds any list-pruning index to
# recall ~ scan fraction; the clustered view (ann.clustered_view) is
# where one list of 16 already holds every neighbour.
ANN_RECALL_HITS = [
    ("lsh", False, lambda A, *a: A.lsh_topk(*a, k=5), 9),
    ("multiprobe_extra2", False,
     lambda A, *a: A.multiprobe_topk(*a, k=5, extra=2), 23),
    *[
        (f"ivf{k}_np{n}", False,
         lambda A, *a, k=k, n=n: A.ivf_topk(
             *a, A.reference_ivf_centroids(k), k=5, nprobe=n),
         hits)
        for k, n, hits in [(16, 2, 126), (16, 4, 160), (16, 8, 206),
                           (64, 16, 233), (64, 24, 240), (64, 32, 244)]
    ],
    # PQ-ADC shortlist of 10% / 5% of the corpus, exact re-rank
    ("pq_rerank10", False,
     lambda A, *a: A.pq_topk(*a, A.reference_pq_codebooks(), k=5,
                             shortlist=50), 183),
    ("pq_rerank5", False,
     lambda A, *a: A.pq_topk(*a, A.reference_pq_codebooks(), k=5,
                             shortlist=25), 142),
    ("clustered_ivf16_np1", True,
     lambda A, *a: A.ivf_topk(*a, A.clustered_centers(), k=5, nprobe=1),
     250),
    ("clustered_ivfpq_np1", True,
     lambda A, *a: A.ivfpq_topk(*a, A.clustered_centers(),
                                A.reference_pq_codebooks(), k=5, nprobe=1,
                                shortlist=50), 250),
]


class TestAnnRecall:
    @pytest.fixture(scope="class")
    def corpora(self, spark):
        """{clustered: (corpus, probes, brute-force top-5 pairs)}."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.ann import brute_force_topk, clustered_view

        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        ec = e.select(
            "vec_id",
            clustered_view(
                F.col("embedding").cast("array<double>"), F.col("vec_id")
            ).alias("embedding"),
        )
        out = {}
        for clustered, corpus in ((False, e), (True, ec)):
            probes = corpus.filter(F.col("vec_id") < 50)
            truth = brute_force_topk(corpus, probes, "embedding", "vec_id", k=5)
            out[clustered] = (
                corpus, probes, {(r.probe_id, r.cand_id) for r in truth.collect()}
            )
        return out

    @pytest.mark.parametrize(
        "clustered,topk,hits",
        [p[1:] for p in ANN_RECALL_HITS],
        ids=[p[0] for p in ANN_RECALL_HITS],
    )
    def test_recall_at5_pinned(self, corpora, clustered, topk, hits):
        from overmatch_spark.operators import ann

        corpus, probes, truth = corpora[clustered]
        assert len(truth) == 250
        got = topk(ann, corpus, probes, "embedding", "vec_id")
        found = {(r.probe_id, r.cand_id) for r in got.collect()}
        assert len(found & truth) == hits


class TestWinnowing:
    def test_shared_span_guarantees_shared_fingerprint(self, spark):
        """The winnowing invariant: any two docs sharing a span of
        >= k + w - 1 words MUST share at least one fingerprint; and
        the pair detector finds exactly the pairs the per-doc
        fingerprint sets imply."""
        import itertools

        import pandas as pd
        from pyspark.sql import functions as F

        from overmatch_spark.operators.dedup import (
            winnow_gram_hashes, winnow_mins, winnow_pairs,
        )

        k, w = 3, 3
        span = "alpha beta gamma delta epsilon"  # 5 words = k + w - 1
        docs = {
            1: f"one two three {span} four five six",
            2: f"{span} seven eight nine ten eleven",
            3: "twelve thirteen fourteen fifteen sixteen seventeen",
            4: f"eighteen nineteen {span}",
        }
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
        )
        fps = {
            r["doc_id"]: set(r["fps"])
            for r in df.select(
                "doc_id",
                winnow_mins(winnow_gram_hashes(F.col("text"), k), w).alias("fps"),
            ).collect()
        }
        # the span-sharing docs must intersect; doc 3 must not
        assert fps[1] & fps[2] and fps[1] & fps[4] and fps[2] & fps[4]
        assert not (fps[3] & (fps[1] | fps[2] | fps[4]))

        got = {
            (r["id_a"], r["id_b"]): r["shared"]
            for r in winnow_pairs(
                df, "text", "doc_id", k=k, w=w, min_shared=1, max_df=None
            ).collect()
        }
        want = {
            (a, b): len(fps[a] & fps[b])
            for a, b in itertools.combinations(sorted(docs), 2)
            if fps[a] & fps[b]
        }
        assert got == want


class TestPhashNearDups:
    def test_pigeonhole_blocking_is_exact_on_64bit(self, spark):
        """phash_near_dups must find EXACTLY the image pairs within
        hamming k over the full 64-bit signature (incl. negative
        longs / high bits) — compare to brute-force all-pairs."""
        import itertools

        from overmatch_spark.fixtures import make_images
        from overmatch_spark.operators.multimodal import phash_near_dups

        pdf = make_images(40, with_bytes=False)[["image_id", "phash"]]
        rows = []
        for j, r in enumerate(pdf.itertuples(index=False)):
            rows.append((r.image_id, int(r.phash)))
            nb = (1, 2, 3, 4)[j % 4]
            mask = 0
            for t in range(nb):
                mask |= 1 << ((j * 13 + t * 17) % 64)
            u = (int(r.phash) & 0xFFFFFFFFFFFFFFFF) ^ mask
            rows.append(
                (r.image_id + "/v", u - (1 << 64) if u >= (1 << 63) else u)
            )

        k = 3
        want = set()
        for (ia, pa), (ib, pb) in itertools.combinations(rows, 2):
            h = bin((pa ^ pb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= k:
                key = (ia, ib) if ia < ib else (ib, ia)
                want.add((*key, h))

        corpus = spark.createDataFrame(rows, "image_id string, phash long")
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in phash_near_dups(corpus, "phash", "image_id", k=k).collect()
        }
        assert got == want
        assert len(got) >= 20  # the 1/2/3-bit variants are all found


class TestSimhashHamming:
    def test_pigeonhole_blocking_is_exact(self, spark):
        """simhash_hamming_pairs must find EXACTLY the pairs within
        hamming k (pigeonhole blocking is lossless for <= k flips):
        compare to a brute-force all-pairs hamming in pandas."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.dedup import (
            shingles,
            simhash,
            simhash_hamming_pairs,
        )

        base = [
            "the quick brown fox jumps over the lazy dog again and again",
            "pack my box with five dozen liquor jugs before noon today ok",
            "how vexingly quick daft zebras jump over fences at dawn here",
        ]
        rows = []
        for i, t in enumerate(base):
            rows.append((i * 10, t))
            rows.append((i * 10 + 1, t + " zq"))       # tiny perturbation
            rows.append((i * 10 + 2, t + " zq xw"))    # slightly bigger
        import pandas as pd

        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        k = 6
        got = (
            simhash_hamming_pairs(df, "text", "doc_id", k=k)
            .toPandas()
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )
        sigs = dict(
            df.select(
                "doc_id", simhash(shingles(F.col("text"), 3)).alias("s")
            ).collect()
        )
        want = []
        ids = sorted(sigs)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= k:
                    want.append((a, b, h))
        assert [tuple(r) for r in got.itertuples(index=False)] == want
    def test_components_and_survivors(self, spark):
        from overmatch_spark.operators.dedup import dedup_clusters

        # components: {1,2,3,9} (chain 1-2, 2-3, 3-9), {5,6}, isolated 7,8
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": [1, 2, 3, 5], "id_b": [2, 3, 9, 6]})
        )
        nodes = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3, 5, 6, 7, 8, 9]})
        )
        got = (
            dedup_clusters(pairs, nodes=nodes)
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )
        assert got.loc[[1, 2, 3, 9], "cluster_id"].tolist() == [1, 1, 1, 1]
        assert got.loc[[5, 6], "cluster_id"].tolist() == [5, 5]
        assert got.loc[7, "cluster_id"] == 7 and got.loc[8, "cluster_id"] == 8
        assert got["survivor"].sum() == 4  # 1, 5, 7, 8

    def test_pair_ids_missing_from_nodes(self, spark):
        """Ids that only `pairs` names (1, 4, 7) still link their
        components, but the rows are the nodes'. Under min-id a cluster
        whose min id is not a node keeps no row; keep-best picks among
        the nodes, and a null score loses."""
        from overmatch_spark.operators.dedup import dedup_clusters

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5), (5, 6), (7, 8)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame(
            [(2, 1.0), (3, 5.0), (5, None), (6, 2.0), (8, 3.0), (10, 0.0)],
            "doc_id long, score double",
        )

        def rows(**kw):
            out = dedup_clusters(pairs, nodes=nodes, **kw).orderBy("doc_id")
            return [tuple(r) for r in out.collect()]

        assert rows() == [
            (2, 1, False), (3, 1, False), (5, 4, False), (6, 4, False),
            (8, 7, False), (10, 10, True),
        ]
        assert rows(score_col="score") == [
            (2, 1, False), (3, 1, True), (5, 4, False), (6, 4, True),
            (8, 7, True), (10, 10, True),
        ]

    def test_deep_chain_converges_logarithmically(self, spark):
        """Pointer jumping makes a 200-node chain (diameter 200)
        converge within the default iteration budget — plain
        neighbor-min propagation alone would need 200 rounds."""
        from overmatch_spark.operators.dedup import dedup_clusters

        n = 200
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)})
        )
        got = dedup_clusters(pairs, max_iters=15).toPandas()
        assert (got["cluster_id"] == 0).all()
        assert got["survivor"].sum() == 1


    @staticmethod
    def _permuted_chain(n):
        """Pairs of a path over n nodes whose ids are a seeded
        permutation, so pointer jumping gives no log-diameter bound."""
        import random

        ids = random.Random(3).sample(range(n), n)
        return [(min(a, b), max(a, b)) for a, b in zip(ids, ids[1:])]

    def test_deep_permuted_chain_matches_union_find(self, spark):
        """The smallest seeded permuted chain that needs more than 15
        rounds equals a union-find. Every round's state used to keep
        the size estimate of the plan it replaced, its digits doubling
        per round, so planning slowed round by round until it
        stalled."""
        from overmatch_spark.operators.dedup import dedup_clusters

        pairs = self._permuted_chain(23)
        # the rounds the operator runs, replayed in Python
        nb = {}
        for a, b in pairs:
            nb.setdefault(a, []).append(b)
            nb.setdefault(b, []).append(a)
        lab, rounds, moved = {v: v for v in nb}, 0, True
        while moved:
            new = {
                v: min(lab[v], lab[lab[v]], *(lab[u] for u in nb[v]))
                for v in nb
            }
            moved, lab, rounds = new != lab, new, rounds + 1
        assert rounds > 15

        root = {v: v for v in nb}

        def find(v):
            while root[v] != v:
                v = root[v]
            return v

        for a, b in pairs:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in nb}

        out = dedup_clusters(spark.createDataFrame(pairs, "id_a long, id_b long"))
        # the last round's state starts from the default estimate (19
        # digits), not from 16 rounds of products
        size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert size < 10**25
        got = out.toPandas()
        assert dict(zip(got["doc_id"], got["cluster_id"])) == want
        assert got["survivor"].sum() == 1

    def test_rounds_release_their_blocks(self, spark):
        """Each round frees the previous round's checkpoint blocks
        (DataFrame.unpersist() does nothing on a localCheckpointed
        frame), so a 7-round call leaves at most two persisted RDDs,
        not one per round until GC."""
        from overmatch_spark.operators.dedup import dedup_clusters

        persisted = spark.sparkContext._jsc.getPersistentRDDs
        pairs = spark.createDataFrame(
            self._permuted_chain(16), "id_a long, id_b long"
        )
        before = persisted().size()
        out = dedup_clusters(pairs)
        assert persisted().size() - before <= 2
        assert out.count() == 16

    def test_unconverged_raises(self, spark):
        """A 16-node permuted chain needs 7 rounds: with max_iters=3
        the labels still move, and the operator raises instead of
        returning wrong clusters."""
        from overmatch_spark.operators.dedup import dedup_clusters

        pairs = spark.createDataFrame(
            self._permuted_chain(16), "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="max_iters=3"):
            dedup_clusters(pairs, max_iters=3)

class TestPublicSpatialApi:
    def test_spatial_join_and_nearest_join(self, spark):
        """The generic public wrappers: spatial_join returns exactly
        the pairs within the radius (cell-cover boundary effects
        included), nearest_join the single nearest per named row."""
        import math

        from pyspark.sql import functions as F

        from overmatch_spark.expressions import R_MERC
        from overmatch_spark.operators.conflate import nearest_join, spatial_join

        def lonlat(x_m, y_m):
            lon = x_m / R_MERC * 180.0 / math.pi
            lat = (
                (math.atan(math.exp(y_m / R_MERC)) * 2.0 - math.pi / 2.0)
                * 180.0 / math.pi
            )
            return lon, lat

        a_pts = {"a1": (0.0, 0.0), "a2": (10_000.0, 0.0)}
        b_pts = {
            "b1": (30.0, 40.0),      # 50 m from a1
            "b2": (150.0, 0.0),      # 150 m from a1
            "b3": (10_000.0, 90.0),  # 90 m from a2
            "b4": (200_000.0, 0.0),  # far from both
        }
        # deliberately generic schemas: custom id names, NO name col
        a = spark.createDataFrame(
            [(k, *lonlat(*v)) for k, v in a_pts.items()],
            "pt string, lon double, lat double",
        )
        b = spark.createDataFrame(
            [(k, *lonlat(*v)) for k, v in b_pts.items()],
            "site string, lon double, lat double",
        )
        got = {
            (r["a_id"], r["b_id"]): r["distance_m"]
            for r in spatial_join(
                a, b, radius_m=100.0, a_id="pt", b_id="site"
            ).collect()
        }
        assert set(got) == {("a1", "b1"), ("a2", "b3")}
        assert abs(got[("a1", "b1")] - 50.0) < 0.2  # ~mercator scale only

        nn = {
            r["a_id"]: r["b_id"]
            for r in nearest_join(a, b, a_id="pt", b_id="site").collect()
        }
        assert nn == {"a1": "b1", "a2": "b3"}


class TestTags:
    def test_website_chain(self, spark):
        from pyspark.sql import functions as F

        from overmatch_spark.operators.tags import clean_website

        rows = [
            ("HTTP://WWW.Foo.COM/Bar?utm_source=x&keep=1",),
            ("https://www.doordash.com/store/99",),
            ("https://ok.com/path",),
        ]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["w"]))
        got = df.select(clean_website(F.col("w")).alias("c")).toPandas()["c"]
        assert got[0] == "HTTP://www.foo.com/Bar?keep=1"
        assert got[1] is None
        assert got[2] == "https://ok.com/path"

    def test_lowercase_url_reference_edge_semantics(self, spark):
        """Pin the reference's exact split behavior (match.py:19-33):
        first-'//'-anywhere protocol split, bare-trailing-slash drop,
        deeper trailing slashes kept, protocol case preserved."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.tags import lowercase_url

        cases = [
            ("http://X.com/", "http://x.com"),        # bare '/' dropped
            ("http://X.com//", "http://x.com//"),     # path '/' kept
            ("http://X.com/Path/", "http://x.com/Path/"),
            ("a/b//C.com/Q", "a/b//c.com/Q"),         # '//' after a '/'
            ("X.com/Path", "x.com/Path"),             # no protocol
            ("HTTPS://WWW.Ex.COM", "HTTPS://www.ex.com"),
        ]
        df = spark.createDataFrame(
            pd.DataFrame([c[0] for c in cases], columns=["u"])
        )
        got = df.select(lowercase_url(F.col("u")).alias("c")).toPandas()["c"]
        for (_, want), g in zip(cases, got):
            assert g == want, f"{g!r} != {want!r}"

    def test_lowercase_url_exhaustive_fragment_grammar(self, spark):
        """Exhaustive cross-product of protocol/domain/path fragments
        (72 cases incl. every tricky combination: missing protocol,
        '//' after '/', empty domain, bare and nested trailing
        slashes) against a direct model of the reference's documented
        split semantics (match.py:19-33: first-'//' split, partition
        at first '/', drop empty path)."""
        from pyspark.sql import functions as F

        from overmatch_spark.operators.tags import lowercase_url

        def model(u: str) -> str:
            i = u.find("//")
            head, tail = ("", u) if i < 0 else (u[: i + 2], u[i + 2:])
            j = tail.find("/")
            if j < 0:
                return head + tail.lower()
            dom, rest = tail[:j], tail[j + 1:]
            return head + dom.lower() + ("/" + rest if rest else "")

        cases = [
            p + d + s
            for p in ["", "HTTP://", "a/b//", "//"]
            for d in ["", "X.Com", "ABC"]
            for s in ["", "/", "//", "/Path", "/Path/", "/A/B?Q=1"]
        ]
        df = spark.createDataFrame(pd.DataFrame({"u": cases}))
        got = df.select("u", lowercase_url(F.col("u")).alias("c")).toPandas()
        for u, c in zip(got["u"], got["c"]):
            assert c == model(u), f"{u!r}: {c!r} != {model(u)!r}"

    def test_phone_chain(self, spark):
        from pyspark.sql import functions as F

        from overmatch_spark.operators.tags import drop_toll_free, normalize_phone

        rows = [("(202) 555-0199",), ("+1 800 555 0000",), ("nonsense",)]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["p"]))
        got = df.select(
            drop_toll_free(normalize_phone(F.col("p"))).alias("c")
        ).toPandas()["c"]
        assert got[0] == "+1-202-555-0199"
        assert got[1] is None  # toll-free dropped after normalization
        assert got[2] == "nonsense"  # no-parse tolerated (reference keeps it)


class TestKnnHintless:
    def test_probe_with_empty_neighborhood(self, spark):
        """A probe >100 km from every candidate has NO phase-1 hint —
        exercises the histogram-pruned phase 2b exclusively."""
        from overmatch_spark.operators.knn import knn_fallback, release_caches

        a = spark.createDataFrame(
            pd.DataFrame(
                {
                    "osm_id": ["node/far"],
                    "name": ["Lonely Cafe"],
                    "housenumber": [None],
                    "lon": [-80.0],
                    "lat": [40.0],
                }
            )
        )
        b = spark.createDataFrame(
            pd.DataFrame(
                {
                    "id": ["ov/x", "ov/y", "ov/z"],
                    "name": ["A", "B", "C"],
                    "housenumber": [None, None, None],
                    "lon": [-77.0, -77.5, -76.9],
                    "lat": [38.9, 38.7, 39.0],
                }
            )
        )
        empty_matches = spark.createDataFrame([], "osm_id string")
        caches: list = []
        try:
            got = knn_fallback(a, b, empty_matches, caches=caches).toPandas()
        finally:
            release_caches(caches)
        assert len(got) == 1
        # true nearest by planar 3857 distance is ov/y (-77.5, 38.7)
        assert got.iloc[0]["overture_id"] == "ov/y"
