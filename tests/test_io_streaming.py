"""I/O (JSONL/GeoJSON) and Structured Streaming ingest tests."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestJsonl:
    def test_roundtrip_and_malformed(self, spark, tmp_path):
        from overmatch_spark.operators.io import read_jsonl, write_jsonl

        df = spark.createDataFrame(
            pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
        )
        p = str(tmp_path / "out")
        write_jsonl(df, p)
        back = read_jsonl(spark, p, schema="a long, b string").toPandas()
        assert sorted(back["a"]) == [1, 2, 3]

        # S10: malformed lines tolerated (PERMISSIVE -> nulls)
        raw = tmp_path / "raw"
        raw.mkdir()
        (raw / "part.jsonl").write_text(
            '{"a": 1, "b": "x"}\nnot json at all\n\n{"a": 2, "b": "y"}\n'
        )
        got = read_jsonl(spark, str(raw), schema="a long, b string").toPandas()
        assert sorted(x for x in got["a"] if pd.notna(x)) == [1, 2]


class TestGeoJson:
    def test_feature_string_is_valid_geojson(self, spark):
        from overmatch_spark.operators.io import geojson_point_feature

        df = spark.createDataFrame(
            pd.DataFrame({"lon": [-77.03], "lat": [38.9], "fid": [7]})
        )
        s = df.select(
            geojson_point_feature(
                F.col("lon"), F.col("lat"), F.col("fid"), F.lit('{"name":"A"}')
            ).alias("f")
        ).toPandas()["f"][0]
        obj = json.loads(s)
        assert obj["type"] == "Feature" and obj["id"] == 7
        assert obj["geometry"]["coordinates"] == [-77.03, 38.9]
        assert obj["properties"] == {"name": "A"}


class TestGeoJsonScan:
    def test_feature_collection_scan(self, spark, tmp_path):
        from overmatch_spark.operators.io import read_geojson_features

        fc = {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "properties": {"@id": "node/1", "name": "Cafe A"},
                    "geometry": {"type": "Point", "coordinates": [-77.01, 38.91]},
                },
                {
                    "type": "Feature",
                    "properties": {"@id": "node/2", "name": None},
                    "geometry": {"type": "Point", "coordinates": [-77.02, 38.92]},
                },
            ],
        }
        p = tmp_path / "fc.geojson"
        p.write_text(json.dumps(fc))
        got = read_geojson_features(
            spark, str(p), "`@id`: string, name: string"
        ).toPandas()
        assert len(got) == 2
        assert got["@id"].tolist() == ["node/1", "node/2"]
        assert got["lon"].tolist() == [-77.01, -77.02]


class TestSparqlResultsScan:
    def test_w3c_results_document(self, spark, tmp_path):
        """S3 offline half: the reference's QLever post-processing
        (get_osm_ids.py:88-116) over a standard SPARQL results JSON —
        prefix strip, POINT WKT parse, OPTIONAL housenumber, and the
        drop of bindings with unbound required vars."""
        from overmatch_spark.operators.io import read_sparql_results

        def binding(osm, name=None, hn=None, centroid=None):
            b = {"id": {"type": "uri", "value": osm}}
            if name is not None:
                b["name"] = {"type": "literal", "value": name}
            if hn is not None:
                b["housenumber"] = {"type": "literal", "value": hn}
            if centroid is not None:
                b["centroid"] = {
                    "type": "literal",
                    "value": f"POINT({centroid[0]} {centroid[1]})",
                }
            return b

        doc = {
            "head": {"vars": ["id", "name", "housenumber", "centroid"]},
            "results": {
                "bindings": [
                    binding(
                        "https://www.openstreetmap.org/node/101",
                        "Cafe A", "12", (-77.01, 38.91),
                    ),
                    # OPTIONAL housenumber unbound
                    binding(
                        "https://www.openstreetmap.org/way/202",
                        "Bar B", None, (-77.02, 38.92),
                    ),
                    # unbound centroid -> dropped (reference guard)
                    binding(
                        "https://www.openstreetmap.org/node/303", "Pub C"
                    ),
                ]
            },
        }
        p = tmp_path / "sparql.json"
        p.write_text(json.dumps(doc))
        got = (
            read_sparql_results(spark, str(p))
            .toPandas()
            .sort_values("osm_id")
            .reset_index(drop=True)
        )
        assert got["osm_id"].tolist() == ["node/101", "way/202"]
        assert got["name"].tolist() == ["Cafe A", "Bar B"]
        assert got["housenumber"].tolist()[0] == "12"
        assert got["housenumber"].isna().tolist() == [False, True]
        assert got["lon"].tolist() == [-77.01, -77.02]
        assert got["lat"].tolist() == [38.91, 38.92]


class TestStreamingIngest:
    def test_available_now_merge_and_resume(self, spark, tmp_path):
        from overmatch_spark.streaming.ingest import run_seen_ingest

        inp = tmp_path / "in"
        inp.mkdir()
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")

        from overmatch_spark.operators.seen_store import PartitionedSeenStore

        (inp / "b1.json").write_text(
            '{"element_id": "n1", "seen_at": 100}\n'
            '{"element_id": "n2", "seen_at": 150}\n'
        )
        run_seen_ingest(spark, str(inp), store, ckpt)
        st = PartitionedSeenStore(spark, store)
        got = st.read().toPandas().set_index("element_id")
        assert got.loc["n1", "first_seen"] == 100

        # second file arrives: n1 touched again -> first_seen immutable,
        # last_seen refreshed; processed files are NOT reprocessed
        (inp / "b2.json").write_text(
            '{"element_id": "n1", "seen_at": 300}\n'
            '{"element_id": "n3", "seen_at": 50}\n'
        )
        run_seen_ingest(spark, str(inp), store, ckpt)
        got = st.read().toPandas().set_index("element_id")
        assert len(got) == 3
        assert got.loc["n1", "first_seen"] == 100
        assert got.loc["n1", "last_seen"] == 300
        assert got.loc["n3", "first_seen"] == 50

    def test_untouched_buckets_byte_identical(self, spark, tmp_path):
        """An incremental merge must leave every untouched bucket's
        files byte-for-byte identical (the overwrite-by-filter
        contract; mirrors the reference's per-item DynamoDB upsert
        cost model, api/db.py:54-91)."""
        import hashlib

        import pandas as pd

        from overmatch_spark.operators.seen_store import PartitionedSeenStore

        store = PartitionedSeenStore(spark, str(tmp_path / "st"), n_buckets=8)
        base = spark.createDataFrame(
            pd.DataFrame(
                {"element_id": [f"n{i}" for i in range(200)],
                 "seen_at": [100 + i for i in range(200)]}
            )
        )
        store.merge_batch(base)
        man1 = store.manifest()
        assert len(man1["buckets"]) == 8

        def bucket_digest(bucket_rel):
            h = hashlib.md5()
            d = os.path.join(store.store_dir, bucket_rel)
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    h.update(open(os.path.join(d, fn), "rb").read())
            return h.hexdigest()

        digests = {b: bucket_digest(rel) for b, rel in man1["buckets"].items()}

        # a one-element batch touches exactly one bucket
        touched = store.merge_batch(
            spark.createDataFrame(
                pd.DataFrame({"element_id": ["n7"], "seen_at": [9999]})
            )
        )
        assert len(touched) == 1
        man2 = store.manifest()
        for b, rel in man2["buckets"].items():
            if int(b) != touched[0]:
                assert rel == man1["buckets"][b], f"bucket {b} rewritten"
                assert bucket_digest(rel) == digests[b]
        # the merge itself is correct
        got = store.read().toPandas().set_index("element_id")
        assert got.loc["n7", "last_seen"] == 9999
        assert got.loc["n7", "first_seen"] == 107
        assert len(got) == 200

    def test_reopen_adopts_committed_bucket_count(self, spark, tmp_path):
        """Reopening a store with a different n_buckets must adopt the
        committed count — otherwise rows hash to different buckets
        than they were committed to and the state silently splits."""
        import pandas as pd

        from overmatch_spark.operators.seen_store import PartitionedSeenStore

        s1 = PartitionedSeenStore(spark, str(tmp_path / "st"), n_buckets=8)
        s1.merge_batch(
            spark.createDataFrame(
                pd.DataFrame(
                    {"element_id": [f"n{i}" for i in range(40)],
                     "seen_at": list(range(40))}
                )
            )
        )
        s2 = PartitionedSeenStore(spark, str(tmp_path / "st"), n_buckets=16)
        assert s2.n_buckets == 8  # adopted from the manifest
        s2.merge_batch(
            spark.createDataFrame(
                pd.DataFrame({"element_id": ["n3"], "seen_at": [999]})
            )
        )
        got = s2.read().toPandas().set_index("element_id")
        assert len(got) == 40  # no duplicated element rows
        assert got.loc["n3", "first_seen"] == 3
        assert got.loc["n3", "last_seen"] == 999

    def test_merge_replay_is_idempotent(self, spark, tmp_path):
        """Re-applying the same batch (a streaming checkpoint replay
        after a crash between manifest-commit and checkpoint-commit)
        must converge to the identical state."""
        import pandas as pd

        from overmatch_spark.operators.seen_store import PartitionedSeenStore

        store = PartitionedSeenStore(spark, str(tmp_path / "st"), n_buckets=4)
        b1 = spark.createDataFrame(
            pd.DataFrame({"element_id": ["a", "b", "c"], "seen_at": [5, 9, 2]})
        )
        store.merge_batch(b1)
        store.merge_batch(
            spark.createDataFrame(
                pd.DataFrame({"element_id": ["a"], "seen_at": [50]})
            )
        )
        snap = store.read().toPandas().sort_values("element_id").reset_index(drop=True)
        # replay the second batch
        store.merge_batch(
            spark.createDataFrame(
                pd.DataFrame({"element_id": ["a"], "seen_at": [50]})
            )
        )
        again = store.read().toPandas().sort_values("element_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(snap, again)

    def test_store_commit_is_atomic(self, spark, tmp_path):
        """A crash between data-write and manifest-commit must leave
        the previous committed state fully readable."""
        import pandas as pd

        from overmatch_spark.operators import seen_store as ss

        store = ss.PartitionedSeenStore(spark, str(tmp_path / "st"), n_buckets=4)
        store.merge_batch(
            spark.createDataFrame(
                pd.DataFrame({"element_id": ["a", "b"], "seen_at": [1, 2]})
            )
        )
        before = store.read().toPandas().sort_values("element_id")

        # simulate a crash: data for v2 written, manifest never swapped
        crash = {"flag": False}
        orig = ss.PartitionedSeenStore._commit

        def exploding_commit(self, manifest):
            crash["flag"] = True
            raise RuntimeError("simulated crash before manifest swap")

        ss.PartitionedSeenStore._commit = exploding_commit
        try:
            with pytest.raises(RuntimeError):
                store.merge_batch(
                    spark.createDataFrame(
                        pd.DataFrame({"element_id": ["a"], "seen_at": [50]})
                    )
                )
        finally:
            ss.PartitionedSeenStore._commit = orig
        assert crash["flag"]
        after = store.read().toPandas().sort_values("element_id")
        pd.testing.assert_frame_equal(
            before.reset_index(drop=True), after.reset_index(drop=True)
        )

    def test_crash_during_compaction_resumes_byte_equal(self, spark, tmp_path):
        """Kill/resume across the newest code path: a crash mid-
        compact() (data for the compacted version written, manifest
        never swapped) must leave the fragmented pre-compaction state
        fully readable, and a resumed merge_batch + compact() must
        converge to the exact state an uncrashed run would produce,
        with the orphaned half-written version GC'd from disk."""
        import pandas as pd

        from overmatch_spark.operators import seen_store as ss

        store = ss.PartitionedSeenStore(spark, str(tmp_path / "st"), n_buckets=4)
        for i in range(3):
            store.merge_batch(
                spark.createDataFrame(
                    pd.DataFrame(
                        {"element_id": [f"n{i}", f"n{i + 1}"],
                         "seen_at": [i * 10, i * 10 + 1]}
                    )
                )
            )
        before = (
            store.read().toPandas().sort_values("element_id").reset_index(drop=True)
        )
        version_before = store.manifest()["version"]

        orig = ss.PartitionedSeenStore._commit

        def exploding_commit(self, manifest):
            raise RuntimeError("simulated crash during compaction commit")

        ss.PartitionedSeenStore._commit = exploding_commit
        try:
            with pytest.raises(RuntimeError):
                store.compact()
        finally:
            ss.PartitionedSeenStore._commit = orig

        # crashed compaction: state byte-equal, manifest version unchanged,
        # lock released (finally path), orphan version dir on disk
        after_crash = (
            store.read().toPandas().sort_values("element_id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(before, after_crash)
        assert store.manifest()["version"] == version_before
        orphan = f"v{version_before + 1:06d}"
        assert os.path.isdir(os.path.join(store.store_dir, orphan))

        # resume: a fresh store handle (new process) keeps writing
        resumed = ss.PartitionedSeenStore(spark, str(tmp_path / "st"))
        resumed.merge_batch(
            spark.createDataFrame(
                pd.DataFrame({"element_id": ["n0", "zz"], "seen_at": [999, 7]})
            )
        )
        resumed.compact()

        got = (
            resumed.read().toPandas().sort_values("element_id").reset_index(drop=True)
        )
        # expected = uncrashed replay of the same batches on a clean store
        clean = ss.PartitionedSeenStore(spark, str(tmp_path / "clean"), n_buckets=4)
        for i in range(3):
            clean.merge_batch(
                spark.createDataFrame(
                    pd.DataFrame(
                        {"element_id": [f"n{i}", f"n{i + 1}"],
                         "seen_at": [i * 10, i * 10 + 1]}
                    )
                )
            )
        clean.merge_batch(
            spark.createDataFrame(
                pd.DataFrame({"element_id": ["n0", "zz"], "seen_at": [999, 7]})
            )
        )
        clean.compact()
        want = (
            clean.read().toPandas().sort_values("element_id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want)
        # the orphaned half-written compaction dir was GC'd on resume
        assert not os.path.isdir(os.path.join(resumed.store_dir, orphan))
        # compacted store: exactly one live version dir remains
        vdirs = {
            rel.split(os.sep)[0]
            for rel in resumed.manifest()["buckets"].values()
        }
        assert len(vdirs) == 1

    def test_compaction_bounds_files_and_preserves_state(self, spark, tmp_path):
        """After many touch-generations the store fragments into one
        live version dir per generation; compact() must collapse it to
        ONE version dir (bounded file count) while reads stay
        byte-equal (same rows, same values)."""
        import pandas as pd

        from overmatch_spark.operators.seen_store import PartitionedSeenStore

        store = PartitionedSeenStore(spark, str(tmp_path / "st"), n_buckets=4)
        for i in range(6):
            store.merge_batch(
                spark.createDataFrame(
                    pd.DataFrame(
                        {"element_id": [f"n{i}", f"n{i + 1}"],
                         "seen_at": [i * 10, i * 10 + 1]}
                    )
                )
            )
        before = (
            store.read().toPandas().sort_values("element_id").reset_index(drop=True)
        )
        vdirs_before = {
            rel.split(os.sep)[0] for rel in store.manifest()["buckets"].values()
        }
        assert len(vdirs_before) > 1  # fragmented across generations

        v = store.compact()
        after = (
            store.read().toPandas().sort_values("element_id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(before, after)
        man = store.manifest()
        assert man["version"] == v
        vdirs_after = {rel.split(os.sep)[0] for rel in man["buckets"].values()}
        assert len(vdirs_after) == 1  # one live version dir
        # GC removed every stale generation from disk
        on_disk = {
            e for e in os.listdir(store.store_dir)
            if e.startswith("v") and os.path.isdir(os.path.join(store.store_dir, e))
        }
        assert on_disk == vdirs_after
        # compacting again is a cheap stable no-op on state
        store.compact()
        pd.testing.assert_frame_equal(
            after,
            store.read().toPandas().sort_values("element_id").reset_index(drop=True),
        )

    def test_second_writer_is_rejected(self, spark, tmp_path):
        """The store is single-writer: a concurrent merge_batch must
        raise instead of silently losing the first writer's buckets
        (lost-update protection), and break_lock() recovers from a
        dead writer's stale lock."""
        import pandas as pd

        from overmatch_spark.operators.seen_store import (
            ConcurrentWriterError,
            PartitionedSeenStore,
        )

        store = PartitionedSeenStore(spark, str(tmp_path / "st"), n_buckets=4)
        batch = spark.createDataFrame(
            pd.DataFrame({"element_id": ["a", "b"], "seen_at": [1, 2]})
        )
        store.merge_batch(batch)

        # simulate another live writer holding the lock
        store._acquire_lock()
        try:
            with pytest.raises(ConcurrentWriterError):
                store.merge_batch(batch)
            with pytest.raises(ConcurrentWriterError):
                store.compact()
        finally:
            store.break_lock()
        # lock released (e.g. stale lock broken) -> writes proceed
        store.merge_batch(
            spark.createDataFrame(
                pd.DataFrame({"element_id": ["c"], "seen_at": [3]})
            )
        )
        assert len(store.read().toPandas()) == 3

    def test_stateful_sessionization_stream_equals_batch(self, spark, tmp_path):
        """The applyInPandasWithState sessionizer must assign exactly
        the same (event -> session) mapping as the window-function
        batch form when events arrive in event-time order across
        micro-batches (3 files, one per trigger)."""
        import json as _json

        from overmatch_spark.streaming.sessions import (
            sessionize_batch,
            sessionize_stream,
        )

        events = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        ).filter(F.col("user_id") < 10)
        want = (
            sessionize_batch(events)
            .toPandas()
            .sort_values(["user_id", "event_id"])
            .reset_index(drop=True)
        )

        pdf = (
            events.select("user_id", "event_id", "ts")
            .toPandas()
            .sort_values("ts")
            .reset_index(drop=True)
        )
        inp = tmp_path / "sess_in"
        inp.mkdir()
        n = len(pdf)
        base_mtime = 1_700_000_000
        for i in range(3):
            chunk = pdf.iloc[i * n // 3:(i + 1) * n // 3]
            p = inp / f"part{i}.json"
            with open(p, "w") as f:
                for r in chunk.itertuples(index=False):
                    f.write(
                        _json.dumps(
                            {
                                "user_id": int(r.user_id),
                                "event_id": int(r.event_id),
                                "ts": r.ts.isoformat(sep=" "),
                            }
                        )
                        + "\n"
                    )
            # the file source orders batches by MODIFICATION TIME; all
            # three files land within the same instant, so pin strictly
            # increasing mtimes — the ingest contract is event-time
            # order ACROSS batches per user
            os.utime(p, (base_mtime + i * 60, base_mtime + i * 60))

        stream = (
            spark.readStream.schema("user_id long, event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .json(str(inp))
        )
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName("sess_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = (
            spark.sql("SELECT * FROM sess_out")
            .toPandas()
            .sort_values(["user_id", "event_id"])
            .reset_index(drop=True)
        )
        assert len(got) == len(want) > 0
        assert (got["session_idx"].to_numpy()
                == want["session_idx"].to_numpy()).all()
        assert (got["ts_us"].to_numpy() == want["ts_us"].to_numpy()).all()

    def test_streaming_dedup_equals_batch(self, spark, tmp_path):
        """dedup_stream (watermarked dropDuplicatesWithinWatermark)
        must keep exactly the rows the batch first-arrival form keeps
        when duplicates arrive within the watermark horizon, in
        event-time order across micro-batches."""
        import json as _json

        from overmatch_spark.streaming.dedup_stream import (
            dedup_batch,
            dedup_stream,
        )

        # 30 docs, every third a duplicate text arriving 60s later
        rows = []
        for i in range(30):
            text = f"document body number {i % 10}"  # 10 distinct texts
            ts = 1_700_000_000 + (i % 10) * 10 + (i // 10) * 600
            rows.append({"doc_id": i, "text": text, "ts": ts})
        rows.sort(key=lambda r: r["ts"])

        inp = tmp_path / "dedup_in"
        inp.mkdir()
        for i in range(3):
            chunk = rows[i * 10:(i + 1) * 10]
            p = inp / f"part{i}.json"
            with open(p, "w") as f:
                for r in chunk:
                    f.write(_json.dumps(r) + "\n")
            os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

        schema = "doc_id long, text string, ts long"
        batch_in = spark.read.schema(schema).json(str(inp)).withColumn(
            "ts", F.timestamp_seconds(F.col("ts"))
        )
        want = sorted(
            r["doc_id"] for r in dedup_batch(batch_in).select("doc_id").collect()
        )

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(inp))
            .withColumn("ts", F.timestamp_seconds(F.col("ts")))
        )
        q = (
            dedup_stream(stream, delay="1 hour")
            .writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            r["doc_id"]
            for r in spark.sql("SELECT doc_id FROM dedup_out").collect()
        )
        assert got == want
        assert len(got) == 10  # one survivor per distinct text

    def test_windowed_event_counts_batch_parity(self, spark):
        from overmatch_spark.streaming.ingest import windowed_event_counts

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        got = windowed_event_counts(events).toPandas()
        assert got["n"].sum() == events.count()
        assert (got.groupby(["window_start", "event_type"]).size() == 1).all()
