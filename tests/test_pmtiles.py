"""PMTiles v3 + MVT sink tests: spec-example Hilbert ids, wire-format
roundtrips, and an end-to-end Spark pyramid -> archive -> decode
equality check against the tile table."""

import math

import pytest

from overmatch_spark.operators.pmtiles import (
    PMTilesReader,
    _decode_directory,
    _encode_directory,
    _unzigzag,
    _varint,
    _zigzag,
    hilbert_tid,
    mvt_decode,
    mvt_encode_layer,
    write_pmtiles,
)


class TestHilbert:
    def test_spec_examples(self):
        # the five worked examples in the PMTiles v3 spec
        assert hilbert_tid(0, 0, 0) == 0
        assert hilbert_tid(1, 0, 0) == 1
        assert hilbert_tid(1, 0, 1) == 2
        assert hilbert_tid(1, 1, 1) == 3
        assert hilbert_tid(1, 1, 0) == 4
        assert hilbert_tid(2, 0, 0) == 5

    def test_bijective_per_zoom(self):
        for z in (2, 3, 4):
            ids = {
                hilbert_tid(z, x, y)
                for x in range(1 << z)
                for y in range(1 << z)
            }
            base = ((1 << (2 * z)) - 1) // 3
            assert ids == set(range(base, base + (1 << (2 * z))))

    def test_adjacent_tiles_adjacent_ids(self):
        # Hilbert locality: consecutive ids are grid neighbours
        z = 4
        by_id = {
            hilbert_tid(z, x, y): (x, y)
            for x in range(1 << z)
            for y in range(1 << z)
        }
        ids = sorted(by_id)
        for a, b in zip(ids, ids[1:]):
            (x1, y1), (x2, y2) = by_id[a], by_id[b]
            assert abs(x1 - x2) + abs(y1 - y2) == 1

    def test_out_of_range(self):
        with pytest.raises(ValueError):
            hilbert_tid(1, 2, 0)


class TestWire:
    def test_zigzag_roundtrip(self):
        for v in (0, 1, -1, 63, -64, 4095, -4096, 2**31, -(2**31)):
            assert _unzigzag(_zigzag(v)) == v

    def test_varint_boundaries(self):
        assert _varint(0) == b"\x00"
        assert _varint(127) == b"\x7f"
        assert _varint(128) == b"\x80\x01"

    def test_directory_roundtrip_with_dedup_offsets(self):
        # entry 3 reuses entry 1's blob (content dedup) -> explicit
        # offset; entry 2 is contiguous -> elided offset (0)
        entries = [(5, 0, 100, 1), (9, 100, 50, 1), (42, 0, 100, 1)]
        assert _decode_directory(_encode_directory(entries)) == entries

    def test_mvt_roundtrip(self):
        feats = [
            {
                "id": 7,
                "px": 12,
                "py": 4090,
                "props": {
                    "osm_id": 123456789,
                    "overture_id": "abc",
                    "lon": -71.5,
                    "lat": 41.25,
                },
            },
            {"id": 8, "px": 0, "py": 0, "props": {"overture_id": "xyz"}},
        ]
        tile = mvt_decode(mvt_encode_layer("matches", feats))
        layer = tile["matches"]
        assert layer["version"] == 2 and layer["extent"] == 4096
        got = layer["features"]
        assert [(f["id"], f["px"], f["py"]) for f in got] == [
            (7, 12, 4090),
            (8, 0, 0),
        ]
        assert got[0]["props"]["osm_id"] == 123456789
        assert got[0]["props"]["overture_id"] == "abc"
        assert got[0]["props"]["lon"] == -71.5
        assert got[1]["props"] == {"overture_id": "xyz"}
        assert all(f["type"] == 1 for f in got)


@pytest.fixture(scope="module")
def pyramid(spark):
    """Small deterministic match set -> z10+z12 pyramid table."""
    from pyspark.sql import functions as F

    from overmatch_spark.operators.tiles import (
        assign_match_ids,
        assign_tiles,
        density_drop,
        tile_table,
    )

    rows = [
        # (osm_id, overture_id, lon, lat) — two dense clusters + one
        # isolated point so dedup/empty-tile paths are exercised
        (100 + i, f"ov{i}", -71.0 + (i % 5) * 0.003, 41.0 + (i // 5) * 0.003)
        for i in range(20)
    ] + [(999, "far", 139.7, 35.6)]
    m = spark.createDataFrame(
        rows, "osm_id long, overture_id string, lon double, lat double"
    )
    m = assign_match_ids(
        m.withColumn("distance_m", F.lit(1.0)), num_partitions=4
    )
    t = assign_tiles(m, zooms=(10, 12))
    kept = density_drop(t, max_per_tile=50)
    return tile_table(kept)


class TestArchive:
    def test_roundtrip_against_tile_table(self, spark, pyramid, tmp_path):
        path = str(tmp_path / "matches.pmtiles")
        summary = write_pmtiles(pyramid, path)
        expected = {
            (r["z"], r["x"], r["y"]): r["features"]
            for r in pyramid.collect()
        }
        assert summary["tiles"] == len(expected)
        rd = PMTilesReader(path)
        assert rd.tile_type == 1 and rd.clustered == 1
        assert rd.n_entries == len(expected)
        assert rd.metadata["vector_layers"][0]["id"] == "matches"
        for (z, x, y), feats in expected.items():
            tile = rd.get_tile(z, x, y)
            assert tile is not None, f"missing tile {z}/{x}/{y}"
            got = tile["matches"]["features"]
            assert [f["id"] for f in got] == [
                ft["match_id"] for ft in feats
            ]
            for g, ft in zip(got, feats):
                assert g["props"]["osm_id"] == ft["osm_id"]
                assert g["props"]["overture_id"] == ft["overture_id"]
                # pixel coords: within one extent-cell of exact
                fx = (ft["lon"] + 180.0) / 360.0 * (1 << z)
                assert abs(g["px"] - (fx - x) * 4096) <= 1.0
                fy = (
                    (1 - math.asinh(math.tan(math.radians(ft["lat"])))
                     / math.pi) / 2 * (1 << z)
                )
                assert abs(g["py"] - (fy - y) * 4096) <= 1.0
        # absent tile -> None
        assert rd.get_tile(10, 0, 0) is None
        # bounds cover all features incl. the far point
        assert rd.bounds[0] <= -71.0 <= rd.bounds[2]
        assert rd.bounds[0] <= 139.7 <= rd.bounds[2]
        assert rd.bounds[1] <= 35.6 <= rd.bounds[3]
        assert rd.bounds[1] <= 41.0 <= rd.bounds[3]

    def test_feature_pixels_are_the_catalyst_pixels(
        self, spark, pyramid, tmp_path
    ):
        """Each archived feature's (px, py) is exactly Spark's
        floor((tile_fx - x) * 4096), clamped to [0, 4095] — the same
        expression the raster tiles use, with no Python re-derivation
        in the encoder."""
        from pyspark.sql import functions as F

        from overmatch_spark import expressions as X

        path = str(tmp_path / "pixels.pmtiles")
        write_pmtiles(pyramid, path)
        feats = pyramid.select(
            "z", "x", "y", F.explode("features").alias("f")
        ).select("z", "x", "y", "f.match_id", "f.lon", "f.lat")

        def pixel(frac, tile):
            return F.least(
                F.lit(4095), F.greatest(F.lit(0), F.floor((frac - tile) * 4096))
            )

        lon, lat = F.col("lon"), F.col("lat")
        want = {}
        for z in (10, 12):
            for r in feats.filter(F.col("z") == z).select(
                "x", "y", "match_id",
                pixel(X.tile_fx(lon, z), F.col("x")).alias("px"),
                pixel(X.tile_fy(lat, z), F.col("y")).alias("py"),
            ).collect():
                want[(z, r["x"], r["y"], r["match_id"])] = (r["px"], r["py"])
        rd = PMTilesReader(path)
        got = {}
        for z, x, y in {k[:3] for k in want}:
            for f in rd.get_tile(z, x, y)["matches"]["features"]:
                got[(z, x, y, f["id"])] = (f["px"], f["py"])
        assert got == want

    def test_deterministic_bytes(self, spark, pyramid, tmp_path):
        p1, p2 = str(tmp_path / "a.pmtiles"), str(tmp_path / "b.pmtiles")
        write_pmtiles(pyramid, p1)
        write_pmtiles(pyramid, p2)
        assert open(p1, "rb").read() == open(p2, "rb").read()

    def test_matches_to_pmtiles_one_call(self, spark, tmp_path):
        """The pipeline glue: raw matches -> archive, auto zoom."""
        from overmatch_spark.operators.pmtiles import (
            matches_to_pmtiles,
        )

        rows = [
            (100 + i, f"ov{i}", -71.0 + i * 0.01, 41.0 + i * 0.01)
            for i in range(30)
        ]
        m = spark.createDataFrame(
            rows, "osm_id long, overture_id string, lon double, lat double"
        )
        path = str(tmp_path / "glue.pmtiles")
        summary = matches_to_pmtiles(m, path, num_partitions=4)
        rd = PMTilesReader(path)
        assert rd.n_entries == summary["tiles"] > 0
        assert rd.min_zoom == 10  # auto zoom: 30 features -> z10 only
        # every archived feature decodes; count equals input rows
        n = 0
        for tid, off, ln, _ in rd.entries:
            blob = rd._raw[rd._data_off + off : rd._data_off + off + ln]
            import gzip as _g

            tile = mvt_decode(_g.decompress(blob))
            n += len(tile["matches"]["features"])
        assert n == 30

    def test_leaf_directories(self, spark, pyramid, tmp_path, monkeypatch):
        """Forced leaf split (_LEAF_SIZE=2): every tile must still be
        findable through the root's run_length=0 pointer entries, and
        iter_tile_entries must expand to the same tile-entry set as an
        unsplit archive."""
        from overmatch_spark.operators import pmtiles
        from overmatch_spark.operators.pmtiles import (
            _MVT,
            _GZIP,
            _assemble_archive,
            mvt_tiles,
        )

        enc = mvt_tiles(pyramid).persist()
        flat_p = str(tmp_path / "flat.pmtiles")
        leaf_p = str(tmp_path / "leaf.pmtiles")
        meta = {"name": "t", "format": "pbf", "vector_layers": []}
        _assemble_archive(enc, flat_p, _MVT, _GZIP, meta)
        monkeypatch.setattr(pmtiles, "_LEAF_SIZE", 2)
        summary = _assemble_archive(enc, leaf_p, _MVT, _GZIP, meta)
        enc.unpersist()
        flat, leafy = PMTilesReader(flat_p), PMTilesReader(leaf_p)
        assert summary["leaf_dirs"] > 1
        assert all(e[3] == 0 for e in leafy.entries)  # root = pointers
        assert list(leafy.iter_tile_entries()) == list(
            flat.iter_tile_entries()
        )
        for r in pyramid.select("z", "x", "y").collect():
            a = flat.get_tile(r["z"], r["x"], r["y"])
            b = leafy.get_tile(r["z"], r["x"], r["y"])
            assert a == b and a is not None
        assert leafy.get_tile(10, 0, 0) is None

    def test_publish_local_store_idempotent(self, spark, pyramid, tmp_path):
        """K6 publish semantics on the filesystem backend: headers
        sidecar, md5 etag, and idempotent re-publish (skip on same
        bytes, re-put on changed bytes)."""
        from overmatch_spark.operators.publish import (
            PMTILES_HEADERS,
            LocalObjectStore,
            publish_pmtiles,
        )

        path = str(tmp_path / "pub.pmtiles")
        write_pmtiles(pyramid, path)
        store = LocalObjectStore(str(tmp_path / "store"))
        r1 = publish_pmtiles(path, "tiles-bucket", store=store)
        assert not r1["skipped"]
        head = store.head("tiles-bucket", "pub.pmtiles")
        assert head["ContentType"] == "application/vnd.pmtiles"
        assert head["CacheControl"] == PMTILES_HEADERS["CacheControl"]
        assert head["ETag"] == r1["etag"]
        # stored bytes identical to the archive
        obj = tmp_path / "store" / "tiles-bucket" / "pub.pmtiles"
        assert obj.read_bytes() == open(path, "rb").read()
        # same bytes -> skipped; changed bytes -> re-put, new etag
        r2 = publish_pmtiles(path, "tiles-bucket", store=store)
        assert r2["skipped"] and r2["etag"] == r1["etag"]
        with open(path, "ab") as f:
            f.write(b"x")
        r3 = publish_pmtiles(path, "tiles-bucket", store=store)
        assert not r3["skipped"] and r3["etag"] != r1["etag"]

    def test_publish_crash_window_self_heals(self, pyramid, spark, tmp_path):
        """A crash between the object rename and the sidecar rename
        (the put_file crash window) must read as ABSENT and be
        repaired by the next publish — never pin stale bytes behind
        a skip."""
        from overmatch_spark.operators.publish import (
            LocalObjectStore,
            publish_pmtiles,
        )

        path = str(tmp_path / "pub.pmtiles")
        write_pmtiles(pyramid, path)
        store = LocalObjectStore(str(tmp_path / "store"))
        r1 = publish_pmtiles(path, "tiles-bucket", store=store)
        obj = tmp_path / "store" / "tiles-bucket" / "pub.pmtiles"
        # simulate the crash window: object bytes present, sidecar gone
        (tmp_path / "store" / "tiles-bucket" / "pub.pmtiles.headers.json").unlink()
        assert store.head("tiles-bucket", "pub.pmtiles") is None
        r2 = publish_pmtiles(path, "tiles-bucket", store=store)
        assert not r2["skipped"] and r2["etag"] == r1["etag"]
        assert obj.read_bytes() == open(path, "rb").read()
        assert store.head("tiles-bucket", "pub.pmtiles")["ETag"] == r2["etag"]
        # source mutated between the skip-check hash and the copy ->
        # put_file's cross-check aborts and leaves no tmp debris
        with open(path, "ab") as f:
            f.write(b"y")
        import pytest as _pytest

        with _pytest.raises(IOError):
            store.put_file(
                path, "tiles-bucket", "pub.pmtiles", {}, etag=r1["etag"]
            )
        assert not (obj.parent / "pub.pmtiles.tmp").exists()

    def test_entries_sorted_and_clustered(self, spark, pyramid, tmp_path):
        path = str(tmp_path / "c.pmtiles")
        write_pmtiles(pyramid, path)
        rd = PMTilesReader(path)
        ids = [e[0] for e in rd.entries]
        assert ids == sorted(ids)
        # clustered: data offsets never decrease in entry order for
        # first-seen blobs
        offs = [e[1] for e in rd.entries]
        firsts = []
        seen = set()
        for o in offs:
            if o not in seen:
                seen.add(o)
                firsts.append(o)
        assert firsts == sorted(firsts)


class TestArchiveOrder:
    """The driver orders the archive: `_assemble_archive` must write
    the same bytes whatever order the encoded tiles arrive in."""

    @staticmethod
    def _enc(spark, rows, slices):
        from overmatch_spark.operators.pmtiles import _ENC_SCHEMA

        rdd = spark.sparkContext.parallelize(rows, slices)
        return spark.createDataFrame(rdd, _ENC_SCHEMA)

    @staticmethod
    def _write(enc, path):
        from overmatch_spark.operators.pmtiles import _assemble_archive
        from overmatch_spark.operators.raster import _NONE, _PNG

        meta = {"name": "t", "format": "png"}
        return _assemble_archive(enc, path, _PNG, _NONE, meta)

    def test_descending_arrival_writes_the_ascending_archive(
        self, spark, tmp_path
    ):
        # every z2 and z3 tile; the 13 with (x + y) % 7 == 3 share one
        # blob, so in descending arrival the first copy to arrive is
        # not the first in tile-id order
        dup = b"same blob"
        rows = []
        for z in (2, 3):
            for x in range(1 << z):
                for y in range(1 << z):
                    data = f"{z}/{x}/{y}".encode() * (1 + x)
                    if (x + y) % 7 == 3:
                        data = dup
                    rows.append((hilbert_tid(z, x, y), z, x, y, data))
        rows.sort()
        assert sum(r[4] == dup for r in rows) >= 2
        up_p, down_p = str(tmp_path / "up.pmtiles"), str(tmp_path / "down.pmtiles")
        self._write(self._enc(spark, rows, 1), up_p)
        summary = self._write(self._enc(spark, rows[::-1], 5), down_p)
        assert open(down_p, "rb").read() == open(up_p, "rb").read()
        assert summary["tiles"] == len(rows)
        assert summary["contents"] == len({r[4] for r in rows})

        rd = PMTilesReader(down_p)
        assert rd.clustered == 1
        assert [e[0] for e in rd.entries] == [r[0] for r in rows]
        first: dict[bytes, int] = {}  # blob -> offset of its first copy
        for (tid, z, x, y, data), (_, off, ln, _) in zip(rows, rd.entries):
            assert rd.get_tile(z, x, y) == data and ln == len(data)
            assert first.setdefault(data, off) == off
        stored = list(first.values())
        assert stored == sorted(stored) and stored[0] == 0

    def test_empty_input_raises_and_leaves_no_spool(self, spark, tmp_path):
        path = str(tmp_path / "empty.pmtiles")
        with pytest.raises(ValueError, match="empty tile pyramid"):
            self._write(self._enc(spark, [], 3), path)
        assert not list(tmp_path.iterdir())
