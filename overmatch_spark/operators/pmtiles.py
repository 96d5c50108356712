"""PMTiles v3 archive sink — the reference's serving artifact,
built WITHOUT tippecanoe.

Reference parity: the reference pipeline's final tiling step shells
out to tippecanoe to turn enriched GeoJSON into a single `.pmtiles`
archive (`/root/reference/scripts/build_pmtiles.py:186-198`, served
by `run_pmtiles.py:49-51` and published by
`api/upload_pmtiles.py:176-254`).  This module reimplements that
artifact step natively: per-tile Mapbox Vector Tile (MVT 2.1)
encoding runs DISTRIBUTED over the existing tile pyramid
(`tiles.tile_table` output) via one `mapInPandas` pass — each
feature's pixel in its tile comes from the tile assignment
(`tiles.assign_tiles`, Catalyst), so the encoder does no tile math —
and the single-file PMTiles v3 assembly streams tiles through the
driver with `toLocalIterator` in whatever order they arrive: blobs go
to a spool file, and the driver sorts its per-tile index by tile id
before writing the archive in that order, so no Spark sort runs.  The
driver holds one index tuple per tile plus one tile blob at a time,
never the whole pyramid.  Only the S3 upload itself remains out of
scope (network).

Both formats are implemented from their public specifications:

- PMTiles v3: 127-byte header, Hilbert-curve tile ids, gzip'd
  varint/delta-encoded root directory, gzip'd JSON metadata,
  clustered tile data with identical-content dedup
  (https://github.com/protomaps/PMTiles/blob/main/spec/v3).
- Mapbox Vector Tile 2.1: protobuf Tile/Layer/Feature/Value wire
  format, zigzag geometry command integers, shared keys/values
  tables (https://github.com/mapbox/vector-tile-spec/tree/master/2.1).

Scale bound: a PMTiles archive is ONE file by construction (same as
tippecanoe's output), so assembly is inherently single-writer; the
distributed part is everything upstream (tile assignment, density
drop, per-tile MVT encode).  Past ~16k tiles the writer splits the
directory into fixed-size LEAF directories (run_length=0 pointer
entries in the root, per spec) so any single directory fetch stays
bounded at 10^12-tile scale; the reader follows one leaf level.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import os
import struct
from typing import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

MVT_EXTENT = 4096
MVT_LAYER = "matches"

# ---------------------------------------------------------------------------
# protobuf wire primitives (public protobuf encoding spec)
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    """Unsigned LEB128."""
    if n < 0:
        raise ValueError("varint is unsigned")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


# ---------------------------------------------------------------------------
# MVT 2.1 encode / decode (point layers)
# ---------------------------------------------------------------------------


def _mvt_value(v) -> bytes:
    """Value message: one-of string(1)/double(3)/int(4)/bool(7)."""
    if isinstance(v, bool):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, int):
        # int_value is a signed int64 varint (two's complement)
        return _tag(4, 0) + _varint(v & 0xFFFFFFFFFFFFFFFF)
    if isinstance(v, float):
        return _tag(3, 1) + struct.pack("<d", v)
    s = str(v).encode("utf-8")
    return _tag(1, 2) + _varint(len(s)) + s


def mvt_encode_layer(name: str, feats: list[dict]) -> bytes:
    """One MVT Tile containing one point layer.

    ``feats``: dicts with ``id`` (uint64), ``px``/``py`` (tile-local
    integer coords in [0, MVT_EXTENT)), and ``props`` (str -> scalar).
    Keys/values are interned into the layer tables in first-seen
    order, so byte output is deterministic for a given feature order.
    """
    keys: list[str] = []
    key_ix: dict[str, int] = {}
    vals: list[bytes] = []
    val_ix: dict[bytes, int] = {}
    feat_msgs: list[bytes] = []
    for ft in feats:
        tags = bytearray()
        for k, v in ft.get("props", {}).items():
            if v is None:
                continue
            if k not in key_ix:
                key_ix[k] = len(keys)
                keys.append(k)
            vb = _mvt_value(v)
            if vb not in val_ix:
                val_ix[vb] = len(vals)
                vals.append(vb)
            tags += _varint(key_ix[k]) + _varint(val_ix[vb])
        geom = (
            _varint((1 & 0x7) | (1 << 3))  # MoveTo, count 1
            + _varint(_zigzag(int(ft["px"])))
            + _varint(_zigzag(int(ft["py"])))
        )
        msg = (
            _tag(1, 0)
            + _varint(int(ft["id"]) & 0xFFFFFFFFFFFFFFFF)
            + _len_delim(2, bytes(tags))
            + _tag(3, 0)
            + _varint(1)  # GeomType POINT
            + _len_delim(4, geom)
        )
        feat_msgs.append(msg)
    layer = bytearray()
    layer += _tag(15, 0) + _varint(2)  # version 2
    nb = name.encode("utf-8")
    layer += _tag(1, 2) + _varint(len(nb)) + nb
    for msg in feat_msgs:
        layer += _len_delim(2, msg)
    for k in keys:
        kb = k.encode("utf-8")
        layer += _tag(3, 2) + _varint(len(kb)) + kb
    for vb in vals:
        layer += _len_delim(4, vb)
    layer += _tag(5, 0) + _varint(MVT_EXTENT)
    return _len_delim(3, bytes(layer))


def mvt_decode(data: bytes) -> dict:
    """Minimal MVT decoder (layers of point features) for roundtrip
    tests and archive inspection — NOT a general MVT reader."""
    layers = {}
    i = 0
    while i < len(data):
        t, i = _read_varint(data, i)
        if t >> 3 != 3:
            raise ValueError("expected Tile.layers")
        ln, i = _read_varint(data, i)
        layer_buf = data[i : i + ln]
        i += ln
        name, extent, version = "", MVT_EXTENT, 0
        keys: list[str] = []
        vals: list[object] = []
        raw_feats: list[bytes] = []
        j = 0
        while j < len(layer_buf):
            ft, j = _read_varint(layer_buf, j)
            field, wire = ft >> 3, ft & 0x7
            if wire == 0:
                v, j = _read_varint(layer_buf, j)
                if field == 5:
                    extent = v
                elif field == 15:
                    version = v
            elif wire == 2:
                ln2, j = _read_varint(layer_buf, j)
                payload = layer_buf[j : j + ln2]
                j += ln2
                if field == 1:
                    name = payload.decode("utf-8")
                elif field == 2:
                    raw_feats.append(payload)
                elif field == 3:
                    keys.append(payload.decode("utf-8"))
                elif field == 4:
                    vals.append(_decode_value(payload))
            else:
                raise ValueError(f"unexpected wire type {wire}")
        feats = []
        for fb in raw_feats:
            fid, gtype = None, None
            px = py = None
            props: dict = {}
            k = 0
            while k < len(fb):
                ft2, k = _read_varint(fb, k)
                field, wire = ft2 >> 3, ft2 & 0x7
                if field == 1 and wire == 0:
                    fid, k = _read_varint(fb, k)
                elif field == 3 and wire == 0:
                    gtype, k = _read_varint(fb, k)
                elif field == 2 and wire == 2:
                    ln3, k = _read_varint(fb, k)
                    end = k + ln3
                    while k < end:
                        ki, k = _read_varint(fb, k)
                        vi, k = _read_varint(fb, k)
                        props[keys[ki]] = vals[vi]
                elif field == 4 and wire == 2:
                    ln3, k = _read_varint(fb, k)
                    end = k + ln3
                    cmd, k = _read_varint(fb, k)
                    if cmd & 0x7 != 1:
                        raise ValueError("point geometry must MoveTo")
                    zx, k = _read_varint(fb, k)
                    zy, k = _read_varint(fb, k)
                    px, py = _unzigzag(zx), _unzigzag(zy)
                    k = end
                else:
                    raise ValueError("unexpected feature field")
            feats.append(
                {"id": fid, "type": gtype, "px": px, "py": py,
                 "props": props}
            )
        layers[name] = {"version": version, "extent": extent,
                        "features": feats}
    return layers


def _decode_value(payload: bytes):
    t, i = _read_varint(payload, 0)
    field, wire = t >> 3, t & 0x7
    if field == 1:
        ln, i = _read_varint(payload, i)
        return payload[i : i + ln].decode("utf-8")
    if field == 3:
        return struct.unpack_from("<d", payload, i)[0]
    if field == 4:
        v, _ = _read_varint(payload, i)
        return v - (1 << 64) if v >= (1 << 63) else v
    if field == 7:
        v, _ = _read_varint(payload, i)
        return bool(v)
    raise ValueError(f"unsupported Value field {field}")


# ---------------------------------------------------------------------------
# PMTiles v3: Hilbert tile ids + directory encoding + header
# ---------------------------------------------------------------------------


def hilbert_tid(z: int, x: int, y: int) -> int:
    """PMTiles v3 tile id: cumulative count of all tiles above zoom z
    ((4^z - 1) / 3) plus the Hilbert-curve index of (x, y) on the
    2^z x 2^z grid.  Spec examples: (0,0,0)->0, (1,0,0)->1,
    (1,0,1)->2, (1,1,1)->3, (1,1,0)->4."""
    if not (0 <= x < (1 << z) and 0 <= y < (1 << z)):
        raise ValueError(f"tile ({x},{y}) out of range for zoom {z}")
    base = ((1 << (2 * z)) - 1) // 3
    d = 0
    s = (1 << z) >> 1
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:  # rotate quadrant
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return base + d


def _encode_directory(entries: list[tuple[int, int, int, int]]) -> bytes:
    """Root directory: (tile_id, offset, length, run_length) entries,
    sorted by tile_id; varint columns with delta-coded ids and the
    spec's offset-elision rule (0 = previous offset + length)."""
    out = bytearray(_varint(len(entries)))
    last_id = 0
    for tid, _, _, _ in entries:
        out += _varint(tid - last_id)
        last_id = tid
    for _, _, _, rl in entries:
        out += _varint(rl)
    for _, _, ln, _ in entries:
        out += _varint(ln)
    prev_off = prev_len = None
    for _, off, ln, _ in entries:
        if prev_off is not None and off == prev_off + prev_len:
            out += _varint(0)
        else:
            out += _varint(off + 1)
        prev_off, prev_len = off, ln
    return bytes(out)


# Root directories above this many entries are split into leaf
# directories of this many entries (spec: keep the root small enough
# to fetch with the header in one request; 16,384-entry leaves keep
# any single directory fetch bounded at ~10^12-tile scale while the
# root stays tiny — one entry per leaf). Read at call time.
_LEAF_SIZE = 16384


def _build_directories(
    entries: list[tuple[int, int, int, int]],
) -> tuple[bytes, bytes, int]:
    """(gzip'd root dir, concatenated gzip'd leaf dirs, n_leaves).

    Small archives keep every tile entry in the root (n_leaves=0).
    Past ``_LEAF_SIZE`` entries, tile entries are chunked into
    ``_LEAF_SIZE`` leaves and the root holds ONE entry per leaf — the
    spec's run_length=0 pointer form: tile_id = first id covered,
    offset/length = the leaf's byte span in the leaf section."""
    if len(entries) <= _LEAF_SIZE:
        return _gz(_encode_directory(entries)), b"", 0
    root_entries = []
    leaf_bytes = bytearray()
    n_leaves = 0
    for i in range(0, len(entries), _LEAF_SIZE):
        chunk = entries[i : i + _LEAF_SIZE]
        blob = _gz(_encode_directory(chunk))
        root_entries.append((chunk[0][0], len(leaf_bytes), len(blob), 0))
        leaf_bytes += blob
        n_leaves += 1
    return _gz(_encode_directory(root_entries)), bytes(leaf_bytes), n_leaves


def _decode_directory(buf: bytes) -> list[tuple[int, int, int, int]]:
    n, i = _read_varint(buf, 0)
    ids, rls, lens, offs = [], [], [], []
    last = 0
    for _ in range(n):
        d, i = _read_varint(buf, i)
        last += d
        ids.append(last)
    for _ in range(n):
        v, i = _read_varint(buf, i)
        rls.append(v)
    for _ in range(n):
        v, i = _read_varint(buf, i)
        lens.append(v)
    prev_off = prev_len = None
    for k in range(n):
        v, i = _read_varint(buf, i)
        if v == 0:
            off = prev_off + prev_len
        else:
            off = v - 1
        offs.append(off)
        prev_off, prev_len = off, lens[k]
    return list(zip(ids, offs, lens, rls))


_HEADER_FMT = "<7sB" + "QQQQQQQQ" + "QQQ" + "BBBB" + "BB" + "iiii" + "B" + "ii"
# magic, version | root off/len, meta off/len, leaf off/len, data
# off/len | addressed, entries, contents | clustered, internal_comp,
# tile_comp, tile_type | min_z, max_z | bounds e7 x4 | center_z |
# center lon/lat e7  == 127 bytes
assert struct.calcsize(_HEADER_FMT) == 127

_GZIP = 2  # spec compression enum
_MVT = 1  # spec tile type enum


def _gz(data: bytes) -> bytes:
    return gzip.compress(data, compresslevel=6, mtime=0)


# ---------------------------------------------------------------------------
# Spark side: distributed per-tile MVT encode
# ---------------------------------------------------------------------------

_ENC_SCHEMA = StructType(
    [
        StructField("tileid", LongType()),
        StructField("z", IntegerType()),
        StructField("x", IntegerType()),
        StructField("y", IntegerType()),
        StructField("data", BinaryType()),
    ]
)


def mvt_tiles(tile_tbl: DataFrame) -> DataFrame:
    """K3 (artifact half): tile pyramid table -> one gzip'd MVT blob
    per tile, encoded where the tile rows live (mapInPandas; the
    driver never sees feature rows).  Input is ``tiles.tile_table``
    output: (z, x, y, features array<struct>) with features already
    density-dropped, deterministically sorted and carrying their
    in-tile px/py from ``tiles.assign_tiles``, so blob bytes are
    reproducible and no tile math runs here."""

    def encode(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                z, x, y = int(row.z), int(row.x), int(row.y)
                feats = []
                for ft in row.features:
                    d = ft if isinstance(ft, dict) else ft.asDict()
                    feats.append(
                        {
                            "id": int(d["match_id"]),
                            "px": int(d["px"]),
                            "py": int(d["py"]),
                            "props": {
                                "osm_id": d["osm_id"],
                                "overture_id": d["overture_id"],
                                "lon": float(d["lon"]),
                                "lat": float(d["lat"]),
                            },
                        }
                    )
                blob = _gz(mvt_encode_layer(MVT_LAYER, feats))
                out.append((hilbert_tid(z, x, y), z, x, y, blob))
            yield pd.DataFrame(
                out, columns=["tileid", "z", "x", "y", "data"]
            )

    return tile_tbl.mapInPandas(encode, schema=_ENC_SCHEMA)


# ---------------------------------------------------------------------------
# driver side: single-file archive assembly (streaming, bounded)
# ---------------------------------------------------------------------------


def write_pmtiles(tile_tbl: DataFrame, path: str) -> dict:
    """Assemble a vector (MVT) PMTiles v3 archive from a tile
    pyramid table.  See ``_assemble_archive`` for the streaming
    bound."""
    enc = mvt_tiles(tile_tbl)
    meta = {
        "name": "overmatch_spark matches",
        "format": "pbf",
        "vector_layers": [
            {
                "id": MVT_LAYER,
                "fields": {
                    "osm_id": "Number",
                    "overture_id": "String",
                    "lon": "Number",
                    "lat": "Number",
                },
            }
        ],
    }
    return _assemble_archive(
        enc, path, tile_type=_MVT, tile_compression=_GZIP, metadata=meta
    )


def _assemble_archive(
    enc: DataFrame,
    path: str,
    tile_type: int,
    tile_compression: int,
    metadata: dict,
) -> dict:
    """Assemble a PMTiles v3 archive from an encoded-tile DataFrame
    (tileid, z, x, y, data) — data bytes already tile-compressed (or
    self-compressed, e.g. PNG, with tile_compression=1/none).

    The driver orders the archive; Spark does not sort. Rows stream
    in via ``toLocalIterator`` in any order: each distinct blob is
    spooled once, each tile leaves one index tuple (tileid, spool
    offset, length, z, x, y). The sorted index assigns data offsets
    in tile-id order (a repeated blob points at its first copy: spec
    content dedup, addressed tiles > tile contents), and the data
    section copies the stored blobs from the spool in that order.
    Driver memory: one index tuple per tile, one digest per distinct
    blob and one blob at a time, never the pyramid. Returns the
    header summary for receipts/tests."""
    index: list[tuple[int, int, int, int, int, int]] = []
    spooled: dict[bytes, int] = {}  # sha256 -> spool offset
    tmp = path + ".tiledata.tmp"
    # the spool must not survive ANY failure (task loss inside
    # toLocalIterator, directory-build errors) — multi-GB orphan
    # spools would otherwise accumulate on the driver disk
    try:
        with open(tmp, "wb") as spool:
            for row in enc.toLocalIterator():
                blob = bytes(row.data)
                h = hashlib.sha256(blob).digest()
                if h not in spooled:
                    spooled[h] = spool.tell()
                    spool.write(blob)
                index.append((int(row.tileid), spooled[h], len(blob),
                              int(row.z), int(row.x), int(row.y)))
        if not index:
            raise ValueError("empty tile pyramid — nothing to archive")
        index.sort()
        entries: list[tuple[int, int, int, int]] = []  # id, off, len, runlen
        # spool offset -> (data offset, length), in tile-id order
        placed: dict[int, tuple[int, int]] = {}
        off = 0
        for tid, so, ln, *_ in index:
            if so not in placed:
                placed[so] = (off, ln)
                off += ln
            entries.append((tid, placed[so][0], ln, 1))

        # geographic bounds from the max-zoom tile envelope
        zs = [t[3] for t in index]
        min_z, max_z = min(zs), max(zs)
        xs, ys = zip(*(t[4:] for t in index if t[3] == max_z))
        n = 1 << max_z

        def lon_of(tx: float) -> float:
            return tx / n * 360.0 - 180.0

        def lat_of(ty: float) -> float:
            return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * ty / n))))

        b_minlon, b_maxlon = lon_of(min(xs)), lon_of(max(xs) + 1)
        b_minlat, b_maxlat = lat_of(max(ys) + 1), lat_of(min(ys))

        root, leaves, n_leaves = _build_directories(entries)
        metadata = dict(metadata)
        for layer_meta in metadata.get("vector_layers", []):
            layer_meta.setdefault("minzoom", min_z)
            layer_meta.setdefault("maxzoom", max_z)
        meta = _gz(json.dumps(metadata, sort_keys=True).encode("utf-8"))
        root_off = 127
        meta_off = root_off + len(root)
        leaf_off = meta_off + len(meta)
        data_off = leaf_off + len(leaves)
        header = struct.pack(
            _HEADER_FMT,
            b"PMTiles",
            3,
            root_off,
            len(root),
            meta_off,
            len(meta),
            leaf_off,
            len(leaves),
            data_off,
            off,
            len(entries),  # addressed tiles (run lengths are all 1)
            len(entries),  # tile entries
            len(placed),  # tile contents (deduped blobs)
            1,  # clustered: written in ascending tileid order
            _GZIP,
            tile_compression,
            tile_type,
            min_z,
            max_z,
            int(b_minlon * 1e7),
            int(b_minlat * 1e7),
            int(b_maxlon * 1e7),
            int(b_maxlat * 1e7),
            min_z,
            int((b_minlon + b_maxlon) / 2 * 1e7),
            int((b_minlat + b_maxlat) / 2 * 1e7),
        )
        with open(path, "wb") as f:
            f.write(header)
            f.write(root)
            f.write(meta)
            f.write(leaves)
            with open(tmp, "rb") as spool:
                for so, (_, ln) in placed.items():
                    spool.seek(so)
                    f.write(spool.read(ln))
        return {
            "path": path,
            "tiles": len(entries),
            "contents": len(placed),
            "leaf_dirs": n_leaves,
            "bytes": 127 + len(root) + len(meta) + len(leaves) + off,
            "min_zoom": min_z,
            "max_zoom": max_z,
            "bounds": [b_minlon, b_minlat, b_maxlon, b_maxlat],
        }
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def matches_to_pmtiles(
    matches: DataFrame,
    path: str,
    zooms: tuple | None = None,
    max_per_tile: int = 100_000,
    num_partitions: int | None = None,
) -> dict:
    """One-call glue: conflation matches (osm_id, overture_id, lon,
    lat, ...) -> stable ids -> multi-zoom assignment -> density drop
    -> tile table -> PMTiles v3 archive.  ``zooms=None`` picks the
    top zoom from the feature count (W4, tippecanoe ``-zg``) and
    emits even zooms from 10 up to it."""
    from overmatch_spark.operators.tiles import (
        assign_match_ids,
        assign_tiles,
        auto_max_zoom,
        density_drop,
        tile_table,
    )

    m = matches.select("osm_id", "overture_id", "lon", "lat")
    if zooms is None:
        zooms = tuple(range(10, auto_max_zoom(m) + 1, 2))
    ids = assign_match_ids(m, num_partitions=num_partitions)
    kept = density_drop(assign_tiles(ids, zooms=zooms), max_per_tile)
    return write_pmtiles(tile_table(kept), path)


class PMTilesReader:
    """Spec-driven reader for roundtrip tests: root directory plus
    one level of leaf directories (run_length=0 pointer entries),
    matching what the writer emits."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            raw = f.read()
        h = struct.unpack_from(_HEADER_FMT, raw, 0)
        if h[0] != b"PMTiles" or h[1] != 3:
            raise ValueError("not a PMTiles v3 archive")
        (
            _,
            _,
            root_off,
            root_len,
            meta_off,
            meta_len,
            _leaf_off,
            leaf_len,
            data_off,
            data_len,
            self.addressed,
            self.n_entries,
            self.n_contents,
            self.clustered,
            internal_comp,
            tile_comp,
            self.tile_type,
            self.min_zoom,
            self.max_zoom,
            *rest,
        ) = h
        if internal_comp != _GZIP or tile_comp not in (1, _GZIP):
            raise ValueError("unsupported compression")
        self.tile_compression = tile_comp
        self._leaf_off, self._leaf_len = _leaf_off, leaf_len
        self.bounds = [v / 1e7 for v in rest[:4]]
        self._data_off, self._data_len = data_off, data_len
        self.entries = _decode_directory(
            gzip.decompress(raw[root_off : root_off + root_len])
        )
        self.metadata = json.loads(
            gzip.decompress(raw[meta_off : meta_off + meta_len])
        )
        self._raw = raw
        # lookup acceleration: the root key list once (not per get_tile)
        # and decoded leaf directories memoized by leaf offset — a full
        # pyramid scan is O(n log n) instead of O(n^2) + re-gunzip
        self._root_keys = [e[0] for e in self.entries]
        self._leaf_cache: dict[int, tuple[list, list]] = {}

    def iter_tile_entries(self):
        """Yield every TILE entry (tile_id, offset, length,
        run_length) — transparently expanding leaf pointers."""
        for e in self.entries:
            if e[3] == 0:
                yield from self._leaf(e[1], e[2])[0]
            else:
                yield e

    def _find(self, entries, tid, keys):
        """Spec search: the last entry with id <= tid governs tid —
        a run_length>=1 entry matches if tid falls in its run; a
        run_length==0 entry is a leaf pointer that covers everything
        up to the next root entry.  ``keys`` is the precomputed
        sorted id list (built once per directory, not per lookup)."""
        import bisect

        i = bisect.bisect_right(keys, tid) - 1
        if i < 0:
            return None
        eid, off, ln, rl = entries[i]
        if rl == 0:
            return entries[i]
        return entries[i] if eid <= tid < eid + rl else None

    def _leaf(self, loff: int, lln: int) -> tuple[list, list]:
        """Decode (and memoize) the leaf directory at data offset
        ``loff`` — repeated hits on the same leaf cost one dict get,
        not a gunzip + full varint decode."""
        hit = self._leaf_cache.get(loff)
        if hit is None:
            entries = _decode_directory(
                gzip.decompress(
                    self._raw[
                        self._leaf_off + loff : self._leaf_off + loff + lln
                    ]
                )
            )
            hit = (entries, [e[0] for e in entries])
            self._leaf_cache[loff] = hit
        return hit

    def get_tile(self, z: int, x: int, y: int) -> dict | bytes | None:
        """MVT archives: decoded layer dict.  Other tile types (e.g.
        png): the tile-decompressed raw bytes."""
        tid = hilbert_tid(z, x, y)
        hit = self._find(self.entries, tid, self._root_keys)
        if hit is not None and hit[3] == 0:  # leaf pointer
            _, loff, lln, _ = hit
            leaf, leaf_keys = self._leaf(loff, lln)
            hit = self._find(leaf, tid, leaf_keys)
            if hit is not None and hit[3] == 0:
                raise ValueError("nested leaf directories unsupported")
        if hit is None:
            return None
        _, off, ln, _ = hit
        blob = self._raw[self._data_off + off : self._data_off + off + ln]
        if self.tile_compression == _GZIP:
            blob = gzip.decompress(blob)
        if self.tile_type == _MVT:
            return mvt_decode(blob)
        return blob
