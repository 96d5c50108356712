"""Nested-data / scalar helpers (SURVEY.md F9-F15, K7, W5).

  F9  nested mutate (names.rules := NULL)    match.py:269-272
  F10 update_time repair in sources[]        match.py:278-284
  F11 recursive tag flatten                  enrich_...py:108-126
  F12 recursive float->Decimal coercion      load_matches.py:44-61
  F13 WKT point parse                        get_osm_ids.py:106-113
  F14 OSM id format/parse                    osmHelpers.ts:8-20
  F15 centroid of vertex arrays              get_osm_ids.py:36
  K7  osmChange XML assembly                 xml.ts:5-84
  W5  deterministic shuffle                  osmHelpers.ts:27-34
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from overmatch_spark.operators.dedup import h60

# one real numeric token (sign, decimal, exponent) — serializers
# emit 1e-05 for near-zero coords; the old [-0-9.]+ silently
# NULLed those (and accepted malformed 1.2.3)
_WKT_RE = r"^POINT\s*\(\s*([-+]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][-+]?[0-9]+)?)\s+([-+]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][-+]?[0-9]+)?)\s*\)$"


def null_rules(names: Column) -> Column:
    """F9: names.rules := NULL (struct rebuild via withField)."""
    return names.withField("rules", F.lit(None).cast("string"))


def repair_update_time(sources: Column) -> Column:
    """F10: inside sources array<struct<dataset,update_time>>, rewrite
    update_time values containing '00:00:00.000' ('00.000'->'00Z')."""
    return F.transform(
        sources,
        lambda s: s.withField(
            "update_time",
            F.when(
                s["update_time"].contains("00:00:00.000"),
                F.regexp_replace(s["update_time"], r"00\.000", "00Z"),
            ).otherwise(s["update_time"]),
        ),
    )


def flatten_struct(df: DataFrame, col: str, prefix: str | None = None,
                   sep: str = "_") -> DataFrame:
    """F11: hoist a struct column's fields to top level with
    prefix_child names (one level; recurse by calling again)."""
    prefix = col if prefix is None else prefix
    fields = df.schema[col].dataType.fieldNames()
    out = df
    for f in fields:
        out = out.withColumn(f"{prefix}{sep}{f}", F.col(col)[f])
    return out.drop(col)


def parse_wkt_point(wkt: Column):
    """F13: 'POINT(x y)' -> (lon, lat) doubles; malformed input is
    NULL (try_cast — ANSI CAST would abort the job on the empty
    string a non-matching regexp_extract returns)."""
    lon = F.regexp_extract(wkt, _WKT_RE, 1).try_cast("double")
    lat = F.regexp_extract(wkt, _WKT_RE, 2).try_cast("double")
    return lon, lat


def sql_parse_wkt_point(wkt: str):
    pat = _WKT_RE
    return (
        f"TRY_CAST(regexp_extract({wkt}, '{pat}', 1) AS DOUBLE)",
        f"TRY_CAST(regexp_extract({wkt}, '{pat}', 2) AS DOUBLE)",
    )


def osm_id_format(osm_type: Column, num: Column) -> Column:
    """F14: (type, id) -> 'type/id'."""
    return F.concat_ws("/", osm_type, num.cast("string"))


def osm_id_parse(osm_id: Column):
    parts = F.split(osm_id, "/")
    return parts.getItem(0), parts.getItem(1).cast("long")


def centroid(xs: Column, ys: Column):
    """F15: mean of vertex arrays (left-fold sums / size, matching
    DuckDB list_reduce order for oracle parity)."""
    n = F.size(xs).cast("double")
    sx = F.aggregate(xs, F.lit(0.0), lambda a, v: a + v)
    sy = F.aggregate(ys, F.lit(0.0), lambda a, v: a + v)
    return sx / n, sy / n


def sql_centroid(xs: str, ys: str):
    return (
        f"(list_reduce({xs}, (a, v) -> a + v) / CAST(len({xs}) AS DOUBLE))",
        f"(list_reduce({ys}, (a, v) -> a + v) / CAST(len({ys}) AS DOUBLE))",
    )


def floats_to_decimal(
    df: DataFrame,
    precision: int = 38,
    scale: int = 6,
    cols: list[str] | None = None,
) -> DataFrame:
    """F12: recursively coerce every float/double — at any nesting
    depth inside structs, arrays, and maps — to a fixed-scale
    ``DecimalType(precision, scale)``.

    The reference walks dict/list values converting each float to
    ``Decimal(str(x))`` before a DynamoDB put
    (``api/load_matches.py:44-61``); the Spark-typed equivalent is a
    schema rewrite to DecimalType, which decimal-exact sinks (JDBC
    NUMERIC columns, DynamoDB connectors, Iceberg decimal fields)
    consume natively. Semantics note: ``Decimal(str(x))`` keeps each
    value's own shortest-repr scale, while a Spark column needs ONE
    fixed scale — casts round half-away-from-zero to ``scale`` places
    (matching DuckDB's double->DECIMAL cast, used by the oracle twin).
    Round values to <= ``scale`` places first when byte-exact repr
    parity matters.

    Map-key caveat: distinct double KEYS that round to the same
    decimal at ``scale`` places collide after coercion and Spark
    raises under the default ``spark.sql.mapKeyDedupPolicy=EXCEPTION``
    (the reference's per-value ``Decimal(str(x))`` cannot collide).
    Raise ``scale`` (e.g. 18) for float-keyed maps with near-equal
    keys, or set the dedup policy to LAST_WIN if last-wins is
    acceptable.

    ``cols`` limits the rewrite to the named top-level columns
    (default: all). Non-float leaves and the null-ness of nested
    structs are preserved (struct rewrite uses withField, not a
    rebuild).
    """
    from pyspark.sql import types as T

    dec = T.DecimalType(precision, scale)

    def has_float(dt: T.DataType) -> bool:
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return True
        if isinstance(dt, T.ArrayType):
            return has_float(dt.elementType)
        if isinstance(dt, T.MapType):
            return has_float(dt.keyType) or has_float(dt.valueType)
        if isinstance(dt, T.StructType):
            return any(has_float(f.dataType) for f in dt.fields)
        return False

    def conv(col: Column, dt: T.DataType) -> Column:
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return col.cast(dec)
        if isinstance(dt, T.ArrayType):
            return F.transform(col, lambda e: conv(e, dt.elementType))
        if isinstance(dt, T.MapType):
            keys = F.map_keys(col)
            vals = F.map_values(col)
            if has_float(dt.keyType):
                keys = F.transform(keys, lambda k: conv(k, dt.keyType))
            if has_float(dt.valueType):
                vals = F.transform(vals, lambda v: conv(v, dt.valueType))
            return F.map_from_arrays(keys, vals)
        if isinstance(dt, T.StructType):
            out = col
            for f in dt.fields:
                if has_float(f.dataType):
                    out = out.withField(f.name, conv(col[f.name], f.dataType))
            return out
        return col

    out = df
    for f in df.schema.fields:
        if cols is not None and f.name not in cols:
            continue
        if has_float(f.dataType):
            out = out.withColumn(f.name, conv(F.col(f.name), f.dataType))
    return out


def deterministic_shuffle(df: DataFrame, seed: int, id_col: str) -> DataFrame:
    """W5: reproducible pseudo-random ordering (the reference's seeded
    Fisher-Yates); hash-of-(id, seed) ordering is stable across
    engines and partitionings, unlike rand(seed)."""
    return df.orderBy(h60(F.concat(F.col(id_col), F.lit(f":{seed}"))), F.col(id_col))


def _xml_attr_escape(c: Column) -> Column:
    """XML attribute escaping (&, <, >, \") — the reference gets this
    for free from xmlbuilder2; without it a name like `Bob's "Bar" &
    Grill` emits malformed osmChange. Ampersand first so entities are
    not double-escaped."""
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    return F.replace(c, F.lit('"'), F.lit("&quot;"))


def osm_change_xml(node_id: Column, version: Column, lat: Column,
                   lon: Column, tags: Column) -> Column:
    """K7: an osmChange <modify> block for a node
    (front_end/src/services/xml.ts:5-84). Tag map rendered in sorted
    key order for determinism; keys/values attribute-escaped."""
    tag_xml = F.array_join(
        F.transform(
            F.sort_array(F.map_entries(tags)),
            lambda e: F.concat(
                F.lit('<tag k="'), _xml_attr_escape(e["key"]),
                F.lit('" v="'), _xml_attr_escape(e["value"]),
                F.lit('"/>'),
            ),
        ),
        "",
    )
    return F.concat(
        F.lit('<osmChange version="0.6"><modify><node id="'),
        node_id.cast("string"),
        F.lit('" version="'),
        version.cast("string"),
        F.lit('" lat="'),
        lat.cast("string"),
        F.lit('" lon="'),
        lon.cast("string"),
        F.lit('">'),
        tag_xml,
        F.lit("</node></modify></osmChange>"),
    )
