"""The Active911 alert→GeoJSON-feature transform (SURVEY.md §2 O-9…O-20).

Pure DataFrame logic: ``alerts_df`` (24 string columns, the reference's
OutputSchema task.ts:18-43) → ``features_df`` (nested GeoJSON features,
task.ts:214-231). Everything is built-in Column expressions; the only
shuffle is the response-dedup aggregation (O-19), keyed by alert id.

At 100 TB the per-alert work (coordinate fallback, regex extraction,
templating) is a single narrow WholeStageCodegen stage; the dedup shuffles
only (alert_id, callsign, small structs) — not the wide alert rows, which
are re-joined by id afterwards (broadcast-free sort-merge on the same key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_active911_spark.functions.timeparse import parse_alert_time

#: Reference OutputSchema (task.ts:18-43): 24 columns, all strings.
ALERT_COLUMNS = [
    "id", "received", "sent", "priority", "description", "details",
    "external_data", "place", "address", "unit", "cross_street", "city",
    "state", "lat", "lon", "coordinate_source", "source", "units",
    "cad_code", "map_code", "map_id", "alert_key", "messages", "responses",
]

ALERTS_SCHEMA = T.StructType([T.StructField(c, T.StringType()) for c in ALERT_COLUMNS])

#: FIXTURES.md §A.4 / task.ts:214-231 — the nested GeoJSON feature schema.
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField(
            "properties",
            T.StructType(
                [
                    T.StructField("callsign", T.StringType()),
                    T.StructField("start", T.TimestampType()),
                    T.StructField(
                        "links",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("relation", T.StringType()),
                                    T.StructField("callsign", T.StringType()),
                                    T.StructField("remarks", T.StringType()),
                                    T.StructField("production_time", T.TimestampType()),
                                ]
                            )
                        ),
                    ),
                    T.StructField("remarks", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "geometry",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("coordinates", T.ArrayType(T.DoubleType())),
                ]
            ),
        ),
    ]
)


def input_schema() -> T.StructType:
    """Schema-discovery entry point (reference ``schema(SchemaType.Input)``,
    task.ts:83-96): the 24-string-column alert input."""
    return ALERTS_SCHEMA


def output_schema() -> T.StructType:
    """Schema-discovery entry point (``schema(SchemaType.Output)``): the
    nested GeoJSON feature output."""
    return FEATURES_SCHEMA

#: task.ts:121 — response-log line parser (non-greedy groups, unanchored).
RESPONSE_REGEX = r"Got a response of (.+?) to (.+?)\((\d+)\) at (.+?)\."
RESPONSE_PREFIX = "Got a response of "

#: task.ts:221-226 — template literal whitespace, byte-exact.
_REMARKS_INDENT = " " * 32
_REMARKS_TAIL = " " * 28


def js_number(col: Column) -> Column:
    """JS ``Number(str)`` semantics used at task.ts:172-181: empty/blank
    string → 0.0; unparseable → NULL (the Column stand-in for JS NaN —
    callers must treat NULL exactly as JS treats NaN: NaN !== 0, and
    ``isNaN`` checks map to IS NULL)."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0.0)).otherwise(t.try_cast("double"))


def _coordinate_cols() -> tuple[Column, Column, Column]:
    """O-10 as ``(keep, lon, lat)`` Columns, shared by
    ``resolve_coordinates`` and ``to_features``. Memoized per application
    (rule 35): a fixed tree over the named alert columns."""
    from etl_active911_spark.plans.cache import memo_cols

    return memo_cols("active911.coordinates", _build_coordinate_cols)


def _build_coordinate_cols() -> tuple[Column, Column, Column]:
    lon0 = js_number(F.col("lon"))
    lat0 = js_number(F.col("lat"))
    # NULL (NaN) comparisons yield NULL → coalesce to False, matching
    # JS `NaN === 0` being false (task.ts:172).
    needs_fallback = F.coalesce((lon0 == 0) | (lat0 == 0), F.lit(False))

    coords = F.slice(F.split(F.trim(F.col("place")), ","), 1, 2)
    place_lat = js_number(F.element_at(coords, 1))
    place_lon = js_number(F.try_element_at(coords, F.lit(2)))
    fallback_ok = (F.size(coords) == 2) & place_lat.isNotNull() & place_lon.isNotNull()
    return (
        ~needs_fallback | fallback_ok,
        F.when(needs_fallback, place_lon).otherwise(lon0),
        F.when(needs_fallback, place_lat).otherwise(lat0),
    )


def resolve_coordinates(alerts: DataFrame) -> DataFrame:
    """O-10 (task.ts:172-185): if Number(lon)===0 or Number(lat)===0, fall
    back to parsing ``place`` as 'lat,lon' (note the swap: place is
    lat-first, output is lon-first); drop the row when the fallback is
    invalid. NaN is NOT === 0, so rows whose lat/lon are non-blank but
    unparseable skip the fallback and are KEPT with NULL (JS NaN)
    coordinates — the reference emits those features with NaN geometry
    (ADVICE r01 alignment; previously we dropped them).

    Emits ``lon_d``/``lat_d`` double columns next to the original strings.
    """
    keep, lon, lat = _coordinate_cols()
    # One filter + one select (not chained withColumns): every chained
    # withColumn re-analyzes the whole plan driver-side — 6 passes over
    # the fixture plan cost ~0.3 s per invocation (r14 a911 anchor
    # attribution, BASELINE.md r14). Catalyst collapses the projections
    # identically either way; only the build cost differs.
    return alerts.filter(keep).select("*", lon.alias("lon_d"), lat.alias("lat_d"))


def extract_responses(alerts: DataFrame, time_as_iso: bool = False) -> DataFrame:
    """O-13/O-14 (task.ts:195-209): split the responses log into lines,
    keep 'Got a response of ' lines, extract (remarks, callsign, device_id,
    time) via regex; unmatched lines yield the 'Unknown' sentinel.

    Returns one row per response line: (id, pos, link_callsign,
    link_remarks, device_id, production_time). ``time_as_iso`` emits the
    reference's ISO-string form (session-tz-independent) instead of a
    timestamp — used by the oracle-checked flat queries.
    """
    from etl_active911_spark.functions.timeparse import parse_alert_time_iso

    time_fn = parse_alert_time_iso if time_as_iso else parse_alert_time

    lines = alerts.select(
        "id",
        F.posexplode(F.split(F.col("responses"), "\n")).alias("pos", "line"),
    ).filter(F.col("line").startswith(RESPONSE_PREFIX))

    matched = F.col("line").rlike(RESPONSE_REGEX)
    g = lambda i: F.regexp_extract(F.col("line"), RESPONSE_REGEX, i)  # noqa: E731
    return lines.select(
        "id",
        "pos",
        F.when(matched, F.trim(g(2))).otherwise(F.lit("Unknown")).alias("link_callsign"),
        F.when(matched, F.trim(g(1))).otherwise(F.lit("Unknown")).alias("link_remarks"),
        F.when(matched, g(3)).alias("device_id"),
        F.when(matched, time_fn(F.trim(g(4)))).alias("production_time"),
    )


def dedupe_links(responses: DataFrame) -> DataFrame:
    """O-19/O-20 (task.ts:187-209,220): last-wins dedup per (id, callsign)
    — ``Map.set`` overwrites values but keeps first-insertion key order, so
    the surviving link carries the LAST occurrence's fields at the FIRST
    occurrence's position. One aggregation, shuffle keyed by (id, callsign).
    """
    return responses.groupBy("id", "link_callsign").agg(
        F.min("pos").alias("first_pos"),
        F.max_by(
            F.struct("link_remarks", "device_id", "production_time"), "pos"
        ).alias("last"),
    ).select(
        "id",
        "first_pos",
        F.col("link_callsign"),
        F.col("last.link_remarks").alias("link_remarks"),
        F.col("last.device_id").alias("device_id"),
        F.col("last.production_time").alias("production_time"),
    )


def links_array(deduped: DataFrame) -> DataFrame:
    """Re-nest deduped links into the ``links`` array, ordered by first
    occurrence (Map insertion order, task.ts:220)."""
    link_struct = F.struct(
        F.lit("t-s").alias("relation"),
        F.col("link_callsign").alias("callsign"),
        F.col("link_remarks").alias("remarks"),
        F.col("production_time").alias("production_time"),
    )
    return (
        deduped.withColumn("__entry", F.struct(F.col("first_pos"), link_struct.alias("link")))
        .groupBy("id")
        .agg(F.transform(F.array_sort(F.collect_list("__entry")), lambda e: e.link).alias("links"))
    )


def links_array_native(time_as_iso: bool = False) -> Column:
    """O-13/O-14/O-19/O-20 in one shuffle-free Column expression
    (SURVEY.md §7 "semantics-preserving shortcut": ``responses`` never
    leaves its alert row, so dedup can stay inside the row).

    Each 'Got a response of ' line is regex-parsed ONCE into a
    (matched, k, g1, g4) struct, and the parsed array is let-bound
    (``_let``), so every later reference reads a lambda variable instead
    of re-parsing the lines. keys = first-occurrence-ordered distinct k
    (array_distinct preserves first occurrence = Map insertion order,
    task.ts:187-209); each key keeps its LAST parsed line (last-wins),
    and only that survivor's time is parsed, once per link. A NULL
    ``responses`` yields no links, as in the explode formulation.
    """
    from etl_active911_spark.plans.cache import memo_cols

    # Memoized per flag (r14): this tree embeds a full lenient-parse chain
    # per link and costs ~0.18 s of py4j round trips to build; it is a
    # fixed expression over the `responses` column, reusable across plans.
    # Routed through memo_cols (ADVICE r14 item 2) for applicationId-scoped
    # invalidation. Built lazily, never at import (CLAUDE.md rule 15).
    return memo_cols(
        f"active911.links_array:{time_as_iso}",
        lambda: _build_links_array(time_as_iso),
    )


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row. Higher-order
    lambdas get no common-subexpression elimination, so a Column referenced
    k times inside one is evaluated k times; as the variable of a
    one-element ``transform`` every reference is a cheap variable read
    (CLAUDE.md rule 39)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _build_links_array(time_as_iso: bool) -> Column:
    from etl_active911_spark.functions.timeparse import (
        parse_alert_time_iso,
        parse_alert_time_ntz,
        utc_instant,
    )

    def time_of(s: Column) -> Column:
        if time_as_iso:
            return parse_alert_time_iso(s)
        # parse_alert_time reads its parsed wall clock once per field
        return _let(parse_alert_time_ntz(s), utc_instant)

    lines = F.filter(
        F.split(F.coalesce(F.col("responses"), F.lit("")), "\n"),
        lambda l: l.startswith(RESPONSE_PREFIX),
    )
    # The single regex pass per line. Group 2 is `(.+?)`, non-empty on
    # every match, so `g2 != ''` is the match test without a fourth regex.
    g = lambda l, i: F.regexp_extract(l, RESPONSE_REGEX, i)  # noqa: E731
    parsed = F.transform(
        lines, lambda l: F.struct(g(l, 1).alias("g1"), g(l, 2).alias("g2"), g(l, 4).alias("g4"))
    )
    keyed = F.transform(
        parsed,
        lambda p: F.struct(
            (p.g2 != "").alias("matched"),
            F.when(p.g2 != "", F.trim(p.g2)).otherwise(F.lit("Unknown")).alias("k"),
            p.g1.alias("g1"),
            p.g4.alias("g4"),
        ),
    )

    def link_of(p: Column) -> Column:
        return F.struct(
            F.lit("t-s").alias("relation"),
            p.k.alias("callsign"),
            F.when(p.matched, F.trim(p.g1)).otherwise(F.lit("Unknown")).alias("remarks"),
            F.when(p.matched, time_of(F.trim(p.g4))).alias("production_time"),
        )

    def links_of(ks: Column) -> Column:
        keys = F.array_distinct(F.transform(ks, lambda p: p.k))
        last = F.transform(keys, lambda k: F.element_at(F.filter(ks, lambda p: p.k == k), -1))
        return F.transform(last, link_of)

    return _let(keyed, links_of)


def alert_remarks() -> Column:
    """O-16 (task.ts:221-226): the remarks template literal, byte-exact
    (leading newline, 32-space indents, 28-space tail)."""
    return F.concat(
        F.lit("\n" + _REMARKS_INDENT + "Groups: "), F.col("units"),
        F.lit("\n" + _REMARKS_INDENT + "Author: "), F.col("source"),
        F.lit("\n" + _REMARKS_INDENT), F.col("details"),
        F.lit("\n" + _REMARKS_TAIL),
    )


def _feature_cols(links: Column, lon: Column, lat: Column) -> list[Column]:
    """The nested Feature projection (task.ts:214-231)."""
    return [
        F.concat(F.lit("active911-"), F.col("id")).alias("id"),
        F.lit("Feature").alias("type"),
        F.struct(
            F.col("description").alias("callsign"),
            parse_alert_time(F.col("sent")).alias("start"),
            links.alias("links"),
            alert_remarks().alias("remarks"),
        ).alias("properties"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(lon, lat).alias("coordinates"),
        ).alias("geometry"),
    ]


def _native_feature_cols() -> tuple[Column, list[Column]]:
    keep, lon, lat = _coordinate_cols()
    return keep, _feature_cols(links_array_native(), lon, lat)


def to_features(alerts: DataFrame, array_native: bool = True) -> DataFrame:
    """Full O-9…O-20 pipeline: alerts (24 string cols) → GeoJSON features
    (task.ts:214-231). Returns one row per feature, nested struct schema
    matching FIXTURES.md §A.4.

    ``array_native=True`` (default) computes links inside each row — the
    whole pipeline is then one narrow stage with ZERO shuffles, built as
    one filter and one select whose Columns are memoized per application
    (rule 35; a reused alias still gets a fresh exprId in each plan). The
    explode+aggregate formulation (``array_native=False``) produces
    identical results (asserted in tests) and exists because its exploded
    intermediates are what the flat oracle queries check.
    """
    if array_native:
        from etl_active911_spark.plans.cache import memo_cols

        keep, cols = memo_cols("active911.features", _native_feature_cols)
        return alerts.filter(keep).select(*cols)
    links = links_array(dedupe_links(extract_responses(alerts)))
    no_links = F.array().cast(
        "array<struct<relation:string,callsign:string,remarks:string,production_time:timestamp>>"
    )
    return resolve_coordinates(alerts).join(links, "id", "left").select(
        *_feature_cols(F.coalesce(F.col("links"), no_links), F.col("lon_d"), F.col("lat_d"))
    )
