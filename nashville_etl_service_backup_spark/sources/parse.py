"""Per-source API-response parsing — the spider `parse_*` callbacks
(S2, S3/S4/S5 parse halves, S7/S8) as pure DataFrame projections.

Each function takes a DataFrame with one raw API record per row (a
`json` string column — the shape `fetch_paged` returns after flattening
the response's record array) and projects it onto BusinessItem fields
with `from_json` + expressions: nested-path navigation, conditional
description builds, URL synthesis, geometry extraction. No Python row
loops — at 100 TB these are narrow, codegen-friendly passes.

Reference parity, per function docstring. Documented divergences:
- Python truthiness gates (e.g. `if item['latitude']` treating 0.0 as
  missing) become NULL checks — 0.0 is a valid coordinate nowhere near
  the Nashville extent.
- Python float repr inside synthesized URLs (f"{lat},{lng}") becomes
  JVM %s formatting; both print shortest-roundtrip decimals for these
  values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nashville_etl_service_backup_spark.functions.geo import (
    ring_centroid,
    state_plane_to_wgs84_approx,
    LAT_RANGE,
    LNG_RANGE,
)
from nashville_etl_service_backup_spark.functions.text import truncate_with_ellipsis

# nashville_arcgis.py:21-22
INVALID_STRINGS = ["none", "", "unknown", "n/a", "na", "unnamed", "null"]


def _nn(c: Column) -> Column:
    """Python-truthiness for strings: non-null and non-empty."""
    return c.isNotNull() & (c != "")


# --- S2: Ticketmaster record parse (ticketmaster_spider.py:50-82) -----

TICKETMASTER_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("info", T.StringType()),
        T.StructField("pleaseNote", T.StringType()),
        T.StructField(
            "dates",
            T.StructType(
                [
                    T.StructField(
                        "start",
                        T.StructType(
                            [
                                T.StructField("localDate", T.StringType()),
                                T.StructField("localTime", T.StringType()),
                            ]
                        ),
                    )
                ]
            ),
        ),
        T.StructField(
            "_embedded",
            T.StructType(
                [
                    T.StructField(
                        "venues",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("name", T.StringType()),
                                    T.StructField(
                                        "city",
                                        T.StructType(
                                            [T.StructField("name", T.StringType())]
                                        ),
                                    ),
                                    T.StructField(
                                        "address",
                                        T.StructType(
                                            [T.StructField("line1", T.StringType())]
                                        ),
                                    ),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)


def parse_ticketmaster(df: DataFrame, json_col: str = "json") -> DataFrame:
    """S2 (ticketmaster_spider.py:50-82): project one event JSON →
    BusinessItem; `localDate localTime` concat, `_embedded.venues[0]`
    navigation, drop invalid URLs (:51-54), keep only venues whose city
    contains 'nashville' (:78-82)."""
    e = F.from_json(F.col(json_col), TICKETMASTER_EVENT_SCHEMA)
    v = F.element_at(e["_embedded"]["venues"], 1)
    start = e["dates"]["start"]
    out = df.select(
        F.lit("ticketmaster").alias("source"),
        F.trim(F.coalesce(e["name"], F.lit(""))).alias("name"),
        e["url"].alias("url"),
        e["id"].alias("event_id"),
        # `info or pleaseNote` — Python `or` skips empty strings too
        F.trim(
            F.coalesce(F.nullif(e["info"], F.lit("")), F.nullif(e["pleaseNote"], F.lit("")))
        ).alias("description"),
        F.when(
            start.isNotNull() & start["localDate"].isNotNull(),
            F.trim(
                F.concat_ws(" ", start["localDate"], F.coalesce(start["localTime"], F.lit("")))
            ),
        ).alias("event_date"),
        F.trim(F.coalesce(v["name"], F.lit(""))).alias("venue_name"),
        F.trim(F.coalesce(v["city"]["name"], F.lit(""))).alias("venue_city"),
        F.trim(F.coalesce(v["address"]["line1"], F.lit(""))).alias("venue_address"),
    )
    return out.filter(
        F.col("url").rlike("^http")
        & _nn(F.col("venue_city"))
        & F.lower(F.col("venue_city")).contains("nashville")
    )


# --- S3 parse half: SeatGeek (seatgeek_spider.py:68-87) ---------------

SEATGEEK_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("short_title", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("datetime_utc", T.StringType()),
        T.StructField("datetime_local", T.StringType()),
        T.StructField(
            "venue",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("city", T.StringType()),
                    T.StructField("address", T.StringType()),
                    T.StructField("extended_address", T.StringType()),
                ]
            ),
        ),
    ]
)


def parse_seatgeek(df: DataFrame, json_col: str = "json") -> DataFrame:
    """S3 parse (seatgeek_spider.py:68-87): title fallback, utc/local
    datetime fallback, address = ', '-join of non-empty address +
    extended_address (:81-85)."""
    e = F.from_json(F.col(json_col), SEATGEEK_EVENT_SCHEMA)
    v = e["venue"]
    return df.select(
        F.coalesce(F.nullif(e["title"], F.lit("")), e["short_title"]).alias("name"),
        e["id"].cast("string").alias("event_id"),
        e["url"].alias("url"),
        F.lit("seatgeek").alias("source"),
        e["description"].alias("description"),
        F.coalesce(
            F.nullif(e["datetime_utc"], F.lit("")), e["datetime_local"]
        ).alias("event_date"),
        v["name"].alias("venue_name"),
        v["city"].alias("venue_city"),
        F.when(
            v.isNotNull(),
            F.concat_ws(
                ", ",
                F.nullif(v["address"], F.lit("")),
                F.nullif(v["extended_address"], F.lit("")),
            ),
        ).alias("venue_address"),
    )


# --- S4 parse half: Yelp description build (yelp_spider.py:64-87) -----

YELP_BUSINESS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("rating", T.DoubleType()),
        T.StructField("review_count", T.LongType()),
        T.StructField("price", T.StringType()),
        T.StructField(
            "categories",
            T.ArrayType(T.StructType([T.StructField("title", T.StringType())])),
        ),
        T.StructField("display_phone", T.StringType()),
        T.StructField(
            "location",
            T.StructType(
                [
                    T.StructField("display_address", T.ArrayType(T.StringType())),
                    T.StructField("city", T.StringType()),
                ]
            ),
        ),
    ]
)


def parse_yelp(df: DataFrame, json_col: str = "json") -> DataFrame:
    """S4 parse (yelp_spider.py:64-87): description synthesized from
    rating/reviews/price/categories/phone, ' | '-joined, skipping
    missing parts (concat_ws drops NULLs — same as the Python list
    append-if-truthy)."""
    b = F.from_json(F.col(json_col), YELP_BUSINESS_SCHEMA)
    loc = b["location"]
    parts = [
        F.when(
            b["rating"].isNotNull() & (b["rating"] != 0.0),
            F.format_string("Rating: %s/5", b["rating"]),
        ),
        F.when(
            b["review_count"].isNotNull() & (b["review_count"] != 0),
            F.format_string("Reviews: %s", b["review_count"]),
        ),
        F.when(_nn(b["price"]), F.format_string("Price: %s", b["price"])),
        F.when(
            b["categories"].isNotNull() & (F.size(b["categories"]) > 0),
            F.concat(
                F.lit("Categories: "),
                F.concat_ws(", ", F.transform(b["categories"], lambda c: c["title"])),
            ),
        ),
        F.when(
            _nn(b["display_phone"]),
            F.format_string("Phone: %s", b["display_phone"]),
        ),
    ]
    return df.select(
        b["name"].alias("name"),
        b["url"].alias("url"),
        F.lit("yelp").alias("source"),
        F.when(
            loc["display_address"].isNotNull()
            & (F.size(loc["display_address"]) > 0),
            F.concat_ws(", ", loc["display_address"]),
        ).alias("venue_address"),
        loc["city"].alias("neighborhood"),
        F.concat_ws(" | ", *parts).alias("description"),
    )


# --- S5 parse half: Google Places (google_places_spider.py:58-89) -----

GOOGLE_PLACE_SCHEMA = T.StructType(
    [
        T.StructField(
            "displayName", T.StructType([T.StructField("text", T.StringType())])
        ),
        T.StructField("formattedAddress", T.StringType()),
        T.StructField(
            "location",
            T.StructType(
                [
                    T.StructField("latitude", T.DoubleType()),
                    T.StructField("longitude", T.DoubleType()),
                ]
            ),
        ),
        T.StructField("id", T.StringType()),
        T.StructField("rating", T.DoubleType()),
        T.StructField("userRatingCount", T.LongType()),
    ]
)


def parse_google_places(
    df: DataFrame, place_type_col: str = "place_type", json_col: str = "json"
) -> DataFrame:
    """S5 parse (google_places_spider.py:58-89): maps-search URL from
    lat/lng/place_id, 'Rating: x (n reviews)' description, category =
    the request's place type."""
    p = F.from_json(F.col(json_col), GOOGLE_PLACE_SCHEMA)
    lat = p["location"]["latitude"]
    lng = p["location"]["longitude"]
    place_id = F.regexp_replace(F.coalesce(p["id"], F.lit("")), "places/", "")
    return df.select(
        F.lit("google_places").alias("source"),
        F.coalesce(p["displayName"]["text"], F.lit("Unknown")).alias("name"),
        F.coalesce(p["formattedAddress"], F.lit("")).alias("venue_address"),
        F.col(place_type_col).alias("category"),
        lat.alias("latitude"),
        lng.alias("longitude"),
        F.when(
            (F.coalesce(p["displayName"]["text"], F.lit("Unknown")) != "")
            & lat.isNotNull()
            & lng.isNotNull(),
            F.format_string(
                "https://www.google.com/maps/search/?api=1&query=%s,%s&query_place_id=%s",
                lat,
                lng,
                place_id,
            ),
        ).alias("url"),
        F.format_string(
            "Rating: %s (%s reviews)",
            F.coalesce(p["rating"].cast("string"), F.lit("N/A")),
            F.coalesce(p["userRatingCount"], F.lit(0)),
        ).alias("description"),
        F.lit("Nashville").alias("venue_city"),
    )


# --- S7/S8: ArcGIS feature parse (nashville_arcgis.py:104-175) --------

ARCGIS_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "geometry",
            T.StructType(
                [
                    T.StructField("x", T.DoubleType()),
                    T.StructField("y", T.DoubleType()),
                    T.StructField(
                        "rings",
                        T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))),
                    ),
                    T.StructField(
                        "paths",
                        T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))),
                    ),
                ]
            ),
        ),
    ]
)


def _valid_str(c: Column) -> Column:
    """S8 string validity (nashville_arcgis.py:129-138): trimmed, not in
    the junk set."""
    t = F.trim(c)
    return F.when(
        c.isNotNull() & ~F.lower(t).isin(*INVALID_STRINGS), t
    )


def parse_arcgis(
    df: DataFrame,
    dataset_label: str,
    category: str,
    name_field: str,
    address_field: str,
    extra_fields: list[str],
    json_col: str = "json",
) -> DataFrame:
    """S7+S8 (nashville_arcgis.py:104-175) as one projection:

    - geometry extract: point (x,y); polygon → centroid of rings[0] via
      the `aggregate` HOF (A3); polyline → midpoint vertex of paths[0]
    - EPSG:2274→4326 affine transform + [35,37]×[-88,-85] range gate
      (F21); out-of-range or missing → no coordinates
    - name/address validity vs the junk-string set, name ≥ 2 chars
    - description = ' | '-join of dataset label + 'Field: value' pairs
      truncated at 100 chars with ellipsis (F17)
    - maps-search URL from the transformed lat/lng

    Keeps rejected rows with a `reject_reason` column ('no_name' /
    'out_of_range' / 'no_coords') so A4's run-stats tally is one
    groupBy over the same single pass; `.filter(reject_reason IS NULL)`
    yields exactly the reference's emitted items.
    """
    f = F.from_json(F.col(json_col), ARCGIS_FEATURE_SCHEMA)
    attrs, geom = f["attributes"], f["geometry"]
    name = _valid_str(attrs[name_field])
    name = F.when(name.isNotNull() & (F.length(name) >= 2), name)

    # raw state-plane coordinate (x, y) per geometry kind
    ring = F.filter(
        F.element_at(geom["rings"], 1), lambda p: F.size(p) >= 2
    )
    centroid = ring_centroid(ring)
    path = F.element_at(geom["paths"], 1)
    mid = F.element_at(path, (F.size(path) / 2).cast("int") + 1)
    sx = (
        F.when(geom["x"].isNotNull() & geom["y"].isNotNull(), geom["x"])
        .when(
            geom["rings"].isNotNull() & (F.size(geom["rings"]) > 0),
            centroid.getField("x"),
        )
        .when(
            geom["paths"].isNotNull() & (F.size(geom["paths"]) > 0),
            F.when(F.size(mid) >= 2, mid.getItem(0)),
        )
    )
    sy = (
        F.when(geom["x"].isNotNull() & geom["y"].isNotNull(), geom["y"])
        .when(
            geom["rings"].isNotNull() & (F.size(geom["rings"]) > 0),
            centroid.getField("y"),
        )
        .when(
            geom["paths"].isNotNull() & (F.size(geom["paths"]) > 0),
            F.when(F.size(mid) >= 2, mid.getItem(1)),
        )
    )
    lat_r, lng_r = state_plane_to_wgs84_approx(sx, sy)
    in_range = lat_r.between(*LAT_RANGE) & lng_r.between(*LNG_RANGE)
    lat = F.when(in_range, lat_r)
    lng = F.when(in_range, lng_r)

    desc_parts = [F.lit(dataset_label)] + [
        F.when(
            _valid_str(attrs[fld]).isNotNull(),
            F.concat(
                F.lit(f"{fld}: "), truncate_with_ellipsis(F.trim(attrs[fld]), 100)
            ),
        )
        for fld in extra_fields
    ]

    reason = (
        F.when(name.isNull(), "no_name")
        .when(sx.isNotNull() & ~F.coalesce(in_range, F.lit(False)), "out_of_range")
        .when(lat.isNull() | lng.isNull(), "no_coords")
    )
    return df.select(
        F.lit("nashville_arcgis").alias("source"),
        F.lit(category).alias("category"),
        F.lit("Nashville").alias("venue_city"),
        name.alias("name"),
        _valid_str(attrs[address_field]).alias("venue_address"),
        lng.alias("longitude"),
        lat.alias("latitude"),
        F.concat_ws(" | ", *desc_parts).alias("description"),
        F.when(
            in_range,
            F.format_string(
                "https://www.google.com/maps/search/?api=1&query=%s,%s", lat, lng
            ),
        ).alias("url"),
        reason.alias("reject_reason"),
    )


def arcgis_run_stats(parsed: DataFrame) -> DataFrame:
    """A4 (nashville_arcgis.py:41-42,95-99,180-186): total / yielded /
    per-reason reject tallies + yield-rate %, as ONE aggregation over
    the parse pass (the reference's stats_counter dict). The reference
    increments BOTH out_of_range (in _transform_coords) and no_coords
    (in _parse_feature) for an out-of-range feature, so its no_coords
    tally is the superset — mirrored here by counting reject_reason IN
    ('no_coords', 'out_of_range') as no_coords."""
    return parsed.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("reject_reason").isNull()).alias("yielded"),
        F.count_if(F.col("reject_reason") == "no_name").alias("no_name"),
        F.count_if(
            F.col("reject_reason").isin("no_coords", "out_of_range")
        ).alias("no_coords"),
        F.count_if(F.col("reject_reason") == "out_of_range").alias("out_of_range"),
    ).withColumn(
        "yield_rate_pct",
        F.round(
            F.col("yielded") * 100.0 / F.nullif(F.col("total"), F.lit(0)), 1
        ),
    )
