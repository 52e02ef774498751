"""Raw zone → canonical events: the reference's entire transform stage
(transform_data.py:505-556) as ONE lazy DataFrame plan.

The reference loops over every staging row in Python, dispatching to a
per-source transformer function (transform_data.py:526-544). Here the
dispatch is a single `when`-cascade projection over one `from_json`
parse: every per-source difference (source label, venue/date defaults,
category default, validity gate) is a conditional expression keyed on
the dispatch predicate (including the prefix/substring rules). ONE
narrow map over the raw zone — no per-branch re-scan, no union, no
persist — which is the shape that survives 100 TB (a filter-per-branch
union re-reads the staging zone 8× or pins it in cache).

Per-source semantics ported exactly (defaults, title-casing, validity
gates):
- arcgis        transform_data.py:58-88   (name+venue gate, 'Civic Facility')
- ticketmaster  transform_data.py:91-111  (name+venue gate, 'Event')
- yelp          transform_data.py:114-133 (name gate, 'Business', venue=name)
- google_places transform_data.py:136-154 (name gate, 'Attraction', venue=name)
- generic       transform_data.py:157-184 (name gate, 'General', source map)
- seatgeek      transform_data.py:187-206 (name+venue gate, 'Event')
- document      transform_data.py:244-265 (name gate, 'Document Extracted',
                venue coalesces to name, file-type in display source)
- pdf           transform_data.py:484-502 (name+url gate, 'Pdf Extracted')
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.functions.categorize import (
    _combined as _categorize_combined,
    categorize_with_trust_gate,
)
from nashville_etl_service_backup_spark.functions.cleaning import (
    safe_double,
    standardize_price,
    standardize_venue_name,
)
from nashville_etl_service_backup_spark.functions.dates import standardize_date
from nashville_etl_service_backup_spark.schemas import (
    EVENT_FIELDS,
    GENERIC_SOURCE_DISPLAY,
    RAW_ITEM_SCHEMA,
)


def _title(c: Column) -> Column:
    """Python str.title() analog for category values (divergence: initcap
    word-splits on whitespace only; see cleaning.standardize_venue_name)."""
    return F.initcap(c)


def _nonempty(c: Column) -> Column:
    return c.isNotNull() & (c != "")


def parse_raw(raw: DataFrame) -> DataFrame:
    """The bronze parse: one `from_json` over the raw zone. Split out of
    :func:`canonicalize` so the ETL bench can measure the pipeline from
    the parsed-bronze frame separately (the Jackson parse is the
    dominant single stage of q_etl_pipeline — VERDICT r8 Next #2)."""
    return raw.select(
        "source_spider",
        F.from_json("raw_json", RAW_ITEM_SCHEMA).alias("r"),
    )


def canonicalize(raw: DataFrame) -> DataFrame:
    """Dispatch + project: transform_data.py:526-556 as one narrow pass.

    Input: raw zone frame (source_spider string, raw_json string [, id]).
    Output: canonical projection (pre-standardization) with price_raw.

    Rows whose source_spider matches no dispatch rule are dropped
    (the reference warns + skips, transform_data.py:542-544).
    """
    return canonicalize_bronze(parse_raw(raw))


def canonicalize_bronze(parsed: DataFrame) -> DataFrame:
    """Dispatch + project from the PARSED bronze frame (source_spider
    string, r struct<RAW_ITEM_SCHEMA>) — everything in
    :func:`canonicalize` after the from_json."""
    key, projection, valid = _dispatch_exprs(SparkContext._gateway)
    out = parsed.withColumn("_k", key).filter(F.col("_k").isNotNull())
    return out.select(*projection).filter(valid).drop("_k")


@functools.lru_cache(maxsize=4)
def _dispatch_exprs(gateway) -> tuple[Column, tuple[Column | str, ...], Column]:
    """The dispatch key, the canonical projection and the validity
    gate. They name their input columns only, so they fit any parsed
    bronze frame; keyed on the py4j gateway, so no cached Column
    outlives the JVM that holds it."""
    s = F.col("source_spider")
    r = F.col("r")

    # Dispatch key — same predicates (incl. prefix/substring rules) as
    # the reference's elif chain; pdf/manual_upload_* must win over the
    # document substring rules ('manual_upload_csv' is a pdf-path name).
    is_document = (s == "document") | (
        s.contains("csv") | s.contains("xlsx") | s.contains("xls") | s.contains("docx")
    )
    key = (
        F.when(s == "nashville_arcgis", "arcgis")
        .when(s == "ticketmaster", "ticketmaster")
        .when(s == "yelp", "yelp")
        .when(s == "google_places", "google")
        .when(s.isin("generic", *GENERIC_SOURCE_DISPLAY.keys()), "generic")
        .when(s == "seatgeek", "seatgeek")
        .when((s == "pdf") | s.startswith("manual_upload_"), "pdf")
        .when(is_document, "document")
    )

    # generic spider: display source via map with passthrough default
    # (transform_data.py:162-169)
    display = s
    for k, v in GENERIC_SOURCE_DISPLAY.items():
        display = F.when(s == k, F.lit(v)).otherwise(display)
    # document path: file type from spider name (transform_data.py:232-241)
    file_type = (
        F.when(s.contains("csv"), F.lit("CSV"))
        .when(s.contains("xlsx") | s.contains("xls"), F.lit("EXCEL"))
        .when(s.contains("docx"), F.lit("WORD"))
        .otherwise(F.lit("UNKNOWN"))
    )
    source = (
        F.when(F.col("_k") == "arcgis", F.lit("Nashville ArcGIS"))
        .when(F.col("_k") == "ticketmaster", F.lit("Ticketmaster"))
        .when(F.col("_k") == "yelp", F.lit("Yelp"))
        .when(F.col("_k") == "google", F.lit("Google Places"))
        .when(F.col("_k") == "generic", display)
        .when(F.col("_k") == "seatgeek", F.lit("SeatGeek"))
        .when(
            F.col("_k") == "document",
            F.concat(F.lit("Document Upload ("), file_type, F.lit(")")),
        )
        .otherwise(F.lit("PDF Upload (Structured)"))
    )
    # venue: arcgis/yelp/google use the name; document coalesces to it
    venue = (
        F.when(F.col("_k").isin("arcgis", "yelp", "google"), r["name"])
        .when(F.col("_k") == "document", F.coalesce(r["venue_name"], r["name"]))
        .otherwise(r["venue_name"])
    )
    # arcgis/yelp/google have no event date
    date = F.when(
        F.col("_k").isin("arcgis", "yelp", "google"),
        F.lit(None).cast("string"),
    ).otherwise(r["event_date"])
    cat_default = (
        F.when(F.col("_k") == "arcgis", "Civic Facility")
        .when(F.col("_k").isin("ticketmaster", "seatgeek"), "Event")
        .when(F.col("_k") == "yelp", "Business")
        .when(F.col("_k") == "google", "Attraction")
        .when(F.col("_k") == "generic", "General")
        .when(F.col("_k") == "document", "Document Extracted")
        .otherwise("Pdf Extracted")
    )
    cat_raw = F.coalesce(r["category"], cat_default)
    # underscore cleanup only on the arcgis/document/pdf paths
    cat_raw = F.when(
        F.col("_k").isin("arcgis", "document", "pdf"),
        F.regexp_replace(cat_raw, "_", " "),
    ).otherwise(cat_raw)

    projection = (
        "source_spider",
        "_k",
        r["name"].alias("name"),
        r["url"].alias("url"),
        date.alias("event_date"),
        venue.alias("venue_name"),
        r["venue_address"].alias("venue_address"),
        r["description"].alias("description"),
        source.alias("source"),
        _title(cat_raw).alias("category"),
        r["genre"].alias("genre"),
        r["season"].alias("season"),
        safe_double(r["latitude"]).alias("latitude"),
        safe_double(r["longitude"]).alias("longitude"),
        r["price"].alias("price_raw"),
    )
    # validity gates: name always; venue for arcgis/tm/seatgeek; url for pdf
    valid = (
        _nonempty(F.col("name"))
        & F.when(
            F.col("_k").isin("arcgis", "ticketmaster", "seatgeek"),
            _nonempty(F.col("venue_name")),
        )
        .when(F.col("_k") == "pdf", _nonempty(F.col("url")))
        .otherwise(F.lit(True))
    )
    return key, projection, valid


def standardize(canonical: DataFrame, now_year: int | None = None) -> DataFrame:
    """The transformer stage (transformer.py:8-31): standardize dates,
    venue names, prices; categorize with the trusted-source gate. Expects
    canonicalize() output (with source_spider + price_raw)."""
    df = canonical
    for name, c in _standardize_exprs(SparkContext._gateway, now_year):
        df = df.withColumn(name, c)
    return df.select(*EVENT_FIELDS)


@functools.lru_cache(maxsize=8)
def _standardize_exprs(
    gateway, now_year: int | None
) -> tuple[tuple[str, Column], ...]:
    """The standardize stage as (column, expression) steps, applied in
    order, cached like :func:`_dispatch_exprs`. now_year=None stays
    year(current_date()), which is evaluated when the query runs."""
    cat, gen = categorize_with_trust_gate(
        F.col("source_spider"),
        F.col("category"),
        F.col("genre"),
        F.col("name"),
        F.col("description"),
        F.col("venue_name"),
        combined=F.col("_combined"),
    )
    return (
        (
            "event_date",
            standardize_date(F.col("event_date"), F.col("source_spider"), now_year),
        ),
        ("venue_name", standardize_venue_name(F.col("venue_name"))),
        ("price", standardize_price(F.col("price_raw"))),
        # stage the combined lowered text ONCE: the categorize cascade
        # references it once per keyword contains, and CollapseProject
        # keeps the staging projection separate because the alias is
        # expensive and multiply-referenced (the _raw_zone staging device)
        (
            "_combined",
            _categorize_combined(
                F.col("name"), F.col("description"), F.col("venue_name")
            ),
        ),
        ("category", cat),
        ("genre", gen),
    )


def run_pipeline(raw: DataFrame, now_year: int | None = None) -> DataFrame:
    """Full §3.1 transform: canonicalize → within-batch dedup on url
    (K2's ON CONFLICT analog) → standardize.

    Standardize runs AFTER the dedup exchange on purpose: (1) it only
    touches surviving rows (strictly less work at scale), and (2) its
    heavy scalar expressions land in a projection that consumes shuffle
    output, where whole-stage codegen can split generated methods —
    fused directly onto the scan they exceed the JVM's 64 KB method
    limit and force an interpreted fallback. Standardize is
    deterministic per row, so the result is identical either side of
    the dedup.

    Expressions are cached per JVM and now_year (a rebuild is ~4,700 py4j calls)."""
    return standardize(canonicalize(raw).dropDuplicates(["url"]), now_year)


def run_pipeline_from_bronze(
    parsed: DataFrame, now_year: int | None = None
) -> DataFrame:
    """:func:`run_pipeline` minus the from_json parse — consumes the
    parsed bronze frame directly. Same dispatch/dedup/standardize plan;
    exists so the ETL bench can hold a standing number for the
    post-parse pipeline (the parse-cost floor claim is then measurable
    as q_etl_pipeline − q_etl_from_bronze instead of a one-off
    isolation — VERDICT r8 Next #2)."""
    return standardize(
        canonicalize_bronze(parsed).dropDuplicates(["url"]), now_year
    )
