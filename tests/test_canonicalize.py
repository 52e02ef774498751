"""Canonicalization plan (P1–P4, U1) + standardize + dedup-load (K2) —
end-to-end over a raw-zone fixture modeled on FIXTURES.md §1-2."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.plans.canonicalize import (
    canonicalize,
    run_pipeline,
    standardize,
)
from nashville_etl_service_backup_spark.plans.load import dedup_new_rows
from nashville_etl_service_backup_spark.schemas import EVENT_FIELDS


def _raw(spark, rows):
    data = [(i, s, json.dumps(p)) for i, (s, p) in enumerate(rows)]
    return spark.createDataFrame(
        data, "id long, source_spider string, raw_json string"
    )


@pytest.fixture(scope="module")
def raw_zone(spark):
    rows = [
        ("ticketmaster", {"name": "Jazz Night", "url": "https://tm/1",
                          "venue_name": "Ryman", "venue_address": "1 Main",
                          "event_date": "2025-06-14 19:30:00",
                          "latitude": "36.16", "longitude": "-86.78"}),
        ("ticketmaster", {"name": "No Venue Gig", "url": "https://tm/2"}),  # dropped
        ("yelp", {"name": "Hot Chicken Shack", "venue_address": "2 Main",
                  "url": "https://yelp/1", "category": "restaurants",
                  "latitude": "bad", "longitude": ""}),
        ("nashville_arcgis", {"name": "Shelby Park", "venue_address": "3 Main",
                              "url": "https://arcgis/1",
                              "category": "public_park"}),
        ("google_places", {"name": "Art Museum", "url": "https://g/1"}),
        ("seatgeek", {"name": "Big Game", "venue_name": "Stadium",
                      "url": "https://sg/1",
                      "event_date": "2025-07-01T18:00:00"}),
        ("underdog", {"name": "Indie Show", "venue_name": "Underdog hall",
                      "url": "https://ud/1",
                      "event_date": "June 14, 2025 | 7:30PM CDT",
                      "price": "$15"}),
        ("manual_upload_pdf", {"name": "PDF Event", "url": "pdf://x/1"}),
        ("manual_upload_pdf", {"name": "No URL PDF"}),  # dropped (url gate)
        ("document_upload_csv", {"name": "CSV Event", "url": "doc://1",
                                 "category": "street_fair"}),
        ("mystery_source", {"name": "Ignored", "url": "https://m/1"}),  # unrouted
        ("ticketmaster", {"name": "Jazz Night dup", "url": "https://tm/1",
                          "venue_name": "Ryman"}),  # same url → deduped
    ]
    return _raw(spark, rows)


def test_canonicalize_projection_and_gates(raw_zone):
    out = canonicalize(raw_zone)
    collected = out.collect()
    rows = {}
    for r in collected:  # first occurrence wins (no dedup at this stage)
        rows.setdefault(r.url, r)
    # validity gates: missing venue (tm), missing url (pdf) dropped;
    # unknown source unrouted (P4 warn+skip)
    assert "https://tm/2" not in rows and "https://m/1" not in rows
    # both url-duplicate rows survive canonicalize (dedup happens at load)
    assert sum(1 for r in collected if r.url == "https://tm/1") == 2
    # defaults + title-casing per source
    assert rows["https://yelp/1"].category == "Restaurants"
    assert rows["https://yelp/1"].venue_name == "Hot Chicken Shack"  # venue=name
    assert rows["https://arcgis/1"].category == "Public Park"  # F11
    assert rows["https://arcgis/1"].source == "Nashville ArcGIS"
    assert rows["https://g/1"].category == "Attraction"
    assert rows["doc://1"].source == "Document Upload (CSV)"
    assert rows["doc://1"].category == "Street Fair"
    assert rows["pdf://x/1"].source == "PDF Upload (Structured)"
    assert rows["https://ud/1"].source == "Underdog Venue"  # P3 map
    # F10 casts: bad/empty coords → null
    assert rows["https://yelp/1"].latitude is None
    assert rows["https://tm/1"].latitude == 36.16


def test_standardize_stage(raw_zone):
    out = standardize(canonicalize(raw_zone), now_year=2025)
    assert out.columns == EVENT_FIELDS
    rows = {}
    for r in out.collect():  # first occurrence wins (duplicates still present)
        rows.setdefault(r.url, r)
    assert rows["https://tm/1"].event_date == "2025-06-14T19:30:00"  # F1
    assert rows["https://ud/1"].event_date == "2025-06-14T19:30:00-05:00"  # F3
    assert rows["https://ud/1"].price == 15.0  # F6
    assert rows["https://ud/1"].venue_name == "Underdog"  # F5 strips 'hall'
    # trust gate: arcgis category kept, underdog recategorized
    assert rows["https://arcgis/1"].category == "Public Park"
    assert rows["https://ud/1"].category == "music"


def test_run_pipeline_dedups_on_url(raw_zone):
    out = run_pipeline(raw_zone, now_year=2025)
    urls = [r.url for r in out.select("url").collect()]
    assert len(urls) == len(set(urls))
    assert out.count() == 8


def test_run_pipeline_expression_cache_keys_on_now_year(spark):
    """The cached standardize expressions are keyed on now_year: the
    nashville.com branch injects it into the parsed date."""
    raw = _raw(spark, [
        ("nashville.com-events", {"name": "Fall Fest", "url": "https://n/1",
                                  "venue_name": "Park",
                                  "event_date": "October 2 @ 8:00 pm"}),
    ])
    d24 = run_pipeline(raw, now_year=2024).collect()[0].event_date
    d25 = run_pipeline(raw, now_year=2025).collect()[0].event_date
    assert d24.startswith("2024-10-02T20:00:00")
    assert d25.startswith("2025-10-02T20:00:00")


def test_run_pipeline_repeat_calls_identical(raw_zone):
    """A second call reuses the cached expressions (no new build) and
    returns the same rows."""
    from nashville_etl_service_backup_spark.plans import canonicalize as C

    first = run_pipeline(raw_zone, now_year=2025).collect()
    misses = (C._dispatch_exprs.cache_info().misses,
              C._standardize_exprs.cache_info().misses)
    second = run_pipeline(raw_zone, now_year=2025).collect()
    assert (C._dispatch_exprs.cache_info().misses,
            C._standardize_exprs.cache_info().misses) == misses
    assert sorted(second, key=lambda r: r.url) == sorted(first, key=lambda r: r.url)


def test_dedup_new_rows_anti_join(spark, raw_zone):
    batch = run_pipeline(raw_zone, now_year=2025)
    existing = batch.filter(F.col("url").isin("https://tm/1", "https://sg/1"))
    fresh = dedup_new_rows(batch, existing)
    assert fresh.count() == batch.count() - 2
    # replay idempotence (T4): loading the same batch twice adds nothing
    assert dedup_new_rows(batch, batch).count() == 0


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """K5 sibling: ORC export/scan round-trips values and the scan gets
    predicate pushdown + column pruning like parquet."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.plans.load import (
        export_orc,
        scan_orc,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("name"),
    )
    path = str(tmp_path / "orc_out")
    export_orc(df, path)
    back = scan_orc(spark, path)
    assert back.count() == 1000
    got = back.filter(F.col("k") == 3).select("id").orderBy("id")
    assert [r["id"] for r in got.limit(3).collect()] == [3, 10, 17]
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(jmode)
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan
    assert "name" not in plan  # column pruning reached the ORC scan
