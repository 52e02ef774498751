"""Load layer (K1/K2/K4/K5): dedup-append and overwrite into the events
sink, the observed written-row count, the job budget of an append, and
the raw-zone / JSON-export helpers."""

from __future__ import annotations

import json

import pytest

from nashville_etl_service_backup_spark.plans.canonicalize import run_pipeline
from nashville_etl_service_backup_spark.plans.load import (
    export_json,
    load_events,
    raw_zone_append,
)
from nashville_etl_service_backup_spark.schemas import EVENT_FIELDS

SCHEMA = "url string, name string"


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _sink(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).select("url", "name").collect())


def test_overwrite_returns_distinct_url_count(spark, tmp_path):
    sink = str(tmp_path / "events")
    batch = _batch(spark, [("u1", "A"), ("u1", "A"), ("u2", "B"), ("u3", "C")])
    assert load_events(spark, batch, sink, mode="overwrite") == 3
    # a second overwrite replaces the sink rather than adding to it
    assert load_events(spark, _batch(spark, [("u9", "Z")]), sink, mode="overwrite") == 1
    assert _sink(spark, sink) == [("u9", "Z")]


def test_append_returns_fresh_rows_and_keeps_existing(spark, tmp_path):
    sink = str(tmp_path / "events")
    load_events(spark, _batch(spark, [("u1", "A"), ("u2", "B")]), sink, mode="overwrite")
    overlap = _batch(spark, [("u2", "B changed"), ("u3", "C"), ("u3", "C")])
    assert load_events(spark, overlap, sink, mode="append") == 1
    assert _sink(spark, sink) == [("u1", "A"), ("u2", "B"), ("u3", "C")]


def test_replayed_and_empty_batches_write_nothing(spark, tmp_path):
    sink = str(tmp_path / "events")
    batch = _batch(spark, [("u1", "A"), ("u2", "B")])
    assert load_events(spark, batch, sink, mode="append") == 2  # cold start
    assert load_events(spark, batch, sink, mode="append") == 0  # replay
    assert load_events(spark, _batch(spark, []), sink, mode="append") == 0
    assert _sink(spark, sink) == [("u1", "A"), ("u2", "B")]


def test_append_to_uri_sink_keeps_existing_rows(spark, tmp_path):
    """A file:// sink is probed through the reader, so the second append
    anti-joins against the first instead of overwriting it."""
    sink = (tmp_path / "uri").as_uri()
    assert load_events(spark, _batch(spark, [("u1", "A")]), sink, mode="append") == 1
    assert load_events(spark, _batch(spark, [("u2", "B"), ("u1", "X")]), sink, mode="append") == 1
    assert _sink(spark, sink) == [("u1", "A"), ("u2", "B")]


def test_append_job_budget(spark, tmp_path):
    """One append: the keys scan, the anti-join and the write, with the
    row count observed on the write — no count or read-back jobs."""
    sink = str(tmp_path / "events")
    load_events(spark, _batch(spark, [("u1", "A"), ("u2", "B")]), sink, mode="overwrite")
    batch = _batch(spark, [("u2", "B"), ("u3", "C")])
    sc = spark.sparkContext
    group = "test-load-append"
    sc.setJobGroup(group, "load_events append")
    try:
        assert load_events(spark, batch, sink, mode="append") == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 6, jobs


def test_load_events_rejects_unknown_mode(spark, tmp_path):
    with pytest.raises(ValueError):
        load_events(spark, _batch(spark, [("u1", "A")]), str(tmp_path / "e"), mode="ignore")


def test_raw_zone_append_round_trip(spark, tmp_path):
    """K1 → transform → K2: items serialized into the raw zone come back
    through run_pipeline and load into the sink."""
    raw = str(tmp_path / "raw")
    tm = spark.createDataFrame(
        [("Jazz Night", "https://tm/1", "Ryman"), ("Blues", "https://tm/2", "Basement")],
        "name string, url string, venue_name string",
    )
    yelp = spark.createDataFrame([("Hot Chicken", "https://yelp/1")], "name string, url string")
    raw_zone_append(tm, "ticketmaster", raw)
    raw_zone_append(yelp, "yelp", raw, start_id=100)
    zone = spark.read.parquet(raw)
    assert sorted(r.source_spider for r in zone.collect()) == ["ticketmaster", "ticketmaster", "yelp"]
    assert json.loads(zone.filter("source_spider = 'yelp'").first().raw_json)["name"] == "Hot Chicken"

    sink = str(tmp_path / "events")
    events = run_pipeline(zone, now_year=2025)
    assert load_events(spark, events, sink, mode="append") == 3
    got = {r.url: r for r in spark.read.parquet(sink).collect()}
    assert got["https://tm/1"].source == "Ticketmaster"
    assert got["https://tm/1"].venue_name == "Ryman"
    assert got["https://yelp/1"].venue_name == "Hot Chicken"
    # re-loading the same raw zone is a no-op (T4 replay)
    assert load_events(spark, run_pipeline(spark.read.parquet(raw), now_year=2025), sink) == 0


def test_export_json_read_back(spark, tmp_path):
    """K5: the JSON export reads back with the same rows and columns."""
    raw = spark.createDataFrame(
        [(0, "yelp", json.dumps({"name": "Cafe", "url": "https://yelp/2"})),
         (1, "seatgeek", json.dumps({"name": "Game", "url": "https://sg/2",
                                      "venue_name": "Stadium"}))],
        "id long, source_spider string, raw_json string",
    )
    events = run_pipeline(raw, now_year=2025)
    path = str(tmp_path / "export")
    export_json(events, path)
    back = spark.read.schema(events.schema).json(path)
    assert back.columns == EVENT_FIELDS
    assert sorted(back.collect(), key=lambda r: r.url) == sorted(
        events.collect(), key=lambda r: r.url
    )
