"""Serving query (reference §3.3): filters, AND-search + rank order,
deterministic pagination, distinct dims, count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.operators.pagination import page_count, paginate
from nashville_etl_service_backup_spark.operators.serving import (
    count_with_filters,
    distinct_values,
    query_events,
)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # name, url, event_date, venue_name, venue_address, description,
        # source, category
        ("Jazz Night", "u1", "2025-01-02T20:00:00", "Ryman", "1 Main",
         "smooth jazz", "Ticketmaster", "Music"),
        ("Rock Show", "u2", "2025-01-01T20:00:00", "Exit In", "2 Main",
         "loud rock", "Ticketmaster", "Music"),
        ("Food Fest", "u3", "2025-01-03T11:00:00", "Park", "3 Main",
         "street food and jazz", "Yelp", "Festival"),
        ("Art Walk", "u4", None, "Gallery", "4 Main",
         "paintings", "Yelp", "Art"),
    ]
    return spark.createDataFrame(
        rows,
        "name string, url string, event_date string, venue_name string, "
        "venue_address string, description string, source string, "
        "category string",
    )


def test_browse_order_nulls_last(events):
    out = query_events(events).collect()
    assert [r.url for r in out] == ["u2", "u1", "u3", "u4"]


def test_source_and_category_filters(events):
    out = query_events(events, source="Ticketmaster").collect()
    assert {r.url for r in out} == {"u1", "u2"}
    out = query_events(events, source="Yelp", category="Festival").collect()
    assert [r.url for r in out] == ["u3"]


def test_search_and_semantics_and_rank(events):
    # AND semantics: both terms must be present
    out = query_events(events, search="jazz food").collect()
    assert [r.url for r in out] == ["u3"]
    # rank: u1 has fewer tokens → higher overlap ratio than u3
    out = query_events(events, search="jazz").collect()
    assert out[0].url == "u1" and {r.url for r in out} == {"u1", "u3"}
    assert out[0].score >= out[1].score


def test_pagination_deterministic(events):
    p1 = query_events(events, page=1, per_page=2).collect()
    p2 = query_events(events, page=2, per_page=2).collect()
    assert [r.url for r in p1] == ["u2", "u1"]
    assert [r.url for r in p2] == ["u3", "u4"]
    p3 = query_events(events, page=3, per_page=2).collect()
    assert p3 == []


def test_distinct_and_count(events):
    dims = [r.source for r in distinct_values(events, "source").collect()]
    assert dims == ["Ticketmaster", "Yelp"]
    total = count_with_filters(events, source="Yelp").collect()[0].total
    assert total == 2


def _dims(spark, tmp_path, values):
    """A parquet sink of ``values`` spread over several files, read back
    the way the page view reads the events sink."""
    path = str(tmp_path / "dims")
    rows = [(v,) for v in values]
    spark.createDataFrame(rows, "v string").repartition(4).write.parquet(path)
    return spark.read.parquet(path)


def test_distinct_values_ascending_without_nulls(spark, tmp_path):
    vals = [f"s{i % 7}" for i in range(60, 0, -1)] + [None] * 5 + ["A", "z"]
    dims = _dims(spark, tmp_path, vals)
    got = [r.v for r in distinct_values(dims, "v").collect()]
    assert got == sorted({v for v in vals if v is not None})


def test_distinct_values_empty_input(spark, tmp_path):
    assert distinct_values(_dims(spark, tmp_path, [None, None]), "v").collect() == []
    empty = spark.createDataFrame([], "v string")
    assert distinct_values(empty, "v").collect() == []


def test_distinct_values_job_budget(spark, tmp_path):
    """One exchange per dropdown: the distinct's shuffle and the
    single-partition sort, no range-partitioner sampling job."""
    dims = _dims(spark, tmp_path, [f"s{i % 5}" for i in range(40)])
    sc = spark.sparkContext
    group = "test-distinct-values"
    sc.setJobGroup(group, "distinct_values")
    try:
        got = [r.v for r in distinct_values(dims, "v").collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == ["s0", "s1", "s2", "s3", "s4"]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2, jobs


@pytest.mark.parametrize("page, per_page", [(0, 25), (-1, 25), (1, 0), (2, -3)])
def test_paginate_rejects_bad_bounds(spark, page, per_page):
    """Pages and page sizes start at 1: page 0 is not an empty page and
    a negative OFFSET is an error, as in the reference's Postgres."""
    df = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        paginate(df, [F.asc("k")], page=page, per_page=per_page)


def _sink(events, tmp_path):
    """``events`` as a several-file parquet sink, read back the way the
    page view reads it."""
    path = str(tmp_path / "events")
    events.repartition(3).write.parquet(path)
    return events.sparkSession.read.parquet(path)


@pytest.mark.parametrize(
    "shape",
    [{}, {"source": "Yelp"}, {"category": "Music"}, {"search": "jazz main smooth"}],
    ids=["browse", "source", "category", "search"],
)
def test_query_events_job_budget(spark, events, tmp_path, shape, request):
    """The page select is one TakeOrderedAndProject: one job per
    collect, no Window and no adaptive plan for AQE to re-plan."""
    sink = _sink(events, tmp_path)
    want = [tuple(r) for r in query_events(events, **shape).collect()]
    page = query_events(sink, **shape)
    sc = spark.sparkContext
    group = request.node.name
    sc.setJobGroup(group, "query_events")
    try:
        got = [tuple(r) for r in page.collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == want and got
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_query_events_precomputed_tokens(events):
    """A frame that already carries the token column is searched through
    it, and the column never reaches the output."""
    from nashville_etl_service_backup_spark.functions.text import search_tokens

    cols = ("name", "venue_name", "venue_address", "description")
    tokenized = events.withColumn(
        "search_tokens", search_tokens(*[F.col(c) for c in cols])
    )
    browse = query_events(tokenized)
    assert browse.columns == events.columns
    assert browse.collect() == query_events(events).collect()
    for q in ("jazz", "jazz food", "main"):
        got = query_events(tokenized, search=q)
        assert got.columns == events.columns + ["score"]
        assert got.collect() == query_events(events, search=q).collect()
    # the column is searched as given, not rebuilt from `search_cols`
    names_only = events.withColumn("search_tokens", search_tokens(F.col("name")))
    assert query_events(names_only, search="main").collect() == []


def test_page_count(spark):
    """A5 page math (db_extractor.py:50): ceil(total/per_page); a
    partial last page counts, no rows is no pages."""
    df = spark.createDataFrame([(0,), (1,), (50,), (51,), (None,)], "t long")
    got = [r.v for r in df.select(page_count(F.col("t"), 50).alias("v")).collect()]
    assert got == [0, 1, 1, 2, None]


def test_search_topk_posting_matches_scan_plan(spark):
    """The posting-list serving search and the token-array-scan path
    are two physical plans for ONE score definition — identical rows,
    identical round-6 doubles, on a corpus with ties, partial matches,
    and an empty document."""
    from nashville_etl_service_backup_spark.functions.text import (
        query_tokens,
        search_tokens,
        text_match,
        text_rank,
    )
    from nashville_etl_service_backup_spark.operators.serving import (
        search_topk_posting,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark join window fast", "en"),
            (2, "spark spark join window window join", "en"),  # dups collapse
            (3, "join window only", "en"),  # partial: no 'spark'
            (4, "window spark join extra words here to dilute", "de"),
            (5, "", "en"),  # empty
            (6, "spark join window", "fr"),  # tie score with 1? 3/4 vs 3/3
        ],
        "doc_id long, text string, lang string",
    )
    got = search_topk_posting(
        docs, ["spark", "join", "window"], k=10,
        id_col="doc_id", extra_cols=("lang",), text_col="text",
    ).collect()
    toks = search_tokens(F.col("text"))
    q = query_tokens("spark join window")
    want = (
        docs.withColumn("_toks", toks)
        .filter(text_match(F.col("_toks"), q))
        .withColumn("score", F.round(text_rank(F.col("_toks"), q), 6))
        .select("doc_id", "lang", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert all(r["doc_id"] != 3 and r["doc_id"] != 5 for r in got)
