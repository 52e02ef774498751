"""Cleaning + text scalar functions: F5/F6/F10/F12/F13/F14/F15/F17."""

from __future__ import annotations

from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.functions.cleaning import (
    clean_string,
    safe_double,
    standardize_price,
    standardize_venue_name,
    title_case_category,
)
from nashville_etl_service_backup_spark.functions.text import (
    md5_url,
    query_tokens,
    search_tokens,
    slug_url,
    text_match,
    text_rank,
    truncate_with_ellipsis,
)


def _one(spark, expr, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return [r.v for r in df.select(expr.alias("v")).collect()]


def test_standardize_venue_name(spark):
    got = _one(
        spark,
        standardize_venue_name(F.col("n")),
        [("the  ryman   auditorium",), ("Exit/In Theatre",), ("mercy hall",),
         ("",), (None,)],
        "n string",
    )
    # whitespace collapse + suffix strip + title case (standardizer.py:50-55)
    assert got[0] == "The Ryman Auditorium"
    assert got[1] == "Exit/in"          # strips ' Theatre'
    assert got[2] == "Mercy"            # strips ' hall'
    assert got[3] is None and got[4] is None


def test_standardize_price(spark):
    got = _one(
        spark,
        standardize_price(F.col("p")),
        [("FREE entry",), ("$15.50",), ("from 20 dollars",), ("tbd",), ("",), (None,)],
        "p string",
    )
    assert got == [0.0, 15.5, 20.0, None, None, None]


def test_safe_double(spark):
    got = _one(
        spark,
        safe_double(F.col("x")),
        [("36.16",), (" -86.78 ",), ("36.abc",), ("",), (None,)],
        "x string",
    )
    assert got == [36.16, -86.78, None, None, None]


def test_clean_string(spark):
    """P7 (document_spider.py:383-407): stringify + strip; empty and
    NaN/None/null spellings become NULL."""
    got = _one(
        spark,
        clean_string(F.col("x")),
        [("  Ryman ",), ("",), ("   ",), ("NaN",), ("None",), ("null",), (None,)],
        "x string",
    )
    assert got == ["Ryman", None, None, None, None, None, None]
    nums = _one(spark, clean_string(F.col("n")), [(36.5,), (float("nan"),)], "n double")
    assert nums == ["36.5", None]


def test_title_case_category(spark):
    got = _one(spark, title_case_category(F.col("c")), [("fire_station",)], "c string")
    assert got == ["Fire Station"]


def test_search_tokens_and_match_rank(spark):
    df = spark.createDataFrame(
        [("Jazz Night", "The Ryman", "live jazz music")],
        "name string, venue string, descr string",
    )
    toks = search_tokens(F.col("name"), F.col("venue"), F.col("descr"))
    q_hit = query_tokens("jazz ryman")
    q_partial = query_tokens("jazz opera")
    row = df.select(
        toks.alias("t"),
        text_match(toks, q_hit).alias("m1"),
        text_match(toks, q_partial).alias("m2"),
        text_rank(toks, q_hit).alias("r"),
    ).collect()[0]
    assert row.t == ["jazz", "night", "the", "ryman", "live", "music"]
    assert row.m1 is True and row.m2 is False  # AND semantics
    assert abs(row.r - 2 / 6) < 1e-12


def test_md5_and_slug_urls(spark):
    df = spark.createDataFrame([("Food Fest!", "12 Main St")], "n string, a string")
    row = df.select(
        md5_url("pdf://nashville-event/", F.col("n"), F.col("a")).alias("u1"),
        slug_url(F.lit("up.pdf"), F.lit(3), F.col("n")).alias("u2"),
    ).collect()[0]
    import hashlib

    h = hashlib.md5(b"Food Fest!|12 Main St").hexdigest()[:12]
    assert row.u1 == f"pdf://nashville-event/{h}"
    assert row.u2 == "file://up.pdf#3-food-fest-"


def test_truncate_with_ellipsis(spark):
    got = _one(
        spark,
        truncate_with_ellipsis(F.col("s"), 5),
        [("abcdefgh",), ("abc",)],
        "s string",
    )
    assert got == ["abcde...", "abc"]
