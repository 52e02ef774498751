"""The serving query — reference §3.3 (app.py:56-67 → db_extractor.py:19-63).

`GET /?page&source&category&search` re-expressed as ONE parameterized
Catalyst plan per call instead of five SQL statements:

    filter(source ∧ category ∧ text_match(q)) → rank → order → paginate

plus companions `distinct_values` (A2, dropdown dims) and `count_with_filters`
(A1, pagination math). Ordering: relevance `ts_rank DESC` analog when
searching, else `event_date ASC, name ASC` (db_extractor.py:51), with a
unique tiebreak appended for determinism.

Scale: filters reach the parquet scan as pushed predicates; the text
predicate prunes via the token array before ranking; pagination takes
top-k, not a full materialized sort. `distinct_values` sorts its rows in
a single partition: the caller collects the whole result to the driver,
so that one task never holds more than the driver receives.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.functions.text import (
    query_tokens,
    search_tokens,
    text_match,
    text_rank,
)
from nashville_etl_service_backup_spark.operators.pagination import PER_PAGE, paginate


def _filtered(
    events: DataFrame, source: str | None, category: str | None, *more: Column
) -> DataFrame:
    """P5 (db_extractor.py:33-46): the page's dropdown filters plus any
    further predicates, as one filter; shared by the page select and its
    count."""
    dims = (("source", source), ("category", category))
    preds = [F.col(c) == v for c, v in dims if v is not None] + list(more)
    return events.filter(reduce(Column.__and__, preds)) if preds else events


def query_events(
    events: DataFrame,
    source: str | None = None,
    category: str | None = None,
    search: str | None = None,
    page: int = 1,
    per_page: int = PER_PAGE,
    unique_key: str = "url",
    token_col: str = "search_tokens",
    search_cols: tuple[str, ...] = ("name", "venue_name", "venue_address", "description"),
) -> DataFrame:
    """db_extractor.py:19-63 as one lazy plan over a canonical events frame.

    The token array is built only when the view searches (a precomputed
    `token_col` is reused); `token_col` never reaches the output."""
    if search:
        if token_col in events.columns:
            toks = F.col(token_col)
        else:
            toks = search_tokens(*[F.col(c) for c in search_cols])
        q = query_tokens(search)
        df = _filtered(events, source, category, text_match(toks, q)).select(
            *[c for c in events.columns if c != token_col],
            F.round(text_rank(toks, q), 6).alias("score"),
        )
        order: list[Column] = [F.desc("score"), F.asc(unique_key)]
    else:
        df = _filtered(events, source, category)
        if token_col in events.columns:
            df = df.drop(token_col)
        order = [
            F.asc_nulls_last("event_date"),
            F.asc("name"),
            F.asc(unique_key),
        ]
    return paginate(df, order, page=page, per_page=per_page)


def search_topk_posting(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
    text_col: str = "text",
) -> DataFrame:
    """Posting-list formulation of the serving text search — identical
    semantics (and bit-identical scores) to the token-array scan
    `text_match` + `text_rank` path, different 100 TB plan:

        explode(search_tokens) → filter term ∈ query set (broadcast
        hash-set `isin`) → groupBy doc count matched terms
        [map-side combinable] → AND gate (count == |query|)
        → score = |query| matched / |distinct tokens| → top-k heap

    The token-array scan re-reads every document's full token array
    per query (two array_intersect passes: match + rank); here the
    exploded stream is filtered to query-term HITS before the shuffle,
    so the exchanged volume is the posting list for the query's terms,
    not the corpus. Score definition
    unchanged from text_rank (F15, db_extractor.py:44-51 analog):
    AND-matched docs have |tokens ∩ query| == |query|, so
    round(n_matched / n_distinct_tokens, 6) is the identical double.

    n_distinct_tokens rides the explode as a grouping column
    (functionally dependent on the doc id) so the corpus is scanned
    ONCE — no second join against a per-doc length frame."""
    terms = sorted(set(query_terms))
    toks = search_tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col), *extra_cols, toks.alias("_toks")
    )
    return (
        base.select(
            F.col(id_col),
            *extra_cols,
            F.size("_toks").alias("_ntok"),
            F.explode("_toks").alias("_term"),
        )
        .filter(F.col("_term").isin(terms))
        .groupBy(F.col(id_col), *extra_cols, F.col("_ntok"))
        .agg(F.count(F.lit(1)).alias("_nmatch"))
        .filter(F.col("_nmatch") == len(terms))
        .select(
            F.col(id_col),
            *extra_cols,
            F.round(
                F.col("_nmatch").cast("double")
                / F.col("_ntok").cast("double"),
                6,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def distinct_values(events: DataFrame, column: str) -> DataFrame:
    """A2 (db_extractor.py:28-32): SELECT DISTINCT col WHERE NOT NULL ORDER BY.

    One exchange: the distinct's hash shuffle, then a sort inside one
    partition. A global orderBy would add a range partitioner's
    sampling job and a second shuffle (4 jobs under AQE, not 2)."""
    return (
        events.select(column)
        .where(F.col(column).isNotNull())
        .distinct()
        .coalesce(1)
        .sortWithinPartitions(column)
    )


def count_with_filters(
    events: DataFrame,
    source: str | None = None,
    category: str | None = None,
) -> DataFrame:
    """A1 (db_extractor.py:47-50)."""
    return _filtered(events, source, category).agg(F.count(F.lit(1)).alias("total"))
