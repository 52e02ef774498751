"""Serving-query surface (reference §3.3: app.py → db_extractor.py) and
event-stream analytics re-expressed over the driver testdata.

Maps SURVEY §2 operators: P5 (dynamic filters), F14/F15 (tsvector/ts_rank
analog), O1–O3 (order + paginate), A1/A2 (count, distinct dims), U1/F22
(JSON roundtrip), §2.10 windowed aggregation (tumbling + sliding), pivot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nashville_etl_service_backup_spark.functions.text import (
    query_tokens,
    search_tokens,
    text_match,
    text_rank,
)
from nashville_etl_service_backup_spark.operators.pagination import paginate
from nashville_etl_service_backup_spark.operators.serving import distinct_values
from nashville_etl_service_backup_spark.queries._util import (
    DUCK_TOKENS_DISTINCT,
    dsum,
    fmt_ts,
)
from nashville_etl_service_backup_spark.tables import load

SEARCH_QUERY = "spark join window"  # all three tokens in the corpus vocab


def q_doc_search_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14/F15/O2: full-text AND-match + relevance rank + top-20
    (db_extractor.py:44-51 analog over `documents`), served by the
    posting-list plan (operators/serving.search_topk_posting): the
    exploded token stream is filtered to query-term hits BEFORE the
    shuffle, so at 100 TB the exchange carries the query's posting
    list instead of every document's token array being re-intersected
    per query. Scores are bit-identical to the token-array-scan
    formulation (same round(n_matched/n_tokens, 6) double) — the
    oracle SQL is unchanged and q_doc_search_scan_twin pins the two
    plans against each other."""
    from nashville_etl_service_backup_spark.operators.serving import (
        search_topk_posting,
    )

    docs = load(spark, sf_dir, "documents")
    return search_topk_posting(
        docs,
        SEARCH_QUERY.split(),
        k=20,
        id_col="doc_id",
        extra_cols=("lang", "source"),
        text_col="text",
    )


def q_doc_search_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-array-scan twin of q_doc_search_rank — the
    query_events serving path's formulation (filter text_match, rank
    text_rank). Kept registered so the two physical plans stay pinned
    to the same oracle; the posting-list plan is the at-scale
    default."""
    docs = load(spark, sf_dir, "documents")
    toks = search_tokens(F.col("text"))
    q = query_tokens(SEARCH_QUERY)
    scored = (
        docs.withColumn("_toks", toks)
        .filter(text_match(F.col("_toks"), q))
        .withColumn("score", F.round(text_rank(F.col("_toks"), q), 6))
    )
    return (
        scored.select("doc_id", "lang", "source", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


def q_paginate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3: deterministic browse-order pagination, page 3 of 25
    (db_extractor.py:51-57)."""
    ev = load(spark, sf_dir, "events")
    page = paginate(ev, [F.asc("ts"), F.asc("event_id")], page=3, per_page=25)
    return page.select(
        "event_id", fmt_ts(F.col("ts")).alias("ts_str"), "event_type", "value"
    )


def q_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (db_extractor.py:28-32): dropdown dimension values."""
    return distinct_values(load(spark, sf_dir, "events"), "event_type")


def q_count_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/P5: filtered count + sum (serving pagination math input)."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 50.0)
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value"), scale=6).alias("total_value"),
    )


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: tumbling 1-hour window aggregation (batch form of the
    streaming window — same plan shape as readStream + window())."""
    ev = load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), scale=6).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: sliding 2h/1h window — each event lands in two windows."""
    ev = load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "n_users",
        )
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 gap: per-user sessionization with a 10-minute inactivity
    gap — F.session_window (the batch form of the streaming stateful
    operator; session end = last event + gap, end-exclusive merge)."""
    ev = load(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts"), "10 minutes")
    return (
        ev.groupBy("user_id", sw)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), scale=6).alias("sum_value"),
        )
        .select(
            "user_id",
            fmt_ts(F.col("session_window.start")).alias("session_start"),
            fmt_ts(F.col("session_window.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def q_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap filling: per event_type, EVERY hour
    between the type's first and last event — missing hours zero-filled.
    The bucket spine is `sequence(min_hour, max_hour, 1h)` + explode
    (one row per type, exploded to its own hours — never a global
    cross join); observed counts left-join onto the spine. DuckDB's
    generate_series is the oracle twin."""
    ev = load(spark, sf_dir, "events")
    hours = ev.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h"), "value"
    )
    counts = hours.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value"), scale=6).alias("total_value"),
    )
    spine = (
        hours.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    return (
        spine.join(counts, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("total_value"), F.lit(0.0)).alias("total_value"),
        )
    )


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22/S18: to_json → raw zone string → from_json → project → agg;
    the bronze-zone parse path (pipelines.py:15 / transform_data.py:59)
    over the events table. The oracle is the algebraic identity."""
    ev = load(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(F.struct("event_id", "event_type", "value")).alias("raw_json")
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    parsed = raw.select(F.from_json("raw_json", schema).alias("r")).select("r.*")
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value"), scale=6).alias("total_value"),
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (conditional aggregation): daily counts per event type."""
    ev = load(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    types = ["click", "error", "purchase", "signup", "view"]
    p = ev.select(day, "event_type").groupBy("day").pivot("event_type", types).count()
    return p.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


QUERIES = {
    "q_doc_search_rank": q_doc_search_rank,
    "q_doc_search_scan": q_doc_search_scan,
    "q_paginate_events": q_paginate_events,
    "q_distinct_event_types": q_distinct_event_types,
    "q_count_purchases": q_count_purchases,
    "q_tumbling_window": q_tumbling_window,
    "q_sliding_window": q_sliding_window,
    "q_session_window": q_session_window,
    "q_resample_gapfill": q_resample_gapfill,
    "q_json_roundtrip": q_json_roundtrip,
    "q_events_pivot": q_events_pivot,
}

_TOKS = DUCK_TOKENS_DISTINCT.format(col="text")

_DOC_SEARCH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source, {_TOKS} AS toks FROM documents)
SELECT doc_id, lang, source,
  ROUND(CAST(len(list_intersect(toks, ['join','spark','window'])) AS DOUBLE)
        / len(toks), 6) AS score
FROM t
WHERE len(list_intersect(toks, ['join','spark','window'])) = 3
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""

ORACLES = {
    # one oracle, two physical plans: the posting-list default and the
    # token-array-scan twin must both hash-match it
    "q_doc_search_rank": _DOC_SEARCH_ORACLE,
    "q_doc_search_scan": _DOC_SEARCH_ORACLE,
    "q_paginate_events": """
SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       event_type, value
FROM events
ORDER BY ts, event_id
LIMIT 25 OFFSET 50
""",
    "q_distinct_event_types": """
SELECT DISTINCT event_type FROM events
WHERE event_type IS NOT NULL
ORDER BY event_type
""",
    "q_count_purchases": """
SELECT COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'purchase' AND value > 50.0
""",
    "q_tumbling_window": """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
         AS window_start,
  event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    "q_sliding_window": """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users
FROM (
  SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR])
           AS ws,
         user_id
  FROM events)
GROUP BY 1
""",
    "q_session_window": """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
m AS (
  SELECT user_id, ts, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
g AS (
  SELECT user_id, ts, value,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sess
  FROM m)
SELECT user_id,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
  strftime(MAX(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S.%f')
    AS session_end,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM g
GROUP BY user_id, sess
""",
    "q_resample_gapfill": """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value FROM events),
c AS (
  SELECT event_type, h, COUNT(*) AS n,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
  FROM h GROUP BY event_type, h),
b AS (
  SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM h GROUP BY event_type),
spine AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM b)
SELECT s.event_type,
  strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
  COALESCE(c.n, 0) AS n,
  COALESCE(c.total_value, 0.0) AS total_value
FROM spine s LEFT JOIN c ON s.event_type = c.event_type AND s.h = c.h
""",
    "q_json_roundtrip": """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
    "q_events_pivot": """
SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
  COUNT(*) FILTER (event_type = 'click')    AS click,
  COUNT(*) FILTER (event_type = 'error')    AS error,
  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
  COUNT(*) FILTER (event_type = 'signup')   AS signup,
  COUNT(*) FILTER (event_type = 'view')     AS view
FROM events
GROUP BY 1
""",
}
