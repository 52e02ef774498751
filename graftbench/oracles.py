"""DuckDB twins for the graftbench output checks.

Each check runs after the timed window and returns a list of failure
messages (empty = pass). The twins are computed from the generated
inputs, never from Spark output.
"""

from __future__ import annotations

import hashlib
import re

import duckdb

EVENT_COLS = ["name", "url", "event_date", "venue_name", "venue_address", "description",
              "source", "category", "genre", "season", "latitude", "longitude", "price"]


def canon(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive hash) over columns sorted by name;
    floats rounded to 9 places, NULL as a marker."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = []
    for r in rows:
        parts = []
        for i in idx:
            v = r[i]
            if v is None or (isinstance(v, float) and v != v):
                parts.append("∅")
            elif isinstance(v, float):
                parts.append(repr(round(v, 9)))
            else:
                parts.append(str(v))
        lines.append("|".join(parts))
    lines.sort()
    return len(lines), hashlib.md5("\n".join(lines).encode()).hexdigest()


def _connect() -> duckdb.DuckDBPyConnection:
    """A DuckDB connection that prints nothing: stdout carries only the
    benchmark's result."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# the curated rows a raw zone should load to: the per-source semantics of
# the q_etl_pipeline oracle, read off the raw json instead of a pair id
_CURATED = """
r AS (
  SELECT DISTINCT seq, sp,
    json_extract_string(j, '$.name') AS name,
    json_extract_string(j, '$.url') AS url,
    json_extract_string(j, '$.description') AS description,
    json_extract_string(j, '$.venue_name') AS venue_raw,
    json_extract_string(j, '$.venue_address') AS venue_address,
    json_extract_string(j, '$.event_date') AS date_raw,
    json_extract_string(j, '$.category') AS cat_raw,
    json_extract_string(j, '$.latitude') AS lat_raw,
    json_extract_string(j, '$.longitude') AS lng_raw,
    json_extract_string(j, '$.price') AS price_raw
  FROM raw),
c AS (
  SELECT seq, name, url,
    CASE WHEN sp IN ('ticketmaster', 'seatgeek') THEN replace(date_raw, ' ', 'T')
         WHEN sp = 'underdog' THEN '2025-06-'
              || lpad(regexp_extract(date_raw, 'June ([0-9]+),', 1), 2, '0')
              || 'T19:30:00-05:00'
    END AS event_date,
    CASE WHEN sp IN ('yelp', 'google_places', 'nashville_arcgis') THEN name
         ELSE venue_raw END AS venue_name,
    venue_address, description,
    CASE sp WHEN 'ticketmaster' THEN 'Ticketmaster' WHEN 'seatgeek' THEN 'SeatGeek'
            WHEN 'yelp' THEN 'Yelp' WHEN 'google_places' THEN 'Google Places'
            WHEN 'nashville_arcgis' THEN 'Nashville ArcGIS' ELSE 'Underdog Venue' END AS source,
    CASE WHEN sp IN ('seatgeek', 'underdog') THEN
           CASE description WHEN 'rock fest tonight' THEN 'festival'
                WHEN 'comedy showcase' THEN 'comedy' WHEN 'broadway play' THEN 'theater'
                WHEN 'big game day' THEN 'sports' ELSE 'music' END
         WHEN cat_raw IS NOT NULL THEN
           CASE cat_raw WHEN 'rock concert' THEN 'Rock Concert'
                WHEN 'food fair' THEN 'Food Fair' ELSE 'Family Fun' END
         ELSE CASE sp WHEN 'ticketmaster' THEN 'Event' WHEN 'yelp' THEN 'Business'
                      WHEN 'google_places' THEN 'Attraction' ELSE 'Civic Facility' END
    END AS category,
    CASE WHEN sp NOT IN ('seatgeek', 'underdog') THEN NULL
         WHEN description = 'rock fest tonight' THEN 'rock'
         WHEN description = 'quiet evening jazz' THEN 'jazz' END AS genre,
    CAST(NULL AS VARCHAR) AS season,
    TRY_CAST(NULLIF(trim(lat_raw), '') AS DOUBLE) AS latitude,
    TRY_CAST(NULLIF(trim(lng_raw), '') AS DOUBLE) AS longitude,
    CASE WHEN price_raw IS NULL THEN NULL
         WHEN lower(price_raw) LIKE '%free%' THEN 0.0
         ELSE CAST(regexp_extract(price_raw, '[0-9]+\\.?[0-9]*', 0) AS DOUBLE) END AS price
  FROM r
  WHERE name <> '' AND (sp NOT IN ('ticketmaster', 'seatgeek') OR venue_raw <> '')),
oracle AS (
  SELECT * FROM c
  QUALIFY row_number() OVER (PARTITION BY url ORDER BY seq) = 1)
"""


def check_sink(raw_paths: list[str], sink_dir: str) -> tuple[list[str], list[int]]:
    """The sink after loading ``raw_paths`` in order (first a refresh, then
    appends): unique urls, and exactly the rows the raw zone loads to.
    Also returns the rows each load should report written."""
    raw = " UNION ALL ".join(
        f"SELECT {k} AS seq, source_spider AS sp, raw_json AS j FROM read_parquet({_sql_str(p)})"
        for k, p in enumerate(raw_paths)
    )
    cols = ", ".join(EVENT_COLS)
    con = _connect()
    con.execute(f"CREATE VIEW sink AS SELECT {cols} FROM read_parquet({_sql_str(sink_dir + '/*.parquet')})")
    con.execute(f"CREATE TABLE loaded AS WITH raw AS ({raw}), {_CURATED.strip()} SELECT * FROM oracle")
    con.execute(f"CREATE VIEW oracle AS SELECT {cols} FROM loaded")
    counts = dict(con.execute("SELECT seq, count(*) FROM loaded GROUP BY seq").fetchall())
    per_seq = [counts.get(k, 0) for k in range(len(raw_paths))]
    errors = []
    dup = con.execute("SELECT count(*) - count(DISTINCT url) FROM sink").fetchone()[0]
    if dup:
        errors.append(f"sink holds {dup} duplicate urls")
    extra = con.execute("SELECT count(*) FROM (SELECT * FROM sink EXCEPT ALL SELECT * FROM oracle)").fetchone()[0]
    missing = con.execute("SELECT count(*) FROM (SELECT * FROM oracle EXCEPT ALL SELECT * FROM sink)").fetchone()[0]
    if extra or missing:
        errors.append(f"sink differs from the oracle: {extra} extra rows, {missing} missing rows")
    return errors, per_seq


def _tokens(q: str) -> list[str]:
    """query_tokens' rule: lowercase, split on non-alphanumerics, distinct."""
    return sorted({t for t in re.split(r"[^a-z0-9]+", q.lower()) if t})


def page_twin(con: duckdb.DuckDBPyConnection, shape: dict, per_page: int = 25) -> dict:
    """The four reads of one page view over the ``events`` view: page rows
    (with score when searching), filtered count, distinct sources and
    categories."""
    where = ["TRUE"]
    if shape["source"] is not None:
        where.append(f"source = {_sql_str(shape['source'])}")
    if shape["category"] is not None:
        where.append(f"category = {_sql_str(shape['category'])}")
    filt = " AND ".join(where)
    cols = ", ".join(EVENT_COLS)
    if shape["search"]:
        q = _tokens(shape["search"])
        qlist = "[" + ", ".join(_sql_str(t) for t in q) + "]"
        norm = ("trim(regexp_replace(lower(concat_ws(' ', coalesce(name, ''), coalesce(venue_name, ''), "
                "coalesce(venue_address, ''), coalesce(description, ''))), '[^a-z0-9]+', ' ', 'g'))")
        page_sql = f"""
          WITH t AS (SELECT *, CASE WHEN {norm} = '' THEN CAST([] AS VARCHAR[])
                                    ELSE list_distinct(string_split({norm}, ' ')) END AS tk
                     FROM events WHERE {filt})
          SELECT {cols}, round(CAST({len(q)} AS DOUBLE) / len(tk), 6) AS score
          FROM t WHERE list_has_all(tk, {qlist})
          ORDER BY score DESC, url ASC"""
        page_cols = EVENT_COLS + ["score"]
    else:
        page_sql = f"""SELECT {cols} FROM events WHERE {filt}
          ORDER BY event_date ASC NULLS LAST, name ASC, url ASC"""
        page_cols = EVENT_COLS
    page_sql += f" LIMIT {per_page} OFFSET {(shape['page'] - 1) * per_page}"
    return {
        "page": canon(page_cols, con.execute(page_sql).fetchall()),
        "count": con.execute(f"SELECT count(*) FROM events WHERE {filt}").fetchone()[0],
        "sources": [r[0] for r in con.execute(
            "SELECT DISTINCT source FROM events WHERE source IS NOT NULL ORDER BY 1").fetchall()],
        "categories": [r[0] for r in con.execute(
            "SELECT DISTINCT category FROM events WHERE category IS NOT NULL ORDER BY 1").fetchall()],
    }


def check_pages(sink_dir: str, samples: list[tuple[dict, dict]]) -> list[str]:
    """Each (shape, observed) page view against its twin over the sink."""
    con = _connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({_sql_str(sink_dir + '/*.parquet')})")
    errors = []
    for shape, seen in samples:
        want = page_twin(con, shape)
        for key in want:
            if want[key] != seen[key]:
                errors.append(f"page view {shape}: {key} {seen[key]!r} != twin {want[key]!r}")
    return errors


def materialized(sql: str, ctes: tuple[str, ...] = ("rv", "keptd", "sh", "sig", "lshp", "edges")) -> str:
    """``sql`` with the named CTEs marked AS MATERIALIZED. Same result; without
    it DuckDB inlines the MinHash signatures into the pair self-join and the
    curation oracle takes minutes on a 2000-document corpus instead of
    seconds."""
    for name in ctes:
        sql, n = re.subn(rf"(?m)^((?:WITH RECURSIVE )?{name}) AS \(", r"\1 AS MATERIALIZED (", sql)
        if n != 1:
            raise ValueError(f"CTE {name} not found exactly once in the curation oracle")
    return sql


def check_curation(docs_dir: str, oracle_sql: str, results: list[tuple[list[str], list[tuple]]]) -> list[str]:
    """Every curation result against the registry's DuckDB oracle."""
    con = _connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({_sql_str(docs_dir + '/documents.parquet')})")
    cur = con.execute(materialized(oracle_sql))
    want = canon([d[0] for d in cur.description], cur.fetchall())
    return [f"curation result {i}: {got} != oracle {want}"
            for i, got in enumerate(canon(cols, rows) for cols, rows in results) if got != want]
