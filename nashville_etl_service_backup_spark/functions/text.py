"""Text/search functions — F12–F15, F17–F20 (SURVEY §2.8).

The reference's Postgres tsvector/tsquery surface (transform_data.py:566,
db_extractor.py:44-51) is re-expressed as a token-array model:
- search_tokens: lowercase, strip non-alphanumerics, split, distinct —
  the engine's documented analog of to_tsvector('english', ...). No
  stemming (divergence from Postgres english stemmer, documented).
- text_match:  size(tokens ∩ query) == size(query)    (@@ analog: AND,
  every query term present, as plainto_tsquery)
- text_rank:   |tokens ∩ query| / |tokens|            (ts_rank analog)

All pure built-in expressions — JVM-side, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(*cols: Column) -> Column:
    """coalesce-join columns with spaces, lowercase, non-alnum → space
    (transform_data.py:566's coalesce||' ' chain)."""
    joined = F.concat_ws(" ", *[F.coalesce(c, F.lit("")) for c in cols])
    return F.trim(F.regexp_replace(F.lower(joined), r"[^a-z0-9]+", " "))


def tokenize(*cols: Column) -> Column:
    """Ordered tokens (duplicates kept) — for counting/fingerprints."""
    norm = normalize_text(*cols)
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def search_tokens(*cols: Column) -> Column:
    """F14 — distinct token array (the search_vector analog).

    array_distinct preserves first-occurrence order (deterministic).
    """
    return F.array_distinct(tokenize(*cols))


def query_tokens(q: str) -> Column:
    """Tokenize a literal query string plan-side."""
    toks = sorted(
        set(t for t in __import__("re").split(r"[^a-z0-9]+", q.lower()) if t)
    )
    return F.array(*[F.lit(t) for t in toks]) if toks else F.array().cast(
        "array<string>"
    )


def text_match(tokens: Column, query: Column) -> Column:
    """F15 match — plainto_tsquery AND-semantics: ALL query terms present
    (db_extractor.py:44-45)."""
    return F.size(F.array_intersect(tokens, query)) == F.size(query)


def text_rank(tokens: Column, query: Column) -> Column:
    """F15 rank — |intersection| / |tokens| (documented divergence from
    Postgres ts_rank weighting; encoded identically in the oracle SQL)."""
    return F.when(F.size(tokens) > 0, (
        F.size(F.array_intersect(tokens, query)).cast("double")
        / F.size(tokens).cast("double")
    )).otherwise(F.lit(0.0))


def truncate_with_ellipsis(c: Column, n: int) -> Column:
    """F17 (nashville_arcgis.py:172-174): cut at n chars + '...' only when
    longer."""
    return F.when(
        F.length(c) > n, F.concat(F.substring(c, 1, n), F.lit("..."))
    ).otherwise(c)


def md5_url(prefix: str, *parts: Column) -> Column:
    """F12 (pdf_spider.py:136-142, document_spider.py:486-505):
    '{prefix}{md5(p1|p2|...)[:12]}'."""
    h = F.md5(F.concat_ws("|", *[F.coalesce(p, F.lit("")) for p in parts]))
    return F.concat(F.lit(prefix), F.substring(h, 1, 12))


def slug_url(basename: Column, idx: Column, name: Column) -> Column:
    """F13 (transform_data.py:344-348): file://{basename}#{i}-{slug},
    slug = lower(re.sub(r'\\W+','-',name))."""
    slug = F.lower(F.regexp_replace(name, r"\W+", "-"))
    return F.concat(
        F.lit("file://"), basename, F.lit("#"), idx.cast("string"), F.lit("-"), slug
    )


def absolutize_url(url: Column, base: str) -> Column:
    """F19 (generic_spider.py:60,69): prepend base when not absolute."""
    return F.when(url.rlike(r"^https?://"), url).otherwise(
        F.concat(F.lit(base.rstrip("/") + "/"), F.regexp_replace(url, r"^/", ""))
    )
