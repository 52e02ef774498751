"""Deterministic LIMIT/OFFSET pagination — O3 (db_extractor.py:18,53-57).

`orderBy(...).limit(page*per_page).offset((page-1)*per_page)` is the
reference's `ORDER BY … LIMIT n OFFSET m` verbatim, and plans as one
`TakeOrderedAndProject(limit=page*per_page, offset=(page-1)*per_page)`: a
per-partition heap of at most page*per_page rows, merged into one ordered
list from which the first (page-1)*per_page rows are dropped. No global
sort, no window and no exchange, so the page query runs as one job and
AQE has nothing to re-plan. The caller MUST include a unique tiebreak
column in `order_by` so the total order (and therefore the page contents)
is deterministic.

At 100 TB this touches only page*per_page rows past the scan. Deep
OFFSETs still pay O(page*per_page) — for a true deep-paging API use
key-set pagination (filter on last-seen key) instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PER_PAGE = 25  # app.py:10; db_extractor.py:6


def paginate(
    df: DataFrame,
    order_by: list[Column],
    page: int = 1,
    per_page: int = PER_PAGE,
) -> DataFrame:
    """Rows [(page-1)*per_page, page*per_page) of `df` in `order_by`
    order. Pages and page sizes start at 1; a past-the-end page is
    empty."""
    if page < 1 or per_page < 1:
        raise ValueError(f"page and per_page must be >= 1, got {page}, {per_page}")
    return df.orderBy(*order_by).limit(page * per_page).offset((page - 1) * per_page)


def page_count(total: Column, per_page: int = PER_PAGE) -> Column:
    """A5 (db_extractor.py:50): ceil(total/per_page)."""
    return F.ceil(total / F.lit(per_page)).cast("long")


def pagination_links(
    current_page: Column, total_pages: Column, max_visible: int = 5
) -> Column:
    """F23 (app.py:35-50): the windowed page-link range with
    first/last/ellipsis flags, as one struct-valued scalar expression
    (`sequence` + `greatest`/`least` — a UI scalar demo, per SURVEY
    §2.8)."""
    start0 = F.greatest(F.lit(1), current_page - max_visible // 2)
    end = F.least(total_pages, start0 + F.lit(max_visible - 1))
    start = F.when(
        end - start0 + 1 < max_visible,
        F.greatest(F.lit(1), end - F.lit(max_visible - 1)),
    ).otherwise(start0)
    return F.struct(
        (start > 1).alias("show_first"),
        (end < total_pages).alias("show_last"),
        (start > 2).alias("show_left_ellipsis"),
        (end < total_pages - 1).alias("show_right_ellipsis"),
        F.sequence(start.cast("int"), end.cast("int")).alias("pages"),
    )
