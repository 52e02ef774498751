"""Property-based tests (hypothesis) for the scalar-function library and
the pagination/packing operators: the never-crash / total-function /
partition-invariant properties that example tests can't sweep.

Each example generates a WHOLE input batch and evaluates one Spark job
over it (examples are capped low — a Spark job per example is the cost
model here, and deadlines are disabled accordingly).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# strings that look vaguely like the wild inputs the reference sees:
# dates in several formats, junk, numbers, empty
_raw_text = st.one_of(
    st.text(max_size=30),
    st.sampled_from(
        [
            "2025-06-14T19:30:00Z",
            "June 14, 2025 7:30PM CDT",
            "6/14/2025",
            "Jun 14",
            "free entry",
            "$12.50-$20",
            "n/a",
            "",
            "  ",
            "TBD 2025",
        ]
    ),
)

_sources = st.sampled_from(
    ["ticketmaster", "seatgeek", "visitmusiccity-nashville.com", "underdog",
     "yelp", "csv_upload", "unknown", ""]
)


@SLOW
@given(st.lists(st.tuples(_raw_text, _sources), min_size=1, max_size=60))
def test_standardize_date_is_total(spark, rows):
    """standardize_date never raises and returns NULL or a string for
    ANY input; empty raw is always NULL (the reference's falsy gate —
    unparseable non-empty input passes through raw, standardizer.py:50)."""
    from nashville_etl_service_backup_spark.functions.dates import (
        standardize_date,
    )

    df = spark.createDataFrame(rows, "raw string, source string")
    out = df.select(
        "raw",
        standardize_date(F.col("raw"), F.col("source"), now_year=2025).alias("d"),
    ).collect()
    for r in out:
        assert r["d"] is None or isinstance(r["d"], str)
        if r["raw"] == "":
            assert r["d"] is None


@SLOW
@given(st.lists(_raw_text, min_size=1, max_size=60))
def test_standardize_price_is_total_and_nonnegative(spark, rows):
    """standardize_price: NULL or a finite non-negative double, for any
    string (the first-number regex can never produce a negative)."""
    from nashville_etl_service_backup_spark.functions.cleaning import (
        standardize_price,
    )

    df = spark.createDataFrame([(r,) for r in rows], "p string")
    for r in df.select(standardize_price(F.col("p")).alias("v")).collect():
        if r["v"] is not None:
            assert math.isfinite(r["v"]) and r["v"] >= 0.0


@SLOW
@given(
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=80),
)
def test_paginate_partitions_the_ordered_stream(spark, page, per_page, n_rows):
    """Page p of the paginated stream == rows[lo:hi] of the full ordered
    stream, for any page/per_page/corpus size (incl. past-the-end)."""
    from nashville_etl_service_backup_spark.operators.pagination import (
        paginate,
    )

    df = spark.range(n_rows).select(
        (F.col("id") * 37 % 100).alias("k"), F.col("id").alias("uid")
    )
    order = [F.asc("k"), F.asc("uid")]
    full = [
        (r["k"], r["uid"])
        for r in df.orderBy(*order).collect()
    ]
    pg = paginate(df, order, page=page, per_page=per_page)
    got = [(r["k"], r["uid"]) for r in pg.orderBy(*order).collect()]
    lo, hi = (page - 1) * per_page, page * per_page
    assert got == full[lo:hi]
    # the page already arrives in order
    assert [(r["k"], r["uid"]) for r in pg.collect()] == full[lo:hi]


@SLOW
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=200),
)
def test_pack_offsets_contiguity(spark, token_counts, budget):
    """Within a stream: offsets start at 0, advance by exactly the
    previous doc's token count, and pack_id is the start-offset chunk."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        pack_offsets,
    )

    rows = [(i, "w " * n) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (
            (r["stream"], r["doc_id"], r["n_tokens"], r["start_offset"], r["pack_id"])
            for r in pack_offsets(
                df, "doc_id", "text", budget=budget, n_streams=3
            ).collect()
        )
    )
    per_stream: dict = {}
    for stream, _doc, nt, off, pack in out:
        expected = per_stream.get(stream, 0)
        assert off == expected
        assert pack == off // budget
        per_stream[stream] = expected + nt


@SLOW
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab \n.!x0"), min_size=0, max_size=120
        ),
        min_size=1,
        max_size=25,
    )
)
def test_chunk_windows_cover_every_token_once_per_window(spark, texts):
    """Chunking totality + coverage: for any corpus, every doc with ≥1
    token produces chunks whose sizes sum to n_tokens + overlap·(k−1)
    (64/48 windows re-cover 16 tokens per boundary, short tail allowed),
    chunk 0 always starts the doc, and no chunk is empty."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        chunk_token_windows,
        ws_token_count,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n_by_doc = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", ws_token_count(F.col("text")).alias("n")
        ).collect()
    }
    out = chunk_token_windows(docs, window=64, stride=48).collect()
    by_doc = {}
    for r in out:
        assert r["n_chunk_tokens"] >= 1
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_chunk_tokens"])
        )
    for d, n in n_by_doc.items():
        if n == 0:
            assert d not in by_doc
            continue
        chunks = sorted(by_doc[d])
        k = len(chunks)
        assert [i for i, _ in chunks] == list(range(k))
        covered = sum(c for _, c in chunks)
        # each of the k-1 overlapping boundaries re-covers exactly
        # min(16, tokens remaining past the boundary) tokens; with the
        # clamped tail this reduces to total = n + sum(overlaps)
        overlap = covered - n
        assert 0 <= overlap <= 16 * (k - 1)
        # every chunk but the last is full only if more tokens remained
        for idx, c in chunks[:-1]:
            assert c == 64


@SLOW
@given(
    st.lists(
        st.text(alphabet=st.sampled_from("abc x.\n"), min_size=0, max_size=60),
        min_size=2,
        max_size=20,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_boilerplate_strip_accounting_invariants(spark, texts, min_docs):
    """n_removed + kept lines == n_lines for every doc; a doc whose
    every line is boilerplate fingerprints as md5('')."""
    import hashlib

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        strip_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = strip_boilerplate_lines(docs, min_docs=min_docs).collect()
    empty_md5 = hashlib.md5(b"").hexdigest()
    for r in rows:
        assert 0 <= r["n_removed"] <= r["n_lines"]
        if r["n_removed"] == r["n_lines"]:
            assert r["cleaned_md5"] == empty_md5
        else:
            assert r["cleaned_md5"] != empty_md5


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(1, 5000)),
        min_size=1,
        max_size=40,
    ),
    st.integers(500, 4000),
)
def test_compaction_plan_conserves_and_bounds(spark, files, target):
    """Bin packing conserves files and bytes exactly, and no bin
    exceeds target + its largest member (the sorted-cumsum guarantee:
    a bin closes within one file of the target)."""
    from nashville_etl_service_backup_spark.operators.layout import (
        compaction_plan,
    )

    rows = [(f"p{p}", i, b) for i, (p, b) in enumerate(files)]
    m = spark.createDataFrame(rows, ["part", "file_id", "bytes"])
    out = compaction_plan(m, "part", "file_id", "bytes", target).collect()
    assert sum(r["n_files"] for r in out) == len(rows)
    assert sum(r["tot_bytes"] for r in out) == sum(b for _, b in files)
    max_file = max(b for _, b in files)
    for r in out:
        assert r["tot_bytes"] <= target + max_file


@SLOW
@given(st.integers(1, 10_000))
def test_poisson_draws_match_scalar_form(spark, n_keys):
    """poisson_rep_counts (blocked-lane, codegen shape) must reproduce
    poisson_replica_count (scalar form) draw for draw — position i of
    the blocked pipeline equals the scalar draw at rep=i."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.sketch import (
        poisson_rep_counts,
        poisson_replica_count,
    )

    n = min(n_keys, 50)  # 50 keys x 13 reps is plenty per example
    df = spark.range(n).select(F.col("id").alias("k"))
    blocked = {
        (r["k"], r["_rep"]): r["_cnt"]
        for r in poisson_rep_counts(df, "k", reps=13).collect()
    }
    assert len(blocked) == n * 13
    scalar = df.select(
        "k",
        F.explode(F.sequence(F.lit(0), F.lit(12))).alias("rep"),
    ).select(
        "k", "rep", poisson_replica_count(F.col("k"), F.col("rep")).alias("c")
    )
    for r in scalar.collect():
        assert blocked[(r["k"], r["rep"])] == r["c"]
