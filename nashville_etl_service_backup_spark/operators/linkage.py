"""Fuzzy record linkage: blocked edit-distance matching.

The reference deduplicates events on the EXACT key (name, date, venue)
(load_data.py insert-if-absent); this operator is the fuzzy
generalization — classic record linkage (Fellegi & Sunter 1969) with
the standard blocking/candidate/score/resolve pipeline:

1. block     — a cheap deterministic key (first token + coarse length
               bucket by default) so candidates come from ONE equi-join,
               never an all-pairs product;
2. score     — Levenshtein distance on the candidate pairs only
               (F.levenshtein: JVM-side, whole-stage codegen);
3. resolve   — best match per probe row via a row_number window over
               (distance, key) — deterministic tie-break.

Scale shape: the only shuffle is the equi-join on the block key plus
one window partitioned by probe key. Work is O(Σ block² ) — the block
key bounds candidate counts exactly the way the MinHash bands bound the
near-dup joins (dedup.py); pick a tighter block_fn (more tokens, finer
length buckets) when blocks grow. Nothing here is O(n²) across blocks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def default_block_key(name: Column) -> Column:
    """First token, lowercased — drop-last-char / suffix typos never
    escape the block. Swap in a (token, length-bucket) pair or a
    phonetic key for other error models."""
    return F.lower(F.split(name, " ")[0])


def fuzzy_link_distinct_names(
    probe: DataFrame,
    catalog: DataFrame,
    probe_name: str,
    catalog_name: str,
    catalog_key: str,
    max_dist: int = 3,
    block_fn=default_block_key,
) -> DataFrame:
    """Best-match linkage with Levenshtein scored over DISTINCT string
    pairs, then re-attached to the full probe table — result-identical
    to blocked_fuzzy_join + resolve_best_match, because the (dist,
    catalog_key) tie-break factors through names: every catalog row
    with the same name has the same distance, so the row-level winner
    is (min dist over names, then min key within the winning name) —
    exactly what scoring names against a per-name min-key catalog
    computes.

    Why: edit-distance cost then scales with |distinct probe names| ×
    |distinct catalog names per block| instead of row counts. For
    catalog-style data (many rows share a name — here 20k parts over
    64 names) that is orders of magnitude less work; for unique-name
    data it degrades gracefully to the plain path (the distinct is a
    map-side-combinable shuffle, the join-back an equi-join on name).
    """
    cat_names = catalog.groupBy(catalog_name).agg(
        F.min(catalog_key).alias(catalog_key)
    )
    probe_names = probe.select(probe_name).distinct()
    pairs = blocked_fuzzy_join(
        probe_names, cat_names, probe_name, catalog_name, max_dist, block_fn
    )
    best = resolve_best_match(pairs, probe_name, catalog_key)
    return probe.join(best, probe_name)


def blocked_fuzzy_join(
    probe: DataFrame,
    catalog: DataFrame,
    probe_name: str,
    catalog_name: str,
    max_dist: int = 3,
    block_fn=default_block_key,
) -> DataFrame:
    """Candidate pairs (probe.*, catalog.*, dist) with edit distance ≤
    max_dist, generated via the block-key equi-join only.

    The join carries a length-band conjunct (|len(p) − len(c)| ≤
    max_dist — a NECESSARY condition for edit distance ≤ max_dist, so
    results are identical): it prunes candidates before the O(n·m)
    Levenshtein runs, cutting the scoring cost inside wide blocks."""
    p = probe.withColumn("_blk", block_fn(F.col(probe_name)))
    c = catalog.withColumn("_blk", block_fn(F.col(catalog_name)))
    band = (
        F.abs(F.length(p[probe_name]) - F.length(c[catalog_name]))
        <= max_dist
    )
    cand = p.join(c, (p["_blk"] == c["_blk"]) & band).drop("_blk")
    dist = F.levenshtein(F.col(probe_name), F.col(catalog_name))
    return cand.withColumn("dist", dist).filter(F.col("dist") <= max_dist)


def resolve_best_match(
    pairs: DataFrame, probe_key: str, catalog_key: str
) -> DataFrame:
    """One row per probe key: the minimum-distance candidate,
    deterministic tie-break on the catalog key."""
    w = Window.partitionBy(probe_key).orderBy("dist", catalog_key)
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def golden_records(
    records: DataFrame,
    cluster_col: str,
    rules: list[tuple],
) -> DataFrame:
    """Survivorship merge — the "golden record" step of classic master-
    data management that follows match/cluster (Fellegi-Sunter linkage,
    connected components): one merged row per cluster, each output
    column chosen by an explicit, deterministic survivorship rule.

    ``rules`` entries (out_col is always last-tie-broken by the value
    itself, so every rule is a total order and engines agree):

      ("max",  col)                      — plain maximum
      ("min",  col)                      — plain minimum
      ("longest", col)                   — longest string (ties: larger
                                            string wins)
      ("newest", col, ts_col)            — value of the row with the
                                            greatest ts (ties: larger
                                            value wins)
      ("priority_non_null", col, src_col, [src...])
                                         — first non-null value walking
                                            sources in the given order
                                            (ties within a source:
                                            larger value wins)

    Every rule compiles to max/min of a struct inside ONE
    groupBy(cluster) aggregate — a single map-side-combinable shuffle
    for the whole merge, no windows, no joins, no per-rule passes.
    (A row_number-per-rule formulation would cost one sort per rule;
    struct-max is the same total order with combiner support.)
    """
    aggs = []
    for rule in rules:
        kind, col = rule[0], rule[1]
        c = F.col(col)
        if kind == "max":
            aggs.append(F.max(c).alias(col))
        elif kind == "min":
            aggs.append(F.min(c).alias(col))
        elif kind == "longest":
            aggs.append(
                F.max(F.struct(F.length(c).alias("k"), c.alias("v")))["v"]
                .alias(col)
            )
        elif kind == "newest":
            ts = F.col(rule[2])
            aggs.append(
                F.max(F.struct(ts.alias("k"), c.alias("v")))["v"].alias(col)
            )
        elif kind == "priority_non_null":
            src, order = F.col(rule[2]), rule[3]
            rank = F.lit(0)
            for i, s in enumerate(order):
                rank = F.when(src == s, F.lit(len(order) - i)).otherwise(rank)
            aggs.append(
                F.max(
                    F.struct(
                        c.isNotNull().cast("int").alias("nn"),
                        rank.alias("r"),
                        c.alias("v"),
                    )
                )["v"].alias(col)
            )
        else:
            raise ValueError(f"unknown survivorship rule: {kind}")
    return records.groupBy(cluster_col).agg(*aggs)
