"""Text analysis operators for training-data pipelines: language ID,
quality scoring, repetition signals, token counting, document
fingerprinting.

Per-document features are built-in expressions (JVM-side), a narrow map
that runs in every task of a spread() input; the heuristics are
deliberately simple-but-deterministic so the DuckDB oracle can compute
the identical values. No per-document feature is a Python UDF: on
PySpark 4.1 (4-vCPU VM, local[4], reused workers) every Python-UDF task
pays about 0.2-0.3 s before its first row, because
pyspark/worker_util.py's setup_spark_files calls
importlib.invalidate_caches(), which re-reads pyspark.zip's directory
for each of its zipimporters on every task. At corpus-curation sizes
that floor cost more than the features, and it grows with the task
count, so it also defeated parallelism. The trade turns on document
length: on documents of about 3000 characters the deleted Arrow
repetition UDF was about 15% cheaper than these interpreted
higher-order functions (ROADMAP D5).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.functions.text import (
    normalize_text,
    search_tokens,
    tokenize,
)

# stopword lists per language for the n-gram-free language-ID heuristic;
# ordered — first language reaching max hits wins (ties → earlier entry).
LANG_STOPWORDS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "and", "of", "to", "in", "is"]),
    ("es", ["el", "la", "de", "que", "y", "los"]),
    ("de", ["der", "die", "das", "und", "ist", "nicht"]),
    ("fr", ["le", "la", "les", "de", "et", "est"]),
]

QUALITY_STOPWORDS = ["the", "a", "and", "of", "to"]

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbols
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count (after normalization)."""
    return F.size(tokenize(text)).cast("long")


def bpe_token_count(text: Column) -> Column:
    """BPE-ish regex token count over the lowercased raw text."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), 0)).cast(
        "long"
    )


def stopword_count(tokens: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or QUALITY_STOPWORDS
    return F.size(F.filter(tokens, lambda t: t.isin(*sw))).cast("long")


def quality_features(
    text: Column, tokens: Column | None = None
) -> dict[str, Column]:
    """Deterministic quality features + composite score ∈ [0,1]:
    0.5·uniq_ratio + 0.3·(1−stop_ratio) + 0.2·min(n_tokens/300, 1).
    ``tokens`` is ``tokenize(text)`` when the caller already holds it."""
    toks = tokenize(text) if tokens is None else tokens
    n_tokens = F.size(toks).cast("long")
    n_unique = F.size(F.array_distinct(toks)).cast("long")
    nt_d = n_tokens.cast("double")
    stop_ratio = F.when(
        n_tokens > 0, stopword_count(toks).cast("double") / nt_d
    ).otherwise(F.lit(0.0))
    uniq_ratio = F.when(n_tokens > 0, n_unique.cast("double") / nt_d).otherwise(
        F.lit(0.0)
    )
    quality = F.round(
        F.lit(0.5) * uniq_ratio
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.2) * F.least(nt_d / F.lit(300.0), F.lit(1.0)),
        6,
    )
    return {
        "n_tokens": n_tokens,
        "n_unique": n_unique,
        "stop_ratio": F.round(stop_ratio, 6),
        "uniq_ratio": F.round(uniq_ratio, 6),
        "quality": quality,
    }


def language_id(text: Column) -> Column:
    """Stopword-hit language ID: language with the most distinct stopword
    hits; ties resolved by list order; zero hits → 'und' (see
    :func:`has_stopword`)."""
    toks = search_tokens(text)
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in sw])))
        for lang, sw in LANG_STOPWORDS
    }
    best = F.greatest(*hits.values()) if len(hits) > 1 else list(hits.values())[0]
    pred = F.lit("und")
    for lang, _ in reversed(LANG_STOPWORDS):
        pred = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(
            pred
        )
    return pred


def has_stopword(tokens: Column) -> Column:
    """True when any language's stopword occurs in ``tokens``, i.e.
    exactly when :func:`language_id` is not 'und'."""
    words = sorted({w for _, sw in LANG_STOPWORDS for w in sw})
    return F.arrays_overlap(tokens, F.array(*[F.lit(w) for w in words]))


def content_fingerprint(text: Column) -> Column:
    """md5 of the normalized text — byte-level (order-sensitive) dup key."""
    return F.md5(normalize_text(text))


# PII patterns — RE2-compatible subset (no lookaround, no backrefs) so the
# Java-regex Spark plan and the RE2 DuckDB oracle match byte-for-byte.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (kind, pattern, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    # area code: '(ddd)' (where \b cannot anchor — paren is non-word on
    # both sides) OR \b-anchored bare 'ddd'
    ("phone", r"(?:\([0-9]{3}\)|\b[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def pii_redact(text: Column) -> Column:
    """Training-data PII scrub: emails, SSNs, phone numbers, IPv4
    addresses → typed placeholders. Pattern order matters (SSN before
    phone — both match ddd-dd-dddd-adjacent shapes). A narrow JVM-side
    map; patterns are an RE2-safe subset so the oracle reproduces the
    exact output."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (pre-redaction) — the audit side of the
    scrub."""
    return {
        f"n_{kind}": F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast(
            "long"
        )
        for kind, pat, _ in PII_PATTERNS
    }


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` computed once per row: a one-element
    transform binds it to the lambda variable. An outer expression
    referenced inside a lambda is re-evaluated at every reference, and
    higher-order function bodies get no common-subexpression
    elimination, so a sorted array read by element_at in a lambda would
    be re-sorted per element."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _frac(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
        F.lit(0.0)
    )


def _longest_run(g: Column) -> Column:
    """Length of the longest run of equal values in the sorted array
    ``g`` (0 when empty): the indices where a new value starts, plus the
    size as a sentinel, and the widest gap between neighbours. ``g``
    must be cheap to reference (a column or a lambda variable). ``get``
    is 0-based and NULL out of bounds, so index 0 never reaches
    element_at(arr, 0), which raises under ANSI."""
    starts = F.filter(
        F.transform(
            g,
            lambda x, i: F.when(F.coalesce(x != F.get(g, i - 1), F.lit(True)), i),
        ),
        lambda i: i.isNotNull(),
    )

    def widest_gap(bounds: Column) -> Column:
        m = F.size(bounds) - 1
        gaps = F.zip_with(
            F.slice(bounds, 2, m), F.slice(bounds, 1, m), lambda b, a: b - a
        )
        return F.coalesce(F.array_max(gaps), F.lit(0))

    return _let(F.concat(starts, F.array(F.size(g))), widest_gap)


def repetition_features(
    text: Column, tokens: Column | None = None
) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021, §A1.1 "repetition
    filters", public heuristic set), all exact and engine-portable:

    - dup_line_frac:  1 − distinct(lines)/lines over non-empty trimmed
      lines — boilerplate/nav-menu detector;
    - top_bigram_frac: occurrences of the most frequent word bigram /
      total bigrams — loops like "click here click here" score high;
    - max_line_frac:  chars in the longest line / total chars — wall-of-
      text or single-line-dump detector.

    Built-in expressions only, a narrow per-document map: each feature
    binds its array (the lines, the sorted bigrams) once with
    :func:`_let`, and the bigram mode is the longest run in the sorted
    bigram array. ``tokens`` is ``tokenize(text)`` when the caller
    already holds it as a column. A NULL text scores 0.0 throughout."""
    lines = F.filter(
        F.transform(F.split(F.coalesce(text, F.lit("")), "\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0,
    )
    toks = tokenize(text) if tokens is None else tokens

    def sorted_bigrams(tk: Column) -> Column:
        # shifted slices give the neighbour pairs without indexing; tokens
        # are never NULL, so plain concat suffices. sort_array, not
        # array_sort: array_sort evaluates its default comparator as an
        # interpreted lambda per comparison
        m = F.greatest(F.size(tk) - 1, F.lit(0))
        return F.sort_array(
            F.zip_with(
                F.slice(tk, 1, m), F.slice(tk, 2, m), lambda a, b: F.concat(a, F.lit(" "), b)
            )
        )

    def dup_line(ls: Column) -> Column:
        n = F.size(ls)
        return F.when(
            n > 0, F.lit(1.0) - F.size(F.array_distinct(ls)).cast("double") / n
        ).otherwise(F.lit(0.0))

    def max_line(ls: Column) -> Column:
        total = F.aggregate(ls, F.lit(0), lambda acc, ln: acc + F.length(ln))
        longest = F.aggregate(
            ls, F.lit(0), lambda acc, ln: F.greatest(acc, F.length(ln))
        )
        return _frac(longest, total)

    top_bigram = _let(
        _let(toks, sorted_bigrams),
        lambda g: _frac(_longest_run(g), F.size(g)),
    )
    return {
        "dup_line_frac": F.round(_let(lines, dup_line), 6),
        "top_bigram_frac": F.round(top_bigram, 6),
        "max_line_frac": F.round(_let(lines, max_line), 6),
    }


def bag_fingerprint(text: Column) -> Column:
    """md5 of the sorted distinct token set — order-insensitive dup key."""
    return F.md5(F.array_join(F.array_sort(search_tokens(text)), " "))


def bm25_topk(
    docs,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 ranking of the corpus against a fixed term list — the
    classic relevance upgrade over the serving layer's token-overlap
    score (F15). Returns the top-k (id, score) rows.

    Scale shape: per-document term frequencies are higher-order-function
    expressions over the token array (one narrow pass, no explode, no
    UDF); the corpus statistics (N, avgdl, per-term document frequency)
    reduce to ONE single-row aggregate that is broadcast back — so the
    whole query is scan → agg(6 numbers) → broadcast-join → top-k, with
    no shuffle proportional to corpus size. The narrow per-doc frame
    (id, dl, one int per query term) is persisted: both the stats
    aggregate and the scoring side consume it, and without the persist
    each re-runs the tokenizer over the corpus — the cached frame is a
    few ints per document, orders of magnitude smaller than the text it
    replaces. All inputs to the score are integers (tf, df, dl, N), so
    the double math is bit-reproducible across engines.
    """
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators import track_persist

    toks = tokenize(F.col(text_col))

    def _tf(term: str) -> Column:
        # single-arg lambda: a second parameter would be read by the HOF
        # machinery as the element-index argument
        return F.size(F.filter(toks, lambda x: x == term))

    per_doc = track_persist(
        docs.select(
            F.col(id_col),
            F.size(toks).alias("dl"),
            *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(query_terms)],
        )
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = per_doc.join(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        df_t = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        )
        part = idf * tf * F.lit(k1 + 1.0) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
        )
        score = part if score is None else score + part
    return (
        scored.select(F.col(id_col), F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def stratified_sample(
    df,
    group_col: str,
    id_col: str,
    k: int = 5,
):
    """Deterministic stratified sample: the k rows per group with the
    smallest md5(id) — a uniform pseudo-random draw that is stable
    across engines, runs, partitionings, and cluster sizes (same
    rationale as hash_bucket; `df.sampleBy` is engine-internal RNG and
    irreproducible). One partitioned window per group — parallel across
    groups, no global sort."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def pack_offsets(
    docs,
    id_col: str,
    text_col: str,
    budget: int = 512,
    n_streams: int = 8,
):
    """GPT-style concatenate-then-chunk sequence packing: documents are
    laid end-to-end in deterministic (stream, id) order and the token
    stream is chunked into ``budget``-sized context windows; a
    document's pack is the window containing its FIRST token
    (start-offset rule — exactly how pretraining loaders pack, with
    boundary documents split across windows at read time).

    ``stream`` is the md5 hash-bucket of the id, so packing is
    partition-local: the window sort runs per stream, never globally —
    at 100 TB each stream sorts independently after one hash shuffle,
    and adding streams scales out. Returns (id, n_tokens, stream,
    start_offset, pack_id)."""
    from pyspark.sql.window import Window

    base = docs.select(
        F.col(id_col),
        ws_token_count(F.col(text_col)).alias("n_tokens"),
        hash_bucket(F.col(id_col), n_streams).alias("stream"),
    )
    w = Window.partitionBy("stream").orderBy(id_col)
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.withColumn("start_offset", start).withColumn(
        "pack_id", F.floor(F.col("start_offset") / F.lit(float(budget))).cast("long")
    )


def contamination_matches(
    docs,
    id_col: str,
    text_col: str,
    eval_filter: Column,
    n: int = 13,
):
    """Benchmark-contamination audit (the GPT-3 appendix-C recipe,
    Brown et al. 2020: 13-gram overlap between training documents and
    held-out evaluation data). Returns (id, n_shared_grams) for every
    NON-eval document sharing at least one word n-gram with the eval
    set.

    Scale shape: grams are md5-hashed before anything moves, so the
    join shuffles (32-char hash, id) pairs — never document text; the
    distinct eval-gram side is typically tiny relative to the corpus
    and broadcast-joins. Candidate generation is a pure equi-join on
    the hash (no cross product)."""
    from nashville_etl_service_backup_spark.operators.dedup import shingles

    gram_set = F.array_distinct(
        F.transform(shingles(tokenize(F.col(text_col)), n), F.md5)
    )
    grams = docs.select(
        F.col(id_col),
        eval_filter.alias("_is_eval"),
        F.explode(gram_set).alias("gram"),
    )
    ev = grams.filter(F.col("_is_eval")).select("gram").distinct()
    return (
        grams.filter(~F.col("_is_eval"))
        .join(ev, "gram")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("gram")).alias("n_shared_grams"))
    )


def hash_bucket(id_col: Column, n_buckets: int = 100) -> Column:
    """Deterministic, engine-portable bucket in [0, n_buckets): first 8
    hex chars of md5(id) as an integer, mod n_buckets. Unlike
    `df.sample`/`TABLESAMPLE` (engine-internal RNG), this is stable
    across engines, runs, partitionings, and cluster sizes — the
    property a training pipeline needs so a document's train/val/test
    assignment never changes under re-partitioning or backfill."""
    return F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % n_buckets


def split_assign(
    id_col: Column, train_pct: int = 90, val_pct: int = 5
) -> Column:
    """Stable train/val/test split label from the id hash bucket."""
    b = hash_bucket(id_col, 100)
    return (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )


def zscore_by_group(df, group_col: str, value_col: str, id_col: str):
    """Per-group z-score normalization as a grouped aggregate + broadcast
    join — pure built-in JVM expressions, no Python stage.

    Rewritten from grouped-map applyInPandas (round-2 verdict item #3):
    the moments (count, sum, sum-of-squares of the integer feature) are a
    map-side-combinable groupBy.agg, and the per-row z is an elementwise
    projection after broadcasting the tiny per-group stats frame — so no
    group ever has to fit in one executor's memory and a 100 TB language
    group streams like any other scan.

    Determinism for oracle parity: sums are exact int64, so mean/variance
    are identical regardless of row order or engine; the per-row z is the
    same double expression tree the DuckDB oracle evaluates. Groups of
    size 1 or zero variance emit NULL z."""
    v = F.col(value_col).cast("long")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_ss"),
    )
    n_d = F.col("_n").cast("double")
    mean = F.col("_s") / n_d
    var = (F.col("_ss") - F.col("_s") * F.col("_s") / n_d) / (F.col("_n") - 1)
    z = F.when((F.col("_n") > 1) & (var > 0), (v - mean) / F.sqrt(var))
    return df.join(F.broadcast(stats), group_col).select(
        id_col, group_col, z.alias("z")
    )


def char_trigrams(text: Column) -> Column:
    """Ordered character 3-grams over the normalized text (spaces kept —
    they carry the word-boundary signal the LM score needs). Empty array
    for texts shorter than 3 normalized chars (guarded: Spark's
    sequence(1, n) runs DESCENDING when n < 1)."""
    s = normalize_text(text)
    # zip of shifted char-array slices — a substr(s, i, 3) lambda would
    # re-run the normalizer expression once per gram (see dedup.shingles)
    chars = F.split(s, "")
    m = F.greatest(F.length(s) - 2, F.lit(0))
    z = F.arrays_zip(*[F.slice(chars, j + 1, m) for j in range(3)])
    grams = F.transform(
        z, lambda t: F.concat_ws("", t["0"], t["1"], t["2"])
    )
    return F.when(F.length(s) >= 3, grams).otherwise(
        F.array().cast("array<string>")
    )


def corpus_lm_scores(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """CCNet-style perplexity-proxy quality score (Wenzek et al. 2020,
    public method — theirs uses a KenLM 5-gram model; ours fits a char-
    trigram MLE model on the corpus itself, which needs no external
    model artifact): per document, the mean log-probability of its
    character trigrams under corpus-wide trigram frequencies.

        lm_score(d) = avg_{g in d} ln(count(g) / total)
                    = (sum_{g in d} ln count(g)) / n_grams(d) − ln total

    Unusually-spelled / non-linguistic text scores low (rare trigrams),
    natural prose scores high — the standard corpus-filtering signal.
    No smoothing is needed: the model is fit on the same corpus, so
    every document trigram has count ≥ 1.

    Cross-engine determinism: per-gram ln(count) is rounded to 9
    decimals and summed as DECIMAL(28,9) — exact and summation-order-
    independent (Spark's partial-aggregation order varies); only the
    final divide/subtract runs in doubles, then round 6.

    100 TB shape: the model is one map-side-combinable count shuffled
    on the gram — and the normalized-char-trigram key space is BOUNDED
    (≤ 37³ ≈ 51k grams over [a-z0-9 ]), so the fitted model is a true
    model artifact: persisted once (the same justified materialization
    as the IVF centroids) and BROADCAST into the scoring join — scoring
    is then one narrow pass over the corpus, no shuffle of the gram
    stream at any size. Per-doc reduce is combinable; nothing is
    quadratic."""
    from nashville_etl_service_backup_spark.operators import track_persist

    grams = df.select(F.col(id_col), F.explode(char_trigrams(F.col(text_col))).alias("g"))
    model = track_persist(grams.groupBy("g").agg(F.count(F.lit(1)).alias("c")))
    total = model.agg(F.sum("c").alias("t"))
    per_doc = (
        grams.join(F.broadcast(model), "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.round(F.log(F.col("c").cast("double")), 9).cast("decimal(28,9)")
            ).alias("_slc"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        F.col("n_grams"),
        F.round(
            F.col("_slc").cast("double") / F.col("n_grams")
            - F.round(F.log(F.col("t").cast("double")), 9),
            6,
        ).alias("lm_score"),
    )


def bigram_lm_nll(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """Word-bigram add-one LM trained in-engine on the TRAIN hash-split
    and scored over every document — the held-out-model cousin of
    :func:`corpus_lm_scores` (CCNet/Wenzek et al. 2020 filter shape:
    there a KenLM n-gram model fit on trusted text scores the crawl;
    here the trusted subset is the stable 90% train split, so val/test
    docs are scored OUT of model). Per doc:

        nll(d) = avg over bigrams (w1,w2) of
                 -ln( (c(w1,w2)+1) / (c(w1)+V) )

    with c(·) counted on train-split bigrams, c(w1) the bigram-head
    count (so the conditional rows sum to 1), and V the train vocab
    size — add-one smoothing keeps unseen pairs finite; a fully-OOV
    bigram scores ln(V) exactly.

    Cross-engine determinism: the two log terms are each rounded to 9
    decimals and summed separately as DECIMAL(28,9) (order-independent
    exact sums; the corpus_lm_scores device) — only the final
    subtract/divide runs in doubles, then round 6.

    100 TB shape: the model is ONE map-side-combinable bigram count
    shuffled on the (w1,w2) key — the head count c(w1) folds out of it
    by a second aggregation over the (small) model itself, never a
    second pass over the bigram stream; scoring is two equi-joins on
    those keys (bigram vocabularies can exceed broadcast size at corpus
    scale, so the join IS the scale plan; a head-count/V broadcast is
    the small-corpus special case Spark's AQE already picks when it
    fits) plus a combinable per-doc reduce. Nothing is quadratic; no
    driver data. (A persist of the tokenized frame was A/B-probed in
    round 9 and measured NEGATIVE at sf0.1 — the cached plan loses
    AQE coalescing and serializes the branch concurrency; see
    BENCH_ISOLATIONS_r09/bigram_bm25_q21_ab.json.)"""
    from nashville_etl_service_backup_spark.functions.text import tokenize

    toks = tokenize(F.col(text_col))
    base = df.select(
        F.col(id_col),
        toks.alias("_t"),
        (split_assign(F.col(id_col)) == "train").alias("_is_train"),
    )
    n = F.size("_t")
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("_t"), 1, n - 1),
            F.slice(F.col("_t"), 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = base.select(
        id_col, "_is_train", F.explode(pairs).alias("_p")
    ).select(
        id_col,
        "_is_train",
        F.col("_p.w1").alias("w1"),
        F.col("_p.w2").alias("w2"),
    )
    train_bg = bg.filter(F.col("_is_train"))
    c12 = train_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    # c(w1) is the marginal of the bigram model: summing c12 per head
    # counts exactly the same train-bigram rows as a groupBy(w1) over
    # the stream would — identical value and key set, computed from the
    # 1-row-per-distinct-bigram aggregate instead of re-shuffling every
    # train bigram a second time
    c1 = c12.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    vocab = (
        base.filter(F.col("_is_train"))
        .select(F.explode("_t").alias("tok"))
        .agg(F.count_distinct("tok").alias("_v"))
    )
    l1 = F.round(
        F.log((F.coalesce(F.col("_c12"), F.lit(0)) + 1).cast("double")), 9
    )
    l2 = F.round(
        F.log(
            (F.coalesce(F.col("_c1"), F.lit(0)) + F.col("_v")).cast(
                "double"
            )
        ),
        9,
    )
    scored = (
        bg.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(l1.cast("decimal(28,9)")).alias("_s1"),
            F.sum(l2.cast("decimal(28,9)")).alias("_s2"),
        )
    )
    return scored.select(
        id_col,
        "n_bigrams",
        F.round(
            (F.col("_s2") - F.col("_s1")).cast("double")
            / F.col("n_bigrams").cast("double"),
            6,
        ).alias("nll"),
    )


def tfidf_cosine_topk(
    df,
    query_id: int,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Sparse tf-idf cosine top-k via an inverted-index equi-join — the
    THIRD similarity plan family next to dense HOF dots (similarity.py)
    and BM25 rank: document vectors never materialize; the dot product
    is a join on the term key restricted to the query doc's terms, so
    the work is O(postings of query terms), not O(corpus · dim).

    Weights: w(d,t) = round(tf · (ln(N+1) − ln(df+1)), 6) with each ln
    of an INTEGER rounded to 9 decimals (the corpus_lm_scores cross-
    engine device — never ln of a ratio); dot/norm partial sums route
    through DECIMAL(28,6) (order-independent), and the final cosine is
    dot/(√nd·√nq) — IEEE sqrt is correctly rounded, so bit-identical
    across engines.

    100 TB shape: tf/df are map-side-combinable counts shuffled on the
    term; the query vector is a one-doc broadcast; scoring joins ONLY
    the postings of the query's terms (stop-word-heavy queries cost
    the most — cap or idf-floor them in a real deployment); top-k is a
    TakeOrderedAndProject heap. No driver data beyond the plan."""
    from nashville_etl_service_backup_spark.functions.text import tokenize

    from nashville_etl_service_backup_spark.operators import track_persist

    tok = df.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("_tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    nn = df.agg(F.count(F.lit(1)).alias("_n"))
    # persist the weighted postings: they feed norms, the query vector,
    # and the scoring join — a real deployment materializes this index
    # once at corpus build, and without it each consumer re-tokenizes
    # the corpus
    w = track_persist(
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nn))
        .select(
            id_col,
            "term",
            F.round(
                F.col("_tf")
                * (
                    F.round(F.log((F.col("_n") + 1).cast("double")), 9)
                    - F.round(F.log((F.col("_df") + 1).cast("double")), 9)
                ),
                6,
            ).alias("_w"),
        )
    )
    # fill the cache with ONE job before the query-side broadcast
    # subtrees execute — the qvec/qn broadcasts otherwise race the
    # cold cache and can each compute the tokenize+tf+df chain
    # (round-9 A/B: within noise at sf0.1, strictly fewer index
    # builds at scale; BENCH_ISOLATIONS_r09/sparse_cosine_ab.json).
    # noop sink, not count(): no driver action in the serving path
    # (VERDICT r9 minor #4) and the fill computes every cached column.
    w.write.format("noop").mode("overwrite").save()
    norms = w.groupBy(id_col).agg(
        F.sum(
            F.round(F.col("_w") * F.col("_w"), 6).cast("decimal(28,6)")
        ).alias("_n2")
    )
    qvec = w.filter(F.col(id_col) == query_id).select(
        "term", F.col("_w").alias("_wq")
    )
    # the query norm derives from the (tiny) query vector itself —
    # identical decimal sum over the same round-6 terms as the
    # norms-row it replaces, without dragging the full-postings
    # groupBy into the broadcast path
    qn = qvec.agg(
        F.sum(
            F.round(F.col("_wq") * F.col("_wq"), 6).cast("decimal(28,6)")
        ).alias("_qn2")
    )
    dots = (
        w.filter(F.col(id_col) != query_id)
        .join(F.broadcast(qvec), "term")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.round(F.col("_w") * F.col("_wq"), 6).cast(
                    "decimal(28,6)"
                )
            ).alias("_dot"),
            F.count(F.lit(1)).alias("n_shared_terms"),
        )
    )
    cos = F.round(
        F.col("_dot").cast("double")
        / (
            F.sqrt(F.col("_n2").cast("double"))
            * F.sqrt(F.col("_qn2").cast("double"))
        ),
        4,
    )
    return (
        dots.join(norms, id_col)
        .crossJoin(F.broadcast(qn))
        .select(id_col, cos.alias("cosine"), "n_shared_terms")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def strip_boilerplate_lines(
    df,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Inter-document boilerplate-line removal (the C4/CCNet recipe,
    Raffel et al. 2020 §2.2 / Wenzek et al. 2020 §3.1, public methods):
    a trimmed non-empty line that appears in ≥ ``min_docs`` DISTINCT
    documents is boilerplate (nav menus, cookie banners, footers) and is
    removed from every document.

    Output per doc: (id, n_lines, n_removed, cleaned_md5) where
    cleaned_md5 fingerprints the '\\n'-join of the surviving trimmed
    lines in original order (md5 of '' when everything was removed).

    100 TB shape: the boilerplate census is a count-distinct-docs per
    line — shuffled on the line text (map-side combinable after the
    in-partition distinct); removal is a left-anti equi-join of doc
    lines against the (small) boilerplate set; the rebuild groups each
    doc's own lines (doc-sized state, never corpus-sized)."""
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x))
            ).alias("pos", "ln"),
        )
        .filter(F.length("ln") > 0)
    )
    boiler = (
        lines.groupBy("ln")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("ln")
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    kept = lines.join(boiler, "ln", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                    lambda t: t["ln"],
                ),
                "\n",
            )
        ).alias("cleaned_md5"),
    )
    empty_md5 = hashlib.md5(b"").hexdigest()
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("n_lines"),
        (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("cleaned_md5"), F.lit(empty_md5)).alias("cleaned_md5"),
    )


def chunk_token_windows(
    df,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Sliding-window document chunking (the RAG / pretraining
    preprocessing shape: fixed-size token windows with overlap =
    window − stride). Chunk starts are 0, stride, 2·stride, … while
    start < n_tokens, so every token lands in ≥1 chunk and the tail
    chunk may be short.

    Output: (id, chunk_idx, n_chunk_tokens, chunk_md5) where chunk_md5
    fingerprints the space-joined window — stable across engines and
    partitionings.

    100 TB shape: one narrow pass (tokenize → HOF window slices →
    posexplode); output size ≈ corpus × window/stride, no shuffle at
    all until whatever consumes the chunks."""
    toks = tokenize(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.floor((n - 1) / stride).cast("long")
    )
    chunks = F.transform(
        starts, lambda i: F.slice(toks, (i * stride + 1).cast("int"), window)
    )
    # explode the expression, not a staged column: over a column Spark
    # infers size(_ch) > 0 and pushes that Filter, with the whole
    # tokenize/chunk expression, below any Exchange into the scan
    ex = df.select(
        F.col(id_col),
        F.posexplode(
            F.when(n >= 1, chunks).otherwise(
                F.array().cast("array<array<string>>")
            )
        ).alias("chunk_idx", "_c"),
    )
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("_c").cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join("_c", " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich, Haddow, Birch 2016, "Neural machine
# translation of rare words with subword units")
# ---------------------------------------------------------------------------

# replace-all repetitions per merge application; converges the sentinel
# representation to the full greedy merge for words up to 2^(passes+1)
# chars (see bpe_train docstring)
_BPE_APPLY_PASSES = 6


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus,
    distributed the way the classic trainer is: on the WORD HISTOGRAM,
    not the raw text — 100 TB of text collapses to one (word, freq)
    table (a single map-side-combinable shuffle), and every subsequent
    pass is a narrow op over that small table.

    Representation: each word is a '|'-sentineled symbol string
    ('abc' → '|a|b|c|'; tokens are [a-z0-9]+ so '|' never collides).
    Per round: count adjacent symbol pairs weighted by word freq, pick
    the most frequent pair (ties → lexicographically smallest), and
    apply the merge with ``_BPE_APPLY_PASSES`` repetitions of one
    literal replace-all. A single replace-all is NOT enough: the
    trailing '|' of a match is the leading '|' of the next occurrence
    ('banana' + merge (a,n): one pass yields [b,an,a,n,a]), so the
    replace is repeated to a fixpoint. For l != r the occurrences are
    pairwise disjoint and the fixpoint merges them ALL — exactly the
    canonical greedy application — and each pass at least halves the
    blocked chain, so ceil(log2(word_len/2)) passes converge (6 passes
    cover words up to 128 chars). Known divergence: a self-pair
    (l == r) over an odd run of >= 5 repeats can settle on a different
    maximal matching than the left-aligned canonical one ('aaaaa' →
    [aa,a,aa] vs [aa,aa,a]); the oracle applies the identical passes,
    so the engines always agree with each other.

    The chosen pair is collected per round (a 1-row model artifact,
    like the k-means centroids); the pair SELECTION and the per-round
    vocab size stay in-engine, and the DuckDB oracle re-derives the
    entire merge sequence dynamically in SQL — the collected literals
    must agree with the oracle's own choices for the hash to match.

    Output: (step, lhs, rhs, freq, vocab_size) — one row per learned
    merge, vocab_size = distinct symbols after applying it."""
    from functools import reduce

    from nashville_etl_service_backup_spark.functions.text import tokenize
    from nashville_etl_service_backup_spark.operators import track_persist

    words = (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # The histogram is tiny relative to the corpus (even a 100 TB crawl
    # has a vocab in the millions, a few hundred MB) — collapse it to a
    # handful of partitions so each of the n_merges rounds is a
    # couple-of-tasks job, not 32 near-empty tasks × 2 stages.
    words = track_persist(
        words.coalesce(4).select(
            F.concat(F.lit("|"), F.regexp_replace("w", "(.)", r"$1|")).alias("s"),
            "freq",
        )
    )

    def syms(col: Column) -> Column:
        return F.filter(F.split(col, r"\|"), lambda x: x != "")

    cur = F.col("s")
    step_frames = []
    for t in range(n_merges):
        sy = syms(cur)
        n = F.size(sy)
        pairs = F.when(
            n >= 2,
            F.zip_with(
                F.slice(sy, 1, n - 1),
                F.slice(sy, 2, n - 1),
                lambda l, r: F.struct(l.alias("l"), r.alias("r")),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        top = (
            words.select(F.explode(pairs).alias("p"), "freq")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )[0]
        l, r, fq = top["l"], top["r"], int(top["freq"])
        for _ in range(_BPE_APPLY_PASSES):
            cur = F.replace(cur, F.lit(f"|{l}|{r}|"), F.lit(f"|{l}{r}|"))
        vocab = words.select(F.explode(syms(cur)).alias("sym")).agg(
            F.count_distinct("sym").alias("vocab_size")
        )
        step_frames.append(
            vocab.select(
                F.lit(t).alias("step"),
                F.lit(l).alias("lhs"),
                F.lit(r).alias("rhs"),
                F.lit(fq).cast("long").alias("freq"),
                "vocab_size",
            )
        )
    return reduce(DataFrame.unionAll, step_frames).orderBy("step")


# ---------------------------------------------------------------------------
# Duplicated-span audit, temperature mixture, importance resampling,
# BPE merge application
# ---------------------------------------------------------------------------


def _ordered_ngrams(tokens: Column, n: int) -> Column:
    """Positional (non-distinct) word n-grams from an ordered token
    array — like dedup.shingles but KEEPING duplicates, because the
    duplicated-span audit weighs n-gram POSITIONS, not the n-gram set."""
    if n == 1:
        return tokens
    # zip of n shifted slices, NOT a per-element F.get(tokens, i+j)
    # lambda: the lambda form re-evaluates the token EXPRESSION per gram
    # when projection collapse substitutes it (see dedup.shingles)
    m = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(tokens, j + 1, m) for j in range(n)])
    return F.transform(
        z, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )


def duplicated_span_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span mass — the shuffle-friendly
    approximation of exact-substring dedup (Lee, Ippolito et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    fraction of a document's word n-gram POSITIONS whose n-gram also
    occurs in >= ``min_docs`` documents. ExactSubstr builds a corpus
    suffix array (inherently sequential); the n-gram-position variant
    captures the same per-doc "how much of me is boilerplate/copied"
    signal with only equi-shuffles.

    Scale shape: grams are md5-hashed before anything moves, so the
    per-doc gram count and the doc-frequency pass shuffle (32-char
    hash, id, count) rows — never text; the gram build runs ONCE in a
    single linear pipeline. The doc frequency is a count window over
    the gram partitions of the SAME shuffle the old groupBy+join plan
    needed anyway — the round-9 rewrite (A/B'd in
    BENCH_ISOLATIONS_r09/dup_spans_ab.json, 3.3→2.0 s at sf0.1,
    identical rows): the previous dfreq branch was planned as a
    broadcast whose subtree re-ran the whole tokenize+ngram+md5 chain,
    and at corpus scale dfreq (one row per distinct gram) is not
    broadcastable at all.

    Output: (id, n_grams, n_dup_grams, dup_frac) for EVERY input doc
    (docs shorter than n tokens get 0/0/NULL)."""
    from pyspark.sql.window import Window

    # md5 applied after the explode as a plain codegen projection (an
    # in-lambda transform() md5 measures the same here — the hot cost
    # is the tokenize/ngram build, which spread() parallelizes)
    grams = _ordered_ngrams(tokenize(F.col(text_col)), n)
    dg = (
        docs.select(F.col(id_col), F.explode(grams).alias("_g"))
        .select(F.col(id_col), F.md5(F.col("_g")).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = (
        dg.withColumn(
            "ndocs",
            F.count(F.lit(1)).over(Window.partitionBy("gram")),
        )
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("_ng"),
            F.sum(
                F.when(F.col("ndocs") >= min_docs, F.col("c")).otherwise(0)
            ).alias("_nd"),
        )
    )
    ng = F.coalesce(F.col("_ng"), F.lit(0)).cast("long")
    nd = F.coalesce(F.col("_nd"), F.lit(0)).cast("long")
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            ng.alias("n_grams"),
            nd.alias("n_dup_grams"),
            F.when(
                ng > 0, F.round(nd.cast("double") / ng.cast("double"), 6)
            ).alias("dup_frac"),
        )
    )


def temperature_mixture_rates(docs: DataFrame, group_col: str) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) group sampling rates — the
    mT5 / XLM-R low-resource-upsampling formula (Xue et al. 2021;
    Conneau et al. 2020): rate_g ∝ p_g^alpha with p_g the group's
    corpus share, normalized over groups. alpha is FIXED at 0.5 so the
    exponentiation is sqrt — IEEE-754 requires sqrt (unlike pow) to be
    correctly rounded, so the rates are bit-identical across engines
    with no epsilon; the normalizer sums round(sqrt(p), 9) through
    DECIMAL so it is order-exact.

    Scale shape: one map-side-combinable count per group + two
    broadcast single-row aggregates (total, normalizer); nothing else
    moves.

    Output: (group, n_docs, p_corpus, samp_rate, expected_docs) with
    expected_docs = floor(rate * N)."""
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("_N"))
    s = F.round(
        F.sqrt(F.col("n_docs").cast("double") / F.col("_N").cast("double")), 9
    ).cast("decimal(18,9)")
    scored = counts.crossJoin(F.broadcast(tot)).select(
        group_col, "n_docs", "_N", s.alias("_s")
    )
    z = scored.agg(F.sum("_s").alias("_Z"))
    rate = F.round(F.col("_s").cast("double") / F.col("_Z").cast("double"), 6)
    return scored.crossJoin(F.broadcast(z)).select(
        group_col,
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(
            F.col("n_docs").cast("double") / F.col("_N").cast("double"), 6
        ).alias("p_corpus"),
        rate.alias("samp_rate"),
        F.floor(rate * F.col("_N").cast("double")).cast("long").alias(
            "expected_docs"
        ),
    )


def importance_resample(
    docs: DataFrame,
    id_col: str,
    group_col: str,
    target_shares: dict[str, int],
    sample_num: int = 1,
    sample_den: int = 2,
    n_buckets: int = 100_000,
) -> DataFrame:
    """DSIR-style deterministic importance resampling (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    reduced to group granularity): draw a ``sample_num/sample_den``
    sized corpus whose GROUP distribution approaches ``target_shares``
    (integer percentages) instead of the corpus distribution, by
    accepting each doc with probability
    min(1, (t_g/100) * desired_total / n_g).

    The accept rule is exact INTEGER arithmetic on a salted md5 hash
    bucket (no float thresholds, no engine RNG):

        keep  <=>  bucket * 100 * n_g  <  t_g * desired_total * n_buckets

    so membership is stable under re-partitioning, backfill, and engine
    choice. Overflow bound: lhs fits in int64 while
    n_g < 2^63 / (100 * n_buckets) ≈ 9e11 docs per group at the default
    n_buckets — beyond any single group in a 100 TB corpus; shrink
    n_buckets if ever exceeded.

    Scale shape: one map-side-combinable group count, broadcast to a
    narrow filter over the corpus — no wide shuffle of documents.

    Output: the kept (id, group) set."""
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_ng"))
    tot = counts.agg(F.sum("_ng").alias("_N"))
    tmap = F.create_map(
        *[F.lit(x) for kv in target_shares.items() for x in kv]
    )
    joined = docs.join(F.broadcast(counts), group_col).crossJoin(
        F.broadcast(tot)
    )
    desired = F.floor(
        F.col("_N").cast("double") * sample_num / sample_den
    ).cast("long")
    b = hash_bucket(
        F.concat(F.lit("dsir:"), F.col(id_col).cast("string")), n_buckets
    )
    t = F.coalesce(tmap[F.col(group_col)], F.lit(0)).cast("long")
    keep = (b * 100 * F.col("_ng")) < (t * desired * n_buckets)
    return joined.filter(keep).select(id_col, group_col)


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int = 100,
    n_buckets: int = 1_048_576,
    salt: str = "psample",
) -> DataFrame:
    """Weighted sampling without replacement by PRIORITY SAMPLING
    (Duffield, Lund & Thorup 2007, JACM, "Priority sampling for
    estimation of arbitrary subset sums"): row i draws u_i ∈ (0, 1]
    and gets priority q_i = w_i / u_i; the sample is the k rows with
    the largest priorities. Inclusion probability grows with weight
    (heavy documents are near-certain members), and with threshold
    τ = the (k+1)-st priority, Σ max(w_i, τ) over any sampled subset
    unbiasedly estimates that subset's true weight sum — the standard
    way to subsample a corpus by token mass and still report exact-ish
    token accounting.

    Engine portability is why priority sampling over A-ES reservoir
    sampling (Efraimidis & Spirakis 2006): the A-ES key u^(1/w) needs
    pow/ln, whose last-ULP behavior differs across math libraries and
    would make the sample membership engine-dependent at rank
    boundaries. Here u_i = (b_i + 1) / M with b_i the salted md5
    bucket (hash_bucket — partitioning/backfill/engine invariant), so

        q_i = w_i * M / (b_i + 1)

    is one IEEE multiply and one divide — correctly rounded,
    bit-identical in Spark and DuckDB. Ties (same priority) break on
    id.

    Scale shape: a narrow projection (md5 + two float ops per row)
    into a TakeOrderedAndProject top-k heap — no shuffle of the corpus,
    no Python. Output: the k sampled rows with their `priority`.
    """
    b = hash_bucket(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")),
        n_buckets,
    )
    q = (
        F.col(weight_col).cast("double")
        * F.lit(float(n_buckets))
        / (b + 1).cast("double")
    )
    return (
        df.withColumn("priority", q)
        .orderBy(F.desc("priority"), F.col(id_col))
        .limit(k)
    )


def bpe_segment_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a trained BPE merge table to every token and report the
    per-document segmentation size — the tokenizer-APPLY twin of
    bpe_train (same Sennrich et al. 2016 semantics, same '|'-sentinel
    word representation, same ``_BPE_APPLY_PASSES``-repeated literal
    replace-all per merge; see bpe_train for the fixpoint-convergence
    argument and the odd-self-run caveat). Merges are applied in rank
    order, which reproduces the lowest-rank-first greedy loop: an
    earlier merge's pair can never reappear after a later merge
    consumes one of its symbols.

    The merge table is a model artifact (the output of bpe_train or an
    offline trainer) baked into the plan as literals — the encode pass
    itself is a pure narrow JVM projection: no shuffle, no UDF, no
    Python. (A Zipf-aware variant would encode DISTINCT words and join
    back — one extra shuffle traded for ~50× less string work; at
    typical doc sizes the narrow form wins until vocabularies repeat
    heavily within a partition.)

    Output: (id, n_words, n_bpe_tokens, fertility) with fertility =
    round(n_bpe_tokens / n_words, 6) (NULL for empty docs)."""
    toks = tokenize(F.col(text_col))

    def encode(w: Column) -> Column:
        s = F.concat(F.lit("|"), F.regexp_replace(w, "(.)", r"$1|"))
        for left, right in merges:
            for _ in range(_BPE_APPLY_PASSES):
                s = F.replace(
                    s, F.lit(f"|{left}|{right}|"), F.lit(f"|{left}{right}|")
                )
        return s

    def n_syms(w: Column) -> Column:
        return F.size(F.filter(F.split(encode(w), r"\|"), lambda x: x != ""))

    total = F.aggregate(
        F.transform(toks, n_syms), F.lit(0), lambda acc, x: acc + x
    )
    nw = F.size(toks).cast("long")
    nb = total.cast("long")
    return docs.select(
        F.col(id_col),
        nw.alias("n_words"),
        nb.alias("n_bpe_tokens"),
        F.when(
            nw > 0, F.round(nb.cast("double") / nw.cast("double"), 6)
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# HTML main-content extraction (trafilatura/jusText-lite)
# ---------------------------------------------------------------------------

# RE2-compatible (no backreferences, no lookaround) so the Java-regex
# Spark plan and the RE2 DuckDB oracle match byte-for-byte.
_HTML_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
_HTML_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
_HTML_HEAD_RE = r"(?is)<head[^>]*>.*?</head>"
_HTML_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"
_HTML_ANCHOR_RE = r"(?is)<a[^>]*>(.*?)</a>"
_HTML_BREAK_RE = r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/table)[^>]*>"
_HTML_TAG_RE = r"<[^>]*>"
_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"),
    ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
]


def _decode_entities(c: Column) -> Column:
    for ent, ch in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _collapse_ws(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_extract(
    docs: DataFrame,
    id_col: str,
    html_col: str,
    min_words: int = 3,
) -> DataFrame:
    """Main-content extraction from raw HTML — the trafilatura/jusText
    recipe reduced to deterministic, engine-portable regex algebra:

      1. drop <script>/<style> blocks (dotall, non-greedy);
      2. capture <title>, then drop the whole <head> so metadata never
         leaks into the body text; audit every anchor's inner text;
      3. turn block-level closers (</p>, </div>, </li>, </hN>, <br>, …)
         into newlines so document line structure survives;
      4. strip remaining tags, decode the six common entities,
         collapse whitespace per line;
      5. keep lines with >= ``min_words`` words — the jusText-style
         short-line boilerplate heuristic (nav/footer links are short).

    Everything is Java-and-RE2-safe regex + HOFs — one narrow JVM pass,
    no UDF, no shuffle; at 100 TB this runs fused onto the scan.

    Output: (id, title, n_links, link_char_frac, n_lines_kept,
    n_text_chars, text_md5) where link_char_frac = anchor-text chars /
    total text chars (round 6, NULL when the page has no text)."""
    raw = F.col(html_col)
    s1 = F.regexp_replace(
        F.regexp_replace(raw, _HTML_SCRIPT_RE, " "), _HTML_STYLE_RE, " "
    )
    title = _collapse_ws(
        _decode_entities(F.regexp_extract(s1, _HTML_TITLE_RE, 1))
    )
    s1 = F.regexp_replace(s1, _HTML_HEAD_RE, " ")
    anchor_texts = F.transform(
        F.regexp_extract_all(s1, F.lit(_HTML_ANCHOR_RE), 1),
        lambda a: _collapse_ws(
            _decode_entities(F.regexp_replace(a, _HTML_TAG_RE, " "))
        ),
    )
    link_chars = F.aggregate(
        anchor_texts, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    s2 = F.regexp_replace(s1, _HTML_BREAK_RE, "\n")
    s3 = _decode_entities(F.regexp_replace(s2, _HTML_TAG_RE, " "))
    lines = F.transform(F.split(s3, "\n"), _collapse_ws)
    kept = F.filter(
        lines,
        lambda l: (l != "") & (F.size(F.split(l, " ")) >= min_words),
    )
    text = F.array_join(kept, "\n")
    total_chars = F.length(_collapse_ws(F.regexp_replace(s3, "\n", " ")))
    return docs.select(
        F.col(id_col),
        title.alias("title"),
        F.size(F.regexp_extract_all(s1, F.lit(_HTML_ANCHOR_RE), 1))
        .cast("long")
        .alias("n_links"),
        F.when(
            total_chars > 0,
            F.round(link_chars.cast("double") / total_chars, 6),
        ).alias("link_char_frac"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        total_chars.cast("long").alias("n_text_chars"),
        F.md5(text).alias("text_md5"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization + domain extraction (crawl-curation companions)
# ---------------------------------------------------------------------------

# tracking params dropped during canonicalization (the common CC/C4
# URL-dedup hygiene set); RE2-safe alternation
_URL_TRACKING = r"(?:utm_[a-z]+|gclid|fbclid|ref)"


def normalize_url(url: Column) -> Column:
    """Canonical URL for URL-level dedup / blocklist joins:

      1. trim, drop the #fragment;
      2. lowercase scheme://host (path/query case is significant);
      3. strip default ports (:80 for http, :443 for https);
      4. remove tracking query params (utm_*, gclid, fbclid, ref) —
         a bounded replace chain handles up to 3 consecutive ones;
      5. tidy separators ('?&' → '?', trailing '?'/'&'/'/' dropped).

    Pure RE2-safe regex (no lookaround — port stripping enumerates the
    three follow contexts instead), so the DuckDB twin reproduces the
    canonical form byte-for-byte; one narrow JVM map."""
    u = F.regexp_replace(F.trim(url), r"#.*$", "")
    pre = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    u = F.concat(F.lower(pre), F.substr(u, F.length(pre) + F.lit(1)))
    for scheme, port in (("http", "80"), ("https", "443")):
        for ctx, repl in (("/", "$1/"), (r"\?", "$1?"), ("$", "$1")):
            u = F.regexp_replace(
                u, f"^({scheme}://[^/:?#]+):{port}{ctx}", repl
            )
    for _ in range(3):
        u = F.regexp_replace(u, f"([?&]){_URL_TRACKING}=[^&]*&", "$1")
    u = F.regexp_replace(u, f"[?&]{_URL_TRACKING}=[^&]*$", "")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]$", "")
    return F.regexp_replace(u, r"^(.*[^/])/$", "$1")


def url_domain(norm_url: Column) -> Column:
    """Registrable-domain approximation from a normalized URL: the last
    two dot-labels of the host (a public-suffix list would refine
    co.uk-style hosts; the two-label form is the deterministic,
    dependency-free variant)."""
    host = F.regexp_extract(
        norm_url, r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1
    )
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
