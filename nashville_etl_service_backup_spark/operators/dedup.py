"""Deduplication operators for large-scale training-data pipelines.

All are pure DataFrame compositions (no Python row loops, no collect):

- exact:        fingerprint (md5 of normalized content / bag-of-words)
                → groupBy → keep representative. One shuffle on the hash.
- MinHash+LSH:  shingle → k min-hashes → band buckets → equi-join on
                band bucket → verify candidate pairs with exact Jaccard.
                Candidate generation is an equi-join on band hash, so at
                100 TB it shuffles only (band_hash, doc_id) pairs — never
                the corpus cross product; the verify join fetches shingle
                sets for the (small) candidate set only.
- SimHash:      64-bit signed-bit-accumulation signature; near-dups are
                pairs within Hamming distance d — bucketed by 4 16-bit
                chunks (pigeonhole: d≤3 ⟹ some chunk equal).

MinHash uses md5-hex min (lexicographic) rather than integer hashing:
deterministic, engine-portable (the DuckDB oracle computes the identical
signature), and uniform enough for banding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nashville_etl_service_backup_spark.functions.text import tokenize


def shingles(tokens: Column, n: int = 2) -> Column:
    """Distinct word n-grams from an ordered token array — pure
    higher-order functions, no explode.

    Built as arrays_zip of n shifted slices rather than a per-element
    F.get(tokens, i+j) lambda: the lambda form references the OUTER
    array expression once per element, and when ``tokens`` is an
    unmaterialized expression (tokenize(text) — projection collapse
    substitutes it even across a staged select), the tokenizer re-runs
    per gram — O(len) regex passes per row. The zip form evaluates
    ``tokens`` exactly n+1 times regardless (measured 4× on trigram
    shingles at sf0.1; output order and values identical)."""
    if n == 1:
        return F.array_distinct(tokens)
    m = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(tokens, j + 1, m) for j in range(n)])
    grams = F.transform(
        z, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )
    return F.array_distinct(grams)


def minhash(shingle_set: Column, seed: int) -> Column:
    """One MinHash value: lexicographic min of seeded md5 over the set."""
    return F.array_min(
        F.transform(shingle_set, lambda t: F.md5(F.concat(F.lit(f"{seed}:"), t)))
    )


def minhash_signature(shingle_set: Column, num_hashes: int = 4) -> list[Column]:
    return [minhash(shingle_set, k) for k in range(num_hashes)]


def minhash_signature_sliced(shingle_set: Column, num_hashes: int = 4) -> list[Column]:
    """MinHash signature from ONE md5 per shingle: non-overlapping
    8-hex-char slices of the digest are independent uniform 32-bit
    hashes. 4× cheaper than seeded re-hashing; md5's 32 hex chars cap
    num_hashes at 4."""
    if num_hashes > 4:
        raise ValueError("sliced signature supports at most 4 hashes")
    hashed = F.transform(shingle_set, lambda t: F.md5(t))
    return [
        F.array_min(F.transform(hashed, lambda h: F.substring(h, 1 + 8 * k, 8)))
        for k in range(num_hashes)
    ]


def exact_dedup_groups(
    df: DataFrame, id_col: str, fingerprint: Column
) -> DataFrame:
    """Exact-duplicate groups: fingerprint → (fp, n_docs, min id).
    Callers pick md5(text) for byte-exact or md5(sorted bag) for
    order-insensitive duplicates."""
    return (
        df.select(F.col(id_col), fingerprint.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias(f"min_{id_col}"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, fingerprint: Column) -> DataFrame:
    """Keep one representative (min id) per fingerprint — the scalable
    dropDuplicates: one shuffle on the hash, map-side combinable."""
    w_id = F.col(id_col)
    return (
        df.withColumn("_fp", fingerprint)
        .withColumn("_keep", F.min(w_id).over(Window.partitionBy("_fp")))
        .filter(w_id == F.col("_keep"))
        .drop("_fp", "_keep")
    )


def _signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(doc_id, sh, bands) frame shared by the batch pair-finder and the
    streaming signature store: shingle sets plus the banded md5-slice
    MinHash band-hash array (NULL bands for shingle-less docs). Callers
    persist/materialize as their access pattern requires."""
    rows_per_band = num_hashes // bands
    toks = tokenize(F.col("_txt"))
    sh = shingles(toks, shingle_n)
    # Spread the RAW text before any per-token work (tokenize, shingle,
    # md5 are the CPU cost and must run on all cores even when the scan
    # has a single input split).
    from nashville_etl_service_backup_spark.operators import spread

    shingled = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt"))
    ).select("doc_id", sh.alias("sh"))
    # All num_hashes minhash slices in ONE aggregate fold (running mins):
    # a per-hash array_min(transform(md5)) column set re-derives the
    # md5 pipeline per column (CollapseProject inlines the shared
    # subexpression), measured ~4× slower than this single pass.
    init = F.array_repeat(F.lit("~"), num_hashes)  # '~' sorts above hex
    ks = F.array(*[F.lit(k) for k in range(num_hashes)])
    mins = F.aggregate(
        F.col("sh"),
        init,
        lambda acc, t: F.zip_with(
            acc, ks, lambda a, k: F.least(a, F.substring(F.md5(t), k * 8 + 1, 8))
        ),
    )
    band_cols = [
        F.concat_ws(
            "|",
            *[
                F.element_at(F.col("_mins"), b * rows_per_band + j + 1)
                for j in range(rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    return shingled.withColumn("_mins", mins).select(
        "doc_id",
        "sh",
        F.when(F.size("sh") > 0, F.array(*band_cols)).alias("bands"),
    )


def band_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    num_hashes: int = 4,
    bands: int = 2,
) -> DataFrame:
    """Exploded LSH index entries (doc_id, band_idx, band_hash) — the
    persistable signature-store rows the streaming near-dup gate appends
    and probes (same md5-slice MinHash math as lsh_near_dup_pairs, so a
    store built here and a batch dedup over the same corpus agree on
    candidates)."""
    return _signature_frame(
        df, id_col, text_col, shingle_n, num_hashes, bands
    ).select("doc_id", F.posexplode("bands").alias("band_idx", "band_hash"))


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    num_hashes: int = 4,
    bands: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.
    """
    # The signature frame feeds three plan branches (band explode + both
    # sides of the verify join): checkpoint it so the signature pipeline
    # runs once, not 4×, and so no later plan carries the upstream
    # lineage. At 100 TB this is the standard "materialize signatures"
    # stage of an LSH dedup (disk-backed, partitioned). The checkpoint is
    # lazy: the first job that reads the pairs materializes it, so in
    # dedup_recall_audit the signatures are built in the query's own job
    # beside the exact finder's scan (an eager one ran before it, +7% at
    # sf0.1). Registered for release_persisted() — the caller frees it
    # after consuming the (lazy) result.
    from nashville_etl_service_backup_spark.operators import register_checkpoint

    base = register_checkpoint(
        _signature_frame(
            df, id_col, text_col, shingle_n, num_hashes, bands
        ).localCheckpoint(eager=False)
    )
    # candidate generation: explode bands, equi-join on (band_idx, hash)
    b = base.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    left = b.alias("l")
    right = b.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    # verification: fetch both shingle sets, exact Jaccard
    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams of lowercased, punctuation-collapsed
    text — pure higher-order functions, no explode.

    Zip-of-shifted-slices over the char array instead of a per-index
    substr lambda: substr(s, i, n) inside the lambda references the
    normalized-string EXPRESSION once per gram, re-running the regex
    normalizer O(len) times per row (projection collapse substitutes it
    even when staged). The zip form evaluates it n+2 times total —
    measured 2× on 5-grams at sf0.1, byte-identical output."""
    s = F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))
    chars = F.split(s, "")
    m = F.greatest(F.length(s) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(chars, j + 1, m) for j in range(n)])
    grams = F.transform(
        z, lambda t: F.concat_ws("", *[t[str(j)] for j in range(n)])
    )
    return F.when(F.length(s) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    bands: int = 3,
    hashes_per_band: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Character-n-gram Jaccard near-duplicates via banded MinHash
    blocking: band key = concat of ``hashes_per_band`` seeded min-md5s
    over the n-gram set (per-band collision probability J^r,
    OR-amplified over ``bands``), then exact Jaccard ≥ threshold on the
    candidate set. Band width r matters at scale: on a
    small-vocabulary corpus a narrow band degenerates into giant blocks
    (any band whose r argmin-grams happen to be corpus-common is shared
    by most docs → O(B²) candidates); r=5 keeps every block tiny
    (measured 1.5k candidates / 5k docs) while recall at J≥0.9 stays
    ≈ 1-(1-J⁵)^bands ≈ 0.93. Candidate generation is an equi-join on
    (band_idx, band_key) — never the corpus cross product."""
    from nashville_etl_service_backup_spark.operators import spread

    # spread the RAW text before any per-char work: the ngram/md5 stages
    # are the CPU cost and must run on all cores even when the scan has
    # a single input split
    grams = char_ngrams(F.col("_txt"), n)
    # All band-key minhashes from ONE md5 per (gram, band): the digest's
    # 32 hex chars yield hashes_per_band (≤5) independent 6-hex-char
    # slices, folded into running mins in a single aggregate pass —
    # bands·r seeded re-hashes (15 md5/gram) drop to `bands` (3), the
    # same slicing trick as minhash_signature_sliced.
    if hashes_per_band > 5:
        raise ValueError("sliced band keys support at most 5 hashes per band")
    hpb = hashes_per_band
    per_gram = F.transform(
        F.col("g"),
        lambda t: F.array(
            *[F.md5(F.concat(F.lit(f"{b}:"), t)) for b in range(bands)]
        ),
    )
    init = F.array_repeat(F.lit("~"), bands * hpb)
    idx = F.array(*[F.lit(i) for i in range(bands * hpb)])
    mins = F.aggregate(
        per_gram,
        init,
        lambda acc, x: F.zip_with(
            acc,
            idx,
            lambda a, i: F.least(
                a,
                F.substring(
                    F.element_at(x, (i / hpb).cast("int") + 1),
                    (i % hpb) * 6 + 1,
                    F.lit(6),
                ),
            ),
        ),
    )
    from nashville_etl_service_backup_spark.operators import track_persist

    base = track_persist(
        spread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt")))
        .select("doc_id", grams.alias("g"))
        .withColumn("_mins", mins)
        .withColumn(
            "bk",
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at(F.col("_mins"), b * hpb + k + 1)
                            for k in range(hpb)
                        ],
                    )
                    for b in range(bands)
                ]
            ),
        )
        .drop("_mins")
    )
    bx = base.select("doc_id", F.posexplode("bk").alias("band_idx", "band_key"))
    l, r = bx.alias("l"), bx.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    ga = base.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    gb = base.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ga", "gb")).cast("double")
            / F.size(F.array_union("ga", "gb")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash64_from_hashes(hashes: Column) -> Column:
    """64-bit SimHash from a precomputed array of token md5 hex digests:
    for each bit position, sum ±1 votes over tokens; bit set iff the
    vote sum is positive. Returned as a 64-char '0'/'1' string (exact,
    portable).

    Bit i of a token's hash lives in hex digit i//4 of its md5 (4 bits
    per nibble) — all arithmetic on ints < 16, exact. Higher-order
    functions only: distributed, no UDF, no explode. Takes the HASHED
    array so callers materialize the md5s once (a projection/exchange
    boundary) — inlining md5 here would recompute it per bit, 64×.
    """
    # hex digit → its 4 ±1 votes (MSB first), as a literal map: one
    # lookup per hex char instead of substring+conv+pow per (token,bit) —
    # ~10× fewer ops per token with identical bit semantics
    entries: list[Column] = []
    for c in "0123456789abcdef":
        v = int(c, 16)
        entries.append(F.lit(c))
        entries.append(
            F.array(*[F.lit(1 if (v >> (3 - j)) & 1 else -1) for j in range(4)])
        )
    hexmap = F.create_map(*entries)

    def tok_votes(h: Column) -> Column:
        # first 16 hex digits = the 64 signature bits (md5 is 128-bit;
        # bit i lives in hex digit i//4, so bits 0..63 span digits 1..16)
        digits = F.transform(
            F.sequence(F.lit(1), F.lit(16)), lambda i: h.substr(i, F.lit(1))
        )
        return F.flatten(F.transform(digits, lambda c: F.element_at(hexmap, c)))

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, tok_votes(h), lambda a, b: a + b),
    )
    bits = F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat_ws("", bits)


def simhash64(tokens: Column) -> Column:
    """Single-expression convenience form (token md5s recomputed per
    bit — fine for unit tests/small frames; the pairs operator below
    stages the hashing once instead)."""
    return simhash64_from_hashes(F.transform(tokens, F.md5))


def simhash_pairs_from_sigs(
    base: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs from a precomputed (doc_id, sig) signature frame:
    bucket by 4 16-bit signature chunks (pigeonhole: hamming ≤ 3 ⟹
    some chunk equal), verify with the exact bit-difference count.
    Shared by the text SimHash path and the multimodal perceptual-hash
    path (operators/multimodal.py) — the blocking algebra is identical
    whatever produced the 64 bits."""
    chunks = base.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(*[F.substring("sig", 1 + 16 * i, 16) for i in range(4)])
        ).alias("chunk_idx", "chunk"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split("sig_a", ""),
                F.split("sig_b", ""),
                lambda a, b: a != b,
            ),
            lambda x: x,
        )
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup over text: frequency-weighted token votes
    (tokenize keeps duplicates — the standard SimHash), then the shared
    chunk-bucket pair join (simhash_pairs_from_sigs)."""
    from nashville_etl_service_backup_spark.operators import spread

    # Spread the RAW text first so tokenize+md5+votes all run on every
    # core even off a single-split scan; the staged projection computes
    # the md5 array once, then the vote pass consumes it.
    hashed = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt"))
    ).select(
        "doc_id",
        F.transform(tokenize(F.col("_txt")), F.md5).alias("_hs"),
    )
    base = hashed.select(
        "doc_id", simhash64_from_hashes(F.col("_hs")).alias("sig")
    )
    return simhash_pairs_from_sigs(base, max_hamming)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over an
    undirected near-duplicate pair list via iterative min-label
    propagation. Returns (node, component) for every node that appears
    in a pair, where component = smallest node id in its cluster.

    This is the step the pair-producing operators (LSH, SimHash, n-gram
    Jaccard) feed at scale: pairs chain (A~B, B~C) and the dedup
    decision needs the transitive closure, not the raw pairs.

    Scale shape: each iteration shuffles only (node, label) pairs —
    never document content — via one equi-join of the edges with the
    labels, unioned with the labels themselves (each node's closed
    neighbourhood), and one min-groupBy, both map-side combinable.
    Label propagation converges in O(cluster diameter) iterations;
    near-dup clusters are shallow (dozens of docs), so 3-5 iterations
    in practice. Driver participates only in
    the convergence test (a scalar sum per round, observed on the
    round's own job) — no row data ever reaches the driver.

    Barriers: the symmetric edge list is materialized as an eager
    ``localCheckpoint`` (on a real cluster, checkpoint to durable
    storage instead), so each round's plan starts from a lineage-free
    leaf instead of re-planning the pair producer (LSH, the funnel)
    once per round. Under AQE a checkpoint reports UnknownPartitioning,
    so each round shuffles the edges for its join whatever their
    layout. A hash repartition on src before the checkpoint only adds
    a job and a shuffle: without it, graftbench corpus_curation ran no
    slower (6 alternating pairs, 4 vCPUs). The labels start with round 1
    already applied, least(src, min(dst)) per src, which reaches the
    same fixed point one round sooner than lbl = node. Each round's
    labels are an eager checkpoint whose job also yields the round's
    convergence sum, sum(lbl), through an Observation, so no separate
    aggregate job runs; the superseded round's labels are freed once
    the next round is checkpointed, the edges when the loop ends, and
    the final labels are registered for release_persisted().
    """
    from nashville_etl_service_backup_spark.operators import (
        free_checkpoint,
        register_checkpoint,
    )

    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint()
    )

    def checkpoint_with_sum(lbls: DataFrame):
        # labels are monotonically non-increasing, so sum(lbl) strictly
        # decreases until the fixed point — a one-number convergence
        # probe, read off the checkpoint's own job (NULL on no rows)
        obs = Observation()
        cp = lbls.observe(obs, F.sum("lbl").alias("s")).localCheckpoint()
        return cp, obs.get["s"]

    labels, prev_sum = checkpoint_with_sum(
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("lbl"))
        .withColumnRenamed("src", "node")
    )
    converged = False
    for _ in range(max_iter):
        # NOTE (round 10): SHUFFLE_HASH hints on the label-sized sides
        # (pagerank's per-round device) were probed and REVERTED —
        # alternating A/B showed no reliable win (the consumers' label
        # tables are small enough that the planner already picks
        # broadcast/efficient strategies; forcing a shuffle can only
        # lose, the BFS lesson). cc_bfs_hint_probe.json.
        #
        # the closed neighbourhood in ONE aggregate (the node's own label
        # unioned with its neighbours'): a second join back to the labels
        # would cost two more shuffles per round, because the checkpoints
        # carry no partitioning under AQE
        nxt, cur_sum = checkpoint_with_sum(
            edges.join(labels, edges["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "lbl")
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        free_checkpoint(labels)
        labels = nxt
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    free_checkpoint(edges)
    register_checkpoint(labels)
    if not converged:
        # labels are still moving: some cluster has diameter > max_iter
        # and the returned components are WRONG (split clusters). Loudly
        # signal instead of silently under-deduplicating.
        import warnings

        warnings.warn(
            f"connected_components did not converge within max_iter="
            f"{max_iter} iterations; component labels are incomplete "
            f"(a cluster has diameter > {max_iter}). Increase max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", F.col("lbl").alias("component"))


def resolve_duplicates(
    df: DataFrame, id_col: str, pairs: DataFrame,
    a_col: str = "doc_a", b_col: str = "doc_b",
) -> DataFrame:
    """Corpus-level dedup decision: keep every doc that is either not in
    any near-dup pair or is its cluster's representative (min id).
    Returns the kept rows of `df`. One anti-join against the (tiny
    relative to the corpus) set of non-representative cluster members."""
    comp = connected_components(pairs, a_col, b_col)
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    fp_col: str,
) -> DataFrame:
    """Corpus snapshot diff for incremental refresh: classify every id
    across two snapshot frames (id, fingerprint) as added / removed /
    changed / unchanged — the operator an incremental crawl or re-scrape
    pipeline runs before deciding what to re-embed, re-tokenize, or
    re-dedup.

    Scale shape: ONE full-outer equi-join on the id — fingerprints (not
    text) are the only payload; with both snapshots bucketed by id the
    join is exchange-free. Output: (id, status) for the union of ids."""
    o = old.select(F.col(id_col), F.col(fp_col).alias("_fp_old"))
    nw = new.select(F.col(id_col), F.col(fp_col).alias("_fp_new"))
    status = (
        F.when(F.col("_fp_old").isNull(), "added")
        .when(F.col("_fp_new").isNull(), "removed")
        .when(F.col("_fp_old") != F.col("_fp_new"), "changed")
        .otherwise("unchanged")
    )
    return o.join(nw, id_col, "full_outer").select(
        F.col(id_col), status.alias("status")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 3,
    t_den: int = 5,
    shingle_n: int = 1,
) -> DataFrame:
    """EXACT word-token Jaccard self-join via prefix filtering
    (Chaudhuri, Ganti & Kaushik, ICDE 2006, "A primitive operator for
    similarity joins"; Xiao, Wang, Lin & Yu, WWW 2008, "Efficient
    similarity joins for near duplicate detection" — the PPJoin family):
    unlike the MinHash/SimHash paths above, candidate generation here
    has NO false negatives, so the output is exactly every pair with
    Jaccard >= t — the audit/ground-truth complement to probabilistic
    blocking.

    Method: the compared sets are distinct word ``shingle_n``-grams
    (n=1: plain tokens); set elements are put in a single global
    canonical order (ascending
    document frequency, then token — rarest first, which makes prefixes
    collide rarely); a doc's PREFIX is its first |x| − ceil(t·|x|) + 1
    ordered tokens. Two sets with Jaccard >= t must share at least one
    prefix token under any common total order (the prefix-filtering
    principle), so candidates = the equi-join of exploded prefixes,
    plus the length filter t·|x| <= |y| <= |x|/t. Verification computes
    exact Jaccard on candidates only.

    Determinism: the threshold is the RATIONAL t_num/t_den and every
    comparison is integer (ceil(t·n) = (t_num·n + t_den − 1) div t_den;
    the verify gate is i·t_den >= u·t_num) — no float thresholds, so no
    cross-engine ULP edge at prefix or accept boundaries (0.6·5 in
    doubles is 3.0000000000000004 and its ceil WOULD shorten a prefix).

    Scale shape: one map-side-combinable token-frequency aggregate, one
    equi-join of (prefix_token, id, size) rows — only ~(1−t)·|x| tokens
    per doc move, never text — and a verify join that fetches token
    arrays for candidates only. The frequency ordering needs no global
    rank window: per-doc array_sort on (df, token) structs gives the
    same total order with only an equi-join against the frequency table.
    """
    from nashville_etl_service_backup_spark.operators import (
        spread,
        track_persist,
    )

    # tokens staged as a REAL column before the shingle HOF: shingles()
    # references its token array per element (F.get), and handing it the
    # raw tokenize() EXPRESSION would re-run the regexp tokenizer once
    # per gram element (measured 16.8 s → 2 s at sf0.1 for this stage)
    staged = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt"))
    ).select("doc_id", tokenize(F.col("_txt")).alias("_tk"))
    base = track_persist(
        staged.select(
            "doc_id", shingles(F.col("_tk"), shingle_n).alias("tk")
        ).filter(F.size("tk") > 0)
    )
    tok_ex = base.select("doc_id", F.explode("tk").alias("t"))
    freq = tok_ex.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok_ex.join(freq, "t")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "t"))).alias("o"))
        .select(
            "doc_id",
            F.transform("o", lambda s: s["t"]).alias("ot"),
            F.size("o").alias("sz"),
        )
    )
    sz = F.col("sz")
    p = (
        sz
        - F.floor((F.lit(t_num) * sz + (t_den - 1)) / t_den).cast("int")
        + 1
    )
    # persist the exploded prefixes: the candidate stage is a SELF-join,
    # and an unpersisted px would recompute the freq-join/sort/slice
    # chain once per side (measured 20 s → 7 s at sf0.1)
    px = track_persist(
        ordered.select(
            "doc_id", "sz", F.explode(F.slice("ot", F.lit(1), p)).alias("t")
        )
    )
    a, b = px.alias("a"), px.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") * t_den >= F.col("a.sz") * t_num)
            & (F.col("a.sz") * t_den >= F.col("b.sz") * t_num),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ta = base.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("ta"))
    tb = base.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tb"))
    i = F.size(F.array_intersect("ta", "tb"))
    u = F.size(F.array_union("ta", "tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(i * t_den >= u * t_num)
        .select(
            "doc_a",
            "doc_b",
            F.round(i.cast("double") / u, 6).alias("jaccard"),
        )
    )
