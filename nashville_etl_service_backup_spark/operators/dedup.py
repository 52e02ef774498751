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

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

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


def _minhash_bands(
    frame: DataFrame,
    set_col: str,
    salts: list[str],
    per_digest: int,
    width: int,
    bands: int,
) -> tuple[DataFrame, Column]:
    """The banded MinHash keys of the string set ``set_col``, folded
    digest first: ``frame`` plus the staged slot mins ``_mins``, and
    the band-key array over them as an expression.

    Each element is hashed once per salt (md5 of salt + element), and
    each digest's first ``per_digest`` slices of ``width`` hex chars
    are independent uniform hashes: one aggregate per salt folds them
    into running mins ('~' sorts above hex), giving
    len(salts)·per_digest MinHash slots.
    Hashing inside the slot lambda would hash each element once per
    slot, and a per-slot array_min(transform(md5)) column set re-derives
    the md5 pipeline per column. Band b joins slots b·r .. b·r + r − 1
    with '|', r = slots div ``bands``. An empty set has NULL bands, so
    it is never a candidate (its keys would be the '~' sentinels, equal
    for every empty set, and its Jaccard 0/0).

    The mins are staged in their own projection because each band key
    reads them and an inlined fold would run once per key. The keys
    stay an expression so that a caller can posexplode them without a
    staged column (see _band_pairs)."""
    if per_digest * width > 32:
        raise ValueError(
            f"{per_digest} slices of {width} hex chars exceed an md5 digest"
        )
    rows_per_band = len(salts) * per_digest // bands
    pos = F.array(*[F.lit(k * width + 1) for k in range(per_digest)])

    def salt_mins(salt: str) -> Column:
        digests = F.transform(
            F.col(set_col), lambda t: F.md5(F.concat(F.lit(salt), t))
        )
        return F.aggregate(
            digests,
            F.array_repeat(F.lit("~"), per_digest),
            lambda acc, h: F.zip_with(
                acc, pos, lambda a, p: F.least(a, F.substring(h, p, width))
            ),
        )

    mins = F.concat(*[salt_mins(s) for s in salts])
    keys = [
        F.concat_ws(
            "|",
            *[
                F.element_at(F.col("_mins"), b * rows_per_band + j + 1)
                for j in range(rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    return frame.withColumn("_mins", mins), F.when(
        F.size(set_col) > 0, F.array(*keys)
    )


def _band_pairs(frame: DataFrame, keys: str | Column) -> DataFrame:
    """Candidate pairs (doc_a, doc_b), doc_a < doc_b, of the docs in
    ``frame`` whose key arrays hold an equal key at the same index: the
    ``keys`` arrays (a column of ``frame`` or an expression over it) are
    posexploded and equi-joined on (band_idx, key), so at scale only
    (band_idx, key, doc_id) rows shuffle, never the corpus cross
    product. A NULL key array has no keys. ``doc_id`` may be any
    orderable value, e.g. a struct (id, payload) that carries a payload
    through the join.

    Pass an expression, not a staged column, when ``frame`` is not
    materialized: for an exploded column Spark infers size(keys) > 0
    and pushes it below the projection that computes the column, which
    then runs twice."""
    b = frame.select("doc_id", F.posexplode(keys).alias("band_idx", "key"))
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def _pair_sides(cand: DataFrame, base: DataFrame, col: str) -> DataFrame:
    """The candidate pairs (doc_a, doc_b) with each side's ``col`` from
    ``base`` (doc_id, ``col``) joined on, as ``{col}_a`` and
    ``{col}_b``: the verify joins fetch payloads for the candidates
    only."""
    side_a = base.select(F.col("doc_id").alias("doc_a"), F.col(col).alias(f"{col}_a"))
    side_b = base.select(F.col("doc_id").alias("doc_b"), F.col(col).alias(f"{col}_b"))
    return cand.join(side_a, "doc_a").join(side_b, "doc_b")


def _jaccard_pairs(
    cand: DataFrame,
    base: DataFrame,
    set_col: str,
    keep: Callable[[Column, Column], Column],
) -> DataFrame:
    """Exact set verify of candidate pairs: (doc_a, doc_b, jaccard) for
    the pairs whose ``set_col`` sets satisfy keep(|a ∩ b|, |a ∪ b|),
    jaccard rounded to 6 places."""
    sides = _pair_sides(cand, base, set_col)
    i = F.size(F.array_intersect(f"{set_col}_a", f"{set_col}_b"))
    u = F.size(F.array_union(f"{set_col}_a", f"{set_col}_b"))
    return sides.filter(keep(i, u)).select(
        "doc_a", "doc_b", F.round(i.cast("double") / u, 6).alias("jaccard")
    )


def _signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
) -> tuple[DataFrame, Column]:
    """Signatures shared by the batch pair-finder and the streaming
    signature store: a (doc_id, sh, _mins) frame of shingle sets and
    their MinHash slot mins, num_hashes 8-hex-char slices of one md5
    per shingle, and the band-hash array expression over it (NULL for
    shingle-less docs), as _minhash_bands returns them. Callers
    persist/materialize as their access pattern requires."""
    toks = tokenize(F.col("_txt"))
    sh = shingles(toks, shingle_n)
    # Spread the RAW text before any per-token work (tokenize, shingle,
    # md5 are the CPU cost and must run on all cores even when the scan
    # has a single input split).
    from nashville_etl_service_backup_spark.operators import spread

    shingled = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt"))
    ).select("doc_id", sh.alias("sh"))
    return _minhash_bands(shingled, "sh", [""], num_hashes, 8, bands)


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
    sig, keys = _signature_frame(df, id_col, text_col, shingle_n, num_hashes, bands)
    return sig.select("doc_id", F.posexplode(keys).alias("band_idx", "band_hash"))


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

    sig, keys = _signature_frame(df, id_col, text_col, shingle_n, num_hashes, bands)
    base = register_checkpoint(
        sig.select("doc_id", "sh", keys.alias("bands")).localCheckpoint(eager=False)
    )
    return _jaccard_pairs(
        _band_pairs(base, "bands"),
        base,
        "sh",
        lambda i, u: i.cast("double") / u >= threshold,
    )


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
    blocking: band key = concat of ``hashes_per_band`` MinHash slots
    over the n-gram set (per-band collision probability J^r,
    OR-amplified over ``bands``), then exact Jaccard ≥ threshold on the
    candidate set. Band width r matters at scale: on a
    small-vocabulary corpus a narrow band degenerates into giant blocks
    (any band whose r argmin-grams happen to be corpus-common is shared
    by most docs → O(B²) candidates); r=5 keeps every block tiny
    (measured 1.5k candidates / 5k docs) while recall at J≥0.9 stays
    ≈ 1-(1-J⁵)^bands ≈ 0.93. Candidate generation is an equi-join on
    (band_idx, band_key) — never the corpus cross product. A doc with
    no n-grams (text shorter than n, or NULL) never pairs."""
    from nashville_etl_service_backup_spark.operators import spread, track_persist

    # spread the RAW text before any per-char work: the ngram/md5 stages
    # are the CPU cost and must run on all cores even when the scan has
    # a single input split. One md5 per (gram, band): the digest's 32
    # hex chars yield hashes_per_band (≤5) independent 6-hex-char
    # slices, so bands·r seeded re-hashes (15 md5/gram) drop to `bands`.
    grams = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt"))
    ).select("doc_id", char_ngrams(F.col("_txt"), n).alias("g"))
    sig, keys = _minhash_bands(
        grams, "g", [f"{b}:" for b in range(bands)], hashes_per_band, 6, bands
    )
    base = track_persist(sig.select("doc_id", "g", keys.alias("bands")))
    return _jaccard_pairs(
        _band_pairs(base, "bands"),
        base,
        "g",
        lambda i, u: i.cast("double") / u >= threshold,
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


def simhash_pairs_from_sigs(
    base: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs from a precomputed (doc_id, sig) signature frame:
    bucket by 4 16-bit signature chunks (pigeonhole: hamming ≤ 3 ⟹
    some chunk equal), verify with the exact bit-difference count.
    Shared by the text SimHash path and the multimodal perceptual-hash
    path (operators/multimodal.py) — the blocking algebra is identical
    whatever produced the 64 bits."""
    # each doc's signature rides through the chunk join inside its
    # (doc_id, sig) key, so no verify join fetches it back and reruns
    # the unmaterialized signature pass (with _pair_sides,
    # dedup_simhash_pairs took 2.6 s against 1.4 s at sf0.1 on 4
    # vCPUs); the struct order breaks a repeated id's tie on sig, so
    # the ids themselves are compared too
    keyed = base.select(F.struct("doc_id", "sig").alias("doc_id"), "sig")
    chunks = F.array(*[F.substring("sig", 1 + 16 * i, 16) for i in range(4)])
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("doc_a.sig"), ""),
                F.split(F.col("doc_b.sig"), ""),
                lambda a, b: a != b,
            ),
            lambda x: x,
        )
    )
    return (
        _band_pairs(keyed, chunks)
        .filter(F.col("doc_a.doc_id") < F.col("doc_b.doc_id"))
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("doc_a.doc_id").alias("doc_a"),
            F.col("doc_b.doc_id").alias("doc_b"),
            "hamming",
        )
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

    Pregel-style supersteps: the state is one row per node,
    (node, lbl, nbrs), so the adjacency travels with the labels and no
    round joins against a separate edge list. One aggregate over the
    symmetric pair list builds it with round 1 already applied,
    lbl = least(node, min(nbrs)), which reaches the same fixed point one
    round sooner than lbl = node. Each round then sends every node's
    label to its neighbours (explode(nbrs) → (nbr, lbl, NULL)), unions
    the nodes' own rows and takes min(lbl) per node while
    flatten(collect_list(nbrs)) carries the one non-NULL adjacency
    through: one shuffle of (node, label) messages, never document
    content. A node of degree d carries a d-element array through every
    round, so a hub node's row grows with its degree. Label propagation
    converges in O(cluster diameter) rounds; near-dup clusters are
    shallow, so 3-5 rounds in practice.

    Barriers: each state is an eager ``localCheckpoint`` (on a real
    cluster, checkpoint to durable storage instead), so a round's plan
    starts from a lineage-free leaf instead of re-planning the pair
    producer (LSH, the funnel), and the checkpoint's own job yields the
    round's convergence sum, sum(lbl), through an Observation: a round
    is 2 jobs (the shuffle's map stage and the checkpoint). The
    superseded state is freed once the next one is checkpointed, and the
    final state is registered for release_persisted().
    """
    from nashville_etl_service_backup_spark.operators import (
        free_checkpoint,
        register_checkpoint,
    )

    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def checkpoint_with_sum(state: DataFrame):
        # labels are monotonically non-increasing, so sum(lbl) strictly
        # decreases until the fixed point — a one-number convergence
        # probe, read off the checkpoint's own job (NULL on no rows)
        obs = Observation()
        cp = state.observe(obs, F.sum("lbl").alias("s")).localCheckpoint()
        return cp, obs.get["s"]

    state, prev_sum = checkpoint_with_sum(
        sym.groupBy(F.col("src").alias("node")).agg(
            F.least(F.col("src"), F.min("dst")).alias("lbl"),
            F.collect_list("dst").alias("nbrs"),
        )
    )
    converged = False
    for _ in range(max_iter):
        # messages carry NULL nbrs, which collect_list skips, so each
        # node collects exactly its own adjacency array
        msgs = state.select(F.explode("nbrs").alias("node"), "lbl")
        nxt, cur_sum = checkpoint_with_sum(
            state.unionByName(msgs, allowMissingColumns=True)
            .groupBy("node")
            .agg(
                F.min("lbl").alias("lbl"),
                F.flatten(F.collect_list("nbrs")).alias("nbrs"),
            )
        )
        free_checkpoint(state)
        state = nxt
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    register_checkpoint(state)
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
    return state.select("node", F.col("lbl").alias("component"))


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
    return _jaccard_pairs(cand, base, "tk", lambda i, u: i * t_den >= u * t_num)
