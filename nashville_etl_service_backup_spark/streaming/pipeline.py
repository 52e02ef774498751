"""Incremental semantics — SURVEY §2.10 (T1–T5).

The reference's queue-style staging (rows DELETEd after transform,
transform_data.py:606-615) and 3-hour full refresh (tasks.py:85-88)
become:

- T1/T2: a file-source stream over the raw zone with
  Trigger.AvailableNow — processes exactly the files not yet seen per
  the checkpoint, then stops. Re-running picks up only new files: the
  checkpoint replaces the DELETE (T3) with no mutation.
- T4: idempotent replay — every micro-batch is canonicalized then
  dedup-appended against the curated sink (cross-batch dedup on url via
  left-anti in foreachBatch, the stateful analog of the reference's
  ON CONFLICT).
- T5: destructive refresh = overwrite load (plans.load, mode='overwrite').

Batch tumbling/sliding/session windows are registry queries
(q_tumbling_window, q_sliding_window, q_session_window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nashville_etl_service_backup_spark.plans.canonicalize import run_pipeline
from nashville_etl_service_backup_spark.plans.load import load_events
from nashville_etl_service_backup_spark.schemas import RAW_ZONE_SCHEMA
from nashville_etl_service_backup_spark.streaming import commitlog


def raw_zone_stream(spark: SparkSession, raw_path: str) -> DataFrame:
    """T2: file-source stream over the bronze zone (parquet drops)."""
    return (
        spark.readStream.schema(RAW_ZONE_SCHEMA)
        .option("maxFilesPerTrigger", 32)
        .parquet(raw_path)
    )


def incremental_etl(
    spark: SparkSession,
    raw_path: str,
    sink_path: str,
    checkpoint_path: str,
    now_year: int | None = None,
) -> StreamingQuery:
    """T1–T4: AvailableNow stream → canonical transform → cross-batch
    dedup-append. Each staging record contributes at most once (batch
    dedup within, anti-join against the sink across batches)."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        events = run_pipeline(batch, now_year=now_year)
        load_events(batch.sparkSession, events, sink_path, mode="append")

    return (
        raw_zone_stream(spark, raw_path)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stateful_dedup_stream(
    events: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts_str",
) -> DataFrame:
    """Custom stateful operator (D-surface): cross-batch first-occurrence
    dedup with EXPLICIT keyed state via `applyInPandasWithState` — the
    stateful-streaming analog of K2/T4 (`ON CONFLICT (url) DO NOTHING`,
    transform_data.py:566-600) that needs no sink anti-join: a key's
    "seen" bit lives in the state store, so each micro-batch does one
    shuffle on the key and O(new keys) state lookups.

    Emits exactly one row per key over the stream's lifetime (the
    lexicographically-first (ts, key) row within the first batch that
    carries the key — deterministic under any partitioning). ``ts_col``
    must be a LEXICOGRAPHICALLY SORTABLE string (ISO-8601 with fixed
    width, e.g. '2024-01-02T10:00:00') — formats like M/D/YYYY sort
    wrong as strings and would pick a chronologically wrong
    representative; parse to such a form upstream first. Unbounded
    keyspace caveat: state grows with distinct keys; production would
    add a timeout/TTL (GroupStateTimeout) or watermark-scoped
    `dropDuplicatesWithinWatermark` when the dedup horizon is bounded.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField(ts_col, StringType()),
        ]
    )
    state_schema = StructType([StructField("seen", IntegerType())])

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            return iter(())
        first = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values([ts_col, key_col]).iloc[0]
            if first is None or (cand[ts_col], cand[key_col]) < (
                first[ts_col],
                first[key_col],
            ):
                first = cand
        if first is None:
            return iter(())
        state.update((1,))
        return iter(
            (pd.DataFrame({key_col: [first[key_col]], ts_col: [first[ts_col]]}),)
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def dedup_within_watermark(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Bounded-horizon streaming dedup: `dropDuplicatesWithinWatermark`
    keeps one row per key among events whose timestamps fall within the
    watermark delay of each other, and — unlike the unbounded
    applyInPandasWithState dedup above — EVICTS key state once the
    watermark passes, so state is O(keys per horizon), not O(all keys
    ever). The right tool when the dedup contract is "no duplicates
    within an hour" rather than "exactly once forever". Batch frames
    fall back to plain dropDuplicates (watermark is stream-only)."""
    if not events.isStreaming:
        return events.dropDuplicates(list(key_cols))
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def incremental_rollup(
    spark: SparkSession,
    events_path: str,
    rollup_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> StreamingQuery:
    """Incrementally-maintained hourly rollup (hypertable-style
    continuous aggregate), idempotent under micro-batch replay.

    Each micro-batch writes ONLY its own partial aggregate (window, key,
    n, total) to ``rollup_path/batch_id=<id>/`` with directory-level
    overwrite, and the directory becomes reader-visible only through an
    atomic manifest append (streaming/commitlog.py — the file-based
    analog of the Postgres transactionality the reference's loader gets
    for free): torn or uncommitted writes are never merged and readers
    get snapshot isolation. foreachBatch is at-least-once: after a
    crash between sink write and checkpoint commit, the replayed batch
    re-derives the SAME partial (same input files per the checkpoint),
    overwrites the SAME directory, and its duplicate `add` is a no-op —
    it can never double-count. (The previous read-merge-overwrite
    design did double-count exactly there, and its blanket cold-start
    `except` could silently reset the whole rollup.)

    Readers merge partials with :func:`read_rollup` — valid because
    count/sum are commutative monoids, so batch boundaries never change
    the result. :func:`compact_rollup` folds accumulated partials into
    one with a single manifest swap, so it may run while the stream and
    readers are live.

    Scale shape: the per-batch aggregate is map-side combinable and tiny
    (one row per touched window×key); each batch writes only its own
    partial — no read-modify-write of the whole rollup on the hot path.
    Late data simply lands in its (old) window's partial — no watermark
    needed in AvailableNow mode; a continuous deployment would add
    `withWatermark` to bound state."""
    from pyspark.sql import functions as SF

    schema = "event_id long, ts timestamp, event_type string, value double"

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        part = (
            batch.groupBy(
                SF.window(SF.col(ts_col), window).alias("w"), SF.col(key_col)
            )
            .agg(
                SF.count(SF.lit(1)).alias("n"),
                SF.sum(SF.col("value").cast("decimal(18,6)")).alias("total"),
            )
            .select(
                SF.col("w.start").alias("window_start"),
                key_col,
                "n",
                "total",
            )
        )
        commitlog.write_partials(batch_id, (part, rollup_path))

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_path)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def incremental_cms(
    spark: SparkSession,
    events_path: str,
    cms_path: str,
    checkpoint_path: str,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 512,
) -> StreamingQuery:
    """Incrementally-maintained count-min sketch over a stream: each
    micro-batch builds its own CMS partial (operators.sketch.cms_build)
    and writes it to ``cms_path/batch_id=<id>/`` — the same
    idempotent-replay layout as incremental_rollup (replay overwrites
    its own partial; counters are a commutative monoid, so read_cms
    merges the partials with cms_merge). Heavy-hitter
    queries over an unbounded stream without ever storing per-key state:
    the stored sketch is ≤ depth × width counters per batch, compactable
    the same way as the rollup."""
    from nashville_etl_service_backup_spark.operators.sketch import cms_build

    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"

    def build_batch(batch: DataFrame, batch_id: int) -> None:
        part = cms_build(batch, key_col, depth=depth, width=width)
        commitlog.write_partials(batch_id, (part, cms_path))

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_path)
        .writeStream.foreachBatch(build_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_cms(spark: SparkSession, cms_path: str) -> DataFrame:
    """Merge the committed per-batch CMS partials into one counter
    table (the read_rollup contract)."""
    from nashville_etl_service_backup_spark.operators.sketch import cms_merge

    return cms_merge(commitlog.read_committed(spark, cms_path))


def incremental_hll(
    spark: SparkSession,
    events_path: str,
    hll_path: str,
    checkpoint_path: str,
    key_col: str = "user_id",
) -> StreamingQuery:
    """Incrementally-maintained HyperLogLog over a stream: each
    micro-batch builds its register partial (operators.sketch.
    hll_registers, grouped by event_type) and writes it to
    ``hll_path/batch_id=<id>/`` — same idempotent-replay layout as
    incremental_cms (replay overwrites its own partial). Registers are
    a commutative monoid under MAX, so distinct-count over the whole
    unbounded stream = max-merge of the ≤ m-rows-per-group partials —
    per-key state never exists anywhere."""
    from nashville_etl_service_backup_spark.operators.sketch import hll_registers

    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"

    def build_batch(batch: DataFrame, batch_id: int) -> None:
        part = hll_registers(batch, key_col, ["event_type"])
        commitlog.write_partials(batch_id, (part, hll_path))

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_path)
        .writeStream.foreachBatch(build_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_hll(spark: SparkSession, hll_path: str) -> DataFrame:
    """Merge the committed per-batch HLL register partials (max per
    bucket). hll_merge groups by every column it does not merge, so
    the ``batch_id`` partition column goes first."""
    from nashville_etl_service_backup_spark.operators.sketch import hll_merge

    return hll_merge(commitlog.read_committed(spark, hll_path).drop("batch_id"))


def read_rollup(
    spark: SparkSession,
    rollup_path: str,
    key_col: str = "event_type",
) -> DataFrame:
    """Serve the continuous aggregate: merge the per-batch partials
    the manifest log names live — torn or not-yet-committed partials
    are invisible, and the listing is a snapshot (a concurrent commit
    lands wholly before or wholly after it). A rollup with nothing
    committed is an error (FileNotFoundError), not a cold start (the
    ADVICE-flagged failure mode); a store written without a log needs
    one ``commitlog.adopt`` first. Cells whose count reaches 0 are
    fully-retracted tombstone residue (only :func:`forget_from_rollup`
    writes negative partials) and are dropped from the served view."""
    return _merge_rollup(commitlog.read_committed(spark, rollup_path), key_col)


def _merge_rollup(partials: DataFrame, key_col: str) -> DataFrame:
    return (
        partials.groupBy("window_start", key_col)
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        .filter(F.col("n") > 0)
    )


def forget_from_rollup(
    spark: SparkSession,
    events_path: str,
    rollup_path: str,
    tombstones: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    id_col: str = "event_id",
    forget_id: int = -2,
) -> None:
    """Right-to-be-forgotten RETRACTION for the continuous aggregate —
    the streaming-side leg of the forget cascade (the batch audit is
    profile.forget_cascade_audit): recompute the tombstoned records'
    per-(window, key) contribution from the raw zone and append it
    NEGATED as one ``batch_id=<forget_id>`` partial. Because the
    rollup's n/total are commutative monoids, every existing partial
    stays untouched (no read-modify-write of history) and
    :func:`read_rollup` absorbs the retraction at merge time —
    fully-erased cells sum to n=0 and vanish from the served view;
    :func:`compact_rollup` later folds the negative partial away
    physically.

    Idempotent: re-running overwrites the SAME forget partial from the
    same tombstone set — it can never double-retract (the
    incremental_rollup replay argument). Run it offline, since a
    re-run rewrites a live directory; one forget_id per erasure
    campaign.

    100 TB shape: tombstones broadcast into a semi-join on the raw
    scan; the retraction aggregate is map-side combinable and
    tiny (one row per touched window×key)."""
    raw = spark.read.parquet(events_path)
    hit = raw.join(
        F.broadcast(tombstones.select(F.col(id_col)).distinct()),
        id_col,
        "semi",
    )
    part = (
        hit.groupBy(
            F.window(F.col(ts_col), window).alias("w"), F.col(key_col)
        )
        .agg(
            (-F.count(F.lit(1))).alias("n"),
            (-F.sum(F.col("value").cast("decimal(18,6)"))).alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), key_col, "n", "total")
    )
    commitlog.write_partials(forget_id, (part, rollup_path))


def compact_rollup(
    spark: SparkSession,
    rollup_path: str,
    key_col: str = "event_type",
    compact_id: int = -1,
) -> None:
    """Commit-log compaction: fold the LIVE partials into
    one ``batch_id=<compact_id>`` directory, then publish the swap as
    ONE manifest {add: [compacted], remove: [inputs]}. From any
    concurrent reader's snapshot the rollup flips atomically from
    all-inputs to compacted-only — there is no over-counted or empty
    intermediate state, so this may run while the stream and readers
    are live. Old directories are deleted by commitlog.vacuum, which
    only ever touches non-live ones.

    The commit-log snapshot is taken ONCE and that single list is both
    the merge input and the manifest's ``remove`` set (round-8 ADVICE:
    two separate snapshots let a batch committed between them be
    folded into the compacted directory yet stay live — double
    counting). A batch committed after the snapshot is neither folded
    nor removed; the next compaction picks it up.

    The compacted directory stages under the first ``batch_id=
    <compact_id - k>`` id never named by ANY past manifest (ids ≤
    compact_id are reserved for system partials; the stream's
    non-negative batch ids never collide) — never-reuse, so an
    in-flight reader of a prior compacted snapshot can't see its
    directory overwritten. Old directories are vacuumed TARGETED to
    exactly the input set this compaction removed: a full vacuum here
    would race a live writer mid write-then-commit, deleting a
    written-but-uncommitted batch directory that is indistinguishable
    from a crash orphan (round-8 ADVICE)."""
    import os

    root = rollup_path.rstrip("/")
    inputs = commitlog.snapshot(rollup_path)
    if not inputs:
        raise FileNotFoundError(f"no committed partials under {root}")
    merged = _merge_rollup(
        spark.read.option("basePath", root).parquet(
            *(f"{root}/{d}" for d in inputs)
        ),
        key_col,
    )
    used = commitlog.ever_added(rollup_path)
    cid = compact_id
    while (
        f"batch_id={cid}" in used
        or os.path.isdir(f"{root}/batch_id={cid}")
    ):
        cid -= 1
    final = f"batch_id={cid}"
    merged.write.mode("overwrite").parquet(f"{root}/{final}")
    commitlog.commit(rollup_path, add=[final], remove=inputs)
    commitlog.vacuum(rollup_path, only=inputs)


def _gate_store(batch: DataFrame, path: str, batch_id: int) -> DataFrame | None:
    """Prior-state read shared by the cross-batch novelty gates: every
    committed partial EXCEPT the current batch's own (the replay
    self-exclusion — an at-least-once re-delivery must not flag its
    docs as duplicates of its own earlier commit). None = cold start.
    The read is manifest-committed-only, so a torn partial from a
    crashed writer can never poison the probe."""
    root = path.rstrip("/")
    prior = [
        f"{root}/{d}"
        for d in commitlog.snapshot(path)
        if d != f"batch_id={batch_id}"
    ]
    if not prior:
        return None
    return batch.sparkSession.read.option("basePath", root).parquet(*prior)


def incremental_lsh_dedup(
    spark: SparkSession,
    docs_path: str,
    sig_path: str,
    audit_path: str,
    checkpoint_path: str,
    shingle_n: int = 2,
    num_hashes: int = 4,
    bands: int = 2,
) -> StreamingQuery:
    """T4 for NEAR-duplicates: a cross-batch MinHash-LSH gate over a
    persistent signature store. Each micro-batch of (doc_id, text) is
    banded-minhash signed (operators.dedup.band_signatures — the same
    md5-slice math as the batch pair-finder); docs sharing ANY
    (band_idx, band_hash) with a PREVIOUS batch's stored signatures are
    flagged near-dup candidates and their signatures are NOT appended,
    so the store accumulates one signature set per novel document.

    Idempotent replay (the incremental_rollup layout): the batch writes
    only its own ``sig_path/batch_id=<id>/`` and
    ``audit_path/batch_id=<id>/`` with directory overwrite, commits
    both through the manifest log, and the store probe EXCLUDES the
    current batch_id — so an at-least-once replay after a crash
    between sink write and checkpoint commit re-derives the same
    novelty verdicts (its own earlier signatures cannot flag it as a
    duplicate of itself).

    Within-batch near-dups intentionally both land in the store: intra-
    batch resolution is the batch operator's job (lsh_near_dup_pairs →
    connected components) — this gate handles corpus-vs-new novelty.

    Scale shape: signatures are (id, band_idx, 17-char hash) rows —
    text never lands in the store; the probe is a band-key equi-semi-
    join (broadcast when the batch is small vs the store, the common
    case); at production scale the store would be bucketed by band_hash
    so the probe is exchange-free on the store side.

    Audit rows: (batch_id, n_docs, n_dup_candidates) per batch, merged
    by :func:`read_dedup_audit`."""
    from nashville_etl_service_backup_spark.operators.dedup import (
        band_signatures,
    )

    schema = "doc_id long, text string"

    def gate_batch(batch: DataFrame, batch_id: int) -> None:
        sig = band_signatures(
            batch, "doc_id", "text", shingle_n, num_hashes, bands
        ).persist()
        try:
            prior = _gate_store(batch, sig_path, batch_id)
            if prior is not None:
                dup_ids = (
                    sig.join(prior, ["band_idx", "band_hash"], "left_semi")
                    .select("doc_id")
                    .distinct()
                )
            else:
                dup_ids = sig.select("doc_id").limit(0)
            novel = sig.join(dup_ids, "doc_id", "left_anti")
            ids = batch.select("doc_id").distinct()
            flagged = ids.join(
                dup_ids.withColumn("_d", F.lit(1)), "doc_id", "left"
            )
            audit = flagged.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.coalesce(F.col("_d"), F.lit(0))).alias(
                    "n_dup_candidates"
                ),
            )
            commitlog.write_partials(
                batch_id,
                (novel.select("doc_id", "band_idx", "band_hash"), sig_path),
                (audit, audit_path),
            )
        finally:
            sig.unpersist()

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(docs_path)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_dedup_audit(spark: SparkSession, audit_path: str) -> DataFrame:
    """Per-batch novelty audit, one row per committed micro-batch."""
    src = commitlog.read_committed(spark, audit_path)
    return src.select("batch_id", "n_docs", "n_dup_candidates").orderBy(
        "batch_id"
    )


def incremental_bloom_gate(
    spark: SparkSession,
    docs_path: str,
    bloom_path: str,
    audit_path: str,
    checkpoint_path: str,
    key_col: str = "doc_id",
    k: int = 4,
    m: int = 4096,
) -> StreamingQuery:
    """T4's bounded-memory variant: a cross-batch EXACT-KEY novelty
    gate backed by a persistent Bloom filter (operators/sketch.py math)
    instead of a per-key store. Each micro-batch's keys probe the
    accumulated set-bit positions; a key whose k positions are all
    present is flagged "possibly seen" (no false negatives — a novel
    key is NEVER flagged... except as a bounded false positive, rate
    (1−e^(−k·n/m))^k, which callers reconcile exactly downstream);
    novel keys' positions append under ``batch_id=<id>/`` (idempotent
    overwrite; the probe EXCLUDES the current batch_id, so at-least-
    once replay re-derives identical verdicts).

    Why Bloom instead of the signature store: the store is capped at m
    rows TOTAL once saturated (positions are distinct-unioned), so the
    per-batch probe joins against a fixed-size table forever — the
    100 TB stream shape where key cardinality grows without bound but
    state must not. Audit rows: (batch_id, n_docs, n_flagged)."""
    from nashville_etl_service_backup_spark.operators.sketch import (
        _bucket,
        bloom_merge,
    )

    schema = "doc_id long, text string"

    def gate_batch(batch: DataFrame, batch_id: int) -> None:
        key = F.col(key_col).cast("string")
        keys = batch.select(key_col).distinct().persist()
        try:
            pos = keys.select(
                F.col(key_col),
                F.explode(
                    F.array(*[_bucket(key, i, m) for i in range(k)])
                ).alias("pos"),
            )
            store = _gate_store(batch, bloom_path, batch_id)
            if store is not None:
                prior = bloom_merge(store.select("pos")).withColumn(
                    "_h", F.lit(1)
                )
                hits = pos.join(F.broadcast(prior), "pos", "left")
                seen = (
                    hits.groupBy(key_col)
                    .agg(F.sum(F.coalesce(F.col("_h"), F.lit(0))).alias("nh"))
                    .filter(F.col("nh") == k)
                    .select(key_col)
                )
            else:
                seen = keys.limit(0)
            novel_pos = (
                pos.join(seen, key_col, "left_anti")
                .select("pos")
                .distinct()
            )
            flagged = keys.join(
                seen.withColumn("_d", F.lit(1)), key_col, "left"
            )
            audit = flagged.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.coalesce(F.col("_d"), F.lit(0))).alias("n_flagged"),
            )
            commitlog.write_partials(
                batch_id, (novel_pos, bloom_path), (audit, audit_path)
            )
        finally:
            keys.unpersist()

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(docs_path)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_bloom_audit(spark: SparkSession, audit_path: str) -> DataFrame:
    """Per-batch Bloom-gate audit, one row per committed micro-batch."""
    src = commitlog.read_committed(spark, audit_path)
    return src.select("batch_id", "n_docs", "n_flagged").orderBy(
        "batch_id"
    )
