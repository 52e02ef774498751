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

Plus the windowed-aggregation surface the target engine needs
(watermark + tumbling/sliding/session windows over an event stream).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nashville_etl_service_backup_spark.plans.canonicalize import run_pipeline
from nashville_etl_service_backup_spark.plans.load import load_events
from nashville_etl_service_backup_spark.schemas import RAW_ZONE_SCHEMA


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


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation — works on both a
    streaming frame (late data dropped past the watermark) and a batch
    frame (watermark is a no-op)."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(win.alias("w"), *[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "n",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per key — F.session_window, the
    streaming-native operator; batch frames work too."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
        )
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


def clicks_to_purchases_join(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "1 hour",
    max_gap: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each purchase
    to the same user's click at most ``max_gap`` earlier — the classic
    conversion-attribution shape. Both sides carry a watermark and the
    join has a time-range predicate, so Spark can bound the buffered
    state on each side and evict as watermarks advance (an unbounded
    stream-stream join would grow state forever). Works identically on
    batch frames (the watermark is a no-op there)."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col(user_col).alias("c_user"),
        F.col(ts_col).alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col(user_col).alias("p_user"),
        F.col(ts_col).alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_gap}")
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def incremental_rollup(
    spark: SparkSession,
    events_path: str,
    rollup_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    commit_log: bool = True,
) -> StreamingQuery:
    """Incrementally-maintained hourly rollup (hypertable-style
    continuous aggregate), idempotent under micro-batch replay.

    ``commit_log=True`` runs the write through the manifest commit log
    (streaming/commitlog.py — the file-based analog of the Postgres
    transactionality the reference's loader gets for free): the batch
    directory becomes reader-visible only via an atomic manifest
    append, so torn/uncommitted writes are never merged, readers get
    snapshot isolation, and compact_rollup_committed may run
    concurrently with them. Replay stays idempotent — the re-delivered
    batch rewrites the same directory and its duplicate `add` is a
    no-op. Default False preserves the list-the-directory layout the
    existing tests and oracle queries pin.

    Each micro-batch writes ONLY its own partial aggregate (window, key,
    n, total) to ``rollup_path/batch_id=<id>/`` with directory-level
    overwrite. foreachBatch is at-least-once: after a crash between sink
    write and checkpoint commit, the replayed batch re-derives the SAME
    partial (same input files per the checkpoint) and overwrites the
    SAME directory — it can never double-count. (The previous
    read-merge-overwrite design did double-count exactly there, and its
    blanket cold-start `except` could silently reset the whole rollup.)

    Readers merge partials with :func:`read_rollup` — valid because
    count/sum are commutative monoids, so batch boundaries never change
    the result. :func:`compact_rollup` folds accumulated partials into
    one (run it offline; it requires no concurrent writer — a
    transactional table format would lift that restriction at
    production).

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
        part.write.mode("overwrite").parquet(
            f"{rollup_path.rstrip('/')}/batch_id={batch_id}"
        )
        if commit_log:
            from nashville_etl_service_backup_spark.streaming import (
                commitlog,
            )

            commitlog.commit(rollup_path, add=[f"batch_id={batch_id}"])

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
    commit_log: bool = True,
) -> StreamingQuery:
    """Incrementally-maintained count-min sketch over a stream: each
    micro-batch builds its own CMS partial (operators.sketch.cms_build)
    and writes it to ``cms_path/batch_id=<id>/`` — the same
    idempotent-replay layout as incremental_rollup (replay overwrites
    its own partial; counters are a commutative monoid, so readers merge
    partials with cms_merge/read via one groupBy-sum). Heavy-hitter
    queries over an unbounded stream without ever storing per-key state:
    the stored sketch is ≤ depth × width counters per batch, compactable
    the same way as the rollup."""
    from nashville_etl_service_backup_spark.operators.sketch import cms_build

    schema = "event_id long, ts timestamp, event_type string, value double, user_id long"

    def build_batch(batch: DataFrame, batch_id: int) -> None:
        part = cms_build(batch, key_col, depth=depth, width=width)
        part.write.mode("overwrite").parquet(
            f"{cms_path.rstrip('/')}/batch_id={batch_id}"
        )
        if commit_log:
            from nashville_etl_service_backup_spark.streaming import (
                commitlog,
            )

            commitlog.commit(cms_path, add=[f"batch_id={batch_id}"])

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_path)
        .writeStream.foreachBatch(build_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_cms(
    spark: SparkSession, cms_path: str, commit_log: bool = True
) -> DataFrame:
    """Merge all per-batch CMS partials into one counter table.
    ``commit_log=True`` merges only manifest-committed partials (the
    read_rollup contract)."""
    if commit_log:
        from nashville_etl_service_backup_spark.streaming import commitlog

        src = commitlog.read_committed(spark, cms_path)
    else:
        src = spark.read.option("basePath", cms_path).parquet(cms_path)
    return src.groupBy("row_idx", "bucket").agg(F.sum("cnt").alias("cnt"))


def incremental_hll(
    spark: SparkSession,
    events_path: str,
    hll_path: str,
    checkpoint_path: str,
    key_col: str = "user_id",
    commit_log: bool = True,
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
        part.write.mode("overwrite").parquet(
            f"{hll_path.rstrip('/')}/batch_id={batch_id}"
        )
        if commit_log:
            from nashville_etl_service_backup_spark.streaming import (
                commitlog,
            )

            commitlog.commit(hll_path, add=[f"batch_id={batch_id}"])

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_path)
        .writeStream.foreachBatch(build_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_hll(
    spark: SparkSession, hll_path: str, commit_log: bool = True
) -> DataFrame:
    """Merge all per-batch HLL register partials (max per bucket).
    ``commit_log=True`` merges only manifest-committed partials."""
    if commit_log:
        from nashville_etl_service_backup_spark.streaming import commitlog

        src = commitlog.read_committed(spark, hll_path)
    else:
        src = spark.read.option("basePath", hll_path).parquet(hll_path)
    return src.groupBy("event_type", "bucket").agg(
        F.max("register").alias("register")
    )


def read_rollup(
    spark: SparkSession,
    rollup_path: str,
    key_col: str = "event_type",
    commit_log: bool = True,
) -> DataFrame:
    """Serve the continuous aggregate: merge all per-batch partials.
    Missing path is NOT swallowed — a vanished rollup is an error, not a
    cold start (the ADVICE-flagged failure mode). Cells whose count
    reaches 0 are fully-retracted tombstone residue (only
    :func:`forget_from_rollup` writes negative partials) and are
    dropped from the served view.

    ``commit_log=True`` merges only the directories named live by the
    manifest log — torn or not-yet-committed partials are invisible,
    and the listing is a snapshot (a concurrent commit lands wholly
    before or wholly after it)."""
    if commit_log:
        from nashville_etl_service_backup_spark.streaming import commitlog

        src = commitlog.read_committed(spark, rollup_path)
    else:
        src = spark.read.option("basePath", rollup_path).parquet(rollup_path)
    return (
        src.groupBy("window_start", key_col)
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
    commit_log: bool = True,
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
    incremental_rollup replay argument). Run offline like compaction;
    one forget_id per erasure campaign.

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
    part.write.mode("overwrite").parquet(
        f"{rollup_path.rstrip('/')}/batch_id={forget_id}"
    )
    if commit_log:
        from nashville_etl_service_backup_spark.streaming import commitlog

        commitlog.commit(rollup_path, add=[f"batch_id={forget_id}"])


def compact_rollup(
    spark: SparkSession,
    rollup_path: str,
    key_col: str = "event_type",
    compact_id: int = -1,
) -> None:
    """Fold every partial into the single ``batch_id=<compact_id>``
    partial and drop the rest. Run offline, never concurrently with the
    stream: the swap below is not atomic on a plain filesystem (use a
    transactional table format for that).

    Crash-safe ordering (round-2 ADVICE): the merged copy is staged
    INSIDE ``rollup_path`` via atomic directory renames BEFORE any old
    partial is deleted, so a crash at any point leaves a servable
    rollup — at worst over-counted (staged copy + not-yet-swept old
    partials side by side) until compaction re-runs, never empty and
    never missing counts. The old delete-all-then-write order left a
    window where ``rollup_path`` held nothing and the only copy sat in
    the tmp dir."""
    import os
    import shutil

    root = rollup_path.rstrip("/")
    # this is the PLAIN-layout compactor: read by directory listing
    # regardless of the package default (flipped to commit_log=True in
    # round 10)
    merged = read_rollup(
        spark, rollup_path, key_col=key_col, commit_log=False
    )
    tmp = root + "__compact"
    merged.write.mode("overwrite").parquet(tmp)
    # tmp now holds a full materialized copy; inputs are no longer needed
    old = [e for e in os.listdir(root) if e.startswith("batch_id=")]
    final = f"batch_id={compact_id}"
    if final in old:
        # re-compaction: the previous compacted partial is itself an
        # input (already folded into tmp) — move it aside atomically so
        # the final name is free; it stays servable under the __old
        # suffix (still a batch_id= dir) until the sweep below
        shutil.move(f"{root}/{final}", f"{root}/{final}__old")
        old[old.index(final)] = f"{final}__old"
    shutil.move(tmp, f"{root}/{final}")  # atomic same-fs rename
    for entry in old:
        shutil.rmtree(f"{root}/{entry}")


def compact_rollup_committed(
    spark: SparkSession,
    rollup_path: str,
    key_col: str = "event_type",
    compact_id: int = -1,
) -> None:
    """Commit-log compaction — the transactional upgrade of
    :func:`compact_rollup` (whose docstring's "use a transactional
    table format" restriction this lifts): fold the LIVE partials into
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

    from nashville_etl_service_backup_spark.streaming import commitlog

    root = rollup_path.rstrip("/")
    inputs = commitlog.snapshot(rollup_path)
    if not inputs:
        raise FileNotFoundError(f"no committed partials under {root}")
    merged = (
        spark.read.option("basePath", root)
        .parquet(*(f"{root}/{d}" for d in inputs))
        .groupBy("window_start", key_col)
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        .filter(F.col("n") > 0)
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


def _gate_store(batch: DataFrame, path: str, batch_id: int,
                commit_log: bool) -> DataFrame | None:
    """Prior-state read shared by the cross-batch novelty gates: every
    stored partial EXCEPT the current batch's own (the replay
    self-exclusion — an at-least-once re-delivery must not flag its
    docs as duplicates of its own half-written state). None = cold
    start. With ``commit_log`` the read is manifest-committed-only, so
    a torn partial from a crashed writer can also never poison the
    probe."""
    if commit_log:
        from nashville_etl_service_backup_spark.streaming import commitlog

        paths = [
            p
            for p in commitlog.snapshot_paths(path)
            if not p.endswith(f"batch_id={batch_id}")
        ]
        if not paths:
            return None
        return batch.sparkSession.read.option("basePath", path).parquet(
            *paths
        )
    try:
        store = batch.sparkSession.read.option("basePath", path).parquet(
            path
        )
    except AnalysisException as exc:
        # only PATH-ABSENT is cold start; re-raise anything else
        # (the blanket-except failure class round-2 ADVICE flagged)
        if "PATH_NOT_FOUND" not in str(exc) and (
            "does not exist" not in str(exc)
        ):
            raise
        return None
    return store.filter(F.col("batch_id") != batch_id)


def incremental_lsh_dedup(
    spark: SparkSession,
    docs_path: str,
    sig_path: str,
    audit_path: str,
    checkpoint_path: str,
    shingle_n: int = 2,
    num_hashes: int = 4,
    bands: int = 2,
    commit_log: bool = True,
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
    ``audit_path/batch_id=<id>/`` with directory overwrite, and the
    store probe EXCLUDES the current batch_id — so an at-least-once
    replay after a crash between sink write and checkpoint commit
    re-derives the same novelty verdicts (its own half-written
    signatures cannot flag it as a duplicate of itself).

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
            prior = _gate_store(batch, sig_path, batch_id, commit_log)
            if prior is not None:
                dup_ids = (
                    sig.join(prior, ["band_idx", "band_hash"], "left_semi")
                    .select("doc_id")
                    .distinct()
                )
            else:
                dup_ids = sig.select("doc_id").limit(0)
            novel = sig.join(dup_ids, "doc_id", "left_anti")
            novel.select("doc_id", "band_idx", "band_hash").write.mode(
                "overwrite"
            ).parquet(f"{sig_path.rstrip('/')}/batch_id={batch_id}")
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
            audit.write.mode("overwrite").parquet(
                f"{audit_path.rstrip('/')}/batch_id={batch_id}"
            )
            if commit_log:
                from nashville_etl_service_backup_spark.streaming import (
                    commitlog,
                )

                commitlog.commit(sig_path, add=[f"batch_id={batch_id}"])
                commitlog.commit(audit_path, add=[f"batch_id={batch_id}"])
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


def read_dedup_audit(
    spark: SparkSession, audit_path: str, commit_log: bool = True
) -> DataFrame:
    """Per-batch novelty audit, one row per processed micro-batch.
    ``commit_log=True`` reads only manifest-committed batches."""
    if commit_log:
        from nashville_etl_service_backup_spark.streaming import commitlog

        src = commitlog.read_committed(spark, audit_path)
    else:
        src = spark.read.option("basePath", audit_path).parquet(audit_path)
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
    commit_log: bool = True,
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
    from nashville_etl_service_backup_spark.operators.sketch import _bucket

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
            store = _gate_store(batch, bloom_path, batch_id, commit_log)
            if store is not None:
                prior = (
                    store.select("pos")
                    .distinct()
                    .withColumn("_h", F.lit(1))
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
            novel_pos.write.mode("overwrite").parquet(
                f"{bloom_path.rstrip('/')}/batch_id={batch_id}"
            )
            flagged = keys.join(
                seen.withColumn("_d", F.lit(1)), key_col, "left"
            )
            audit = flagged.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.coalesce(F.col("_d"), F.lit(0))).alias("n_flagged"),
            )
            audit.write.mode("overwrite").parquet(
                f"{audit_path.rstrip('/')}/batch_id={batch_id}"
            )
            if commit_log:
                from nashville_etl_service_backup_spark.streaming import (
                    commitlog,
                )

                commitlog.commit(bloom_path, add=[f"batch_id={batch_id}"])
                commitlog.commit(audit_path, add=[f"batch_id={batch_id}"])
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


def read_bloom_audit(
    spark: SparkSession, audit_path: str, commit_log: bool = True
) -> DataFrame:
    """Per-batch Bloom-gate audit, one row per processed micro-batch.
    ``commit_log=True`` reads only manifest-committed batches."""
    if commit_log:
        from nashville_etl_service_backup_spark.streaming import commitlog

        src = commitlog.read_committed(spark, audit_path)
    else:
        src = spark.read.option("basePath", audit_path).parquet(audit_path)
    return src.select("batch_id", "n_docs", "n_flagged").orderBy(
        "batch_id"
    )
