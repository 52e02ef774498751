"""Load layer — K1/K2/K3/K4 (SURVEY §2.2) without a mutable store.

The reference's `INSERT ... ON CONFLICT (url) DO NOTHING`
(transform_data.py:566-600) becomes: within-batch dropDuplicates on url
+ left-anti join against the sink snapshot + append. Batch-atomic rather
than row-atomic (documented divergence — a failed batch writes nothing
instead of rolling back per record).

Scale: the anti-join broadcasts the EXISTING KEY SET when small; at
100 TB the sink should be partitioned (e.g. by bucket of url hash) so
the anti-join co-partitions instead of shuffling the full batch.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def raw_zone_append(
    items: DataFrame, source_spider: str, path: str, start_id: int = 0
) -> None:
    """K1 (pipelines.py:11-21): serialize items to (id, source_spider,
    raw_json) and append to the bronze zone — one vectorized write, not
    one INSERT per item."""
    payload = items.select(
        (F.monotonically_increasing_id() + start_id).alias("id"),
        F.lit(source_spider).alias("source_spider"),
        F.to_json(F.struct(*items.columns)).alias("raw_json"),
    )
    payload.write.mode("append").parquet(path)


def dedup_new_rows(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
    """K2/J2: rows of `batch` whose url is not in `existing`, after
    within-batch dedup. Broadcast the existing keys when beneficial —
    only the url column is shuffled/broadcast, never full rows."""
    deduped = batch.dropDuplicates(["url"])
    if existing is None:
        return deduped
    keys = existing.select("url").distinct()
    return deduped.join(keys, "url", "left_anti")


def load_events(
    spark: SparkSession,
    batch: DataFrame,
    sink_path: str,
    mode: str = "append",
) -> int:
    """Dedup-append the batch into the curated events parquet sink at
    `sink_path` (a local path or any Hadoop URI). mode='overwrite' gives
    K4 (full refresh); an append to an absent sink creates it. Returns
    the number of rows written, observed on the write itself."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
    existing = None if mode == "overwrite" else _existing_keys(spark, sink_path)
    fresh = dedup_new_rows(batch, existing)
    obs = Observation()
    fresh.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(mode).parquet(
        sink_path
    )
    return obs.get["rows"]


def _existing_keys(spark: SparkSession, sink_path: str) -> DataFrame | None:
    """The sink's url column, or None when the sink does not exist yet.
    The explicit schema skips a schema-inference job. Only PATH-ABSENT
    means cold start; any other read failure (permissions, transient FS
    error) re-raises: falling through would skip the anti-join and
    double-append."""
    try:
        return spark.read.schema("url STRING").parquet(sink_path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" not in str(exc) and "does not exist" not in str(exc):
            raise
        return None


def export_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K5 (test_transform_all.py:59-62): JSON export of a transformed
    batch — `scrapy crawl -o X.json` / transformed_{source}.json analog.
    Distributed JSON-lines write (one file per partition; coalesce
    upstream if a single file is required)."""
    df.write.mode(mode).json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table write — the 100 TB co-location technique:
    both sides of a recurring equi-join written with the same
    (bucket_col, n_buckets) join WITHOUT an Exchange (shuffle happens
    once at write time, then every downstream join/aggregation on the
    bucket key is shuffle-free). The reference has no analog (Postgres
    btree serves this role, init.sql:22-23); at Spark scale this is the
    replacement for its serving indexes."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def export_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC export — the second columnar interchange format next to
    parquet (Spark ships a native vectorized ORC reader/writer; Hive/
    Trino ecosystems frequently hand data over as ORC). Same pushdown
    contract as parquet: predicates and column pruning reach the ORC
    scan (PushedFilters/ReadSchema — plan-audited in test_sources),
    so a consumer reading the export pays only for what it asks."""
    df.write.mode(mode).orc(path)


def scan_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC scan with full Catalyst pushdown."""
    return spark.read.orc(path)


def jdbc_driver_available(spark: SparkSession, driver_class: str) -> bool:
    """True if `driver_class` is loadable on the JVM classpath — gates
    the JDBC path in environments without a driver jar."""
    try:
        spark._jvm.java.lang.Class.forName(driver_class)
        return True
    except Exception:
        return False


def _is_table_absent_error(exc: Exception) -> bool:
    """True iff `exc` (a py4j-wrapped JDBC failure) means the target
    table does not exist — SQLState class 42 (syntax / access-rule
    violation: Postgres 42P01, Derby 42X05, MySQL 42S02) anywhere in
    the Java cause chain, or the standard not-found message shapes.
    Connection (08xxx) and auth (28xxx) states return False."""
    java_exc = getattr(exc, "java_exception", None)
    seen = 0
    while java_exc is not None and seen < 10:
        seen += 1
        try:
            state = java_exc.getSQLState()
        except Exception:
            state = None
        if state and str(state).startswith("42"):
            return True
        try:
            java_exc = java_exc.getCause()
        except Exception:
            break
    msg = str(exc).lower()
    return any(
        s in msg
        for s in ("does not exist", "not found", "no such table", "42p01", "42x05", "42s02")
    )


def write_jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    key_col: str = "url",
    driver: str | None = None,
) -> None:
    """K2 parity against a JDBC serving store — the reference serves
    from Postgres (init.sql:6-25, btree+GIN) and loads with
    `INSERT ... ON CONFLICT (url) DO NOTHING`
    (transform_data.py:566-600). Engine-portable form: read the
    EXISTING KEY COLUMN from the target (column-pruned JDBC scan),
    left-anti join the incoming batch, append only the fresh rows.
    First write creates the table (Spark JDBC append-on-absent).

    Not row-transactional: the read-check-append races a concurrent
    writer (the reference's loader is a single cron writer too); a
    multi-writer deployment should use the database's native upsert via
    a staging table + MERGE. The anti-join moves only the key column.

    Only a TABLE-ABSENT failure on the existing-keys probe falls through
    to the create-on-first-write append; auth failures, timeouts, and
    transient network errors re-raise (round-2 ADVICE: a blanket except
    here silently double-inserted the whole batch on any transient read
    error, since Spark's JDBC-created table carries no unique
    constraint)."""
    spark = df.sparkSession
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        reader = reader.option("driver", driver)
    try:
        existing_keys = reader.load().select(key_col).distinct()
    except Exception as exc:
        if not _is_table_absent_error(exc):
            raise
        existing_keys = None  # table absent → first write creates it
    fresh = df.dropDuplicates([key_col])
    if existing_keys is not None:
        fresh = fresh.join(existing_keys, key_col, "left_anti")
    writer = fresh.write.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        writer = writer.option("driver", driver)
    writer.mode("append").save()


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet write: equality/IN predicates on
    the partition columns prune entire directories at plan time
    (PartitionFilters), the Spark replacement for the reference's
    `(source, event_date, name)` btree-assisted scans."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key_col: str,
    attr_cols: list[str],
    from_col: str = "valid_from",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: apply a batch of updates
    to a versioned dimension, opening a new version for every key whose
    tracked attributes actually CHANGED (no-op updates are dropped) and
    closing the superseded version.

    Input contract: ``current`` carries (key, attrs..., valid_from) —
    the full version history so far; ``updates`` carries (key, attrs...,
    valid_from) with the batch's effective timestamp. Output: (key,
    attrs..., valid_from, valid_to, is_current) where valid_to is the
    next version's valid_from (NULL while current) and is_current is
    1/0 — the standard warehouse SCD2 shape (Kimball).

    Scale shape: change detection is one equi-join of the update batch
    against only the CURRENT version rows (is-latest via max-window per
    key — map-side combinable agg + broadcastable when the batch is
    small); versioning is a per-key window over the (tiny) per-key
    version chain, shuffled by key once. No full-history rewrite: at
    production scale the output is partitioned by is_current so closing
    a version touches two partitions."""
    from pyspark.sql.window import Window

    latest = Window.partitionBy(key_col)
    cur_latest = (
        current.withColumn("_max_from", F.max(from_col).over(latest))
        .filter(F.col(from_col) == F.col("_max_from"))
        .drop("_max_from")
    )
    changed = F.lit(False)
    upd = updates.alias("u").join(
        cur_latest.alias("c"), on=key_col, how="left"
    )
    for a in attr_cols:
        changed = changed | ~F.col(f"u.{a}").eqNullSafe(F.col(f"c.{a}"))
    new_rows = upd.filter(
        F.col(f"c.{from_col}").isNull() | changed
    ).select(key_col, *[F.col(f"u.{a}") for a in attr_cols], f"u.{from_col}")
    versions = current.select(key_col, *attr_cols, from_col).unionByName(
        new_rows
    )
    w = Window.partitionBy(key_col).orderBy(from_col)
    valid_to = F.lead(from_col).over(w)
    return versions.select(
        key_col,
        *attr_cols,
        from_col,
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).cast("int").alias(
            "is_current"
        ),
    )


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    attr_cols: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a change-data-capture batch to a snapshot: per key the
    HIGHEST-seq change wins (I/U upsert the row, D deletes it); keys
    untouched by the batch pass through. The batch-apply half of a
    Debezium/CDC ingestion — scd2_merge is the history-keeping twin,
    this is the current-state twin.

    Scale shape: winner-per-key is one window over the (small) change
    batch; application is one equi-join partitioned by key (left_anti
    for touched keys + union of surviving upserts). The snapshot is
    never rewritten where it isn't touched — at production scale pair
    with partitioned storage so only touched partitions rewrite.

    Contract: ``changes`` carries (key, attrs..., op ∈ {'I','U','D'},
    seq); ties on seq resolve to the LAST op in op order ('U' > 'I' >
    'D' alphabetically would be wrong — resolve on (seq, op) with D
    losing ties deliberately documented: equal-seq I/U-vs-D keeps the
    row)."""
    from pyspark.sql.window import Window

    # desc(op): 'U' > 'I' > 'D', so on an equal-seq tie an upsert
    # outranks a delete (the documented keeps-the-row resolution)
    w = Window.partitionBy(key_col).orderBy(
        F.desc(seq_col), F.desc(op_col)
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = latest.select(key_col)
    survivors = snapshot.join(touched, key_col, "left_anti")
    upserts = latest.filter(F.col(op_col) != "D").select(
        key_col, *attr_cols
    )
    return survivors.select(key_col, *attr_cols).unionByName(upserts)
