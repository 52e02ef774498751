"""Composite dataflow operators: serving query, pagination, dedup,
similarity search, text analysis."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


# Frames materialized inside operators: persisted signature stages and
# the local checkpoints at the dedup barriers. Queries are lazy,
# so the operator cannot free them before its caller materializes the
# result; instead each one registers its release here and the caller
# (bench loop, long-running service, tests) calls release_persisted()
# once the result is consumed. Without this, each dedup query would
# leak its cached frames for the session's lifetime.
_PERSISTED: list[Callable[[], object]] = []


def track_persist(df: DataFrame) -> DataFrame:
    """persist() + register for later release_persisted()."""
    df.persist()
    _PERSISTED.append(df.unpersist)
    return df


def _checkpoint_rdd(cp: DataFrame):
    # A localCheckpoint()'s blocks belong to the RDD under its
    # LogicalRDD leaf; DataFrame.unpersist() does not reach them.
    return cp._jdf.queryExecution().analyzed().rdd()


def free_checkpoint(cp: DataFrame) -> None:
    """Drop a localCheckpoint()'s blocks now. Any frame still derived
    from ``cp`` can no longer be computed afterwards."""
    _checkpoint_rdd(cp).unpersist(False)


def register_checkpoint(cp: DataFrame) -> DataFrame:
    """Register a localCheckpoint() for release_persisted().

    A checkpoint is a materialization barrier that also cuts the
    lineage: every later plan starts from a leaf instead of
    re-analyzing and re-planning all of the upstream plan, as a
    persist()ed frame makes each consumer do. Under AQE the leaf
    reports no output partitioning, so a consumer that joins or groups
    on a key shuffles again whatever layout the checkpoint was built in.

    Unlike a persist()ed frame, blocks lost with an executor are not
    recomputed from lineage: a query reading them fails and must be
    re-run. Use it only for barriers whose query can be re-run."""
    rdd = _checkpoint_rdd(cp)
    _PERSISTED.append(lambda: rdd.unpersist(False))
    return cp


def release_persisted() -> int:
    """Free every operator-cached frame and checkpoint; returns how many.

    Call it only once the results that used them are consumed: a frame
    derived from a released checkpoint cannot be recomputed (Spark
    raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    n = 0
    while _PERSISTED:
        release = _PERSISTED.pop()
        try:
            release()
            n += 1
        except Exception:
            pass
    return n


def spread(df: DataFrame, factor: int = 2) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism × factor`` before
    a CPU-heavy derivation (per-token md5, signature computation, media
    decode) — but ONLY when the upstream scan yields fewer splits than
    cores, e.g. a single-row-group parquet file, which Spark cannot
    split (one task reads the whole row group while the rest idle).

    Conditional on purpose (round-2 verdict item #2): at 100 TB the
    input is a many-file scan with splits ≥ cores, and an unconditional
    extra shuffle of raw text there is not free — so a well-partitioned
    input passes through untouched (plan shows no extra Exchange; pinned
    by tests/test_plans.py::test_spread_noop_on_wide_input).

    The partition probe (``df.rdd``) runs no job on a scan or a
    checkpoint, but under AQE it materializes every unmaterialized
    shuffle or cache stage upstream: on a persisted funnel output it
    ran the whole funnel (2 jobs, about 2.2 s at 2000 docs).

    Catalyst pushes deterministic Filters below the round-robin
    Exchange added here, so filters written straight after spread()
    still run in the scan's tasks: the curation funnel's filters ran in
    the scan's single task. A CollectMetrics node (``observe``) between
    the two keeps them above it, because no Filter is pushed through
    one; the funnel in queries/llmdata.py does that. Spreading pays
    only for JVM expressions: every Python-UDF task pays about
    0.2-0.3 s before its first row (PySpark's worker re-reads
    pyspark.zip's directory per task in setup_spark_files), so more
    tasks of a Python stage cost more, not less."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism * factor)
