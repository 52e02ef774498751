"""Per-barrier scheduling-floor decomposition probe (round 10, VERDICT
Next #1).

Every remaining ≥4x-or-2-4x-ratio query is adjudicated against a
"~0.35-0.5 s per sequential barrier" floor. This probe MEASURES where
one barrier's wall-clock goes on this box, using the real GD round from
logreg_train (the floor's canonical citizen) at sf0.1:

  t_build  - Python-side Column/DataFrame construction (py4j traffic)
  t_plan   - Catalyst analysis + optimization + physical planning
             (forced via queryExecution().executedPlan(), no execution)
  t_exec   - actual execution + collect of the 1-row weight frame

plus null-work controls that bound the pure job-submit/task-launch
floor with zero data and zero plan complexity:

  null_1part   - 8 sequential agg.first() on a cached 1-row frame
  null_32part  - 8 sequential sum() on range(1e6) in 32 partitions
  reused_plan  - re-collect of the SAME Dataset (no re-analysis) x8

and an AQE on/off A/B of the full 8-round train (AQE inserts per-stage
re-optimization into every barrier; runtime-settable conf).

Usage: python tools/profile_barrier.py [sf_dir]
Prints one JSON object to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.operators import (
    release_persisted,
    track_persist,
)
from nashville_etl_service_backup_spark.operators.ml import (
    GRAD_SCALE,
    W_SCALE,
    _margin,
    hard_sigmoid,
    logreg_train,
    standardize,
)
from nashville_etl_service_backup_spark.queries.llmdata import (
    load,
    quality_features,
)
from nashville_etl_service_backup_spark.session import get_spark


def build_feats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    nt_d = qf["n_tokens"].cast("double")
    raw = docs.select(
        "doc_id",
        F.when(qf["quality"] >= 0.64, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        qf["uniq_ratio"].alias("x1"),
        qf["stop_ratio"].alias("x2"),
        F.round(F.least(nt_d / F.lit(300.0), F.lit(1.0)), 6).alias("x3"),
    )
    return track_persist(standardize(raw, ["x1", "x2", "x3"]))


def decomposed_rounds(feats, fcols, label_col, iterations=8, lr=4.0):
    """Replay logreg_train's rounds, Column-built, with the three
    phases timed separately. Weight math identical to ml.py."""
    d = len(fcols)
    w = [0.0] * (d + 1)
    out = []
    for _ in range(iterations):
        t0 = time.perf_counter()
        proj = feats.select(
            *fcols,
            (
                hard_sigmoid(_margin(fcols, w)) - F.col(label_col)
            ).alias("_r"),
        )
        r = F.col("_r")
        aggs = [F.count(F.lit(1)).alias("n")]
        aggs.append(
            F.sum(F.round(r, GRAD_SCALE).cast("decimal(38,12)")).alias("g0")
        )
        for j, c in enumerate(fcols):
            aggs.append(
                F.sum(
                    F.round(r * F.col(c), GRAD_SCALE).cast("decimal(38,12)")
                ).alias(f"g{j + 1}")
            )
        w_df = proj.agg(*aggs).select(
            *[
                F.round(
                    F.lit(w[j])
                    - F.lit(float(lr))
                    * (
                        F.col(f"g{j}").cast("double")
                        / F.col("n").cast("double")
                    ),
                    W_SCALE,
                ).alias(f"_w{j}")
                for j in range(d + 1)
            ]
        )
        t1 = time.perf_counter()
        w_df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        row = w_df.first()
        t3 = time.perf_counter()
        w = [float(row[f"_w{j}"]) for j in range(d + 1)]
        out.append(
            {
                "build": round(t1 - t0, 4),
                "plan": round(t2 - t1, 4),
                "exec": round(t3 - t2, 4),
            }
        )
    return w, out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="barrier-profile")
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {"sf_dir": sf_dir}

    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warmup

    fcols = ["x1", "x2", "x3"]
    feats = build_feats(spark, sf_dir)
    feats.write.format("noop").mode("overwrite").save()  # fill the cache
    res["feats_partitions"] = feats.rdd.getNumPartitions()
    res["feats_rows"] = feats.count()

    # warmup one full decomposed run (JIT) then measure twice
    decomposed_rounds(feats, fcols, "y")
    for key in ("rounds_run1", "rounds_run2"):
        w, rounds = decomposed_rounds(feats, fcols, "y")
        res[key] = rounds
    res["final_weights"] = w

    # end-to-end logreg_train (min of 3)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        logreg_train(feats, fcols, "y", iterations=8, lr=4.0)
        best = min(best, time.perf_counter() - t0)
    res["train_sec"] = round(best, 3)

    # AQE off A/B
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        w_noaqe = logreg_train(feats, fcols, "y", iterations=8, lr=4.0)
        best = min(best, time.perf_counter() - t0)
    res["train_noaqe_sec"] = round(best, 3)
    res["noaqe_weights_identical"] = w_noaqe == w
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    # --- null-work controls ---------------------------------------
    one = spark.createDataFrame([(1,)], "v int").cache()
    one.count()
    t0 = time.perf_counter()
    for i in range(8):
        one.agg(F.sum(F.col("v") + F.lit(i))).first()
    res["null_1part_8barriers_sec"] = round(time.perf_counter() - t0, 3)

    rng = spark.range(0, 1_000_000, 1, 32)
    t0 = time.perf_counter()
    for i in range(8):
        rng.agg(F.sum(F.col("id") + F.lit(i))).first()
    res["null_32part_8barriers_sec"] = round(time.perf_counter() - t0, 3)

    # same Dataset re-collected: analysis/optimization happen once
    fixed = rng.agg(F.sum("id"))
    fixed.collect()
    t0 = time.perf_counter()
    for _ in range(8):
        fixed.collect()
    res["reused_plan_8barriers_sec"] = round(time.perf_counter() - t0, 3)

    one.unpersist()
    release_persisted()
    spark.catalog.clearCache()
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
