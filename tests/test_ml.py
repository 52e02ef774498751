"""Tests for in-engine supervised training (operators/ml.py): hard-
sigmoid logistic regression fit by fixed-iteration full-batch GD."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.operators.ml import (
    logreg_score,
    logreg_train,
    standardize,
)


def _toy(spark, n_parts=1):
    # linearly separable in x1: y = 1 iff x1 > 0.5; x2 is noise
    rows = [
        (i, float(i % 2), 0.9 if i % 2 else 0.1, (i * 7 % 10) / 10.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, y double, x1 double, x2 double")
    return df.repartition(n_parts) if n_parts > 1 else df


def test_training_learns_separable_toy(spark):
    feats = standardize(_toy(spark), ["x1", "x2"])
    w = logreg_train(feats, ["x1", "x2"], "y", iterations=8, lr=4.0)
    assert len(w) == 3
    # x1 carries the signal: its weight dominates the noise feature
    assert w[1] > 0.0
    assert abs(w[1]) > abs(w[2]) * 5
    p = logreg_score(["x1", "x2"], w)
    acc = (
        feats.select(
            ((p >= 0.5).cast("int") == F.col("y").cast("int"))
            .cast("int")
            .alias("ok")
        )
        .agg(F.avg("ok"))
        .first()[0]
    )
    assert acc == 1.0


def test_adaptive_off_restores_the_key_as_it_found_it(spark):
    """Training turns AQE off for its rounds only: a session value comes
    back as it was, and a key that was never set goes back to unset."""
    key = "spark.sql.adaptive.enabled"
    feats = standardize(_toy(spark), ["x1", "x2"])
    before = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "true")
        logreg_train(feats, ["x1", "x2"], "y", iterations=1)
        assert spark.conf.get(key, None) == "true"
        spark.conf.unset(key)
        logreg_train(feats, ["x1", "x2"], "y", iterations=1)
        assert spark.conf.get(key, None) is None
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_training_is_partition_invariant(spark):
    """Decimal gradient sums are order-independent: the trained weights
    must be bit-identical whatever the input partitioning."""
    w1 = logreg_train(
        standardize(_toy(spark, 1), ["x1", "x2"]),
        ["x1", "x2"], "y", iterations=4, lr=2.0,
    )
    w7 = logreg_train(
        standardize(_toy(spark, 7), ["x1", "x2"]),
        ["x1", "x2"], "y", iterations=4, lr=2.0,
    )
    assert w1 == w7


def test_standardize_moments(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (4.0,)], "x double"
    )
    out = standardize(df, ["x"]).select("x").orderBy("x").collect()
    got = [r["x"] for r in out]
    # mean 2.5, population std sqrt(1.25) rounded to 6 = 1.118034
    exp = [round((v - 2.5) / 1.118034, 6) for v in (1.0, 2.0, 3.0, 4.0)]
    assert got == sorted(exp)


def test_standardize_zero_variance_column(spark):
    df = spark.createDataFrame([(5.0,), (5.0,)], "x double")
    got = [r["x"] for r in standardize(df, ["x"]).collect()]
    assert got == [0.0, 0.0]


def test_quality_classifier_query_distills_teacher(spark):
    """End-to-end on real sf0.001 docs: per-doc scores spread away from
    0.5 and the student reproduces the teacher rule on most docs."""
    from nashville_etl_service_backup_spark.queries.llmdata import (
        text_quality_classifier,
    )

    out = text_quality_classifier(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    assert set(out.columns) == {"doc_id", "label", "score", "pred"}
    assert ((out["score"] >= 0.0) & (out["score"] <= 1.0)).all()
    # pred is exactly the 0.5 threshold on score
    assert ((out["score"] >= 0.5).astype(int) == out["pred"]).all()
    assert (out["label"] == out["pred"]).mean() >= 0.9


def test_classifier_eval_auc_matches_pair_counting(spark):
    """AUC from the score histogram equals the brute-force pair count,
    including half-credit ties."""
    from itertools import product

    from nashville_etl_service_backup_spark.operators.ml import (
        classifier_eval,
    )

    rows = [
        (1, 0.9, 1), (1, 0.7, 1), (1, 0.4, 0), (0, 0.7, 1),
        (0, 0.3, 0), (0, 0.2, 0), (0, 0.4, 0), (1, 0.2, 0),
    ]
    df = spark.createDataFrame(rows, "label int, score double, pred int")
    got = classifier_eval(df).first()
    pos = [s for y, s, _ in rows if y == 1]
    neg = [s for y, s, _ in rows if y == 0]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p, n in product(pos, neg)
    )
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert got["auc"] == round(wins / (len(pos) * len(neg)), 6)
    acc = sum((s >= 0.5) == (y == 1) for y, s, _ in rows) / len(rows)
    # pred column is (score >= 0.5) in this fixture
    assert got["acc"] == round(acc, 6)


def test_classifier_eval_is_partition_invariant(spark):
    from nashville_etl_service_backup_spark.operators.ml import (
        classifier_eval,
    )

    rows = [
        (i % 3 == 0 and 1 or 0, ((i * 13) % 50) / 50.0, i % 2)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "label int, score double, pred int")
    a = classifier_eval(df.coalesce(1)).first()
    b = classifier_eval(df.repartition(11)).first()
    assert a == b


def test_tree_root_picks_separating_feature(spark):
    from nashville_etl_service_backup_spark.operators.ml import (
        tree_leaf_predictions,
        tree_path,
        tree_train,
    )

    # y is exactly (x1 <= 0.3); x2 is uninformative constant
    rows = [
        (i, 1 if i % 5 < 2 else 0,
         0.1 if i % 5 < 2 else 0.7, 0.5)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, y int, x1 double, x2 double")
    tree = tree_train(df, ["x1", "x2"], "y", depth=2)
    assert tree["feature"] == "x1"
    assert tree["thr"] == 0.1
    pathed = df.withColumn("path", tree_path(tree))
    leaves = {
        r["path"]: r["pred"]
        for r in tree_leaf_predictions(pathed).collect()
    }
    # left leaf pure-positive, right pure-negative
    assert all(p == 1 for path, p in leaves.items() if path.startswith("L"))
    assert all(p == 0 for path, p in leaves.items() if path.startswith("R"))


def test_tree_train_partition_invariant(spark):
    from nashville_etl_service_backup_spark.operators.ml import tree_train

    rows = [
        (i, i % 3 == 0 and 1 or 0, ((i * 7) % 10) / 10.0,
         ((i * 3) % 4) / 4.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, y int, x1 double, x2 double")
    t1 = tree_train(df.coalesce(1), ["x1", "x2"], "y", depth=2)
    t2 = tree_train(df.repartition(13), ["x1", "x2"], "y", depth=2)
    assert t1 == t2


def test_tree_degenerate_node_falls_back(spark):
    from nashville_etl_service_backup_spark.operators.ml import (
        TREE_FALLBACK_THR,
        tree_path,
        tree_train,
    )

    # constant features: no valid split anywhere -> fallback thresholds,
    # every row goes left at every level
    df = spark.createDataFrame(
        [(i, i % 2, 0.5, 0.5) for i in range(20)],
        "id long, y int, x1 double, x2 double",
    )
    tree = tree_train(df, ["x1", "x2"], "y", depth=2)
    assert tree["thr"] == TREE_FALLBACK_THR
    paths = {r["path"] for r in df.withColumn("path", tree_path(tree)).collect()}
    assert paths == {"LL"}


def test_logreg_cv_out_of_fold_metrics(spark):
    """3-fold CV on sf0.001: one row per fold, test counts partition
    the corpus, and held-out AUC stays strong (the features genuinely
    generalize across hash folds)."""
    from nashville_etl_service_backup_spark.queries.llmdata import (
        text_classifier_cv,
    )

    out = text_classifier_cv(spark, "/root/testdata/sf0.001").toPandas()
    assert sorted(out["fold"]) == [0, 1, 2]
    n_total = (out["n_pos"] + out["n_neg"]).sum()
    assert (out["n_train"] + out["n_pos"] + out["n_neg"] == n_total).all()
    assert ((out["acc"] >= 0.0) & (out["acc"] <= 1.0)).all()


def test_gbm_reduces_error_and_first_stump_is_sensible(spark):
    from nashville_etl_service_backup_spark.operators.ml import gbm_train

    # q is a noisy step of x1 (integer bins)
    rows = [
        (i, (0.8 if i % 10 < 4 else 0.2) + (i % 3) * 0.01,
         10 if i % 10 < 4 else 50, 7)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, q double, x1 long, x2 long")
    scored, model = gbm_train(df, ["x1", "x2"], "q", rounds=3)
    assert model["stumps"][0]["feature"] == "x1"
    assert model["stumps"][0]["thr"] == 10
    # left side (x1<=10) holds the high-q docs: positive delta
    assert model["stumps"][0]["dl"] > 0 > model["stumps"][0]["dr"]
    base_err = (
        scored.select(F.avg(F.abs(F.col("q") - F.lit(model["base"]))))
        .first()[0]
    )
    boost_err = (
        scored.select(F.avg(F.abs(F.col("q") - F.col("pred")))).first()[0]
    )
    assert boost_err < base_err / 2


def test_gbm_partition_invariant(spark):
    from nashville_etl_service_backup_spark.operators.ml import gbm_train

    rows = [
        (i, ((i * 17) % 100) / 100.0, (i * 7) % 20, (i * 3) % 5)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, q double, x1 long, x2 long")
    _, m1 = gbm_train(df.coalesce(1), ["x1", "x2"], "q", rounds=3)
    _, m2 = gbm_train(df.repartition(13), ["x1", "x2"], "q", rounds=3)
    assert m1 == m2


def test_ols2_recovers_exact_linear_relation(spark):
    from nashville_etl_service_backup_spark.operators.ml import (
        ols2_by_group,
    )

    # y = 2 + 3*x1 - 0.5*x2 exactly -> coefficients recovered, r2 = 1,
    # rmse = 0 (within round-6 of the closed-form solve)
    rows = [
        (
            "g",
            round(2.0 + 3.0 * (i % 13) - 0.5 * ((i * 5) % 7), 6),
            float(i % 13),
            float((i * 5) % 7),
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "grp string, y double, x1 double, x2 double")
    out = ols2_by_group(df, "grp", "y", "x1", "x2").collect()[0]
    assert out["n"] == 120
    assert abs(out["b0"] - 2.0) < 1e-5
    assert abs(out["b1"] - 3.0) < 1e-5
    assert abs(out["b2"] + 0.5) < 1e-5
    assert abs(out["r2"] - 1.0) < 1e-6
    assert out["rmse"] < 1e-5


def test_ols2_partition_invariant_and_degenerate_guard(spark):
    from nashville_etl_service_backup_spark.operators.ml import (
        ols2_by_group,
    )

    rows = [
        ("a", 1.0 + 0.5 * i + 0.25 * (i % 3), float(i), float(i % 3))
        for i in range(90)
    ] + [
        # degenerate group: x1 constant -> det == 0 -> null fit
        ("b", float(i % 5), 1.0, 1.0)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "grp string, y double, x1 double, x2 double")
    one = {r["grp"]: r for r in ols2_by_group(df, "grp", "y", "x1", "x2").collect()}
    many = {
        r["grp"]: r
        for r in ols2_by_group(
            df.repartition(7), "grp", "y", "x1", "x2"
        ).collect()
    }
    assert one == many  # decimal moments make the fit partition-invariant
    assert one["b"]["b1"] is None and one["b"]["b2"] is None
    assert one["a"]["r2"] is not None and one["a"]["r2"] > 0.99


def test_nb_separable_vocab_and_tiebreak(spark):
    from nashville_etl_service_backup_spark.operators.ml import (
        nb_predict,
        nb_train,
    )

    train = spark.createDataFrame(
        [(i, "red", ["apple", "cherry", "apple"]) for i in range(20)]
        + [(100 + i, "blue", ["sky", "ocean", "sky"]) for i in range(20)],
        "doc_id long, cls string, tk array<string>",
    )
    test = spark.createDataFrame(
        [
            (1000, "red", ["apple", "apple"]),
            (1001, "blue", ["ocean", "sky"]),
            # unseen tokens only: dflt terms equal across balanced
            # classes -> tie -> lexicographically smaller class wins
            (1002, "tie", ["zzz", "qqq"]),
            # empty token list -> prior-only; balanced priors tie
            (1003, "tie", []),
        ],
        "doc_id long, truth string, tk array<string>",
    )
    cls, ll = nb_train(train, "cls", "tk")
    got = {
        r["doc_id"]: r["pred"]
        for r in nb_predict(
            test, cls, ll, "doc_id", "cls", "tk", keep_cols=("truth",)
        ).collect()
    }
    assert got[1000] == "red"
    assert got[1001] == "blue"
    assert got[1002] == "blue"  # 'blue' < 'red'
    assert got[1003] == "blue"


def test_nb_partition_invariant(spark):
    from nashville_etl_service_backup_spark.operators.ml import (
        nb_predict,
        nb_train,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [
        (i, f"c{i % 3}", [words[(i * j) % 5] for j in range(1, 8)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, cls string, tk array<string>")
    outs = []
    for parts in (1, 13):
        d = df.repartition(parts) if parts > 1 else df
        cls, ll = nb_train(d, "cls", "tk")
        outs.append(
            sorted(
                (r["doc_id"], r["pred"])
                for r in nb_predict(d, cls, ll, "doc_id", "cls", "tk").collect()
            )
        )
    assert outs[0] == outs[1]


def test_nb_train_marginals_match_stream_formulation(spark):
    """Round-9 restructure pin: the doc-count window over the class
    aggregate and the vocab marginal over the (term, class) model must
    equal the old separate corpus-count scan and full-stream distinct
    aggregate — so cls and loglik are unchanged to the last bit. Old
    scalars replayed inline."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.ml import nb_train

    words = ["kilo", "lima", "mike", "november", "oscar", "papa"]
    rows = [
        (i, f"c{i % 4}", [words[(i * j) % 6] for j in range(1, (i % 9) + 1)])
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "doc_id long, cls string, tk array<string>")
    cls, ll = nb_train(df, "cls", "tk")
    got_cls = sorted(tuple(r) for r in cls.collect())
    got_ll = sorted(tuple(r) for r in ll.collect())

    # old scalars
    nd_old = df.count()
    v_old = (
        df.select(F.explode("tk").alias("term"))
        .agg(F.countDistinct("term").alias("v"))
        .first()["v"]
    )
    # new scalars, replayed the way nb_train derives them
    cs = df.groupBy("cls").agg(
        F.count(F.lit(1)).alias("ndc"),
        F.sum(F.size("tk").cast("long")).alias("ntc"),
    )
    nd_new = cs.agg(F.sum("ndc").alias("nd")).first()["nd"]
    tc = (
        df.select("cls", F.explode("tk").alias("term"))
        .groupBy("term", "cls")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    v_new = tc.agg(F.countDistinct("term").alias("v")).first()["v"]
    assert (nd_new, v_new) == (nd_old, v_old)

    # old cls/loglik end-to-end (pre-restructure formulation)
    old_cls_rows = sorted(
        tuple(r)
        for r in cs.crossJoin(
            F.broadcast(spark.createDataFrame([(nd_old, v_old)], "nd long, v long"))
        )
        .select(
            "cls",
            F.round(
                F.log(F.col("ndc").cast("double") / F.col("nd").cast("double")),
                6,
            ).alias("prior"),
            F.round(
                F.log(F.lit(1.0) / (F.col("ntc") + F.col("v")).cast("double")),
                6,
            ).alias("dflt"),
            (F.col("ntc") + F.col("v")).alias("denom"),
        )
        .collect()
    )
    old_ll_rows = sorted(
        tuple(r)
        for r in tc.join(
            F.broadcast(
                spark.createDataFrame(
                    [(r[0], r[3]) for r in old_cls_rows], "cls string, denom long"
                )
            ),
            "cls",
        )
        .select(
            "term",
            "cls",
            F.round(
                F.log(
                    (F.col("cnt") + F.lit(1)).cast("double")
                    / F.col("denom").cast("double")
                ),
                6,
            ).alias("ll"),
        )
        .collect()
    )
    assert got_cls == old_cls_rows
    assert got_ll == old_ll_rows


def test_conformal_gate_marginal_coverage(spark):
    """Split-conformal guarantee: marginal coverage over the test fold
    must be >= 1 - alpha - slack (finite-sample), and the k-th order
    statistic threshold must match a direct sorted-list computation."""
    from nashville_etl_service_backup_spark.queries.llmdata import (
        text_conformal_gate,
    )

    rows = text_conformal_gate(spark, "/root/testdata/sf0.001").collect()
    n_test = sum(r["n_test"] for r in rows)
    n_cov = sum(r["n_covered"] for r in rows)
    # alpha = 0.1; small-sample slack for the sf0.001 fold sizes
    assert n_cov / n_test >= 0.9 - 0.25
    for r in rows:
        assert r["k"] == -(-9 * (r["n_cal"] + 1) // 10)  # ceil(0.9(n+1))
        assert 0.0 <= r["qhat"] <= 1.0


@pytest.mark.parametrize("skip_cal", [False, True])
def test_conformal_gate_small_calibration_fold(spark, tmp_path, skip_cal):
    """A calibration fold of fewer than 9 rows never reaches k =
    ceil(0.9(n+1)) > n: qhat is NULL but n_cal and k are still reported
    (the oracle's kk CTE), and a NULL qhat covers no test row. With
    skip_cal the fold is empty: n_cal 0, k 1."""
    import hashlib
    import os

    from nashville_etl_service_backup_spark.queries.llmdata import (
        text_conformal_gate,
    )

    # fold = md5(doc_id) bucket mod 5, as operators.text_analysis.hash_bucket
    def fold(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5

    ids = [i for i in range(1, 31) if not (skip_cal and fold(i) == 1)]
    words = "the river city music hall opens late with jazz and folk bands".split()
    rows = [
        (i, " ".join(words[j % len(words)] for j in range(i, i + 3 + 7 * (i % 5))))
        for i in ids
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    n = sum(1 for i in ids if fold(i) == 1)
    assert n < 9 and (n == 0) == skip_cal

    out = text_conformal_gate(spark, str(tmp_path)).collect()
    assert sum(r["n_test"] for r in out) == sum(1 for i in ids if fold(i) == 0)
    for r in out:
        assert r["n_cal"] == n
        assert r["k"] == (9 * (n + 1) + 9) // 10
        assert r["qhat"] is None
        assert r["n_covered"] == 0


def test_calibration_curve_ece_consistency(spark):
    from nashville_etl_service_backup_spark.queries.llmdata import (
        text_calibration_curve,
    )

    rows = text_calibration_curve(spark, "/root/testdata/sf0.001").collect()
    assert rows
    n_tot = sum(r["n"] for r in rows)
    ece = sum(r["n"] * r["gap"] for r in rows) / n_tot
    for r in rows:
        assert abs(r["gap"] - abs(r["avg_score"] - r["pos_rate"])) < 2e-6
        assert abs(r["ece"] - ece) < 1e-4
        assert 0 <= r["bin"] <= 9


def test_lift_gains_shape_and_mass(spark):
    from nashville_etl_service_backup_spark.queries.llmdata import (
        text_lift_gains,
    )
    from nashville_etl_service_backup_spark.tables import load

    sf = "/root/testdata/sf0.001"
    rows = text_lift_gains(spark, sf).collect()
    n_docs = load(spark, sf, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    # rows come highest decile first; the full-corpus cumulative row is
    # last and must capture everything
    assert rows[0].decile == max(r.decile for r in rows)
    assert rows[-1].cum_capture == 1.0
    assert rows[-1].cum_pop_share == 1.0
    for r in rows:
        assert 0.0 <= r.pos_rate <= 1.0
        assert r.lift >= 0.0
    # the classifier distills its own teacher labels: the top decile
    # must be enriched vs the base rate
    assert rows[0].lift >= 1.0


def test_feature_woe_separates_predictive_from_noise(spark):
    """A feature that determines the label gets monotone WOE and large
    IV; an md5-noise feature gets near-zero IV."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.ml import feature_woe

    df = spark.range(1000).select(
        (F.col("id") % 100 / 100.0).alias("good"),
        (
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 1000 / 1000.0
        ).alias("noise"),
        ((F.col("id") % 100) >= 50).cast("int").alias("y"),
    )
    woe_good = feature_woe(df, "good", "y", n_bins=5).collect()
    woe_noise = feature_woe(df, "noise", "y", n_bins=5).collect()
    iv_good = sum(r["iv_term"] for r in woe_good)
    iv_noise = sum(r["iv_term"] for r in woe_noise)
    assert iv_good > 1.0          # decisive feature
    assert iv_noise < 0.05        # uninformative feature
    # WOE monotone for the decisive feature (low bins negative, top positive)
    assert woe_good[0]["woe"] < 0 < woe_good[-1]["woe"]


def test_feature_woe_folded_totals_match_two_pass_formulation(spark):
    """Round-9 rewrite pin: the label totals folded into the
    percentile/stats aggregate (Σy, Σ(1−y) over all rows) must equal
    the old over-bins re-aggregation, and the full output must match
    the old two-broadcast formulation replayed inline."""
    from pyspark.sql import functions as F
    from pyspark.sql import Column

    from nashville_etl_service_backup_spark.operators.ml import feature_woe

    n_bins = 5
    df = spark.range(777).select(
        (
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 997 / 997.0
        ).alias("f"),
        ((F.col("id") % 7) < 3).cast("int").alias("y"),
    )
    new = [tuple(r) for r in feature_woe(df, "f", "y", n_bins=n_bins).collect()]

    # old formulation: edges-only aggregate, totals re-derived from the
    # bin cells, second broadcast join
    qs = [i / n_bins for i in range(1, n_bins)]
    edges = df.agg(F.percentile("f", F.lit(qs)).alias("_e"))
    bin_expr: Column = F.lit(0)
    for i in range(n_bins - 1):
        bin_expr = bin_expr + (F.col("f") > F.element_at("_e", i + 1)).cast(
            "int"
        )
    g = (
        df.crossJoin(F.broadcast(edges))
        .select(bin_expr.alias("bin"), F.col("y").cast("long").alias("_y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_y").alias("n_pos"),
            F.sum(F.lit(1) - F.col("_y")).alias("n_neg"),
        )
    )
    tot = g.agg(F.sum("n_pos").alias("_pt"), F.sum("n_neg").alias("_nt"))
    ln9 = lambda c: F.round(F.log(c.cast("double")), 9)  # noqa: E731
    woe = (
        ln9(F.lit(2) * F.col("n_pos") + 1)
        - ln9(F.lit(2) * F.col("n_neg") + 1)
        - ln9(F.col("_pt"))
        + ln9(F.col("_nt"))
    )
    dp = (F.col("n_pos").cast("double") + F.lit(0.5)) / F.col("_pt").cast(
        "double"
    )
    dn = (F.col("n_neg").cast("double") + F.lit(0.5)) / F.col("_nt").cast(
        "double"
    )
    woe6 = F.round(woe, 6)
    old = [
        tuple(r)
        for r in (
            g.crossJoin(F.broadcast(tot))
            .select(
                "bin",
                "n",
                "n_pos",
                "n_neg",
                woe6.alias("woe"),
                F.round((dp - dn) * woe6, 6).alias("iv_term"),
            )
            .orderBy("bin")
        ).collect()
    ]
    assert new == old and len(new) == n_bins


def test_score_drift_psi_detects_shift(spark):
    """PSI over fixed bins: identical distributions score near zero;
    a shifted serve distribution scores high."""
    from pyspark.sql import functions as F

    # reuse the same PSI algebra via the registry function's building
    # blocks: construct two binned populations directly
    def psi(train_counts, serve_counts):
        ta, tb = sum(train_counts), sum(serve_counts)
        import math

        out = 0.0
        for na, nb in zip(train_counts, serve_counts):
            da = (na + 0.5) / ta
            db = (nb + 0.5) / tb
            lnr = (
                round(math.log(2 * na + 1), 9)
                - round(math.log(2 * nb + 1), 9)
                - round(math.log(ta), 9)
                + round(math.log(tb), 9)
            )
            out += (da - db) * round(lnr, 6)
        return out

    same = psi([100, 200, 300, 400], [50, 100, 150, 200])
    shifted = psi([100, 200, 300, 400], [400, 300, 200, 100])
    assert abs(same) < 0.01
    assert shifted > 0.2


def test_logreg_matches_column_built_reference(spark):
    """logreg_train's SQL-string rounds must stay bit-identical to an
    independently Column-built collect-per-round GD (weights collected
    and re-embedded as float literals after every round)."""
    from nashville_etl_service_backup_spark.operators.ml import (
        GRAD_SCALE,
        W_SCALE,
        _margin,
        hard_sigmoid,
    )

    feats = standardize(_toy(spark), ["x1", "x2"])
    fcols = ["x1", "x2"]

    def reference(iterations=8, lr=4.0):
        w = [0.0] * 3
        for _ in range(iterations):
            r = hard_sigmoid(_margin(fcols, w)) - F.col("y")
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
            upd = feats.agg(*aggs).select(
                *[
                    F.round(
                        F.lit(w[j])
                        - F.lit(lr)
                        * (F.col(f"g{j}").cast("double") / F.col("n").cast("double")),
                        W_SCALE,
                    ).alias(f"w{j}")
                    for j in range(3)
                ]
            ).first()
            w = [float(upd[f"w{j}"]) for j in range(3)]
        return w

    assert logreg_train(feats, fcols, "y", iterations=8, lr=4.0) == reference()


def test_folds_match_per_subset_training(spark):
    """Fold-parallel GD: model i's weights and train count equal
    logreg_train on the rows with fold != i, bit-for-bit."""
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_train_folds,
    )

    feats = standardize(_toy(spark), ["x1", "x2"]).withColumn(
        "_fold", (F.col("id") % 3).cast("int")
    )
    ws, ns = logreg_train_folds(feats, ["x1", "x2"], "y", "_fold", 3, 4, 4.0)
    subsets = [feats.filter(F.col("_fold") != i) for i in range(3)]
    assert ws == [
        logreg_train(sub, ["x1", "x2"], "y", iterations=4, lr=4.0)
        for sub in subsets
    ]
    assert ns == [sub.count() for sub in subsets]


def test_gd_trains_on_backtick_column_names(spark):
    """Column names are quoted in the generated SQL: a feature, label
    or fold column containing a backtick trains exactly like a plain
    name."""
    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_train_folds,
    )

    feats = standardize(_toy(spark), ["x1", "x2"]).withColumn(
        "_fold", (F.col("id") % 3).cast("int")
    )
    ticked = feats.select(
        F.col("x1").alias("x`1"),
        "x2",
        F.col("y").alias("y`"),
        F.col("_fold").alias("`f"),
    )
    assert logreg_train(
        ticked, ["x`1", "x2"], "y`", iterations=4, lr=4.0
    ) == logreg_train(feats, ["x1", "x2"], "y", iterations=4, lr=4.0)
    assert logreg_train_folds(
        ticked, ["x`1", "x2"], "y`", "`f", 3, 4, 4.0
    ) == logreg_train_folds(feats, ["x1", "x2"], "y", "_fold", 3, 4, 4.0)


def test_gd_reserved_name_collision_raises(spark):
    """Only a FEATURE named like a staged GD column can collide: a
    non-feature `_r` column never reaches the staged projection and
    trains to the same weights, while a feature named `_r` fails
    loudly instead of as an ambiguous reference inside Spark."""
    import pytest

    from nashville_etl_service_backup_spark.operators.ml import (
        logreg_train_folds,
    )

    feats = standardize(_toy(spark), ["x1", "x2"])
    extra = feats.withColumn("_r", F.lit(1.0))
    assert logreg_train(extra, ["x1", "x2"], "y", iterations=2) == (
        logreg_train(feats, ["x1", "x2"], "y", iterations=2)
    )
    with pytest.raises(ValueError, match="_r"):
        logreg_train(extra, ["x1", "_r"], "y", iterations=1)
    folds = extra.withColumn("_fold", (F.col("id") % 2).cast("int"))
    with pytest.raises(ValueError, match="_r1"):
        logreg_train_folds(
            folds.withColumnRenamed("x2", "_r1"), ["x1", "_r1"], "y", "_fold", 2, 1
        )
