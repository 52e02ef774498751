"""In-engine supervised model training as pure DataFrame algebra:
- hard-sigmoid logistic regression by fixed-iteration full-batch GD
  (logreg_train / logreg_score / logreg_cv),
- depth-limited decision trees by histogram split search (tree_train),
- gradient-boosted stumps on squared loss (gbm_train),
- exact classifier evaluation without a global sort (classifier_eval:
  histogram-pair ROC-AUC, accuracy, Brier).

The reference filters rows with hand-written heuristics (name-quality
gates, required-field checks — transform_data.py's rule stack); the
modern corpus-curation analog is a TRAINED quality filter
(fastText-style: Joulin et al. 2016; FineWeb-Edu's teacher-labelled
probe): take labels from a cheap teacher (here the corpus quality
heuristic itself — distillation), fit a model, score every document
with it. This module does the FIT inside the engine, so the same
pipeline that computes features at 100 TB also trains on them — no
export to a single-node trainer.

Determinism device (the IVF-k-means / PageRank recipe):
- a FIXED iteration count, so the whole optimization unrolls into SQL
  CTEs and the DuckDB oracle replays the identical computation;
- per-example gradient contributions rounded to GRAD_SCALE and summed
  in DECIMAL(38,12) — order-independent, so the gradient is
  bit-identical regardless of partitioning (and across engines);
- the weight update is ONE singly-rounded double expression per
  coefficient: w' = round(w − lr·(Σg / n), W_SCALE);
- the link function is the HARD sigmoid clamp(0.25·z + 0.5, 0, 1)
  (Courbariaux et al. 2016): only +, ×-by-2⁻², LEAST/GREATEST — every
  op IEEE-correctly-rounded, so no transcendental (exp) whose final-ulp
  behaviour could differ between the JVM and libm. Gradient uses the
  straight-through form (p − y)·x.

Scale shape: the training data NEVER shuffles. Standardization is one
map-side-combinable decimal-moment aggregate (broadcast back as a 1-row
frame); each GD round is one narrow projection + one combinable
aggregate whose output is d+1 scalars; scoring is a narrow projection.
Total bytes moved per round: O(d) — a full-batch GD round at 100 TB
costs exactly one pass over the (cached or re-scanned) feature columns.
The per-round collected weight vector is a d+1-scalar model artifact —
the same justified driver visit as the IVF quantizer's k×dim centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_SCALE = 9  # margin rounding before the link
GRAD_SCALE = 12  # per-example gradient contribution rounding
W_SCALE = 12  # weight rounding after each update
FEAT_SCALE = 6  # standardized-feature rounding


def hard_sigmoid(z: Column) -> Column:
    """clamp(0.25·z + 0.5, 0, 1) — exact-arithmetic sigmoid surrogate
    (0.25·z is an exponent shift, exact; + 0.5 singly rounded)."""
    return F.least(
        F.greatest(F.lit(0.25) * z + F.lit(0.5), F.lit(0.0)), F.lit(1.0)
    )


def standardize_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """1-row frame of per-column mean/std (population), decimal-exact:
    m_<c> = round(Σx / n, 6)  and  s_<c> = round(√max((Σx² − Σx·Σx/n)/n,
    0), 6), with Σ over DECIMAL(18,6) casts (inputs are round-6 doubles,
    so the casts are exact and the sums order-independent)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        d = F.col(c).cast("decimal(18,6)")
        aggs.append(F.sum(d).alias(f"_s_{c}"))
        aggs.append(F.sum(d * d).alias(f"_ss_{c}"))
    m = df.agg(*aggs)
    n = F.col("n").cast("double")
    out = [F.col("n")]
    for c in cols:
        s = F.col(f"_s_{c}").cast("double")
        ss = F.col(f"_ss_{c}").cast("double")
        var = (ss - s * s / n) / n
        out.append(F.round(s / n, FEAT_SCALE).alias(f"m_{c}"))
        out.append(
            F.round(
                F.sqrt(F.greatest(var, F.lit(0.0))), FEAT_SCALE
            ).alias(f"s_{c}")
        )
    return m.select(*out)


def standardize(df: DataFrame, cols: list[str]) -> DataFrame:
    """Z-score `cols` in place (round-6), zero-variance columns → 0.0.
    The stats ride a broadcast 1-row cross join — no collect, and the
    input never shuffles."""
    stats = standardize_stats(df, cols)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        m, s = F.col(f"m_{c}"), F.col(f"s_{c}")
        out = out.withColumn(
            c,
            F.when(
                s > 0.0, F.round((F.col(c) - m) / s, FEAT_SCALE)
            ).otherwise(F.lit(0.0)),
        )
    drop = ["n"] + [f"m_{c}" for c in cols] + [f"s_{c}" for c in cols]
    return out.drop(*drop)


def _margin(feature_cols: list[str], weights: list[float]) -> Column:
    """round(w0 + w1·x1 + … + wd·xd, 9), left-associated exactly like
    the oracle's parse of the same expression."""
    z: Column = F.lit(float(weights[0]))
    for j, c in enumerate(feature_cols):
        z = z + F.lit(float(weights[j + 1])) * F.col(c)
    return F.round(z, Z_SCALE)


def _sql_double(x: float) -> str:
    """Exact double literal for generated SQL: repr() is the shortest
    round-trip form and string→double CAST parses it back to the
    identical bits; the cast is constant-folded at optimization time."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _ident(name: str) -> str:
    """A column name as a SQL identifier: backtick-quoted, with any
    backtick inside doubled."""
    return "`" + name.replace("`", "``") + "`"


def _margin_sql(feature_cols: list[str], weights: list[float]) -> str:
    """Textual twin of _margin(): same left-associated + chain, same
    ROUND — the SQL parser builds the identical expression tree."""
    terms = " + ".join(
        [_sql_double(weights[0])]
        + [
            f"{_sql_double(weights[j + 1])} * {_ident(c)}"
            for j, c in enumerate(feature_cols)
        ]
    )
    return f"ROUND({terms}, {Z_SCALE})"


def _sigmoid_sql(zsql: str) -> str:
    """Textual twin of hard_sigmoid()."""
    return f"LEAST(GREATEST(0.25D * {zsql} + 0.5D, 0.0D), 1.0D)"


class _adaptive_off:
    """Scope guard: disable AQE for the sequential model-fit barriers.

    Every GD/fit round is scan(cached) → partial agg → Exchange
    SinglePartition → final agg → tiny collect. That exchange carries
    O(d) scalars into one partition at ANY scale — AQE has nothing to
    coalesce, re-balance, or re-join, but it still charges a runtime
    re-optimization + extra sub-job per barrier (round-10 probe:
    8-round train 1.66 s → 1.42 s with AQE off, weights identical —
    BENCH_ISOLATIONS_r10/barrier_profile.json). Scoped so every other
    query keeps AQE; restore is exception-safe."""

    _KEY = "spark.sql.adaptive.enabled"

    def __init__(self, df: DataFrame):
        self._spark = df.sparkSession

    def __enter__(self):
        self._old = self._spark.conf.get(self._KEY, None)
        self._spark.conf.set(self._KEY, "false")
        return self

    def __exit__(self, *exc):
        # A key that was unset goes back to unset, so it keeps following
        # the session default rather than pinning today's value.
        if self._old is None:
            self._spark.conf.unset(self._KEY)
        else:
            self._spark.conf.set(self._KEY, self._old)
        return False


def _check_reserved(feature_cols: list[str], reserved: set[str]) -> None:
    """The GD round's staged projection holds the feature columns next
    to internal ones (the residuals, the fold id); a feature with one of
    those names is an ambiguous reference there. Fail loudly instead.
    No other input column reaches the projection."""
    hit = sorted(set(feature_cols) & reserved)
    if hit:
        raise ValueError(
            "feature columns collide with GD-internal staging names: "
            f"{hit} — rename them before training"
        )


def logreg_train(
    feats: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iterations: int = 8,
    lr: float = 4.0,
) -> list[float]:
    """Fit [bias, w1..wd] by `iterations` full-batch GD rounds from
    w = 0. Each round is one combinable aggregate and one collect of
    the O(d) weight row, which the next round re-embeds as exact
    double literals.

    The round's projection, aggregate and weight update are built as
    SQL strings and parsed JVM-side in two py4j round trips instead of
    ~90 Column calls: the round-10 barrier profile measured Python-side
    expression construction at ~45% of each barrier
    (BENCH_ISOLATIONS_r10/barrier_profile.json). The parsed trees are
    the exact twins of the Column forms (_margin, hard_sigmoid): same
    ops, same order, same literals, so the weights are bit-identical
    to a Column-built round (pinned by
    test_logreg_matches_column_built_reference). Every round stages the
    residual ONCE in a projection (round-7 measurement: embedding the
    sigmoid tree in each of the d+2 gradient sums multiplies the
    per-round Catalyst analysis cost; the staged column computes the
    identical IEEE ops).

    Caller should persist `feats` when the feature projection is
    expensive (each round re-scans it)."""
    d = len(feature_cols)
    _check_reserved(feature_cols, {"_r"})
    cols = [_ident(c) for c in feature_cols]
    w = [0.0] * (d + 1)
    with _adaptive_off(feats):
        for _ in range(iterations):
            resid = (
                f"({_sigmoid_sql(_margin_sql(feature_cols, w))}"
                f" - {_ident(label_col)}) AS _r"
            )
            proj = feats.selectExpr(*cols, resid)
            aggs = ["COUNT(1) AS n"]
            aggs.append(
                f"SUM(CAST(ROUND(_r, {GRAD_SCALE}) AS DECIMAL(38,12))) AS g0"
            )
            for j, c in enumerate(cols):
                aggs.append(
                    f"SUM(CAST(ROUND(_r * {c}, {GRAD_SCALE})"
                    f" AS DECIMAL(38,12))) AS g{j + 1}"
                )
            upd = [
                f"ROUND({_sql_double(w[j])} - {_sql_double(lr)}"
                f" * (CAST(g{j} AS DOUBLE) / CAST(n AS DOUBLE)),"
                f" {W_SCALE}) AS _w{j}"
                for j in range(d + 1)
            ]
            row = proj.selectExpr(*aggs).selectExpr(*upd).first()
            w = [float(row[f"_w{j}"]) for j in range(d + 1)]
    return w


def logreg_score(
    feature_cols: list[str], weights: list[float]
) -> Column:
    """p = hard_sigmoid(round(w·x, 9)) for the trained weights."""
    return hard_sigmoid(_margin(feature_cols, weights))


def logreg_train_folds(
    folds: DataFrame,
    feature_cols: list[str],
    label_col: str,
    fold_col: str,
    k: int,
    iterations: int = 8,
    lr: float = 4.0,
) -> tuple[list[list[float]], list[int]]:
    """All k leave-one-fold-out trainings in one fold-parallel chain:
    each GD round is ONE combinable aggregate whose expressions
    compute, for every held-out fold i, the gradient of model i over
    the rows with fold != i (a `CASE WHEN fold != i` guard inside each
    decimal SUM — nulls drop out of SUM, so each fold's decimal total
    adds exactly the same rounded terms as the per-fold loop, in any
    order). Each round is built as SQL strings and collected, like
    logreg_train's; every round stages each fold's residual once in a
    projection. The per-fold weight chains stay bit-identical to
    logreg_train on the corresponding subset, so the CV oracle's
    per-fold CTE unrolls keep matching unchanged (pinned by
    test_folds_match_per_subset_training).

    Returns (k weight vectors, k train-row counts).
    Caller should persist `folds`."""
    d = len(feature_cols)
    _check_reserved(feature_cols, {"_fold_g", *(f"_r{i}" for i in range(k))})
    cols = [_ident(c) for c in feature_cols]
    ws = [[0.0] * (d + 1) for _ in range(k)]
    ns = [0] * k
    with _adaptive_off(folds):
        for _ in range(iterations):
            resids = [
                f"({_sigmoid_sql(_margin_sql(feature_cols, ws[i]))}"
                f" - {_ident(label_col)}) AS _r{i}"
                for i in range(k)
            ]
            proj = folds.selectExpr(
                f"{_ident(fold_col)} AS _fold_g", *cols, *resids
            )
            aggs = []
            for i in range(k):
                guard = f"_fold_g != {i}"
                aggs.append(
                    f"SUM(CAST(CASE WHEN {guard} THEN 1 END AS BIGINT))"
                    f" AS n_{i}"
                )
                aggs.append(
                    f"SUM(CAST(CASE WHEN {guard} THEN"
                    f" ROUND(_r{i}, {GRAD_SCALE}) END"
                    f" AS DECIMAL(38,12))) AS g{i}_0"
                )
                for j, c in enumerate(cols):
                    aggs.append(
                        f"SUM(CAST(CASE WHEN {guard} THEN"
                        f" ROUND(_r{i} * {c}, {GRAD_SCALE}) END"
                        f" AS DECIMAL(38,12))) AS g{i}_{j + 1}"
                    )
            upd = [
                f"ROUND({_sql_double(ws[i][j])} - {_sql_double(lr)}"
                f" * (CAST(g{i}_{j} AS DOUBLE)"
                f" / CAST(n_{i} AS DOUBLE)), {W_SCALE}) AS _w{i}_{j}"
                for i in range(k)
                for j in range(d + 1)
            ] + [f"n_{i} AS _n_{i}" for i in range(k)]
            row = proj.selectExpr(*aggs).selectExpr(*upd).first()
            ws = [
                [float(row[f"_w{i}_{j}"]) for j in range(d + 1)]
                for i in range(k)
            ]
            ns = [int(row[f"_n_{i}"]) for i in range(k)]
    return ws, ns


def logreg_oracle_ctes(
    feature_names: list[str],
    label: str,
    iterations: int = 8,
    lr: float = 4.0,
    src: str = "f",
    prefix: str = "",
) -> tuple[str, str]:
    """DuckDB twin of logreg_train: the GD loop unrolled as CTEs over a
    prior CTE `src` exposing `feature_names` + `label`. Returns
    (cte_sql_fragment, final_weights_cte_name); the caller appends a
    scoring SELECT that cross-joins the final weights. `prefix`
    namespaces the generated CTEs so several chains (e.g. CV folds)
    coexist in one statement."""
    d = len(feature_names)

    def margin(w_alias: str) -> str:
        terms = " + ".join(
            f"{w_alias}.w{j + 1}*{src}.{c}"
            for j, c in enumerate(feature_names)
        )
        return f"ROUND({w_alias}.w0 + {terms}, {Z_SCALE})"

    def sigmoid(zsql: str) -> str:
        return f"LEAST(GREATEST(0.25*{zsql} + 0.5, 0.0), 1.0)"

    # MATERIALIZED on the iteration state: w{t} is referenced twice per
    # round (by g{t} and w{t+1}), so plain CTE inlining would expand the
    # chain 2^iterations times (the BPE-merge oracle's device).
    parts = [
        f"{prefix}nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM {src})",
        f"{prefix}w0 AS MATERIALIZED (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(d + 1))
        + ")",
    ]
    for t in range(iterations):
        p = sigmoid(margin("w"))
        gsums = [
            f"SUM(CAST(ROUND({p} - {src}.{label}, {GRAD_SCALE})"
            f" AS DECIMAL(38,12))) AS g0"
        ]
        for j, c in enumerate(feature_names):
            gsums.append(
                f"SUM(CAST(ROUND(({p} - {src}.{label})*{src}.{c},"
                f" {GRAD_SCALE}) AS DECIMAL(38,12))) AS g{j + 1}"
            )
        parts.append(
            f"{prefix}g{t} AS (SELECT "
            + ",\n  ".join(gsums)
            + f" FROM {src}, {prefix}w{t} w)"
        )
        wupd = [
            f"ROUND(w.w{j} - {lr!r}*(CAST(g.g{j} AS DOUBLE)"
            f"/CAST(nn.n AS DOUBLE)), {W_SCALE}) AS w{j}"
            for j in range(d + 1)
        ]
        parts.append(
            f"{prefix}w{t + 1} AS MATERIALIZED (SELECT "
            + ", ".join(wupd)
            + f" FROM {prefix}w{t} w, {prefix}g{t} g, {prefix}nn nn)"
        )
    return ",\n".join(parts), f"{prefix}w{iterations}"


def logreg_oracle_score_sql(
    feature_names: list[str], w_cte: str, src: str = "f"
) -> str:
    """Scoring expression over `src` cross-joined with the final-weights
    CTE aliased `w` — textually identical math to logreg_score."""
    terms = " + ".join(
        f"w.w{j + 1}*{src}.{c}" for j, c in enumerate(feature_names)
    )
    z = f"ROUND(w.w0 + {terms}, {Z_SCALE})"
    return f"LEAST(GREATEST(0.25*{z} + 0.5, 0.0), 1.0)"


def classifier_eval(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    pred_col: str = "pred",
) -> DataFrame:
    """One-row classifier metrics: n_pos, n_neg, accuracy, ROC-AUC,
    Brier score — computed WITHOUT a global per-row sort.

    AUC is the Mann–Whitney pair statistic evaluated over the SCORE
    HISTOGRAM (the big-data formulation): group rows by distinct score
    (one combinable shuffle), cumulative negative mass over the
    score-ordered group frame (a window over the already-aggregated
    distinct-score rows — thousands, not billions), then
    pairs_won×2 = Σ_g (2·pos_g·cumneg_<g + pos_g·neg_g), an exact
    integer, and AUC = that / (2·n_pos·n_neg). Ties get the standard
    half credit. Accuracy and Brier ride one aggregate with exact
    integer / decimal sums, so every metric is bit-identical across
    engines and partitionings."""
    from pyspark.sql.window import Window

    s, y = F.col(score_col), F.col(label_col)
    dist = scored.groupBy(score_col).agg(
        F.sum(y.cast("long")).alias("pos_g"),
        (F.count(F.lit(1)) - F.sum(y.cast("long"))).alias("neg_g"),
    )
    w = (
        Window.orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = dist.withColumn(
        "cb", F.coalesce(F.sum("neg_g").over(w), F.lit(0))
    )
    tot = cum.agg(
        F.sum("pos_g").alias("np"),
        F.sum("neg_g").alias("nn"),
        F.sum(
            (
                F.lit(2) * F.col("pos_g") * F.col("cb")
                + F.col("pos_g") * F.col("neg_g")
            ).cast("decimal(38,0)")
        ).alias("s2"),
    )
    met = scored.agg(
        F.round(
            F.sum(
                F.when(F.col(pred_col) == y, 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("acc"),
        F.round(
            F.sum(
                F.round((s - y) * (s - y), 12).cast("decimal(38,12)")
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("brier"),
    )
    return tot.crossJoin(met).select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        "acc",
        F.round(
            F.col("s2").cast("double")
            / (F.lit(2.0) * F.col("np") * F.col("nn")),
            6,
        ).alias("auc"),
        "brier",
    )


def classifier_eval_oracle_sql(
    scored_cte: str = "scored", prefix: str = "", as_cte: bool = False
) -> str:
    """DuckDB twin of classifier_eval over a prior CTE with columns
    (label, score, pred). With as_cte=True the metrics row is emitted
    as the CTE `{prefix}metrics` (composition, e.g. per CV fold)
    instead of a terminal SELECT; `prefix` namespaces the CTEs."""
    body = f"""
{prefix}dist AS (SELECT score, SUM(label) AS pos_g,
  COUNT(*) - SUM(label) AS neg_g FROM {scored_cte} GROUP BY score),
{prefix}cum AS (SELECT score, pos_g, neg_g,
  COALESCE(SUM(neg_g) OVER (ORDER BY score
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM {prefix}dist),
{prefix}tot AS (SELECT SUM(pos_g) AS np, SUM(neg_g) AS nn,
  SUM(CAST(2*pos_g*cb + pos_g*neg_g AS DECIMAL(38,0))) AS s2
  FROM {prefix}cum),
{prefix}met AS (SELECT
  ROUND(CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
        /CAST(COUNT(*) AS DOUBLE), 6) AS acc,
  ROUND(CAST(SUM(CAST(ROUND((score - label)*(score - label), 12)
                      AS DECIMAL(38,12))) AS DOUBLE)
        /CAST(COUNT(*) AS DOUBLE), 6) AS brier
  FROM {scored_cte})"""
    final = f"""SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg, acc,
  ROUND(CAST(s2 AS DOUBLE)/(2.0*np*nn), 6) AS auc, brier
FROM {prefix}tot, {prefix}met"""
    if as_cte:
        return f"{body},\n{prefix}metrics AS ({final})"
    return f"{body}\n{final}"


# ---------------------------------------------------------------------------
# Decision-tree induction (histogram splits), the second trainer family:
# distributed split search the way histogram-based GBMs do it (LightGBM,
# Ke et al. 2017) — candidate thresholds are the round-2 feature bins, so
# the per-node search is ONE combinable (feature, bin) count aggregate +
# a cumulative window over the tiny aggregated histogram, never a
# per-row sort. Node choice is deterministic: weighted-Gini score
# rounded to 12, ties broken by (feature, threshold); the SQL oracle
# replays the identical search per node (depth fixed, so the recursion
# unrolls into CTEs like the GD rounds).
# ---------------------------------------------------------------------------

GINI_SCALE = 12
TREE_FALLBACK_THR = 1e9  # pure/degenerate node: everything goes left
TREE_FALLBACK_SCORE = 2.0  # > max weighted Gini (0.5): never beats a real split


def _split_candidates(
    feats: DataFrame, feature_cols: list[str], label_col: str
) -> DataFrame:
    """(f, v, score) for every non-degenerate binned split of this
    node's rows: one shuffle to the (feature, bin) histogram, then
    cumulative/total windows over the histogram frame."""
    from pyspark.sql.window import Window

    melt = feats.select(
        F.col(label_col).cast("long").alias("y"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("f"), F.col(c).alias("v")
                    )
                    for c in feature_cols
                ]
            )
        ).alias("e"),
    ).select("y", "e.f", "e.v")
    hist = melt.groupBy("f", "v").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("p")
    )
    wc = (
        Window.partitionBy("f")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("f")
    cum = hist.select(
        "f",
        "v",
        F.sum("n").over(wc).alias("nle"),
        F.sum("p").over(wc).alias("ple"),
        F.sum("n").over(wt).alias("nt"),
        F.sum("p").over(wt).alias("pt"),
    )
    nle, ple = F.col("nle"), F.col("ple")
    nt, pt = F.col("nt"), F.col("pt")
    ple_d = ple.cast("double")
    nl_m_pl = (nle - ple).cast("double")
    gle = (
        F.lit(1.0)
        - (ple_d / nle) * (ple_d / nle)
        - (nl_m_pl / nle) * (nl_m_pl / nle)
    )
    pgt_d = (pt - ple).cast("double")
    ngt = nt - nle
    ng_m_pg = ((nt - nle) - (pt - ple)).cast("double")
    ggt = (
        F.lit(1.0)
        - (pgt_d / ngt) * (pgt_d / ngt)
        - (ng_m_pg / ngt) * (ng_m_pg / ngt)
    )
    score = F.round((nle * gle + (nt - nle) * ggt) / nt, GINI_SCALE)
    return cum.filter((nle > 0) & (nle < nt)).select(
        "f", "v", score.alias("score")
    )


def _best_split(
    feats: DataFrame, feature_cols: list[str], label_col: str
) -> tuple[str, float]:
    rows = (
        _split_candidates(feats, feature_cols, label_col)
        .orderBy("score", "f", "v")
        .limit(1)
        .collect()
    )
    if not rows:
        return feature_cols[0], TREE_FALLBACK_THR
    return rows[0]["f"], float(rows[0]["v"])


def tree_train(
    feats: DataFrame,
    feature_cols: list[str],
    label_col: str,
    depth: int = 2,
) -> dict:
    """Recursive histogram-split search to fixed `depth`; returns the
    split structure {feature, thr, left?, right?}. Only (feature,
    threshold) scalars visit the driver — the model artifact. Caller
    should persist `feats` (each node filters it again)."""
    f, v = _best_split(feats, feature_cols, label_col)
    node: dict = {"feature": f, "thr": v}
    if depth > 1:
        cond = F.col(f) <= F.lit(v)
        node["left"] = tree_train(
            feats.filter(cond), feature_cols, label_col, depth - 1
        )
        node["right"] = tree_train(
            feats.filter(~cond), feature_cols, label_col, depth - 1
        )
    return node


def tree_path(node: dict) -> Column:
    """'L'/'R'-string path column for each row under the trained tree."""
    here = F.when(
        F.col(node["feature"]) <= F.lit(node["thr"]), F.lit("L")
    ).otherwise(F.lit("R"))
    if "left" not in node:
        return here
    return F.concat(
        here,
        F.when(
            F.col(node["feature"]) <= F.lit(node["thr"]),
            tree_path(node["left"]),
        ).otherwise(tree_path(node["right"])),
    )


def tree_leaf_predictions(
    pathed: DataFrame, label_col: str = "y", path_col: str = "path"
) -> DataFrame:
    """(path, leaf_n, leaf_p, pred): per-leaf majority vote with exact
    integer counts (pred = 1 iff 2·pos > n; leaf_p = round(pos/n, 6))."""
    y = F.col(label_col).cast("long")
    return pathed.groupBy(path_col).agg(
        F.count(F.lit(1)).alias("leaf_n"), F.sum(y).alias("_pos")
    ).select(
        path_col,
        "leaf_n",
        F.round(
            F.col("_pos").cast("double") / F.col("leaf_n"), 6
        ).alias("leaf_p"),
        F.when(
            F.lit(2) * F.col("_pos") > F.col("leaf_n"), 1
        ).otherwise(0).alias("pred"),
    )


def _node_sql(
    prefix: str, source: str, fcols: list[str], label: str
) -> str:
    """CTEs computing {prefix}best (f, v) for one node's rows."""
    melts = " UNION ALL ".join(
        f"SELECT {label} AS y, '{c}' AS f, {c} AS v FROM {source}"
        for c in fcols
    )
    gle = (
        "1.0 - (CAST(ple AS DOUBLE)/nle)*(CAST(ple AS DOUBLE)/nle)"
        " - (CAST(nle - ple AS DOUBLE)/nle)*(CAST(nle - ple AS DOUBLE)/nle)"
    )
    ggt = (
        "1.0 - (CAST(pt - ple AS DOUBLE)/(nt - nle))"
        "*(CAST(pt - ple AS DOUBLE)/(nt - nle))"
        " - (CAST((nt - nle) - (pt - ple) AS DOUBLE)/(nt - nle))"
        "*(CAST((nt - nle) - (pt - ple) AS DOUBLE)/(nt - nle))"
    )
    return f"""{prefix}m AS ({melts}),
{prefix}h AS (SELECT f, v, COUNT(*) AS n, SUM(y) AS p FROM {prefix}m
  GROUP BY f, v),
{prefix}c AS (SELECT f, v,
  SUM(n) OVER (PARTITION BY f ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nle,
  SUM(p) OVER (PARTITION BY f ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ple,
  SUM(n) OVER (PARTITION BY f) AS nt,
  SUM(p) OVER (PARTITION BY f) AS pt
  FROM {prefix}h),
{prefix}cand AS (SELECT f, v,
  ROUND((nle*({gle}) + (nt - nle)*({ggt}))/nt, {GINI_SCALE}) AS score
  FROM {prefix}c WHERE nle > 0 AND nle < nt),
{prefix}best AS (SELECT f, v FROM (
    SELECT f, v, score FROM {prefix}cand
    UNION ALL SELECT '{fcols[0]}', {TREE_FALLBACK_THR!r},
      {TREE_FALLBACK_SCORE!r}
  ) ORDER BY score, f, v LIMIT 1)"""


def _pick_sql(alias: str, fcols: list[str]) -> str:
    """Value of `alias`'s chosen feature for the current row."""
    arms = " ".join(f"WHEN '{c}' THEN {c}" for c in fcols)
    return f"CASE {alias}.f {arms} END"


def tree_oracle_sql(
    fcols: list[str], label: str = "y", raw_cte: str = "raw"
) -> str:
    """DuckDB twin of tree_train(depth=2) + tree_path + leaf vote over a
    prior CTE `raw_cte` exposing doc_id, `label`, and `fcols` (round-2
    bins). Appended after a WITH chain; starts with CTE definitions and
    ends with the per-doc SELECT."""
    root = _node_sql("r0", raw_cte, fcols, label)
    side = (
        f"side1 AS (SELECT {raw_cte}.*, CASE WHEN"
        f" ({_pick_sql('b', fcols)}) <= b.v THEN 'L' ELSE 'R' END AS s1"
        f" FROM {raw_cte}, r0best b)"
    )
    lsrc = "(SELECT * FROM side1 WHERE s1 = 'L')"
    rsrc = "(SELECT * FROM side1 WHERE s1 = 'R')"
    left = _node_sql("l1", lsrc, fcols, label)
    right = _node_sql("r1", rsrc, fcols, label)
    paths = f"""paths AS (SELECT side1.doc_id, side1.{label} AS y_, s1 ||
  CASE WHEN s1 = 'L'
    THEN CASE WHEN ({_pick_sql('lb', fcols)}) <= lb.v THEN 'L' ELSE 'R' END
    ELSE CASE WHEN ({_pick_sql('rb', fcols)}) <= rb.v THEN 'L' ELSE 'R' END
  END AS path
  FROM side1, l1best lb, r1best rb),
leaves AS (SELECT path, COUNT(*) AS leaf_n, SUM(y_) AS pos FROM paths
  GROUP BY path)"""
    final = """SELECT paths.doc_id, CAST(paths.y_ AS INT) AS label,
  paths.path, leaves.leaf_n,
  ROUND(CAST(leaves.pos AS DOUBLE)/leaves.leaf_n, 6) AS leaf_p,
  CASE WHEN 2*leaves.pos > leaves.leaf_n THEN 1 ELSE 0 END AS pred
FROM paths JOIN leaves ON paths.path = leaves.path"""
    return f"{root},\n{side},\n{left},\n{right},\n{paths}\n{final}"


def logreg_cv(
    feats: DataFrame,
    feature_cols: list[str],
    label_col: str,
    id_col: str,
    k: int = 3,
    iterations: int = 8,
    lr: float = 4.0,
) -> DataFrame:
    """K-fold cross-validation of the GD classifier: md5 hash-bucket
    folds (engine-portable, partition-invariant — the split_assign
    device), per-fold training on the other folds, metrics on the HELD-
    OUT fold only. Returns one row per fold: (fold, n_train, n_pos,
    n_neg, acc, auc, brier) — the out-of-sample evidence a pipeline
    needs before trusting a filter model at 100 TB. Features are
    standardized by the caller over the full frame (fit-time
    convention pinned in the oracle). All k trainings share ONE
    scalar-output aggregate per GD round (logreg_train_folds), so the
    whole CV costs `iterations` rounds, not k·`iterations`."""
    from functools import reduce

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        hash_bucket,
    )

    folds = feats.withColumn("_fold", hash_bucket(F.col(id_col), k))
    ws, ns = logreg_train_folds(
        folds, feature_cols, label_col, "_fold", k, iterations, lr
    )
    outs = []
    for i in range(k):
        test = folds.filter(F.col("_fold") == i)
        p = logreg_score(feature_cols, ws[i])
        scored = test.select(
            F.col(label_col).cast("int").alias("label"),
            F.round(p, 6).alias("score"),
            (p >= 0.5).cast("int").alias("pred"),
        )
        m = classifier_eval(scored)
        # n_train rode along with every GD round's aggregate (the n_i
        # guard counts), so no extra per-fold count job / broadcast
        # subquery is needed here.
        outs.append(
            m.select(
                F.lit(i).alias("fold"),
                F.lit(ns[i]).cast("long").alias("n_train"),
                "n_pos",
                "n_neg",
                "acc",
                "auc",
                "brier",
            )
        )
    return reduce(lambda a, b: a.unionAll(b), outs)


# ---------------------------------------------------------------------------
# Gradient-boosted stumps (Friedman 2001), the third trainer family:
# squared-loss boosting where each round fits a depth-1 tree to the
# current residuals via the same histogram split search as tree_train —
# impurity is variance reduction (SSE from decimal-exact per-bin
# residual moments n/Σr/Σr², so the split choice is partition- and
# engine-invariant), and the leaf deltas are shrunken mean residuals
# read off the winning candidate row itself (no extra aggregate).
# Fixed round count ⇒ the whole ensemble unrolls into SQL CTEs.
# ---------------------------------------------------------------------------

GBM_SHRINKAGE = 0.5
GBM_FALLBACK_SCORE = 1e300


def _best_stump_reg(
    feats: DataFrame, feature_cols: list[str], resid_col: str
) -> tuple[str, float, float, float]:
    """(feature, threshold, delta_left, delta_right) minimizing total
    SSE over the binned splits; fallback no-op stump when degenerate."""
    from pyspark.sql.window import Window

    rd = F.col("r").cast("decimal(18,6)")
    melt = feats.select(
        F.col(resid_col).alias("r"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("f"), F.col(c).alias("v"))
                    for c in feature_cols
                ]
            )
        ).alias("e"),
    ).select("r", "e.f", "e.v")
    hist = melt.groupBy("f", "v").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rd).alias("s"),
        F.sum(rd * rd).alias("ss"),
    )
    wc = (
        Window.partitionBy("f")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("f")
    cum = hist.select(
        "f",
        "v",
        F.sum("n").over(wc).alias("nle"),
        F.sum("s").over(wc).alias("sle"),
        F.sum("ss").over(wc).alias("ssle"),
        F.sum("n").over(wt).alias("nt"),
        F.sum("s").over(wt).alias("st"),
        F.sum("ss").over(wt).alias("sst"),
    )
    nle, nt = F.col("nle"), F.col("nt")
    sle_d = F.col("sle").cast("double")
    sgt_d = (F.col("st") - F.col("sle")).cast("double")
    score = F.round(
        (F.col("ssle").cast("double") - sle_d * sle_d / nle)
        + (
            (F.col("sst") - F.col("ssle")).cast("double")
            - sgt_d * sgt_d / (nt - nle)
        ),
        GINI_SCALE,
    )
    dl = F.round(F.lit(GBM_SHRINKAGE) * (sle_d / nle), 6)
    dr = F.round(F.lit(GBM_SHRINKAGE) * (sgt_d / (nt - nle)), 6)
    rows = (
        cum.filter((nle > 0) & (nle < nt))
        .select("f", "v", score.alias("score"), dl.alias("dl"), dr.alias("dr"))
        .orderBy("score", "f", "v")
        .limit(1)
        .collect()
    )
    if not rows:
        return feature_cols[0], TREE_FALLBACK_THR, 0.0, 0.0
    r = rows[0]
    return r["f"], float(r["v"]), float(r["dl"]), float(r["dr"])


def gbm_train(
    feats: DataFrame,
    feature_cols: list[str],
    target_col: str,
    rounds: int = 3,
) -> tuple[DataFrame, dict]:
    """Boosted-stump fit: returns (frame with `pred` column, model).
    Base prediction is the decimal-exact target mean; each round adds a
    shrunken stump on the round-6 residuals. Per round: one (feature,
    bin) moment shuffle + windows over the tiny histogram; only the
    4-scalar stump visits the driver. Caller persists `feats`."""
    q = F.col(target_col)
    base = feats.agg(
        F.round(
            F.sum(q.cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("f0")
    ).first()["f0"]
    model: dict = {"base": float(base), "stumps": []}
    cur = feats.withColumn("pred", F.lit(float(base)))
    for _ in range(rounds):
        cur = cur.withColumn("_r", F.round(q - F.col("pred"), 6))
        f, v, dl, dr = _best_stump_reg(cur, feature_cols, "_r")
        model["stumps"].append({"feature": f, "thr": v, "dl": dl, "dr": dr})
        cur = cur.withColumn(
            "pred",
            F.round(
                F.col("pred")
                + F.when(
                    F.col(f) <= F.lit(v), F.lit(dl)
                ).otherwise(F.lit(dr)),
                6,
            ),
        )
    return cur.drop("_r"), model


def gbm_oracle_sql(
    fcols: list[str],
    target: str = "q",
    raw_cte: str = "raw",
    rounds: int = 3,
) -> str:
    """DuckDB twin of gbm_train + per-doc output over a prior CTE
    exposing doc_id, `target`, and `fcols`. Ends with the per-doc
    SELECT (doc_id, q, pred, abs_err)."""
    parts = [
        f"b AS MATERIALIZED (SELECT"
        f" ROUND(CAST(SUM(CAST({target} AS DECIMAL(18,6))) AS DOUBLE)"
        f"/CAST(COUNT(*) AS DOUBLE), 6) AS f0 FROM {raw_cte})",
        f"p0 AS MATERIALIZED (SELECT {raw_cte}.*, b.f0 AS pred"
        f" FROM {raw_cte}, b)",
    ]
    for t in range(rounds):
        melts = " UNION ALL ".join(
            f"SELECT ROUND({target} - pred, 6) AS r, '{c}' AS f,"
            f" {c} AS v FROM p{t}"
            for c in fcols
        )
        score = (
            "(CAST(ssle AS DOUBLE) - CAST(sle AS DOUBLE)"
            "*CAST(sle AS DOUBLE)/nle)"
            " + (CAST(sst - ssle AS DOUBLE) - CAST(st - sle AS DOUBLE)"
            "*CAST(st - sle AS DOUBLE)/(nt - nle))"
        )
        arms = " ".join(f"WHEN '{c}' THEN {c}" for c in fcols)
        parts.append(f"t{t}m AS ({melts})")
        parts.append(
            f"t{t}h AS (SELECT f, v, COUNT(*) AS n,"
            f" SUM(CAST(r AS DECIMAL(18,6))) AS s,"
            f" SUM(CAST(r AS DECIMAL(18,6))*CAST(r AS DECIMAL(18,6))) AS ss"
            f" FROM t{t}m GROUP BY f, v)"
        )
        parts.append(
            f"""t{t}c AS (SELECT f, v,
  SUM(n) OVER (PARTITION BY f ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nle,
  SUM(s) OVER (PARTITION BY f ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sle,
  SUM(ss) OVER (PARTITION BY f ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ssle,
  SUM(n) OVER (PARTITION BY f) AS nt,
  SUM(s) OVER (PARTITION BY f) AS st,
  SUM(ss) OVER (PARTITION BY f) AS sst
  FROM t{t}h)"""
        )
        parts.append(
            f"t{t}cand AS (SELECT f, v,"
            f" ROUND({score}, {GINI_SCALE}) AS score,"
            f" ROUND({GBM_SHRINKAGE!r}*(CAST(sle AS DOUBLE)/nle), 6) AS dl,"
            f" ROUND({GBM_SHRINKAGE!r}*(CAST(st - sle AS DOUBLE)"
            f"/(nt - nle)), 6) AS dr"
            f" FROM t{t}c WHERE nle > 0 AND nle < nt)"
        )
        parts.append(
            f"t{t}best AS MATERIALIZED (SELECT f, v, dl, dr FROM ("
            f"SELECT f, v, score, dl, dr FROM t{t}cand"
            f" UNION ALL SELECT '{fcols[0]}', {TREE_FALLBACK_THR!r},"
            f" {GBM_FALLBACK_SCORE!r}, 0.0, 0.0"
            f") ORDER BY score, f, v LIMIT 1)"
        )
        cols = ", ".join(["doc_id", target] + fcols)
        parts.append(
            f"p{t + 1} AS MATERIALIZED (SELECT {cols},"
            f" ROUND(pred + CASE WHEN (CASE bb.f {arms} END) <= bb.v"
            f" THEN bb.dl ELSE bb.dr END, 6) AS pred"
            f" FROM p{t}, t{t}best bb)"
        )
    final = (
        f"SELECT doc_id, {target}, pred,"
        f" ROUND(ABS({target} - pred), 6) AS abs_err FROM p{rounds}"
    )
    return ",\n".join(parts) + "\n" + final


# ---------------------------------------------------------------------------
# Closed-form least squares (the regression rung of the trainer family):
# for a SMALL, fixed regressor count the normal equations solve in one
# combinable aggregate — no iterations, no shuffle of the observations.
# The exact-moment device is q_correlation_matrix's: every Σx, Σxy, Σx²
# is a DECIMAL sum of (products of) round-6 doubles, so the moments are
# partition- and engine-invariant, and the Cramer solve plus R²/RMSE are
# one correctly-rounded double expression over those exact sums.
# ---------------------------------------------------------------------------


def ols2_by_group(
    df: DataFrame,
    group_col: str,
    y_col: str,
    x1_col: str,
    x2_col: str,
) -> DataFrame:
    """Per-group OLS fit of y ~ b0 + b1·x1 + b2·x2 by the normal
    equations in centered-moment (Cramer) form. Input columns must
    already be round-6 doubles (the caller's projection — mirrored by
    the oracle). Returns one row per group:
    (group, n, b0, b1, b2, r2, rmse), every stat round-6.

    100 TB shape: ONE map-side-combinable aggregate over the scan — 9
    exact moments per group — then the solve is arithmetic on the
    |groups|-row frame. The degenerate-design guard (determinant or
    SST zero → null fit) is explicit CASE logic, mirrored by the SQL
    twin.

    Moment sums use the SPLIT-ACCUMULATOR device instead of wide
    decimals: each per-row product is quantized to an exact integer
    S = floor(p·10⁶) (FLOOR on the IEEE double — bit-identical across
    engines, unlike ROUND at a decimal tie) and split into
    lo = S mod 10⁹ and hi = (S − lo)/10⁹, so the aggregate is plain
    BIGINT sums — order-independent AND on Spark's long-backed fast
    path. sum(decimal(38,12)) allocates a Decimal128 per row (measured
    6× slower than long sums on the lineitem scan: 3.35 s vs 0.59 s at
    sf0.1); the reconstruction (Σhi·10⁹ + Σlo)/10⁶ is one deterministic
    double expression per group. Headroom: |Σlo| < rows·10⁹ and
    |Σhi| < rows·|p|max·10⁻³ must stay under 2⁶³ — good to ~10⁹ rows
    of 10¹⁰-magnitude products per group; shard or add a third level
    beyond that."""
    x1, x2, y = F.col(x1_col), F.col(x2_col), F.col(y_col)

    def dsplit(e: Column, name: str) -> list[Column]:
        s = F.floor(e * F.lit(1000000.0))
        lo = s % F.lit(1000000000)
        hi = ((s - lo) / F.lit(1000000000.0)).cast("bigint")
        return [
            F.sum(hi).alias(f"{name}_hi"),
            F.sum(lo).alias(f"{name}_lo"),
        ]

    moments = {
        "s1": x1,
        "s2": x2,
        "sy": y,
        "s11": x1 * x1,
        "s22": x2 * x2,
        "syy": y * y,
        "s12": x1 * x2,
        "s1y": x1 * y,
        "s2y": x2 * y,
    }
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        *[c for nm, e in moments.items() for c in dsplit(e, nm)],
    )
    g = g.select(
        "grp",
        "n",
        *[
            (
                (
                    F.col(f"{nm}_hi").cast("double") * F.lit(1000000000.0)
                    + F.col(f"{nm}_lo").cast("double")
                )
                / F.lit(1000000.0)
            ).alias(nm)
            for nm in moments
        ],
    )
    n = F.col("n").cast("double")
    d = {
        c: F.col(c).cast("double")
        for c in ("s1", "s2", "sy", "s11", "s22", "syy", "s12", "s1y", "s2y")
    }
    cent = g.select(
        "grp",
        "n",
        n.alias("nd"),
        (d["s1"] / n).alias("m1"),
        (d["s2"] / n).alias("m2"),
        (d["sy"] / n).alias("my"),
        (d["s11"] - d["s1"] * d["s1"] / n).alias("c11"),
        (d["s22"] - d["s2"] * d["s2"] / n).alias("c22"),
        (d["syy"] - d["sy"] * d["sy"] / n).alias("cyy"),
        (d["s12"] - d["s1"] * d["s2"] / n).alias("c12"),
        (d["s1y"] - d["s1"] * d["sy"] / n).alias("c1y"),
        (d["s2y"] - d["s2"] * d["sy"] / n).alias("c2y"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    solved = cent.select(
        "grp",
        "n",
        "nd",
        "m1",
        "m2",
        "my",
        "cyy",
        "c1y",
        "c2y",
        det.alias("det"),
        F.when(
            det != 0.0,
            (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y"))
            / det,
        ).alias("b1"),
        F.when(
            det != 0.0,
            (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y"))
            / det,
        ).alias("b2"),
    )
    ssr = F.col("b1") * F.col("c1y") + F.col("b2") * F.col("c2y")
    return solved.select(
        F.col("grp").alias(group_col),
        "n",
        F.round(
            F.col("my") - F.col("b1") * F.col("m1") - F.col("b2") * F.col("m2"),
            6,
        ).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.when(F.col("cyy") > 0.0, F.round(ssr / F.col("cyy"), 6)).alias(
            "r2"
        ),
        F.round(
            F.sqrt(F.greatest((F.col("cyy") - ssr) / F.col("nd"), F.lit(0.0))),
            6,
        ).alias("rmse"),
    ).orderBy(group_col)


def ols2_oracle_sql(
    src: str,
    group: str,
    y: str,
    x1: str,
    x2: str,
) -> str:
    """DuckDB twin of ols2_by_group over a prior CTE `src` exposing
    round-6 double columns `group`, `y`, `x1`, `x2` — the identical
    split-accumulator moment sums (floor-scaled BIGINT hi/lo pairs)
    and solve arithmetic."""

    def dsplit(e: str, name: str) -> str:
        s = f"CAST(FLOOR(({e})*1000000.0) AS BIGINT)"
        lo = f"({s} % 1000000000)"
        return (
            f"SUM(CAST(({s} - {lo}) / 1000000000.0 AS BIGINT))"
            f" AS {name}_hi,\n  SUM({lo}) AS {name}_lo"
        )

    moments = {
        "s1": x1,
        "s2": x2,
        "sy": y,
        "s11": f"{x1}*{x1}",
        "s22": f"{x2}*{x2}",
        "syy": f"{y}*{y}",
        "s12": f"{x1}*{x2}",
        "s1y": f"{x1}*{y}",
        "s2y": f"{x2}*{y}",
    }
    msums = ",\n  ".join(dsplit(e, nm) for nm, e in moments.items())
    mrec = ",\n  ".join(
        f"(CAST({nm}_hi AS DOUBLE)*1000000000.0 + CAST({nm}_lo AS DOUBLE))"
        f"/1000000.0 AS {nm}"
        for nm in moments
    )
    return f"""
_ols_m0 AS (SELECT {group} AS grp, COUNT(*) AS n,
  {msums}
 FROM {src} GROUP BY 1),
_ols_m AS (SELECT grp, n,
  {mrec}
 FROM _ols_m0),
_ols_c AS (SELECT grp, n, CAST(n AS DOUBLE) AS nd,
  CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS m1,
  CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE) AS m2,
  CAST(sy AS DOUBLE)/CAST(n AS DOUBLE) AS my,
  CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS c11,
  CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE) AS c22,
  CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/CAST(n AS DOUBLE) AS cyy,
  CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE) AS c12,
  CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(sy AS DOUBLE)/CAST(n AS DOUBLE) AS c1y,
  CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(sy AS DOUBLE)/CAST(n AS DOUBLE) AS c2y
 FROM _ols_m),
_ols_s AS (SELECT grp, n, nd, m1, m2, my, cyy, c1y, c2y,
  c11*c22 - c12*c12 AS det,
  CASE WHEN c11*c22 - c12*c12 <> 0.0
    THEN (c22*c1y - c12*c2y)/(c11*c22 - c12*c12) END AS b1,
  CASE WHEN c11*c22 - c12*c12 <> 0.0
    THEN (c11*c2y - c12*c1y)/(c11*c22 - c12*c12) END AS b2
 FROM _ols_c),
_ols_out AS (SELECT grp AS {group}, n,
  ROUND(my - b1*m1 - b2*m2, 6) AS b0,
  ROUND(b1, 6) AS b1,
  ROUND(b2, 6) AS b2,
  CASE WHEN cyy > 0.0
    THEN ROUND((b1*c1y + b2*c2y)/cyy, 6) END AS r2,
  ROUND(SQRT(GREATEST((cyy - (b1*c1y + b2*c2y))/nd, 0.0)), 6) AS rmse
 FROM _ols_s)"""


# ---------------------------------------------------------------------------
# Multinomial naive Bayes (the counting-based trainer family member):
# the model IS two aggregates — per-class token totals and per-(term,
# class) counts — so training is embarrassingly map-side-combinable and
# there is no iteration at all. Laplace add-one smoothing; every log
# likelihood is ROUND(LN(·), 6) (the BM25-proven cross-engine ln
# device) and per-document scores are exact decimal sums of those
# round-6 terms, so class posteriors and the argmax are bit-identical
# across engines and partitionings.
# ---------------------------------------------------------------------------


def nb_train(
    train_docs: DataFrame,
    class_col: str,
    tokens_col: str = "tk",
) -> tuple[DataFrame, DataFrame]:
    """Fit multinomial NB from (class, token-array) rows. Returns
    (cls, loglik):

      cls    : (class, prior, dflt, denom) — log prior, the unseen-term
               log likelihood ln(1/(n_tokens_c + V)), and the smoothing
               denominator (|classes| rows);
      loglik : (term, class, ll) — ln((count+1)/(n_tokens_c + V)) per
               observed (term, class) (≤ V·|classes| rows).

    100 TB shape: two combinable shuffles (class stats; (term, class)
    counts) over the exploded tokens — the model is the only output,
    documents never move. The two scalars the smoothing needs are
    MARGINALS of those same model aggregates (round 9, the bigram
    head-count device): the train doc count is Σ ndc over the class
    rows and the vocab size is the distinct term count of the (term,
    class) model — so neither costs another pass over the corpus (the
    old formulation paid a separate scan for the doc count and a full
    second distinct-aggregate shuffle of the exploded token stream for
    the vocab)."""
    from pyspark.sql.window import Window

    from nashville_etl_service_backup_spark.operators import track_persist

    c = F.col(class_col)
    cs = train_docs.groupBy(class_col).agg(
        F.count(F.lit(1)).alias("ndc"),
        F.sum(F.size(tokens_col).cast("long")).alias("ntc"),
    )
    # Σ ndc over classes ≡ count(*) over train docs (classes partition
    # the rows) — identical long, read off the |classes|-row aggregate
    # itself with a global window (a single-partition pass over ≤
    # |classes| rows) instead of a separate corpus-count branch
    cs = cs.withColumn("nd", F.sum("ndc").over(Window.partitionBy()))
    trt = train_docs.select(c, F.explode(tokens_col).alias("term"))
    # the (term, class) model is a bounded artifact (≤ V·|classes|
    # rows) consumed twice — the vocab marginal and the loglik build —
    # so it persists like the tf-idf postings index; without it each
    # consumer re-explodes and re-shuffles the token stream
    tc = track_persist(
        trt.groupBy("term", class_col).agg(F.count(F.lit(1)).alias("cnt"))
    )
    # distinct terms of the (term, class) model ≡ distinct terms of the
    # token stream (grouping preserves the key set) — identical long,
    # over the cached model rows instead of every token occurrence
    vocab = tc.agg(F.countDistinct("term").alias("v"))
    cls = (
        cs.crossJoin(F.broadcast(vocab))
        .select(
            class_col,
            F.round(
                F.log(
                    F.col("ndc").cast("double") / F.col("nd").cast("double")
                ),
                6,
            ).alias("prior"),
            F.round(
                F.log(
                    F.lit(1.0)
                    / (F.col("ntc") + F.col("v")).cast("double")
                ),
                6,
            ).alias("dflt"),
            (F.col("ntc") + F.col("v")).alias("denom"),
        )
    )
    loglik = tc.join(
        F.broadcast(cls.select(class_col, "denom")), class_col
    ).select(
        "term",
        class_col,
        F.round(
            F.log(
                (F.col("cnt") + F.lit(1)).cast("double")
                / F.col("denom").cast("double")
            ),
            6,
        ).alias("ll"),
    )
    return cls, loglik


def nb_predict(
    test_docs: DataFrame,
    cls: DataFrame,
    loglik: DataFrame,
    doc_col: str,
    class_col: str,
    tokens_col: str = "tk",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score every test document against every class and pick the
    posterior argmax (ties → lexicographically smaller class, via a
    row_number over the |classes|-per-doc grid — deterministic and
    identically ordered in both engines because the scores are exact
    decimals). Empty-token documents score prior-only (the exploded
    contribution join is LEFT from the doc×class grid).

    Returns (doc_col, *keep_cols, pred). 100 TB shape: the model
    broadcasts (it is V·|classes| small rows — for an enormous vocab
    swap the broadcast hint for a plain equi-join on term); the only
    shuffles are the (doc, class) contribution aggregate and the
    per-doc 5-row window."""
    from pyspark.sql.window import Window

    tet = test_docs.select(doc_col, F.explode(tokens_col).alias("term"))
    clsb = cls.select(
        F.col(class_col).alias("_c"), "prior", "dflt"
    )
    llr = loglik.select(
        F.col("term").alias("_t"), F.col(class_col).alias("_lc"), "ll"
    )
    contrib = (
        tet.crossJoin(F.broadcast(clsb.select("_c", "dflt")))
        .join(
            F.broadcast(llr),
            (F.col("term") == F.col("_t")) & (F.col("_c") == F.col("_lc")),
            "left",
        )
        .groupBy(doc_col, "_c")
        .agg(
            F.sum(
                F.coalesce(F.col("ll"), F.col("dflt")).cast(
                    "decimal(28,6)"
                )
            ).alias("s")
        )
    )
    grid = test_docs.select(doc_col, *keep_cols).crossJoin(
        F.broadcast(clsb.select("_c", "prior"))
    )
    scored = grid.join(contrib, [doc_col, "_c"], "left").select(
        doc_col,
        *keep_cols,
        F.col("_c"),
        (
            F.col("prior").cast("decimal(28,6)")
            + F.coalesce(F.col("s"), F.lit(0).cast("decimal(28,6)"))
        ).alias("score"),
    )
    w = Window.partitionBy(doc_col).orderBy(
        F.desc("score"), F.asc("_c")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(doc_col, *keep_cols, F.col("_c").alias("pred"))
    )


def feature_woe(
    feats: DataFrame,
    feature_col: str,
    label_col: str,
    n_bins: int = 5,
) -> DataFrame:
    """Weight-of-evidence / information-value feature screening (the
    credit-scoring audit, Siddiqi 2006 — the standard "is this feature
    worth training on" gate): bin the feature into ``n_bins``
    equi-depth bins by exact percentile edges, then per bin

        woe = ln(pos_i + ½) − ln(neg_i + ½) − ln(pos_tot) + ln(neg_tot)
        iv_term = ((pos_i + ½)/pos_tot − (neg_i + ½)/neg_tot) · woe

    (½-smoothing keeps empty cells finite; Σ iv_term is the feature's
    IV — <0.02 useless, >0.3 strong). Every ln argument is kept
    INTEGER via ln(x+½) = ln(2x+1) − ln 2, where the ln 2 terms cancel
    in the woe difference — so the cross-engine round-9 integer-ln
    device applies everywhere and the DuckDB twin is bit-identical.

    100 TB shape: ONE exact-percentile+totals aggregate (broadcast
    back — the label totals Σy / Σ(1−y) over all rows equal the
    over-bins sums the old separate `tot` subtree re-derived with a
    full second corpus groupBy, so they fold into the edges pass), then
    one combinable groupBy over n_bins cells. The feature frame is
    persisted: both corpus passes read the narrow (feature, label)
    cache instead of re-running the caller's feature projection
    (round-9; the bm25 per-doc device). The bin assignment is a narrow
    comparison chain — no shuffle of the corpus beyond the stats
    pass."""
    from nashville_etl_service_backup_spark.operators import track_persist

    # persist only the (feature, label) projection (ADVICE r9): caching
    # the caller's full frame would pin every column, and registering a
    # caller-owned DataFrame in the release registry could unpersist a
    # frame the caller persisted for its own reuse
    feats = track_persist(feats.select(feature_col, label_col))
    qs = [i / n_bins for i in range(1, n_bins)]
    y_long = F.col(label_col).cast("long")
    stats = feats.agg(
        F.percentile(feature_col, F.lit(qs)).alias("_e"),
        F.sum(y_long).alias("_pt"),
        F.sum(F.lit(1) - y_long).alias("_nt"),
    )
    bin_expr: Column = F.lit(0)
    for i in range(n_bins - 1):
        bin_expr = bin_expr + (
            F.col(feature_col) > F.element_at("_e", i + 1)
        ).cast("int")
    g = (
        feats.crossJoin(F.broadcast(stats))
        .select(
            bin_expr.alias("bin"),
            y_long.alias("_y"),
            "_pt",
            "_nt",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_y").alias("n_pos"),
            F.sum(F.lit(1) - F.col("_y")).alias("n_neg"),
            # constants per row — carried through the cell aggregate so
            # no second broadcast join is needed
            F.min("_pt").alias("_pt"),
            F.min("_nt").alias("_nt"),
        )
    )
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
    return (
        g.select(
            "bin",
            "n",
            "n_pos",
            "n_neg",
            woe6.alias("woe"),
            F.round((dp - dn) * woe6, 6).alias("iv_term"),
        )
        .orderBy("bin")
    )
