"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — the correctness baseline. The
  query vector is broadcast (1-row crossJoin); the dot product is a
  higher-order-function fold (JVM-side, no Python). At 100 TB this is a
  single scan + TakeOrderedAndProject (per-partition heap), no shuffle
  of the embedding column.
- lsh_bucket_topk: the scale path — sign-random-projection buckets
  (hyperplanes derived deterministically from md5, so the plan is
  reproducible without a driver-side RNG); candidates = buckets matching
  the query in ≥1 band; exact cosine re-rank on the (much smaller)
  candidate set.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """dot() with the fold unrolled into a scalar chain for a KNOWN
    dim: 0.0 + a1·b1 + … — the identical left-to-right IEEE addition
    order as aggregate(zip_with(...)), so results are bit-equal, but
    with no per-row intermediate array allocation (zip_with builds a
    dim-element array per pair). Measured 2× on the PQ assign join,
    the hottest dot site (|vectors|·m·k pairs)."""
    e: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        e = e + F.element_at(a, i) * F.element_at(b, i)
    return e


def norm_unrolled(a: Column, dim: int) -> Column:
    """norm() unrolled for a KNOWN dim — same bit-equal-order argument
    as dot_unrolled."""
    e: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        x = F.element_at(a, i)
        e = e + x * x
    return F.sqrt(e)


def cosine_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Exact top-k by cosine against a 1-row query frame (column `qv`)."""
    v = as_double(F.col(vec_col))
    scored = (
        emb.crossJoin(F.broadcast(query))
        .withColumn("_cos", cosine(v, F.col("qv")))
    )
    return (
        scored.orderBy(F.desc("_cos"), F.asc(id_col))
        .limit(k)
        .select(id_col, *extra_cols, F.round("_cos", 4).alias("cosine"))
    )


def int8_quantize_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Int8 scalar quantization of the embedding column + recall audit
    against the exact inner-product top-k — the 4× memory/scan-
    reduction story for ANN at 100 TB (float32 → int8 codes), with the
    quality loss quantified in-engine.

    Quantizer: symmetric global max-abs — s = max|x| over the corpus
    (a one-row aggregate, broadcast back; no collect), code =
    clamp(floor(x / s · 127 + 0.5), ±127). The floor(+0.5) form is
    pure binary double arithmetic, bit-identical across engines
    (Spark ROUND is decimal-string HALF_UP, DuckDB's is half-even —
    the repo's standard cross-engine-rounding dodge). Quantized
    ranking is then an exact INTEGER dot product — no float fold-order
    concerns — and the dequantized approximation is idot·s²/127².

    Output: the exact top-k rows (id, dot_exact, dot_quant,
    in_quant_topk) where in_quant_topk marks membership in the
    quantized top-k — sum(in_quant_topk)/k IS recall@k.

    100 TB shape: two scans (exact + quantized ranking) each ending in
    a TakeOrderedAndProject per-partition heap, a broadcast 1-row
    scale, and a k-row broadcast join. Nothing shuffles the vectors.
    In a real deployment the int8 codes are materialized once at
    corpus build; the audit then prices the recall loss before
    switching scans to the compressed column."""
    v = as_double(F.col(vec_col))
    sdf = emb.agg(
        F.max(
            F.array_max(F.transform(v, lambda x: F.abs(x)))
        ).alias("_s")
    )

    def _codes(arr: Column) -> Column:
        return F.transform(
            arr,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x / F.col("_s") * F.lit(127.0) + F.lit(0.5)),
                ),
            ),
        )

    idot = F.aggregate(
        F.zip_with(_codes(v), _codes(F.col("qv")), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        emb.crossJoin(F.broadcast(query))
        .crossJoin(F.broadcast(sdf))
        .select(
            id_col,
            dot(v, F.col("qv")).alias("_de"),
            idot.alias("_di"),
            "_s",
        )
    )
    qtop = (
        scored.orderBy(F.desc("_di"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col).alias("_qid"))
    )
    etop = scored.orderBy(F.desc("_de"), F.asc(id_col)).limit(k)
    return (
        etop.join(
            F.broadcast(qtop), etop[id_col] == qtop["_qid"], "left"
        )
        .select(
            id_col,
            F.round("_de", 4).alias("dot_exact"),
            F.round(
                F.col("_di").cast("double")
                * F.col("_s")
                * F.col("_s")
                / F.lit(16129.0),
                4,
            ).alias("dot_quant"),
            F.col("_qid").isNotNull().cast("int").alias("in_quant_topk"),
        )
        .orderBy(F.desc("dot_exact"), F.asc(id_col))
    )


def mmr_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 4,
    shortlist: int = 8,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick the candidate maximizing
    λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), so near-duplicate results
    don't crowd the answer list — the retrieval-side counterpart of
    SemDeDup.

    Plan: the SHORTLIST (exact cosine top-``shortlist``) and its
    pairwise cosine matrix are computed in-engine (one scan + a
    shortlist²-row broadcast self-join); the greedy selection then
    runs on that ≤ shortlist² scalar matrix driver-side — a bounded
    model-artifact collect, same budget class as the IVF centroids:
    MMR is inherently an O(k·|C|) post-retrieval step over an already
    k-bounded candidate set, never over the corpus. Ranks re-enter the
    plan as a literal map over the candidate frame.

    Ties break on ascending id at every argmax (both engines). The
    DuckDB twin unrolls the k greedy steps as CTEs over the identical
    sim formula, so scores hash-match."""
    v = as_double(F.col(vec_col))
    cands = (
        emb.crossJoin(F.broadcast(query))
        .select(
            F.col(id_col).alias("_cid"),
            cosine(v, F.col("qv")).alias("_sq"),
            v.alias("_v"),
        )
        .orderBy(F.desc("_sq"), F.asc("_cid"))
        .limit(shortlist)
    )
    a = cands.select(
        F.col("_cid").alias("_ida"),
        F.col("_v").alias("_va"),
        F.col("_sq").alias("_sqa"),
    )
    b = cands.select(
        F.col("_cid").alias("_idb"), F.col("_v").alias("_vb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("_ida") != F.col("_idb"))
        .select(
            "_ida",
            "_idb",
            "_sqa",
            cosine(F.col("_va"), F.col("_vb")).alias("_sab"),
        )
        .collect()
    )
    sim_q: dict = {}
    sim: dict = {}
    for r in pairs:
        sim_q[r["_ida"]] = r["_sqa"]
        sim[(r["_ida"], r["_idb"])] = r["_sab"]
    remaining = sorted(sim_q)
    selected: list = []
    picks: list[tuple[int, float]] = []
    for _ in range(min(k, len(remaining))):
        best_id, best_score = None, None
        for c in remaining:
            penalty = max(
                (sim[(c, s)] for s in selected), default=0.0
            )
            score = lam * sim_q[c] - (1.0 - lam) * penalty
            if best_score is None or score > best_score:
                best_id, best_score = c, score
        selected.append(best_id)
        picks.append((best_id, best_score))
        remaining.remove(best_id)
    rank_expr: Column = F.lit(None).cast("int")
    score_expr: Column = F.lit(None).cast("double")
    for rk, (cid, sc) in enumerate(picks, start=1):
        rank_expr = F.when(F.col("_cid") == cid, rk).otherwise(rank_expr)
        score_expr = F.when(
            F.col("_cid") == cid, F.lit(float(sc))
        ).otherwise(score_expr)
    return (
        cands.select(
            F.col("_cid").alias(id_col),
            rank_expr.alias("mmr_rank"),
            F.round(F.col("_sq"), 4).alias("sim_to_query"),
            F.round(score_expr, 4).alias("mmr_score"),
        )
        .filter(F.col("mmr_rank").isNotNull())
        .orderBy("mmr_rank")
    )


def ndcg_at_k(
    ranked: DataFrame,
    ideal: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    score_col: str = "cosine",
) -> DataFrame:
    """NDCG@k of an approximate ranking against the exact ideal — the
    ranking-quality audit that complements recall@k (recall counts
    hits; NDCG weights WHERE they landed). Graded relevance: the ideal
    rank-i item carries rel = k+1−i, absent items rel = 0; DCG = Σ
    rel/log₂(rank+1) over the approximate list's order.

    Determinism: both lists are re-ranked by (round-4 score DESC, id
    ASC) — the operators' own output contract — and each DCG term is
    rounded to 9 decimals and summed as DECIMAL(28,9), so both engines
    produce identical sums in any order; log₂ arguments are small
    integers. Both inputs are top-k frames, so the rank windows run on
    metric-sized (≤ k rows) single partitions — audit cost, not a data
    pass.

    Output one row: (k, n_hits, dcg, idcg, ndcg) rounded to 6."""
    from pyspark.sql import Window

    w_r = Window.orderBy(F.desc(score_col), F.asc(id_col))
    r = ranked.select(
        F.col(id_col).alias("_rid"),
        F.row_number().over(w_r).alias("_rrank"),
    ).filter(F.col("_rrank") <= k)
    i = ideal.select(
        F.col(id_col).alias("_iid"),
        F.row_number().over(w_r).alias("_irank"),
    ).filter(F.col("_irank") <= k)
    rel = (F.lit(k + 1) - F.col("_irank")).cast("double")
    term = lambda rank_col: F.round(  # noqa: E731
        rel / F.log2(rank_col.cast("double") + F.lit(1.0)), 9
    ).cast("decimal(28,9)")
    dcg = (
        r.join(i, r["_rid"] == i["_iid"])
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum(term(F.col("_rrank"))).alias("_dcg"),
        )
    )
    idcg = i.agg(F.sum(term(F.col("_irank"))).alias("_idcg"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.lit(k).alias("k"),
            "n_hits",
            F.round(F.col("_dcg").cast("double"), 6).alias("dcg"),
            F.round(F.col("_idcg").cast("double"), 6).alias("idcg"),
            F.round(
                F.col("_dcg").cast("double")
                / F.col("_idcg").cast("double"),
                6,
            ).alias("ndcg"),
        )
    )


def _plane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane from md5 bytes."""
    vals: list[float] = []
    i = 0
    while len(vals) < dim:
        h = hashlib.md5(f"plane:{seed}:{i}".encode()).digest()
        for off in range(0, 16, 2):
            u = int.from_bytes(h[off : off + 2], "big") / 65535.0
            vals.append(2.0 * u - 1.0)
            if len(vals) == dim:
                break
        i += 1
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: one bit per plane."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(x) for x in p])) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in planes
    ]
    return F.concat(*bits)


def lsh_bucket_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """ANN: restrict to the query's SRP bucket, exact-rank inside it.

    At scale the bucket column is a partition key: writing the corpus
    bucketed by it turns every query into a single-partition scan.
    """
    planes = [_plane(s, dim) for s in range(n_planes)]
    v = as_double(F.col(vec_col))
    bucketed = emb.withColumn("_bucket", srp_bucket(v, planes))
    q = query.withColumn("_qbucket", srp_bucket(F.col("qv"), planes))
    cand = bucketed.join(
        F.broadcast(q), F.col("_bucket") == F.col("_qbucket")
    ).withColumn("_cos", cosine(v, F.col("qv")))
    return (
        cand.orderBy(F.desc("_cos"), F.asc(id_col))
        .limit(k)
        .select(id_col, *extra_cols, F.round("_cos", 4).alias("cosine"))
    )


def pm_plane_bits(seed: int, dim: int) -> str:
    """Deterministic ±1 (Rademacher) hyperplane as a '1'/'0' bit string
    derived from md5 bytes — shared verbatim by the Spark plan and the
    DuckDB oracle generator so both engines compute identical buckets."""
    bits: list[str] = []
    i = 0
    while len(bits) < dim:
        h = hashlib.md5(f"pmplane:{seed}:{i}".encode()).digest()
        for byte in h:
            for k in range(8):
                bits.append("1" if (byte >> (7 - k)) & 1 else "0")
                if len(bits) == dim:
                    return "".join(bits)
        i += 1
    return "".join(bits)


def pm_signs(bits: str) -> list[float]:
    return [1.0 if c == "1" else -1.0 for c in bits]


def banded_srp_buckets_vectorized(
    planes: list[list[float]], bands: int, planes_per_band: int
):
    """Arrow-batched SRP signature: signs(V @ P.T) via one numpy matmul
    per batch instead of bands×planes_per_band interpreted HOF dot
    products per row (measured ~6× on the signature stage at sf0.1).

    Bit b is '1' iff dot(v, plane_b) >= 0, up to float summation order
    (numpy pairwise vs a sequential fold, as the DuckDB oracle sums),
    which can only differ when the dot product is within ~1e-12 of
    zero; never observed on real embeddings.
    """
    p_t = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)

    @F.pandas_udf("array<string>")
    def _sig(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vs])
        chars = np.where(mat @ p_t >= 0.0, "1", "0")
        ppb = planes_per_band
        return pd.Series(
            [
                ["".join(row[b * ppb : (b + 1) * ppb]) for b in range(bands)]
                for row in chars
            ]
        )

    return _sig


def centroid_row(
    centroids: DataFrame,
    cent_id: str = "cent_id",
    cent_vec: str = "cv",
    dim: int | None = None,
) -> DataFrame:
    """Collapse a (cent_id, cv) centroid frame into ONE row holding an
    array of (cid, cv, nc) structs, centroid norms hoisted to build
    time. Broadcast-crossJoined onto a vector frame, this turns
    nearest-centroid assignment into a per-row expression
    (:func:`nearest_centroid`) — no |vectors|×k row explosion, no
    argmax aggregate Exchange, no join back to re-attach the vectors.
    The quantizer is a model artifact (k×dim numbers), so the one-row
    relation is tiny by construction."""
    _norm = norm if dim is None else (lambda c: norm_unrolled(c, dim))
    return centroids.agg(
        F.collect_list(
            F.struct(
                F.col(cent_id).alias("cid"),
                F.col(cent_vec).alias("cv"),
                _norm(F.col(cent_vec)).alias("nc"),
            )
        ).alias("_cents")
    )


def centroid_scores(
    vec: Column,
    nv: Column,
    cents_arr: Column,
    dim: int | None = None,
) -> Column:
    """array<struct(c, cid)> of the vector's cosine against every
    centroid in a :func:`centroid_row` array — the same hoisted-norm
    cosine expression the join formulation computed per (vector,
    centroid) row, evaluated per array element instead."""
    _dot = dot if dim is None else (lambda a, b: dot_unrolled(a, b, dim))
    return F.transform(
        cents_arr,
        lambda s: F.struct(
            (_dot(vec, s["cv"]) / (nv * s["nc"])).alias("c"),
            s["cid"].alias("cid"),
        ),
    )


def nearest_centroid(
    vec: Column,
    nv: Column,
    cents_arr: Column,
    dim: int | None = None,
) -> Column:
    """struct(c, cid) of the highest-cosine centroid (ties → highest
    centroid id): array_max over :func:`centroid_scores` uses the
    identical struct total order as the old max(struct(c, cid))
    aggregate, so assignments are bit-identical to the join+argmax
    formulation this replaces."""
    return F.array_max(centroid_scores(vec, nv, cents_arr, dim))


def centroid_artifact(
    cents: DataFrame,
    cent_id: str = "cent_id",
    cent_vec: str = "cv",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collect a trained quantizer into a local numpy artifact
    (cids ascending, C (k×dim), chain-order norms). The quantizer is
    k×dim numbers — the same model-artifact materialization ivf_topk
    already does with createDataFrame(collect()); this is NOT a
    data-sized collect. Norms use the dim-by-dim accumulation of
    :func:`_chain_dots`, bit-equal to norm_unrolled. Rows with a null
    id are skipped (a degenerate vector assigned null by the
    vectorized sweep can flow into a re-centering aggregate as a real
    NULL group; it is not a centroid)."""
    return _artifact_of(cents.select(cent_id, cent_vec).collect())


def _artifact_of(rows: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(cids ascending, C, chain-order norms) from collected (cid, cv)
    rows, skipping rows with a null cid or vector."""
    rows = sorted(
        (r for r in rows if r[0] is not None and r[1] is not None),
        key=lambda r: r[0],
    )
    cids = np.array([int(r[0]) for r in rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    acc = np.zeros(C.shape[0])
    for i in range(C.shape[1]):
        acc = acc + C[:, i] * C[:, i]
    return cids, C, np.sqrt(acc)


def _chain_dots(V: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """All V-row × C-row dot products plus V row norms, accumulated
    dim-by-dim: per element the identical left-to-right IEEE add order
    (0.0 + a1·b1 + a2·b2 + …) as dot_unrolled / norm_unrolled and the
    aggregate(zip_with(...)) fold — float64 multiply/add/sqrt are
    single correctly-rounded IEEE ops in both numpy and the JVM, so
    the results are bit-equal to the Column expressions, while the
    loop vectorizes across the Arrow batch's rows."""
    n = V.shape[0]
    accv = np.zeros(n)
    dots = np.zeros((n, C.shape[0]))
    for i in range(V.shape[1]):
        col = V[:, i]
        accv = accv + col * col
        dots = dots + col[:, None] * C[None, :, i]
    return dots, np.sqrt(accv)


def _nan_as_greatest(cos: np.ndarray) -> np.ndarray:
    """Spark's double ordering places NaN ABOVE +Inf; numpy comparisons
    drop NaN rows instead. Substituting +Inf keeps a NaN cosine (zero
    vector: 0/0) winning over every finite score with the same
    ties→higher-cid sweep. (Divergence only if a NaN and a genuine
    +Inf cosine compete for the same vector — impossible with finite
    inputs, where |cos| ≤ dim·max²/norms is finite.)"""
    return np.where(np.isnan(cos), np.inf, cos)


def _valid_vec_rows(
    vs: pd.Series, dim: int
) -> tuple[list[int], np.ndarray | None]:
    """Indices + stacked matrix of the batch's well-formed vectors
    (non-null, exactly dim wide, all-finite) — the same degenerate-row
    gate as jl_project_vectorized; callers null out the rest."""
    idxs: list[int] = []
    vals: list[np.ndarray] = []
    for i, v in enumerate(vs):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.shape == (dim,) and np.isfinite(a).all():
            idxs.append(i)
            vals.append(a)
    return idxs, (np.vstack(vals) if vals else None)


def _nearest(
    V: np.ndarray, cids: np.ndarray, C: np.ndarray, nc: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(highest-cosine cid, vector norm) per row of V: chain-order
    cosines (:func:`_chain_dots`), swept in ascending cid with ``>=``
    so ties go to the higher cid — Spark's (c, cid) struct order."""
    dots, nv = _chain_dots(V, C)
    cos = _nan_as_greatest(dots / (nv[:, None] * nc[None, :]))
    best = np.full(V.shape[0], -np.inf)
    best_id = np.zeros(V.shape[0], dtype=np.int64)
    for j in range(C.shape[0]):
        m = cos[:, j] >= best
        best = np.where(m, cos[:, j], best)
        best_id = np.where(m, cids[j], best_id)
    return best_id, nv


def nearest_centroid_vectorized(
    cids: np.ndarray, C: np.ndarray, nc: np.ndarray
):
    """Arrow-batched nearest-centroid assignment against a collected
    :func:`centroid_artifact`: struct(cid, nv) per vector — cid the
    highest-cosine centroid (ties → higher cid), nv the vector's norm
    (hoisted for downstream pair scoring). Bit-identical to the
    :func:`nearest_centroid` Column expression — same chain-order IEEE
    dots/norms (:func:`_chain_dots`), same (c, cid) total order via an
    ascending-cid ``>=`` sweep — but vectorized across the batch in
    numpy instead of an interpreted higher-order-function transform
    per row (measured 6× on the sf0.1 assignment pass; the same
    Arrow-kernel move as jl_project_vectorized). Degenerate rows
    (null / wrong-width / non-finite) yield a null struct, the
    jl_project_vectorized convention.

    100 TB shape: the centroid closure is the broadcast (k×dim
    numbers ride the serialized udf), and assignment stays a narrow
    map — no join, no shuffle, no n×k row explosion."""
    d = C.shape[1]

    @F.pandas_udf("cid bigint, nv double")
    def _assign(vs: pd.Series) -> pd.DataFrame:
        out_cid: list = [None] * len(vs)
        out_nv: list = [None] * len(vs)
        idxs, V = _valid_vec_rows(vs, d)
        if V is not None:
            best_id, nv = _nearest(V, cids, C, nc)
            for row, i in enumerate(idxs):
                out_cid[i] = int(best_id[row])
                out_nv[i] = float(nv[row])
        return pd.DataFrame({"cid": pd.array(out_cid, dtype="Int64"),
                             "nv": pd.array(out_nv, dtype="Float64")})

    return _assign


def centroid_top2_vectorized(
    cids: np.ndarray, C: np.ndarray, nc: np.ndarray
):
    """Arrow-batched (best, runner-up) centroid cosines per vector:
    struct(cid, c1, c2) — the first two elements of the
    (c desc, cid desc) order sort_array(centroid_scores, False) yields,
    computed by an ascending-cid promote/second sweep over the same
    chain-order cosines (bit-identical scores). Feeds the silhouette's
    a = 1−c1 / b = 1−c2 without materializing the k-element score
    array per row. k = 1 leaves c2 null (matching slice()[1] on a
    one-element array).

    NaN handling: the :func:`_nan_as_greatest` +Inf substitute is used
    for the promote/second COMPARISONS only (replicating Spark's
    NaN-above-everything double order); the EMITTED c1/c2 are indexed
    out of the pre-substitution cosine matrix, so a zero-norm vector
    or centroid surfaces its actual IEEE NaN cosine — never the +Inf
    sentinel. (The Spark expression twin cannot produce this value at
    all: 0/0 ABORTS under ANSI and yields NULL with ANSI off — Spark
    division never emits NaN. NaN is the DuckDB/numpy IEEE semantics
    and the deliberate contract on such out-of-contract rows; pinned
    by test_centroid_top2_vectorized_zero_vector_emits_nan.)"""
    k, d = C.shape

    @F.pandas_udf("cid bigint, c1 double, c2 double")
    def _top2(vs: pd.Series) -> pd.DataFrame:
        out_cid: list = [None] * len(vs)
        # explicit (values, mask) FloatingArrays: degenerate rows are
        # null via the mask, while a genuine NaN cosine stays a VALID
        # NaN double through Arrow (a plain pd.array list build would
        # collapse np.nan to pd.NA, i.e. null — the wrong value)
        c1_vals = np.full(len(vs), np.nan)
        c1_mask = np.ones(len(vs), dtype=bool)
        c2_vals = np.full(len(vs), np.nan)
        c2_mask = np.ones(len(vs), dtype=bool)
        idxs, V = _valid_vec_rows(vs, d)
        if V is not None:
            dots, nv = _chain_dots(V, C)
            raw = dots / (nv[:, None] * nc[None, :])
            cos = _nan_as_greatest(raw)
            n = len(idxs)
            best1 = np.full(n, -np.inf)
            best2 = np.full(n, -np.inf)
            cid1 = np.zeros(n, dtype=np.int64)
            idx1 = np.zeros(n, dtype=np.int64)
            idx2 = np.zeros(n, dtype=np.int64)
            for j in range(k):
                s = cos[:, j]
                promote = s >= best1
                second = (~promote) & (s >= best2)
                best2 = np.where(
                    promote, best1, np.where(second, s, best2)
                )
                idx2 = np.where(promote, idx1, np.where(second, j, idx2))
                cid1 = np.where(promote, cids[j], cid1)
                idx1 = np.where(promote, j, idx1)
                best1 = np.where(promote, s, best1)
            rix = np.arange(n)
            c1 = raw[rix, idx1]
            c2 = raw[rix, idx2]
            for row, i in enumerate(idxs):
                out_cid[i] = int(cid1[row])
                c1_vals[i] = c1[row]
                c1_mask[i] = False
                if k > 1:
                    c2_vals[i] = c2[row]
                    c2_mask[i] = False
        return pd.DataFrame({
            "cid": pd.array(out_cid, dtype="Int64"),
            "c1": pd.arrays.FloatingArray(c1_vals, c1_mask),
            "c2": pd.arrays.FloatingArray(c2_vals, c2_mask),
        })

    return _top2


def pq_codebook_artifact(
    cents: DataFrame,
) -> dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """{block: (cids, C, nc)} from a (block, cent_id, cv) codebook
    frame — the m×k×sub PQ model artifact, collected once (pq_fit's
    existing LocalRelation pattern; NOT a data-sized collect). Each
    block is built like :func:`centroid_artifact`; rows with a null
    cent_id (degenerate-slice NULL groups from the vectorized
    assignment) are skipped, so a block of only such rows is absent."""
    by_block: dict[int, list] = {}
    for b, cid, cv in cents.select("block", "cent_id", "cv").collect():
        if cid is not None and cv is not None:
            by_block.setdefault(int(b), []).append((cid, cv))
    return {b: _artifact_of(rows) for b, rows in by_block.items()}


def pq_assign_vectorized(
    books: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]],
):
    """Arrow-batched per-(vector, block) codeword assignment against a
    collected :func:`pq_codebook_artifact` — the PQ twin of
    :func:`nearest_centroid_vectorized`: identical chain-order IEEE
    cosines and ties→larger-code ascending ``>=`` sweep as the
    broadcast-join + groupBy(id, block).max(struct) argmax it
    replaces, bit-identical codes, with NO |blocks|×k row explosion
    and NO argmax Exchange. Rows with an unknown block or a degenerate
    slice (null / wrong-width / non-finite) yield null."""

    @F.pandas_udf("bigint")
    def _assign(blocks_s: pd.Series, vs: pd.Series) -> pd.Series:
        out: list = [None] * len(vs)
        bl = blocks_s.to_numpy()
        for b, (cids, C, nc) in books.items():
            sel = np.nonzero(bl == b)[0]
            if not len(sel):
                continue
            sub_vs = vs.iloc[sel].reset_index(drop=True)
            idxs, V = _valid_vec_rows(sub_vs, C.shape[1])
            if V is None:
                continue
            best_id, _ = _nearest(V, cids, C, nc)
            for row, i in enumerate(idxs):
                out[int(sel[i])] = int(best_id[row])
        return pd.Series(pd.array(out, dtype="Int64"))

    return _assign


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    cent_id: str = "cent_id",
    cent_vec: str = "cv",
    dim: int | None = None,
) -> DataFrame:
    """IVF list assignment: each vector → its highest-cosine centroid
    (ties → highest centroid id; deterministic). Assignment is one
    narrow pass over the corpus with NO shuffle at all — at 100 TB the
    assigned frame is then written bucketed by cent_id, making every
    probe a partition-pruned scan.

    With a known ``dim`` (vectors exactly ``dim`` wide, all-finite —
    degenerate rows get a null cent_id), the centroids collect into a
    local model artifact (:func:`centroid_artifact`; k×dim numbers,
    the ivf_topk materialization pattern) and the per-vector argmax is
    the Arrow-batched numpy sweep of
    :func:`nearest_centroid_vectorized` — bit-identical to the Column
    path (chain-order IEEE dots, same (c, cid) total order) and
    measured 6× faster than the interpreted higher-order-function
    transform it replaces (round 6; the r6.0 array_max device and the
    pre-r5 broadcast-crossJoin + groupBy(id).max(struct) aggregate
    before it computed the same thing JVM-side). Pass dim=None for
    unknown/ragged widths to keep the expression path: one broadcast
    centroid row (:func:`centroid_row`) + per-row array_max
    (:func:`nearest_centroid`), norms hoisted."""
    if dim is not None:
        art = centroid_artifact(centroids, cent_id, cent_vec)
        assign = nearest_centroid_vectorized(*art)
        return emb.select(
            id_col, assign(F.col(vec_col))["cid"].alias("cent_id")
        )
    crow = centroid_row(centroids, cent_id, cent_vec, dim)
    e = emb.withColumn("_nv", norm(F.col(vec_col)))
    return (
        e.crossJoin(F.broadcast(crow))
        .select(
            id_col,
            nearest_centroid(
                F.col(vec_col), F.col("_nv"), F.col("_cents"), dim
            ).alias("_m"),
        )
        .select(id_col, F.col("_m.cid").alias("cent_id"))
    )


def kmeans_centroids(
    base: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
    dim: int | None = None,
) -> DataFrame:
    """Deterministic, engine-portable Lloyd's k-means coarse quantizer.

    Returns (cent_id, cv) where cv is the component-wise EXACT DECIMAL
    SUM of the cluster members' 6-decimal-rounded components, cast back
    to double. Cosine is invariant to positive scaling, so the sum
    stands in for the mean everywhere a centroid is compared by cosine —
    and exact decimal sums are summation-order-independent, making
    repeated runs (and the DuckDB oracle) bit-identical. The 6-decimal
    pre-round matters: Spark casts double→decimal with HALF_UP, DuckDB
    with half-even, and raw float32 components DO hit decimal ties
    (odd/8192 values tie at scale 12); after round(x, 6) a tie at scale
    12 is impossible, so both engines agree (probed empirically).

    Init: the first ``n_centroids`` vectors by id. A fixed iteration
    count (no convergence probe) keeps the round structure static.
    Empty clusters drop out — standard Lloyd's degeneracy, deterministic.

    Scale shape per iteration (known ``dim``; vectors exactly ``dim``
    wide and finite): the current centroids collect into a local model
    artifact (k×dim numbers — fit() is eager like pyspark.ml; NOT a
    data-sized collect) and each vector tags itself in the
    Arrow-batched numpy sweep of :func:`nearest_centroid_vectorized`;
    re-centering then shuffles (cent_id, idx, decimal) triples,
    map-side combinable — the round's ONLY Exchange. Vectors never
    move through an aggregation buffer or a join, and the returned
    centroid frame is a LocalRelation, so downstream consumers
    (assignment, probe selection, pair generation) never re-execute
    the training pipeline. With dim=None the round keeps the lazy
    expression path: broadcast centroid row + per-row array_max
    (:func:`nearest_centroid`), collect-free.

    History: the pre-r5 shape was broadcast-crossJoin +
    groupBy(id).max(struct) (n×k row explosion + argmax Exchange);
    round 5's "argmax-carry" reshape (bb9136c) was a measured loss and
    was reverted; round 6.0 moved assignment to a per-row array_max
    over a broadcast centroid row (no explosion, no Exchange); round
    6.1 moved the same math into a vectorized Arrow kernel — the
    interpreted HOF transform was the remaining per-row cost (measured
    6× on the sf0.1 assignment pass). Assignments and centroids stay
    bit-identical across ALL formulations (chain-order IEEE cosine,
    same (c, cid) total order, order-independent decimal sums) —
    pinned by test_kmeans_known_dim_matches_generic_path."""
    from nashville_etl_service_backup_spark.operators import track_persist

    r6 = F.transform(F.col(vec_col), lambda x: F.round(x, 6))
    # persist the training projection: every Lloyd's round reads it
    # twice (assignment + re-centering) plus the final assignment —
    # without the persist each stage re-scans and re-rounds the corpus.
    # At 100 TB the quantizer trains on a sample; caching the training
    # set is the standard model-fit materialization (released by the
    # caller via release_persisted()).
    pts = track_persist(
        base.select(F.col(id_col), F.col(vec_col), r6.alias("_r6"))
    )
    cents = pts.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col("_r6").alias("cv")
    )
    for _ in range(iters):
        if dim is not None:
            # vectorized round: collect the current quantizer (k×dim
            # artifact), tag per-row in numpy — no broadcast build, no
            # interpreted HOF; the round is tag → posexplode → one
            # combinable decimal aggregate
            assign = nearest_centroid_vectorized(*centroid_artifact(cents))
            tagged = pts.select(
                assign(F.col(vec_col))["cid"].alias("cent_id"), "_r6"
            )
        else:
            crow = centroid_row(cents, dim=dim)
            tagged = (
                pts.crossJoin(F.broadcast(crow))
                .select(
                    nearest_centroid(
                        F.col(vec_col),
                        norm(F.col(vec_col)),
                        F.col("_cents"),
                        dim,
                    )["cid"].alias("cent_id"),
                    "_r6",
                )
            )
        sums = (
            tagged.select("cent_id", F.posexplode("_r6").alias("idx", "x"))
            .groupBy("cent_id", "idx")
            .agg(F.sum(F.col("x").cast("decimal(30,12)")).alias("s"))
            # degenerate rows (null/ragged/non-finite vectors) carry a
            # null cent_id on the vectorized path — they are not
            # cluster members; without this gate their NULL group would
            # crash centroid_artifact's next collect. Filtering the
            # AGGREGATED rows (k·dim of them) costs nothing per-row,
            # unlike a pre-aggregation Filter over the corpus (round-7
            # isolation measured the per-row gate at +10–20% on the
            # kmeans consumers); the surviving groups are identical.
            .filter(F.col("cent_id").isNotNull())
        )
        cents = (
            sums.groupBy("cent_id")
            .agg(F.array_sort(F.collect_list(F.struct("idx", "s"))).alias("a"))
            .select(
                "cent_id",
                F.transform("a", lambda t: t["s"].cast("double")).alias("cv"),
            )
        )
    if dim is not None and iters > 0:
        # the trained quantizer is a model artifact: materialize it
        # once (ivf_topk's pattern, now shared by every consumer)
        spark = base.sparkSession
        cents = spark.createDataFrame(cents.collect(), schema=cents.schema)
    return cents


def ivf_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
    kmeans_iters: int = 1,
    dim: int | None = 64,
) -> DataFrame:
    """IVF approximate top-k: Lloyd's k-means coarse quantizer
    (``kmeans_iters`` rounds from a first-N init; 0 = plain first-N
    centroids; 1 matches 2 on measured recall at sf0.01 for half the
    training cost), probe the query's ``n_probe`` nearest inverted
    lists, exact cosine re-rank inside them.

    The scale shape: centroids broadcast (tiny); assignment is a narrow
    map; candidates are restricted to probed lists before any ranking,
    so the re-rank touches ~n_probe/n_centroids of the corpus."""
    v = as_double(F.col(vec_col))
    base = emb.select(F.col(id_col), *extra_cols, v.alias("v"))
    if kmeans_iters > 0:
        # kmeans_centroids returns the trained quantizer as a
        # LocalRelation when dim is known (fit() is eager, like
        # pyspark.ml) — no downstream branch re-executes the Lloyd's
        # pipeline; with dim=None materialize it here for the same
        # reason (measured 3× on the end-to-end query).
        cents = kmeans_centroids(
            base, n_centroids=n_centroids, iters=kmeans_iters, id_col=id_col,
            dim=dim,
        )
        if dim is None:
            spark = emb.sparkSession
            cents = spark.createDataFrame(
                cents.collect(), schema=cents.schema
            )
    else:
        cents = base.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col("v").alias("cv")
        )
    if dim is not None:
        # Arrow-vectorized narrow tag (bit-identical; see ivf_assign)
        assign = nearest_centroid_vectorized(
            *centroid_artifact(cents)
        )
        tagged = base.withColumn("cent_id", assign(F.col("v"))["cid"])
    else:
        # per-row array_max against the broadcast centroid row — the
        # cluster tag lands directly on the vector row, so the probe
        # filter needs no join back to re-attach the vectors
        crow = centroid_row(cents, dim=dim)
        tagged = (
            base.withColumn("_nv", norm(F.col("v")))
            .crossJoin(F.broadcast(crow))
            .withColumn(
                "cent_id",
                nearest_centroid(
                    F.col("v"), F.col("_nv"), F.col("_cents"), dim
                )["cid"],
            )
            .drop("_cents")
        )
    probes = (
        query.crossJoin(F.broadcast(cents))
        .withColumn("_c", cosine(F.col("qv"), F.col("cv")))
        .orderBy(F.desc("_c"), F.desc("cent_id"))
        .limit(n_probe)
        .select("cent_id")
    )
    cand = (
        tagged.join(F.broadcast(probes), "cent_id", "left_semi")
        .crossJoin(F.broadcast(query))
        .withColumn("_cos", cosine(F.col("v"), F.col("qv")))
    )
    return (
        cand.orderBy(F.desc("_cos"), F.asc(id_col))
        .limit(k)
        .select(id_col, *extra_cols, F.round("_cos", 4).alias("cosine"))
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 4,
    planes_per_band: int = 8,
    threshold: float = 0.9,
    top_k: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates: banded ±1-sign-projection
    candidate generation (equi-join on (band_idx, bucket) — at 100 TB
    this shuffles only (bucket, id) pairs, never the vector cross
    product), then exact cosine on the candidate set.

    Band width matters: planes_per_band=8 → 256 buckets per band, so
    random pairs rarely collide while true near-dups (cosine ≥ 0.9,
    per-plane agreement ≈ 0.86) collide on some band with
    1-(1-0.86⁸)⁴ ≈ 0.92 probability. Narrow bands (≤3 planes) put most
    of the corpus in one bucket — O(n²) candidates.

    Output: pairs with cosine ≥ threshold, or the top_k highest-cosine
    candidate pairs when top_k is given (ranked mode for corpora with
    no true duplicates)."""
    planes = [
        pm_signs(pm_plane_bits(s, dim)) for s in range(bands * planes_per_band)
    ]
    v = as_double(F.col(vec_col))
    # spread before the signature so the Arrow batches land on every
    # core even off a single-split scan; the signature itself is one
    # numpy matmul per batch (vectorized pandas_udf), not per-row HOF
    # dot products
    from nashville_etl_service_backup_spark.operators import spread, track_persist
    from nashville_etl_service_backup_spark.operators.dedup import (
        _band_pairs,
        _pair_sides,
    )

    sig = banded_srp_buckets_vectorized(planes, bands, planes_per_band)
    base = track_persist(
        spread(emb).select(
            F.col(id_col).alias("doc_id"),
            v.alias("v"),
            sig(v).alias("bk"),
        )
    )
    scored = _pair_sides(_band_pairs(base, "bk"), base, "v").withColumn(
        "cosine", cosine(F.col("v_a"), F.col("v_b"))
    )
    if top_k is not None:
        scored = scored.orderBy(
            F.desc("cosine"), F.asc("doc_a"), F.asc("doc_b")
        ).limit(top_k)
    else:
        scored = scored.filter(F.col("cosine") >= threshold)
    return scored.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.round("cosine", 6).alias("cosine"),
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    kmeans_iters: int = 1,
    threshold: float = 0.9,
    top_k: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicates (Abbas et al. 2023,
    arXiv:2303.09540, public method): k-means the embedding space with
    the same deterministic Lloyd's quantizer the IVF index uses
    (:func:`kmeans_centroids`), then pair vectors ONLY within a
    cluster and rank/filter by exact cosine.

    The complementary candidate generator to the banded-SRP one in
    :func:`embedding_near_dup_pairs`: SRP buckets by random sign
    agreement (recall tunable via band width), SemDeDup buckets by the
    learned cluster structure (recall follows the quantizer; the paper's
    observation is that semantic dups land in the same k-means cell).

    100 TB shape: centroid training is the IVF quantizer's one-time
    model fit; assignment is a broadcast-join narrow map; the pair step
    is an equi-join on cent_id — shuffles each vector ONCE to its
    cluster's partition, and the quadratic pairing is bounded per
    cluster (at scale, cap cluster width by raising n_centroids —
    n ∝ corpus/√pairs-budget), never O(n²) across the corpus.

    Output: (vec_a, vec_b, cosine) with cosine ≥ threshold, or the
    top_k highest-cosine within-cluster pairs when top_k is given
    (ranked mode for corpora with no planted duplicates).

    Degenerate rows (null / not-exactly-``dim``-wide / non-finite
    vectors) on the known-``dim`` path get a null cent_id from the
    vectorized assignment and therefore DROP OUT of the pair join
    (null keys never match) — they produce no pairs. The dim=None
    expression path instead assigns them via Spark's NaN-greatest
    ordering and scores their (NaN-cosine) pairs. This divergence is
    deliberate (the jl_project_vectorized null convention) and pinned
    by test_semantic_dedup_pairs_degenerate_rows_drop."""
    from nashville_etl_service_backup_spark.operators import track_persist

    pts = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    cents = kmeans_centroids(
        pts, n_centroids=n_centroids, iters=kmeans_iters, id_col=id_col,
        vec_col="v", dim=dim,
    )
    # hoist |v| out of the quadratic pair loop: once per vector, not
    # once per pair — float-identical to inlined cosine() (the same
    # expression, factored; ivf_assign's documented device), and with a
    # known dim the per-pair dot is the unrolled codegen chain instead
    # of an interpreted HOF fold. The cluster tag and the hoisted norm
    # ride the SAME Arrow-vectorized pass (nearest_centroid_vectorized
    # returns struct(cid, nv), both bit-identical to the expression
    # path) — no assignment aggregate, no join back, no interpreted
    # HOF per row.
    _dotf = dot if dim is None else (lambda x, y: dot_unrolled(x, y, dim))
    if dim is not None:
        assign = nearest_centroid_vectorized(*centroid_artifact(cents))
        tagged = track_persist(
            pts.withColumn("_m", assign(F.col("v")))
            .select(
                F.col(id_col),
                "v",
                F.col("_m")["nv"].alias("_n"),
                F.col("_m")["cid"].alias("cent_id"),
            )
        )
    else:
        crow = centroid_row(cents, dim=dim)
        tagged = track_persist(
            pts.withColumn("_n", norm(F.col("v")))
            .crossJoin(F.broadcast(crow))
            .withColumn(
                "cent_id",
                nearest_centroid(
                    F.col("v"), F.col("_n"), F.col("_cents"), dim
                )["cid"],
            )
            .drop("_cents")
        )
    a = tagged.select(
        "cent_id",
        F.col(id_col).alias("vec_a"),
        F.col("v").alias("va"),
        F.col("_n").alias("_na"),
    )
    b = tagged.select(
        "cent_id",
        F.col(id_col).alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("_n").alias("_nb"),
    )
    pairs = a.join(b, "cent_id").filter(F.col("vec_a") < F.col("vec_b"))
    scored = pairs.withColumn(
        "cosine",
        _dotf(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
    )
    if top_k is not None:
        scored = scored.orderBy(
            F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b")
        ).limit(top_k)
    else:
        scored = scored.filter(F.col("cosine") >= threshold)
    return scored.select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------
#
# Jégou, Douze, Schmid 2011, "Product quantization for nearest neighbor
# search": split each vector into m subvectors, learn a small codebook
# per subspace, store each vector as m one-byte codes, and answer
# queries in the compressed domain via an asymmetric distance
# computation (ADC) — the query stays exact, every corpus vector is
# approximated by its per-block codeword. This is THE storage story for
# ANN at 100 TB: 64 float32 dims (256 B) become m=4 codes (4 B), and
# the scan ranks against a per-query table of m×k precomputed block
# scores instead of touching raw vectors.
#
# This implementation is the spherical / inner-product flavor coherent
# with the rest of this module: per-block codebooks are trained by the
# SAME deterministic Lloyd's spherical k-means as the IVF quantizer
# (sum-centroids of round(x,6) components — exact decimal arithmetic,
# engine-portable), encoding assigns each block to its highest-cosine
# codeword (ties → larger code, same rule as ivf_assign), and the ADC
# score estimates the inner product exactly blockwise:
#
#   q·x = Σ_b q_b·x_b  ≈  Σ_b q_b·mean(codeword members)
#       = Σ_b dot(q_b, sum_cv) / n_members        (double division —
#         no decimal mean, so both engines reproduce it bitwise)
#
# with the Σ over blocks written as a fixed-order chain, never a
# shuffle-order-dependent aggregate.


def normalize(vec: Column) -> Column:
    """L2-normalize (x / ||x||) — double division per component, engine-
    deterministic. After this, inner product == cosine, which is what
    makes the blockwise ADC estimate rank like the exact cosine.

    A zero-norm vector normalizes to NULL (the degenerate-row
    convention shared with jl_project_vectorized / the Arrow
    assignment sweeps) rather than 0/0 — under ANSI mode the raw
    division would raise DIVIDE_BY_ZERO instead of yielding NaN, so
    one all-zero embedding would abort a whole pq_topk build. A
    NaN/Inf norm (non-finite components) passes the n > 0 gate —
    Spark orders NaN above every double — and produces non-finite
    components the downstream _valid_vec_rows gates already null
    out."""
    n = norm(vec)
    return F.when(n > 0, F.transform(vec, lambda x: x / n))


def _pq_blocks(df: DataFrame, m: int, sub: int, id_col: str) -> DataFrame:
    """(id, block, v[sub]) — every vector exploded into its m slices in
    one narrow pass."""
    slices = F.array(
        *[F.slice(F.col("v"), b * sub + 1, sub) for b in range(m)]
    )
    return df.select(
        F.col(id_col), F.posexplode(slices).alias("block", "v")
    )


def _pq_assign(
    blocks: DataFrame, cents: DataFrame, id_col: str, sub: int
) -> DataFrame:
    """Block-aware codeword assignment: per (vector, block), the
    highest-cosine codeword (ties → larger code — ivf_assign's rule).
    Codebooks broadcast; norms hoisted out of the candidate loop; the
    |vectors|·m·k dot products use the unrolled chain (known sub-dim,
    bit-equal to the HOF fold, no per-pair array allocation).

    Since round 6.1 this join+argmax formulation is the REFERENCE
    TWIN: pq_fit assigns through the Arrow-vectorized
    :func:`pq_assign_vectorized` (bit-identical codes, no row
    explosion, no argmax Exchange — the r6.0 measurement that kept
    this shape compared it against the INTERPRETED HOF array_max
    device, which loses at k=64; the numpy sweep doesn't), and a
    path-equivalence test pins the two."""
    e = blocks.withColumn("_nv", norm_unrolled(F.col("v"), sub))
    c = cents.select(
        F.col("block").alias("_cb"), "cent_id", "cv",
    ).withColumn("_nc", norm_unrolled(F.col("cv"), sub))
    scored = e.join(
        F.broadcast(c), e["block"] == c["_cb"]
    ).withColumn(
        "_c",
        dot_unrolled(F.col("v"), F.col("cv"), sub)
        / (F.col("_nv") * F.col("_nc")),
    )
    best = scored.groupBy(id_col, "block").agg(
        F.max(
            F.struct(F.col("_c").alias("c"), F.col("cent_id").alias("cid"))
        ).alias("_m")
    )
    return best.select(id_col, "block", F.col("_m.cid").alias("cent_id"))


def pq_fit(
    base: DataFrame,
    m: int = 8,
    k: int = 64,
    iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Train all m per-block codebooks JOINTLY in one block-exploded
    pipeline (the block id is just one more grouping key — m separate
    fits would pay m× the job overhead for identical math), then return
    (codes, codebook):

      codes    : (id, block, cent_id) — the compressed corpus, lazily
                 recomputed from the broadcast codebook (a production
                 deployment materializes this m-bytes-per-vector table
                 and drops the floats);
      codebook : (block, cent_id, cv, n) — the model artifact
                 (m·k rows), eagerly materialized into a LocalRelation
                 exactly like the IVF quantizer.

    Per-block math is identical to kmeans_centroids + ivf_assign:
    sum-centroids of round(x,6) components in exact DECIMAL(30,12)
    (order-independent, engine-portable), cosine assignment with
    ties → larger code."""
    from nashville_etl_service_backup_spark.operators import track_persist

    sub = dim // m
    blocks = track_persist(_pq_blocks(base, m, sub, id_col))
    r6 = F.transform(F.col("v"), lambda x: F.round(x, 6))
    cents = blocks.filter(F.col(id_col) < k).select(
        "block", F.col(id_col).alias("cent_id"), r6.alias("cv")
    )
    spark = base.sparkSession
    # round shape (6.1): collect the current per-block codebooks (the
    # m×k×sub artifact), tag every (vector, block) slice in the
    # Arrow-vectorized sweep — the codeword lands directly on the
    # block row, so the round is tag → posexplode → one combinable
    # decimal aggregate with NO |blocks|×k explosion, NO argmax
    # Exchange, and NO blocks⋈assigned join back. Bit-identical codes
    # and centroids to the _pq_assign join+argmax reference twin
    # (pinned by test_pq_assign_vectorized_matches_join_argmax).
    # History: round 5's argmax-carry reshape (bf3e845) was reverted
    # with the k-means one; round 6.0 kept the join because the HOF
    # array_max device lost at k=64 — the numpy sweep wins instead.
    for _ in range(iters):
        assign = pq_assign_vectorized(pq_codebook_artifact(cents))
        sums = (
            blocks.select(
                "block",
                assign(F.col("block"), F.col("v")).alias("cent_id"),
                F.posexplode(r6).alias("idx", "x"),
            )
            .groupBy("block", "cent_id", "idx")
            .agg(F.sum(F.col("x").cast("decimal(30,12)")).alias("s"))
            # degenerate slices (e.g. the NaN blocks a normalized
            # all-zero embedding produces) get a null code — drop the
            # NULL group after the aggregation (m·k·sub rows) instead
            # of a per-row Filter over the exploded corpus, same
            # surviving groups (kmeans_centroids' round-7 device)
            .filter(F.col("cent_id").isNotNull())
        )
        cents = (
            sums.groupBy("block", "cent_id")
            .agg(F.array_sort(F.collect_list(F.struct("idx", "s"))).alias("a"))
            .select(
                "block",
                "cent_id",
                F.transform("a", lambda t: t["s"].cast("double")).alias("cv"),
            )
        )
    cents = spark.createDataFrame(cents.collect(), schema=cents.schema)
    # persist the encoded corpus: it is consumed twice (the counts
    # aggregate below and the caller's ADC scoring join) and each lazy
    # recompute would replay the full assignment pass
    final_assign = pq_assign_vectorized(pq_codebook_artifact(cents))
    codes = track_persist(
        blocks.select(
            id_col,
            "block",
            final_assign(F.col("block"), F.col("v")).alias("cent_id"),
        )
    )
    counts = spark.createDataFrame(
        codes.groupBy("block", "cent_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect(),
        "block int, cent_id long, n long",
    )
    codebook = cents.join(counts, ["block", "cent_id"])
    return codes, codebook


def pq_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = 8,
    codes: int = 64,
    iters: int = 1,
    shortlist: int = 100,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """PQ ADC top-k with exact re-rank (Jégou, Douze, Schmid 2011,
    "Product quantization for nearest neighbor search" — the spherical
    / inner-product flavor coherent with this module):

      1. L2-normalize (inner product == cosine afterwards);
      2. fit m per-block spherical-k-means codebooks (pq_fit) and
         encode the corpus as (id, block, code);
      3. ADC: per block, a `codes`-row score table
         s = dot(q_block, sum_cv)/n ≈ q_block·centroid-mean, computed
         IN-ENGINE from the broadcast query and the model artifact —
         double division, no decimal mean, so both engines reproduce
         it bitwise;
      4. per-vector score = fixed-order chain sum of its m block
         scores (never a shuffle-order-dependent aggregate): pivot the
         m (block, code) rows to columns, then s0+s1+...;
      5. ADC top-`shortlist` heap, exact-cosine re-rank of the
         shortlist against the RAW vectors (cosine is normalization-
         invariant), top-k.

    100 TB plan: the scan feeds one narrow explode + one broadcast
    join + one combinable pivot-aggregate + a TakeOrderedAndProject
    heap; the re-rank reads `shortlist` raw vectors via a broadcast
    semi-join. Storage story: m bytes of codes replace 4·dim bytes of
    floats at scan time (32× here before byte-packing).

    Degenerate inputs: zero-norm CORPUS rows normalize to NULL and
    drop out of the index (pq_fit's NULL-group contract); a zero-norm
    QUERY vector has no cosine ranking at all, so the guarded re-rank
    returns an EMPTY frame rather than raising ANSI DIVIDE_BY_ZERO
    (test_pq_topk_zero_norm_query_returns_empty)."""
    sub = dim // m
    v = as_double(F.col(vec_col))
    raw = emb.select(F.col(id_col), *extra_cols, v.alias("v"))
    nv = normalize(F.col("v"))
    base = raw.select(F.col(id_col), nv.alias("v"))
    code_df, codebook = pq_fit(
        base, m=m, k=codes, iters=iters, dim=dim, id_col=id_col
    )

    qn = query.select(normalize(F.col("qv")).alias("qv"))
    qblocks = _pq_blocks(qn.select(F.lit(0).alias("_qid"), F.col("qv").alias("v")), m, sub, "_qid")
    contribs = (
        codebook.join(
            F.broadcast(qblocks.select("block", F.col("v").alias("qb"))),
            "block",
        )
        .select(
            "block",
            "cent_id",
            (dot(F.col("qb"), F.col("cv")) / F.col("n")).alias("s"),
        )
    )
    scored = code_df.join(F.broadcast(contribs), ["block", "cent_id"])
    pivoted = scored.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("block") == b, F.col("s"))).alias(f"s{b}")
            for b in range(m)
        ]
    )
    score = F.col("s0")
    for b in range(1, m):
        score = score + F.col(f"s{b}")
    short = (
        pivoted.withColumn("_adc", score)
        .orderBy(F.desc("_adc"), F.asc(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    # degenerate-query guard: a zero-norm query (or a zero-norm raw
    # shortlist row) would hit ANSI DIVIDE_BY_ZERO in the exact cosine;
    # the module's degenerate-row convention is drop-not-crash, so the
    # guarded cosine is NULL there and NULL rows never reach the top-k
    # (a zero-norm query therefore returns an EMPTY frame — pinned by
    # test_pq_topk_zero_norm_query_returns_empty). Non-degenerate
    # inputs compute the identical expression.
    nq = norm(F.col("qv"))
    nv = norm(F.col("v"))
    rerank = (
        raw.join(F.broadcast(short), id_col, "left_semi")
        .crossJoin(F.broadcast(query))
        .withColumn(
            "_cos",
            F.when(
                (nq > 0) & (nv > 0),
                dot(F.col("v"), F.col("qv")) / (nv * nq),
            ),
        )
        .filter(F.col("_cos").isNotNull())
    )
    return (
        rerank.orderBy(F.desc("_cos"), F.asc(id_col))
        .limit(k)
        .select(id_col, *extra_cols, F.round("_cos", 4).alias("cosine"))
    )


def rrf_fuse(
    frames: list[tuple[DataFrame, str]],
    id_col: str = "doc_id",
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke, Buettcher 2009) of
    ranked candidate lists — the standard hybrid-retrieval combiner
    (lexical BM25 + dense ANN for RAG): each retriever contributes
    1/(rrf_k + rank) for ids it returned, ranks from (score DESC, id)
    with id as the deterministic tiebreak; absent ids contribute 0.

    Cross-engine exactness: ranks are integers, each 1/(60+r) division
    and the few-term sum are single correctly-rounded IEEE ops, so the
    fused score is bit-identical everywhere before the final round(6).

    Scale shape: the inputs are top-N candidate lists (already reduced
    by the heavy retrievers — BM25's broadcast-stats scan, the ANN
    index probes), so every window/join here is over N rows per
    retriever, not the corpus. Returns the top-``k``
    (id, rank_0..rank_{m-1}, rrf) rows."""
    from functools import reduce

    from pyspark.sql.window import Window

    ranked = []
    for i, (df, score_col) in enumerate(frames):
        w = Window.orderBy(F.desc(score_col), F.asc(id_col))
        ranked.append(
            df.select(
                F.col(id_col),
                F.row_number().over(w).cast("long").alias(f"rank_{i}"),
            )
        )
    joined = reduce(
        lambda a, b: a.join(b, id_col, "full_outer"), ranked
    )
    score = None
    for i in range(len(frames)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"rank_{i}")),
            F.lit(0.0),
        )
        score = term if score is None else score + term
    return (
        joined.select(
            id_col,
            *[F.col(f"rank_{i}") for i in range(len(frames))],
            F.round(score, 6).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(k)
    )


def jl_project_vectorized(planes: list[list[float]]):
    """Arrow-batched JL projection: V @ P.T via one numpy matmul per
    batch instead of out_dim interpreted literal-array dot expressions
    per row — the same kernel shape as
    :func:`banded_srp_buckets_vectorized` (which replaced the identical
    bottleneck for SRP sign bits).

    Numerics: numpy's pairwise/BLAS summation can differ from the HOF
    sequential fold by ~1 ulp per dot product. The projection only
    RANKS candidates for the shortlist (the returned top-k re-ranks by
    exact cosine on raw vectors), so an ulp-level difference matters
    only if two corpus vectors tie at the shortlist boundary to within
    1e-12 of projected cosine — never observed on real embeddings."""
    p_t = np.asarray(planes, dtype=np.float64).T  # (dim, out_dim)

    @F.pandas_udf("array<double>")
    def _proj(vs: pd.Series) -> pd.Series:
        # null / wrong-width / non-finite vectors project to null (they
        # rank last in the shortlist, matching expression-path null
        # propagation — a NaN element would otherwise yield NaN
        # projections, and Spark sorts NaN ABOVE all doubles, ranking
        # the degenerate row FIRST)
        out: list = [None] * len(vs)
        vals, idxs = [], []
        for i, v in enumerate(vs):
            if v is None:
                continue
            a = np.asarray(v, dtype=np.float64)
            if a.shape == (p_t.shape[0],) and np.isfinite(a).all():
                idxs.append(i)
                vals.append(a)
        if vals:
            proj = np.vstack(vals) @ p_t
            for j, i in enumerate(idxs):
                out[i] = proj[j].tolist()
        return pd.Series(out, dtype=object)

    return _proj


def jl_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    shortlist: int = 100,
    out_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed_base: int = 100,
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """ANN via JL-compressed vectors (Johnson & Lindenstrauss 1984;
    Achlioptas 2003 for the database-friendly projections): score ALL
    vectors in the ``out_dim``-dimensional projected space (2× less
    data than the raw 64-dim scan when out_dim=32; the JL distortion
    sqrt(ln n / out_dim) picks the compression/recall point), keep a
    ``shortlist`` by projected cosine, then exact-cosine re-rank the
    shortlist against the raw vectors.

    Completes the similarity ladder's compression axis next to PQ: PQ
    quantizes to code BYTES with a trained codebook; JL projects to
    fewer FLOAT dims with a data-independent matrix — no training, so
    it works on day-one corpora and under distribution shift. At scale
    the projected vectors are the stored index (scan reads out_dim
    floats per row); only the shortlist touches raw vectors."""
    planes = [_plane(seed_base + j, dim) for j in range(out_dim)]
    v = as_double(F.col(vec_col))
    # Both sides project through the Arrow-batched matmul kernel: an
    # expression path would inline out_dim×dim float LITERALS into the
    # plan (a ~2k-node expression tree whose driver-side analysis alone
    # costs seconds per build), while the UDF closure carries the
    # planes as one numpy array.
    _proj = jl_project_vectorized(planes)
    proj = emb.withColumn("_pv", _proj(v))
    qp = F.broadcast(query.withColumn("_qp", _proj(F.col("qv"))))
    cand = proj.crossJoin(qp).withColumn(
        "_pc", cosine(F.col("_pv"), F.col("_qp"))
    )
    short = cand.orderBy(F.desc("_pc"), F.asc(id_col)).limit(shortlist)
    rer = short.withColumn("_cos", cosine(v, F.col("qv")))
    return (
        rer.orderBy(F.desc("_cos"), F.asc(id_col))
        .limit(k)
        .select(id_col, *extra_cols, F.round("_cos", 4).alias("cosine"))
    )


def pca_power_top1(
    vecs: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 8,
) -> DataFrame:
    """Top principal direction of the (uncentered) second-moment
    matrix of an embedding corpus by POWER ITERATION, trained entirely
    in-engine — the dimensionality-reduction rung of the embedding
    pipeline (whiten / compress before ANN; complements sim_ann_jl's
    data-oblivious random projection with the data-ADAPTIVE axis).
    Uncentered (Gram / corpus second moment) rather than covariance:
    embeddings are approximately centered by construction and skipping
    the mean removes a cross-engine-inexact division; the result is
    the classic "PCA on the Gram" used for embedding compression.

    Training math, engine-exact at every step:
      1. G = Σ_docs x xᵀ with components rounded to 6dp and each pair
         product quantized to floor(a·b·10¹²) — each G_ij is an exact,
         order-independent BIGINT sum (one posexplode of the per-doc
         flat outer-product array into a dim²-group map-side-
         combinable aggregate on the long fast path).
      2. The dim² sums collapse into ONE ROW holding G as
         array<array<double>> (ordered collect — decimal→double is
         deterministic), so every power step is a pure expression.
      3. v₀ = (1/√dim, …); iterate v ← round(Gv / ‖Gv‖, 6): the
         matvec is the repo's sequential-fold dot (aggregate∘zip_with
         ≡ DuckDB list_sum∘list_transform — bit-identical IEEE order),
         the norm the same fold over squares, and the per-step
         round-6 pins the iterate so both engines walk the exact same
         trajectory. Fixed ``iters`` — no data-dependent convergence.
      4. λ = Rayleigh quotient v·Gv / v·v; explained_share = λ / tr(G)
         (trace from the same exact sums).

    Output: one row per dimension (dim_idx, loading, eigenvalue,
    explained_share) — the model artifact a corpus build would
    broadcast to project/compress every embedding.

    100 TB shape: the outer-product explode is a dim²-fold row
    amplification but shuffles only dim² partial sums PER PARTITION
    (map-side combine); everything after stage 1 runs on dim² rows
    then one row. A production variant would compute partial Grams as
    Arrow-batched numpy matmuls per partition (the SRP-signature
    device) at the cost of the exact-decimal oracle contract — the
    explode path is the hash-checkable exact twin.

    Reference parity: the reference has no trainer; this extends its
    analytics surface the way a vector-serving deployment would
    (SURVEY §2 A-family), reusing db_extractor.py:51's
    rank-then-serve shape for the downstream projection."""
    x6 = F.transform(
        as_double(F.col(vec_col)), lambda e: F.round(e, 6)
    )
    # per-pair product quantized to an exact integer floor(a·b·10¹²)
    # (round-6 components → the product is mathematically a 12-dp
    # value): the Gram sums become plain BIGINT sums — order-
    # independent, engine-identical (FLOOR of the same IEEE double on
    # both sides), and on Spark's long-backed fast path instead of
    # per-row Decimal128 (the ols2_by_group split-accumulator
    # rationale; measured ~6× on 20M-row product streams). Headroom:
    # |Σ| per (i,j) < rows·10¹² for unit-scale components — good to
    # ~10⁶ vectors per partition-combined group; split hi/lo beyond.
    #
    # Round 6.1: the dim²-per-row outer-product explode (an
    # interpreted nested-transform flatten + |rows|·dim² Generate) is
    # replaced by Arrow-batched numpy PARTIAL GRAMS — each batch emits
    # dim² (p, prod) partial sums computed as
    # floor((a·b)·10¹²) in float64 (the identical IEEE ops as the
    # expression) accumulated into exact int64, so the downstream
    # SUM over order-independent integer partials is bit-identical to
    # the exploded formulation while shuffling dim² rows per BATCH
    # instead of dim² per VECTOR. (This is the "production variant"
    # the docstring's 100 TB note described — the integer-floor
    # device keeps the exact-decimal oracle contract.) Rows that are
    # null / ragged / non-finite are skipped WHOLE — a deliberate
    # divergence from the replaced expression path on out-of-contract
    # rows (it nulled individual pair PRODUCTS out of the sums, so a
    # row with one NaN component still contributed its finite-pair
    # products). In-contract inputs (exactly ``dim``-wide, finite —
    # dot_unrolled's documented precondition) are bit-identical.
    def _gram_partials(batches):
        for pdf in batches:
            acc = np.zeros(dim * dim, dtype=np.int64)
            got = False
            for v in pdf["_x6"]:
                if v is None:
                    continue
                a = np.asarray(v, dtype=np.float64)
                if a.shape != (dim,) or not np.isfinite(a).all():
                    continue
                got = True
                acc += np.floor(
                    (a[:, None] * a[None, :]) * 1e12
                ).astype(np.int64).ravel()
            if got:
                yield pd.DataFrame(
                    {"p": np.arange(dim * dim, dtype=np.int64),
                     "prod": acc}
                )

    g = (
        vecs.select(x6.alias("_x6"))
        .mapInPandas(_gram_partials, "p long, prod long")
        .groupBy("p")
        .agg(F.sum("prod").alias("gs"))
    )
    rows = g.select(
        (F.col("p") / F.lit(dim)).cast("int").alias("i"),
        (F.col("p") % F.lit(dim)).alias("j"),
        (F.col("gs").cast("double") / F.lit(1000000000000.0)).alias(
            "gv"
        ),
    )
    rowarr = rows.groupBy("i").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "gv"))),
            lambda s: s["gv"],
        ).alias("grow")
    )
    state = rowarr.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "grow"))),
            lambda s: s["grow"],
        ).alias("gmat")
    ).select(
        "gmat",
        F.array(*[F.lit(round(1.0 / dim**0.5, 6))] * dim).alias("v"),
    )
    matvec = F.transform(
        F.col("gmat"), lambda row: dot(row, F.col("v"))
    )
    for _ in range(iters):
        state = state.select("gmat", "v", matvec.alias("w"))
        state = state.select(
            "gmat",
            "w",
            F.sqrt(
                F.aggregate(
                    F.col("w"), F.lit(0.0), lambda acc, t: acc + t * t
                )
            ).alias("nrm"),
        )
        state = state.select(
            "gmat",
            F.transform(
                F.col("w"), lambda t: F.round(t / F.col("nrm"), 6)
            ).alias("v"),
        )
        # Catalyst's CollapseProject would otherwise inline each
        # iterate into the next (w appears twice in v — directly and
        # inside nrm), doubling the expression tree per step: 8 rounds
        # of a 64-wide matvec become a 2^8-duplicated plan that never
        # finishes analysis. Truncate lineage per round (the
        # connected-components device); the state is ONE row.
        state = state.localCheckpoint()
    fin = state.select("gmat", "v", matvec.alias("w"))
    ks = F.sequence(F.lit(1), F.lit(dim))
    trace = F.aggregate(
        ks,
        F.lit(0.0),
        lambda acc, k: acc
        + F.element_at(F.element_at(F.col("gmat"), k), k),
    )
    sc = fin.select(
        "v",
        F.round(
            dot(F.col("v"), F.col("w")) / dot(F.col("v"), F.col("v")), 6
        ).alias("eigenvalue"),
        trace.alias("_tr"),
    )
    return sc.select(
        F.posexplode("v").alias("dim_idx", "loading"),
        "eigenvalue",
        F.round(F.col("eigenvalue") / F.col("_tr"), 6).alias(
            "explained_share"
        ),
    ).orderBy("dim_idx")
