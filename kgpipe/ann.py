"""Embedding similarity search (training-data pipeline ops).

Four top-k operators answer one question, the ANN_TOPK nearest neighbors
by cosine of each vector in ANN_QUERY_IDS, and all end in one ranking
window (`_rank`: cosine desc, then neighbor_id):
  brute_force_topk  exact: the queries broadcast against the corpus
  blas_topk         exact: one numpy matmul per Arrow batch of the corpus
  lsh_topk          approximate: multi-table, multi-probe sign-LSH buckets
  ivf_topk          approximate: a KMeans coarse quantizer's nearest cells
blocked_cosine_pairs is the exhaustive cosine self-join behind
dedup_embedding_cosine.

Spark-side dot products are sequential-fold builtin expressions (zip_with
+ aggregate in double), so the DuckDB oracle (the same left-to-right fold)
is bit-identical with no Python on that path; the two numpy kernels
preselect with BLAS and rescore what they emit with that fold
(`_fold_cosine`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .qreg import load, register

ANN_QUERY_IDS = (0, 1, 2, 3, 4)
ANN_TOPK = 10
PLANE_SEED = 20260816
LSH_TABLES = 8  # OR-amplification: recall = 1-(1-p^bits)^tables
# bucket fan-out 2^bits per table: grow it with the corpus so per-bucket
# candidate counts stay bounded (multi-probe's probe count grows O(bits^2)
# while the bucket count grows 2^bits, so the candidate fraction shrinks)
LSH_BITS = 5
IVF_CENTROIDS = 16
IVF_PROBE = 4  # cells each query scores: ~IVF_PROBE/IVF_CENTROIDS of the corpus
# The quantizer trains on a seeded sample of this many rows, deliberately
# below the sandbox corpus size, so the SAMPLED quantizer is the code path
# the registry entry and the recall-vs-bruteforce pin exercise
# (tests/test_registry_new.py), not a prod-only branch.
IVF_FIT_ROWS = 256
COSINE_BLOCKS = 8  # blocked_cosine_pairs: B blocks -> B(B+1)/2 block-pair tasks
DEDUP_COSINE = 0.45  # dedup_embedding_cosine's threshold (and its SQL oracle's)


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_col(a, b) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _queries(embeddings: DataFrame) -> DataFrame:
    return embeddings.filter(F.col("vec_id").isin(*ANN_QUERY_IDS))


def _scored(pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine) of (query_id, qv, neighbor_id,
    embedding) pairs, the cosine rounded to 6 places as the SQL oracle."""
    return pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_col(F.col("qv"), F.col("embedding")), 6).alias("cosine"),
    )


def _rank(scored: DataFrame) -> DataFrame:
    """The ANN_TOPK rows of each query by (cosine desc, neighbor_id): a
    per-query window, never a global sort."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ANN_TOPK)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def _unit_rows(A: np.ndarray) -> np.ndarray:
    return A / np.clip(np.linalg.norm(A, axis=1, keepdims=True), 1e-30, None)


def _fold_cosine(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise cosine of A and B (B may be one row, broadcast) in the
    oracle's arithmetic: every sum is np.cumsum's strict running sum, i.e.
    bit-identical to the left fold both Spark's F.aggregate and DuckDB's
    LIST_SUM evaluate, which a BLAS matmul's summation order is not."""
    fold = lambda X: np.cumsum(X, axis=1)[:, -1] if len(X) else np.empty(0)
    return fold(A * B) / (np.sqrt(fold(A * A)) * np.sqrt(fold(B * B)))


def brute_force_topk(embeddings: DataFrame) -> DataFrame:
    """Exact top-k neighbors of the query vectors.

    Queries (tiny) are broadcast against the corpus — the scan side streams
    once; at 100 TB the corpus side stays partitioned."""
    q = _queries(embeddings).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = embeddings.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    return _rank(_scored(c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))))


def lsh_keys(embeddings: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket) sign-LSH keys for every vector, multi-table.

    One Arrow-batched numpy pass: the (tables*bits, dims) hyperplane matrix
    is regenerated INSIDE each worker from the fixed seed and the batch's
    own vector width — no driver-side `.first()` dims probe, no per-plane
    literal arrays in the plan, and the whole key computation is one BLAS
    matmul per batch instead of tables*bits interpreted fold expressions.
    Data-independent planes => the same vector always lands in the same
    bucket at any cluster size / partitioning, whatever rows share its
    batch (lsh_topk hashes the query rows alone).
    """
    import pandas as pd

    def run(batches):
        planes = None
        weights = 1 << np.arange(LSH_BITS)
        for pdf in batches:
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            if planes is None:
                rng = np.random.default_rng(PLANE_SEED)
                planes = rng.standard_normal((LSH_TABLES * LSH_BITS, M.shape[1]))
            bits = (M @ planes.T) > 0  # (batch, tables*bits)
            ids = pdf["vec_id"].to_numpy()
            yield pd.concat(
                [
                    pd.DataFrame(
                        {
                            "vec_id": ids,
                            "tbl": t,
                            "bucket": bits[:, t * LSH_BITS : (t + 1) * LSH_BITS] @ weights,
                        }
                    )
                    for t in range(LSH_TABLES)
                ],
                ignore_index=True,
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, "vec_id long, tbl int, bucket long"
    )


def lsh_topk(embeddings: DataFrame) -> DataFrame:
    """Approximate top-k: candidates = union over LSH_TABLES hash tables of
    the buckets the query probes — an equi-join on (tbl, bucket), never a
    scan of the full corpus. Multi-table OR-amplification is the recall
    knob (a single table has a recall cliff: one flipped plane loses the
    neighbor). The query side hashes only the query rows: the planes do
    not depend on the data, so they land in the buckets the corpus pass
    gives them, and the corpus keys are read once.

    MULTI-PROBE (Lv et al., VLDB'07 — public technique): each query also
    probes every bucket within Hamming distance 2 of its own, purely a
    QUERY-side expansion — qk is (queries x tables) rows broadcast, so
    (1 + b + C(b,2))x more broadcast rows and ZERO change to the corpus
    side. For a neighbor at cosine ~0.45 (plane-agreement p ~= 0.65),
    per-table catch probability goes p^5 = 0.12 (exact bucket) -> P(<=2
    flipped planes) = 0.77, so 8-table recall ~0.63 -> ~0.999 in theory;
    measured on the test corpus it lifts recall@10 from 0.52 (exact
    bucket, round 1) to 0.88 (radius 1) to >= 0.9 (radius 2) —
    tests/test_registry_new.py::test_ann_lsh_recall_floor. At 100 TB:
    bucket the corpus table BY (tbl, bucket) so a query probe is partition
    pruning, not a shuffle; candidates/query ~= tables*(1+b+C(b,2))*
    n/2^bits."""
    b = LSH_BITS
    masks = [0] + [1 << i for i in range(b)]
    masks += [(1 << i) | (1 << j) for i in range(b) for j in range(i + 1, b)]
    queries = _queries(embeddings)
    qk = lsh_keys(queries).select(
        F.col("vec_id").alias("query_id"),
        "tbl",
        F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])).alias(
            "bucket"
        ),
    )
    cand = (
        lsh_keys(embeddings)
        .select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket")
        .join(F.broadcast(qk), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    return _rank(
        _scored(
            cand.join(
                embeddings.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
                "neighbor_id",
            ).join(F.broadcast(q), "query_id")
        )
    )


# ---------------------------------------------------------------------------
# registry entries
# ---------------------------------------------------------------------------

_ANN_SQL = f"""
WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN {ANN_QUERY_IDS}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(
           LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qv, e.v), p -> p[1] * p[2]))
           / (SQRT(LIST_SUM(LIST_TRANSFORM(q.qv, x -> x * x)))
              * SQRT(LIST_SUM(LIST_TRANSFORM(e.v, x -> x * x)))), 6) AS cosine
  FROM e JOIN q ON e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored) WHERE rnk <= {ANN_TOPK}
"""


@register("ann_bruteforce_topk", sql=_ANN_SQL)
def ann_bruteforce_topk(spark, sf):
    return brute_force_topk(load(spark, sf, "embeddings"))


@register("ann_lsh_topk", sql=None)  # approximate -> rows-only
def ann_lsh_topk(spark, sf):
    return lsh_topk(load(spark, sf, "embeddings"))


def ivf_topk(embeddings: DataFrame) -> DataFrame:
    """IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    vector to one of IVF_CENTROIDS cells; each query probes only its
    IVF_PROBE nearest cells. Centroids are tiny and live on the driver;
    the probe list is a broadcast join key. At 100 TB: persist centroids
    as a dim table, partition the corpus BY cell so a probe is a partition
    pruning, not a shuffle.

    The quantizer trains on a seeded SAMPLE (IVF_FIT_ROWS rows), never the
    full corpus: a coarse quantizer only needs cluster CENTERS, whose
    estimate converges at O(1/sqrt(sample)) — scanning 100 TB through a
    driver-coordinated iterative ML fit would dominate the whole query."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("fv"),
    )
    # fixed-size pseudo-random sample WITHOUT an exact count pass:
    # hash-order + limit is one TakeOrdered scan (top-N per partition,
    # N-row merge on the driver), deterministic under any partitioning —
    # a fraction-based .sample would need a full count() first just to
    # derive the fraction, i.e. an extra corpus scan per invocation.
    fit_set = e.orderBy(F.xxhash64("neighbor_id")).limit(IVF_FIT_ROWS)
    model = KMeans(
        k=IVF_CENTROIDS, seed=PLANE_SEED, featuresCol="fv", predictionCol="cell"
    ).fit(fit_set)
    assigned = model.transform(e).select("neighbor_id", "embedding", "cell")
    cents = np.array([c for c in model.clusterCenters()])
    probe_rows = []
    for r in _queries(embeddings).collect():
        qv = np.asarray(r["embedding"], dtype=np.float64)
        d = ((cents - qv) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:IVF_PROBE]:
            probe_rows.append((int(r["vec_id"]), [float(x) for x in qv], int(cell)))
    probes = embeddings.sparkSession.createDataFrame(
        probe_rows, "query_id long, qv array<double>, cell int"
    )
    return _rank(
        _scored(
            assigned.join(F.broadcast(probes), "cell").filter(
                F.col("neighbor_id") != F.col("query_id")
            )
        )
    )


@register("ann_ivf_topk", sql=None)  # approximate -> rows-only
def ann_ivf_topk(spark, sf):
    return ivf_topk(load(spark, sf, "embeddings"))


def blas_topk(embeddings: DataFrame) -> DataFrame:
    """Exact top-k via an Arrow-batched numpy kernel: queries ship in the
    closure; each corpus batch computes all query cosines as ONE matrix
    multiply and emits only its per-batch top-k per query (safe: ordering
    is (rounded cosine desc, neighbor_id asc), so a row cut by a batch's
    top-k can never enter the global top-k). The global window then merges
    ~(batches x queries x k) rows. Same result as brute_force_topk — shares
    its SQL oracle — but the per-row work is BLAS, not an interpreted
    fold; this is the 100 TB kernel."""
    import pandas as pd

    qrows = sorted(_queries(embeddings).collect(), key=lambda r: r["vec_id"])
    qids = np.array([r["vec_id"] for r in qrows])
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    Qn = _unit_rows(Q)

    # The BLAS preselect sums products in a different order than the
    # oracle's fold, so a cosine within ~1 ulp of a 1e-6 rounding boundary
    # could round differently and flip the driver's exact value-hash: the
    # (k+MARGIN) preselected rows are rescored with _fold_cosine and the
    # per-batch top-k re-ranked on that value. MARGIN covers rows a boundary
    # flip could promote past; flips need the unrounded value within
    # ~1e-12 of the grid edge (~1e-6 probability per row).
    MARGIN = 32

    def run(batches):
        for pdf in batches:
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            cos = np.round(_unit_rows(M) @ Qn.T, 6)  # (batch, nq)
            outs = []
            for j, qid in enumerate(qids):
                mask = ids != qid
                pre = np.lexsort((ids[mask], -cos[mask, j]))[: ANN_TOPK + MARGIN]
                rows = np.flatnonzero(mask)[pre]
                exact = np.round(_fold_cosine(M[rows], Q[j][None, :]), 6)
                order = np.lexsort((ids[rows], -exact))[:ANN_TOPK]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": int(qid),
                            "neighbor_id": ids[rows][order],
                            "cosine": exact[order],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    return _rank(
        embeddings.select("vec_id", "embedding").mapInPandas(
            run, "query_id long, neighbor_id long, cosine double"
        )
    )


@register("ann_bruteforce_blas_topk", sql=_ANN_SQL)
def ann_bruteforce_blas_topk(spark, sf):
    return blas_topk(load(spark, sf, "embeddings"))


def blocked_cosine_pairs(embeddings: DataFrame) -> DataFrame:
    """Exhaustive cosine-similarity self-join via blocked BLAS — the scale
    path for LOW similarity thresholds: every pair at cosine >=
    DEDUP_COSINE.

    Why not LSH here: at this operator's threshold (0.45, angle ~63°) the
    per-hyperplane agreement probability is ~0.65, so ANY sign-LSH banding
    sized for recall~1 generates MORE candidate pairs than the n² it is
    meant to avoid (measured on this corpus: recall-0.99 needs ~24 tables
    of 4 bits => 1.5x all pairs). LSH prefiltering only pays at near-dup
    thresholds (>=0.8); see lsh_topk for that regime. The honest exhaustive
    plan is the classic triangle block-join: split the corpus into B
    (COSINE_BLOCKS) blocks, replicate each row to the B+1 block-pairs
    containing its block (O(n*B) shuffle, B chosen so a block pair fits
    executor memory), and compute each block-pair's cosines as ONE numpy
    matrix multiply — O(n²) work with a BLAS constant factor, evenly spread
    over B(B+1)/2 tasks. No BroadcastNestedLoopJoin, no driver involvement.

    Emitted values are _fold_cosine rescores of the matmul-preselected
    pairs, so the driver's exact value-hash holds; each unordered pair is
    computed in exactly one block-pair group, so results are
    partitioning-independent.
    """
    import pandas as pd

    spark = embeddings.sparkSession
    bp = spark.createDataFrame(
        [(i, j) for i in range(COSINE_BLOCKS) for j in range(COSINE_BLOCKS) if i <= j],
        "bi int, bj int",
    )
    e = embeddings.select(
        "vec_id", "embedding", F.pmod("vec_id", F.lit(COSINE_BLOCKS)).alias("g")
    )
    left = e.join(F.broadcast(bp), e.g == bp.bi).select(
        "bi", "bj", F.lit("L").alias("side"), "vec_id", "embedding"
    )
    right = e.join(F.broadcast(bp), e.g == bp.bj).select(
        "bi", "bj", F.lit("R").alias("side"), "vec_id", "embedding"
    )
    both = left.unionByName(right)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        diag = bi == bj
        if diag:  # diagonal groups carry each row twice (L and R tags)
            lp = rp = pdf[pdf["side"] == "L"]
        else:
            lp, rp = pdf[pdf["side"] == "L"], pdf[pdf["side"] == "R"]
        L = np.array(list(lp["embedding"]), dtype=np.float64)
        R = np.array(list(rp["embedding"]), dtype=np.float64)
        lid, rid = lp["vec_id"].to_numpy(), rp["vec_id"].to_numpy()
        cos = _unit_rows(L) @ _unit_rows(R).T
        ii, jj = np.nonzero(cos >= DEDUP_COSINE - 1e-9)  # BLAS preselect
        if diag:
            # upper triangle only: each unordered pair exactly once
            keep = lid[ii] < rid[jj]
            ii, jj = ii[keep], jj[keep]
        # off-diagonal: every L x R pair is unique already (disjoint blocks)
        exact = _fold_cosine(L[ii], R[jj])
        ok = exact >= DEDUP_COSINE
        la, rb = lid[ii][ok], rid[jj][ok]
        return pd.DataFrame(
            {
                "a": np.minimum(la, rb),
                "b": np.maximum(la, rb),
                "cosine": np.round(exact[ok], 6),
            }
        )

    return both.groupBy("bi", "bj").applyInPandas(
        kernel, "a long, b long, cosine double"
    )


@register(
    "dedup_embedding_cosine",
    sql=f"""WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
                      FROM embeddings)
           SELECT a.vec_id AS a, b.vec_id AS b,
                  ROUND(
                    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.v, b.v), p -> p[1] * p[2]))
                    / (SQRT(LIST_SUM(LIST_TRANSFORM(a.v, x -> x * x)))
                       * SQRT(LIST_SUM(LIST_TRANSFORM(b.v, x -> x * x)))), 6) AS cosine
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.v, b.v), p -> p[1] * p[2]))
                 / (SQRT(LIST_SUM(LIST_TRANSFORM(a.v, x -> x * x)))
                    * SQRT(LIST_SUM(LIST_TRANSFORM(b.v, x -> x * x)))) >= {DEDUP_COSINE}""",
)
def dedup_embedding_cosine(spark, sf):
    """Embedding near-dup pairs (cosine >= DEDUP_COSINE on this corpus):
    blocked BLAS exhaustive self-join — see blocked_cosine_pairs for why
    LSH is the wrong prefilter at this threshold and what the 100 TB
    layout is."""
    return blocked_cosine_pairs(load(spark, sf, "embeddings"))
