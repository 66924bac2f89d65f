"""Similarity search over an embedding column (array<float>).

Three paths, same semantics (cosine top-k):

* brute_force_topk — exact: broadcast the (small) query set against the
  embedding table; dot/norms via JVM higher-order functions (zip_with +
  aggregate, whole-stage codegen), two-phase rank (never a global
  per-query window).  At 100 TB the scan side streams; only k rows per
  query survive each ranking phase.  This is the correctness baseline.
* lsh_topk — random-hyperplane LSH (Charikar 2002): sign-bit bucket from
  H deterministic hyperplanes (numpy matmul in one Arrow crossing,
  planes broadcast), candidates = bucket collisions, Hamming-1
  multi-probe + OR-amplified tables as recall knobs, exact cosine
  re-rank inside buckets.  Scale path: the join is on a short bucket key
  instead of a cross product; data-independent (no training).
* ivf_topk — inverted-file index: deterministic driver-side k-means on a
  bounded sample → broadcast centroids; base vectors join their nearest
  list, queries probe nprobe lists.  Data-adapted partitions — better
  recall than LSH on clustered corpora for the same candidate budget.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from ..plans.caching import persist_tracked


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns, JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_pairs_udf():
    """(a: array<float>, b: array<float>) → cosine, Arrow-batched numpy —
    bit-identical to :func:`cosine_sim` over the cast-to-double arrays.

    The JVM expression is a sequential fold (acc + x_j*y_j in element
    order); the numpy twin reproduces the exact same IEEE-double operation
    order by accumulating column-by-column across the batch (one vector op
    per dimension instead of one interpreted lambda call per element —
    measured 4× on the embedding near-dup verify join).  Equality is
    pinned by ``test_cosine_udf_matches_expression`` (exact, no
    rounding)."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        if n == 0:
            return pd.Series([], dtype="float64")
        A = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        Bm = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        dot = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        # column loop = the fold's element order, vectorized across rows
        for j in range(A.shape[1]):
            x, y = A[:, j], Bm[:, j]
            dot += x * y
            na += x * x
            nb += y * y
        sna, snb = np.sqrt(na), np.sqrt(nb)
        ok = (sna > 0) & (snb > 0)
        out = np.zeros(n)
        d = sna * snb
        np.divide(dot, d, out=out, where=ok)
        return pd.Series(np.where(ok, out, 0.0))

    return _cos


def two_phase_topk(
    scored: DataFrame, k: int, n_partial: int = 64, sim_col: str = "sim"
) -> DataFrame:
    """Scale-safe top-k per query over (query_id, vec_id, sim) rows.

    A single ``row_number() OVER (PARTITION BY query_id)`` funnels the
    ENTIRE scored corpus into n_queries tasks — a straggler wall at scale.
    Instead: phase 1 ranks within (query_id, salt-of-vec_id) — n_partial
    evenly-hashed sub-partitions per query, spill-safe sort, only k rows
    survive per sub-partition; phase 2 re-ranks the tiny survivor set
    (≤ n_partial·k rows/query).  Ties broken by vec_id → identical output
    to the global window, deterministic."""
    order = [F.desc(sim_col), F.asc("vec_id")]
    partial = (
        scored.withColumn("_salt", F.pmod(F.xxhash64("vec_id"), F.lit(n_partial)))
        .withColumn(
            "_r1",
            F.row_number().over(
                Window.partitionBy("query_id", "_salt").orderBy(*order)
            ),
        )
        .filter(F.col("_r1") <= k)
        .drop("_salt", "_r1")
    )
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return (
        partial.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", sim_col, "rank")
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_partial: int = 64,
) -> DataFrame:
    """Exact cosine top-k per query.  ``queries`` is broadcast; ranking is
    two-phase (no global per-query window)."""
    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
    ))
    base = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    scored = q.crossJoin(base).withColumn(
        "sim", cosine_sim(F.col("qv").cast("array<double>"), F.col("v").cast("array<double>"))
    )
    return two_phase_topk(scored, k, n_partial)


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=seed))
    return rng.standard_normal((dim, n_planes))


def hyperplane_bucket_udf(dim: int, n_planes: int = 12, seed: int = 7):
    planes = _planes(dim, n_planes, seed)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(LongType())
    def _bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (M @ planes) > 0  # (n, H)
        return pd.Series((signs @ weights).astype(np.int64))

    return _bucket


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    seed: int = 7,
    probe_hamming: int = 1,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k: bucket-collision candidates, exact re-rank.

    Two independent recall knobs, both standard LSH amplification:

    * Multi-probe (Lv et al. 2007): each query also probes every bucket
      within Hamming distance ``probe_hamming`` of its own (a near neighbor
      on the wrong side of one hyperplane lands one bit away) — extra
      probes instead of extra tables, base side untouched.
    * OR-amplification: ``n_tables`` independent plane sets; a pair is a
      candidate if it collides in ANY table.  Base side carries one row per
      table (n_tables× explode), queries probe each table.

    Recall on clustered data (the ANN use-case) is high at defaults; on
    isotropic-random vectors NO sublinear method retains recall — measure
    with tests/test_operators.py::test_ann_recall_floor's protocol before
    picking knobs for a corpus.  Candidates are deduplicated across tables
    before the exact re-rank."""
    if probe_hamming > 1:
        raise NotImplementedError("probe_hamming > 1 not supported")
    base_rows, q_rows = [], []
    base0 = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    q0 = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
    )
    for t in range(n_tables):
        bucket = hyperplane_bucket_udf(dim, n_planes, seed + 1000 * t)
        base_rows.append(
            base0.withColumn("tbl", F.lit(t)).withColumn("bucket", bucket(F.col("v")))
        )
        qt = q0.withColumn("tbl", F.lit(t)).withColumn("bucket", bucket(F.col("qv")))
        if probe_hamming == 1:
            probes = F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
            )
            qt = qt.withColumn("bucket", F.explode(probes))
        q_rows.append(qt)
    from functools import reduce

    base = reduce(DataFrame.unionByName, base_rows)
    q = F.broadcast(reduce(DataFrame.unionByName, q_rows))
    cand = q.join(base, ["tbl", "bucket"]).select("query_id", "qv", "vec_id", "v")
    if n_tables > 1:
        # one bucket per (vec, table) and distinct probe values ⇒ duplicates
        # only arise ACROSS tables
        cand = cand.dropDuplicates(["query_id", "vec_id"])
    scored = cand.withColumn(
        "sim",
        cosine_sim(F.col("qv").cast("array<double>"), F.col("v").cast("array<double>")),
    )
    return two_phase_topk(scored.select("query_id", "vec_id", "sim"), k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 10,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via bucketed self-join +
    exact cosine verification.  The bucketed frame is persisted: both
    sides of the self-join would otherwise re-run the Arrow bucket UDF
    over the full corpus."""
    bucket = hyperplane_bucket_udf(dim, n_planes, seed)
    base = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", bucket(F.col("v"))).transform(persist_tracked)
    a, b = base.alias("a"), base.alias("b")
    # verification cosine rides the batched numpy twin of cosine_sim
    # (bit-identical; see cosine_pairs_udf) — the interpreted zip_with/
    # aggregate lambdas were ~all of this operator's wall time
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .withColumn("sim", cosine_pairs_udf()(F.col("a.v"), F.col("b.v")))
        .filter(F.col("sim") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "sim")
    )


# --- IVF (inverted-file) ANN -------------------------------------------------


def kmeans_fit(X: np.ndarray, k: int, iters: int = 10, seed: int = 5) -> np.ndarray:
    """Deterministic Lloyd's k-means on a small sample (driver-side; the
    index is KB-scale).  Cosine geometry: rows are L2-normalized and
    assignment is max dot product.  Empty clusters re-seed to the point
    farthest from its centroid — all deterministic, so an independent
    engine given the same sample reproduces the same centroids."""
    X = np.asarray(X, dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.Generator(np.random.Philox(key=seed))
    C = Xn[rng.choice(len(Xn), size=k, replace=False)].copy()
    for _ in range(iters):
        sims = Xn @ C.T                     # (n, k)
        assign = np.argmax(sims, axis=1)
        for c in range(k):
            members = Xn[assign == c]
            if len(members) == 0:
                worst = int(np.argmin(sims[np.arange(len(Xn)), assign]))
                C[c] = Xn[worst]
                continue
            m = members.mean(axis=0)
            C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 8,
    sample_n: int = 256,
    iters: int = 10,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train the coarse quantizer from a DETERMINISTIC sample (first
    ``sample_n`` rows by id) — collect is bounded by the sample, never the
    table; at 100 TB the sample is still one broadcast-sized matrix.
    Iterative, so it runs a job (the collect) before its k-means fit."""
    rows = (
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(sample_n)
        .collect()
    )
    X = np.array([r.v for r in rows], dtype=np.float64)
    return kmeans_fit(X, n_centroids, iters, seed)


def _centroid_assign_udf(C: np.ndarray, nprobe: int = 1):
    """vec → top-``nprobe`` centroid ids by cosine (Arrow-batched matmul)."""
    from pyspark.sql.types import ArrayType, IntegerType

    Ct = C.T.copy()

    @F.pandas_udf(ArrayType(IntegerType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ Ct                       # (n, k)
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([[int(c) for c in row] for row in top])

    return _assign


def ivf_build_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 8,
    sample_n: int = 256,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Persist an IVF index: train the coarse quantizer, assign every base
    vector to its nearest-centroid list, and write the base table
    PARTITIONED BY centroid — so a later query's ``nprobe`` probes become
    parquet partition filters and only the probed lists are ever scanned
    (the build-once / query-many shape; at 100 TB a query touches
    nprobe/n_centroids of the data).  Centroids go to ``centroids.npz``
    next to the data."""
    import io
    import os

    C = ivf_centroids(
        embeddings, n_centroids, sample_n, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    assign = _centroid_assign_udf(C, nprobe=1)
    base = (
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        .withColumn("centroid", assign(F.col("v"))[0])
    )
    base.write.mode("overwrite").partitionBy("centroid").parquet(f"{path}/base")
    os.makedirs(path, exist_ok=True)
    buf = io.BytesIO()
    np.savez(buf, C=C)
    with open(os.path.join(path, "centroids.npz"), "wb") as f:
        f.write(buf.getvalue())
    return C


def ivf_load_index(spark, path: str) -> tuple[np.ndarray, DataFrame]:
    """(centroids, base_df) from a persisted IVF index."""
    C = np.load(f"{path}/centroids.npz")["C"]
    return C, spark.read.parquet(f"{path}/base")


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Query a persisted IVF index.  The probed centroid ids are computed
    driver-side from the (broadcast-sized) query set and pushed as a
    LITERAL isin filter, so Catalyst prunes the base scan to the probed
    partitions (PartitionFilters — asserted in tests); exact cosine
    re-rank inside them via the two-phase top-k."""
    C, base = ivf_load_index(spark, path)
    q_assign = _centroid_assign_udf(C, nprobe=nprobe)
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qv"),
        )
        .withColumn("centroid", F.explode(q_assign(F.col("qv"))))
    )
    probed = sorted({int(r.centroid) for r in q.select("centroid").distinct().collect()})
    pruned = base.filter(F.col("centroid").isin(probed))
    scored = F.broadcast(q).join(pruned, "centroid").withColumn(
        "sim",
        cosine_sim(
            F.col("qv").cast("array<double>"), F.col("v").cast("array<double>")
        ),
    )
    return two_phase_topk(scored.select("query_id", "vec_id", "sim"), k)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    sample_n: int = 256,
    seed: int = 5,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF approximate cosine top-k (the classic coarse-quantizer scale
    path): base vectors live in their nearest-centroid list; queries probe
    the ``nprobe`` nearest lists; exact cosine re-rank inside the probed
    lists via the two-phase top-k.  Versus LSH: data-adapted partitions
    (better recall on clustered corpora), at the cost of training the
    quantizer (deterministic sample, driver-side KB-scale k-means)."""
    if centroids is None:
        centroids = ivf_centroids(
            embeddings, n_centroids, sample_n, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    base_assign = _centroid_assign_udf(centroids, nprobe=1)
    q_assign = _centroid_assign_udf(centroids, nprobe=nprobe)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    ).withColumn("centroid", base_assign(F.col("v"))[0])
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
        )
        .withColumn("centroid", F.explode(q_assign(F.col("qv"))))
    )
    scored = q.join(base, "centroid").withColumn(
        "sim",
        cosine_sim(F.col("qv").cast("array<double>"), F.col("v").cast("array<double>")),
    )
    return two_phase_topk(scored.select("query_id", "vec_id", "sim"), k)


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.35,
    sample_n: int = 256,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-partitioned semantic deduplication
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication" — public paper): embeddings are
    coarse-quantized by the deterministic k-means quantizer
    (``ivf_centroids``), pairwise exact cosine runs ONLY within a
    cluster, and a vector is dropped when a lower-id vector in the same
    cluster is ≥ ``threshold`` similar.  Keep rule is canonical-min-id —
    deterministic and re-derivable by an independent engine.

    Scale shape: the cross product never materializes globally — the
    self-join key is the centroid id, so the work is Σ|cluster|² spread
    over clusters (pick ``n_centroids`` ∝ corpus/target-cluster-size to
    bound the quadratic term; AQE splits skewed clusters).  The dropped
    set is a semi-join back on vec_id.  At 100 TB this is the standard
    SemDeDup layout: cluster-partitioned shuffle, per-cluster pairwise,
    no driver-side data motion beyond the bounded centroid sample.

    Returns one row per input vector: (vec_id, centroid, keep).
    """
    if centroids is None:
        centroids = ivf_centroids(
            embeddings, n_centroids, sample_n, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
    assign = _centroid_assign_udf(centroids, nprobe=1)
    base = (
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        .withColumn("centroid", assign(F.col("v"))[0])
        .transform(persist_tracked)
    )
    a, b = base.alias("a"), base.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.centroid") == F.col("b.centroid"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .withColumn(
            "sim",
            cosine_sim(
                F.col("a.v").cast("array<double>"),
                F.col("b.v").cast("array<double>"),
            ),
        )
        .filter(F.col("sim") >= F.lit(threshold))
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        base.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("centroid").cast("int").alias("centroid"),
            F.col("_dropped").isNull().alias("keep"),
        )
    )
