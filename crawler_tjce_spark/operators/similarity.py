"""Approximate-nearest-neighbor similarity search over embeddings.

Baseline: brute-force cosine top-k (exact; broadcast the query side).
Scale path: random-hyperplane LSH bucketing — probe only matching
buckets, turning O(N·Q) into O(N·Q/2^bits) expected. Hyperplanes are
seeded numpy constants baked into the plan as array literals, so the
whole pipeline stays JVM-side and deterministic.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Physical shape: broadcast the (small) query set against the (huge)
    vector table → a broadcast nested-loop that scans the vectors once,
    then per-query top-k via window. Deterministic ties → (sim desc,
    id asc).
    """
    from crawler_tjce_spark.parallel import ensure_min_parallelism

    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    # the per-row dot products are the cost; spread them over the
    # session's cores when the scan is row-group-bound (no-op at scale)
    joined = ensure_min_parallelism(vectors.select(id_col, vec_col)).crossJoin(q)
    sim = (_dot(F.col(vec_col), F.col(query_vec_col)) / (
        _norm(F.col(vec_col)) * _norm(F.col(query_vec_col))
    )).alias("cosine")
    scored = joined.select(query_id_col, id_col, sim)
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine", "rk")
    )


def hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (rows) for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def assert_vec_dim(df: DataFrame, vec_col: str, dim: int, op: str) -> None:
    """Fail fast when a caller-supplied ``dim`` doesn't match the data
    (ADVICE r3). A mismatched ``dim`` makes every hyperplane dot product
    NULL (``zip_with`` pads the shorter array with NULLs), so every sign
    bit falls to the otherwise(0) branch and ALL vectors silently land
    in bucket 0 of every table — the candidate join then degenerates to
    the full O(N²) cross with no error or log (results stay correct via
    the exact verify; the sub-quadratic scale story collapses). One
    LIMIT-1 sampled row catches it for the cost of a single-row job
    before any shuffle is planned."""
    row = df.select(F.size(F.col(vec_col)).alias("n")).limit(1).collect()
    if row and row[0]["n"] != dim:
        raise ValueError(
            f"{op}: dim={dim} does not match {vec_col!r} length {row[0]['n']}"
        )


def lsh_bucket_expr(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(v · plane_i), packed into a long."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(v, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
        bucket = bucket.bitwiseOR(bit)
    return bucket


def kmeans_centroids(
    vectors: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
) -> list[list[float]]:
    """Train an IVF coarse quantizer (Spark ML k-means, deterministic
    seed) and return the centroid list — a k-sized, bounded artifact.
    At 10^11 vectors you train on a sample; the centroid list itself
    always fits on the driver."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = vectors.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("f"))
    km = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="f")
    model = km.fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _cell_structs(vec_col: Column | str, centroids: list[list[float]]) -> Column:
    """array<struct<d: squared-euclidean distance, c: cell id>> — the
    substrate for argmin assignment (``array_min``) and nprobe probing
    (``array_sort`` + ``slice``). Centroids are baked in as literals so
    assignment runs at scan speed with no shuffle and no Python."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    cells = []
    for i, c in enumerate(centroids):
        cv = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(v, cv, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cells.append(F.struct(d.alias("d"), F.lit(i).alias("c")))
    return F.array(*cells)


def ivf_assign_expr(vec_col: Column | str, centroids: list[list[float]]) -> Column:
    """Cell id of the nearest centroid (ties → lowest cell id)."""
    return F.array_min(_cell_structs(vec_col, centroids))["c"]


def ivf_probe_expr(vec_col: Column | str, centroids: list[list[float]], nprobe: int) -> Column:
    """The ``nprobe`` nearest cell ids, nearest first (ties → cell id)."""
    return F.transform(
        F.slice(F.array_sort(_cell_structs(vec_col, centroids)), 1, nprobe), lambda s: s["c"]
    )


def cosine_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ANN top-k via IVF: probe the ``nprobe`` nearest cells per query,
    exact cosine inside them.

    The candidate join is an equi-join on the cell id (queries exploded
    to their probe list, broadcast), so the scan touches ~nprobe/n_cells
    of the data — the IVF pruning story; recall tuned by ``nprobe``.
    Pass ``centroids`` to skip k-means training (e.g. a precomputed or
    sample-initialized quantizer); assignment and probing are then pure
    column expressions — no driver collect anywhere.
    """
    if centroids is None:
        centroids = kmeans_centroids(vectors, n_cells, vec_col, seed)
    assigned = vectors.withColumn("_cell", ivf_assign_expr(vec_col, centroids))
    q = F.broadcast(
        queries.select(
            query_id_col,
            query_vec_col,
            F.explode(ivf_probe_expr(query_vec_col, centroids, nprobe)).alias("_cell"),
        )
    )
    joined = assigned.join(q, "_cell")
    sim = (_dot(F.col(vec_col), F.col(query_vec_col)) / (
        _norm(F.col(vec_col)) * _norm(F.col(query_vec_col))
    )).alias("cosine")
    scored = joined.select(query_id_col, id_col, sim)
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine", "rk")
    )


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ANN top-k: sign-LSH bucket equi-join, exact cosine inside buckets.

    Approximate — a query only sees vectors in its own bucket. At scale
    this replaces the broadcast nested-loop with a hash join keyed on
    an 8-byte bucket id; recall is tuned by ``bits`` (fewer bits →
    bigger buckets → higher recall, more compute) or multi-probe.
    """
    assert_vec_dim(vectors, vec_col, dim, "cosine_topk_lsh")
    planes = hyperplanes(dim, bits)
    v = vectors.select(id_col, vec_col).withColumn("_bkt", lsh_bucket_expr(vec_col, planes))
    q = F.broadcast(
        queries.select(query_id_col, query_vec_col).withColumn(
            "_bkt", lsh_bucket_expr(query_vec_col, planes)
        )
    )
    joined = v.join(q, "_bkt")
    sim = (_dot(F.col(vec_col), F.col(query_vec_col)) / (
        _norm(F.col(vec_col)) * _norm(F.col(query_vec_col))
    )).alias("cosine")
    scored = joined.select(query_id_col, id_col, sim)
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine", "rk")
    )
