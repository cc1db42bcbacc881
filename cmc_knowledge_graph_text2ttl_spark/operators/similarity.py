"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk``   — exact brute-force top-k against one query vector;
  the correctness baseline. Dot products via ``zip_with``/``aggregate``
  (JVM-side higher-order functions, no Python).
* ``ivf_topk``      — the scale path: IVF-style two-stage search. A small
  deterministic centroid set partitions the vectors (one broadcast join);
  a query probes only the ``n_probe`` nearest cells. At 100 TB this turns
  a full scan into a pruned scan of n_probe/n_cells of the data; cells
  are the natural partitioning key for the vector table.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_scores(
    emb: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cosine) for every vector vs the query (exact, one scan)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    return emb.select(
        F.col(id_col).alias("id"),
        (_dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * _norm(q))).alias("cosine"),
    )


def cosine_topk(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine; ties broken by id for determinism.

    orderBy+limit compiles to TakeOrderedAndProject — a per-partition
    top-k followed by a k-row merge on the driver, NOT a global sort.
    """
    return (
        cosine_scores(emb, query, vec_col, id_col)
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def assign_cells(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF cell assignment of (vec_id, embedding) rows: nearest centroid
    per vector (broadcast join) → (vec_id, embedding, cell_id).

    centroids: (cell_id, centroid: array<float>) — small by construction,
    so the cross join is a broadcast nested loop over ~sqrt(N) rows. The
    top-1 per vector is a max-struct AGGREGATE, not a window: a window
    would shuffle all N x n_cells scored rows; the aggregate combines
    map-side down to one row per vector (each vector's candidate rows are
    partition-local after the broadcast join), so the shuffle carries N
    rows. Ties break to the lowest cell_id (deterministic).
    """
    # Hoist the per-row work out of the N x n_cells loop: the vector
    # norm and float->double casts are computed once per vector (and
    # once per centroid) instead of once per (vector, centroid) pair.
    # The pre-cast arrays feed the identical zip_with/aggregate fold, so
    # every similarity is bit-identical to the previous per-pair form.
    cd = centroids.select(
        "cell_id",
        F.transform(F.col("centroid"), lambda x: x.cast("double")).alias("_cd"),
        _norm(F.col("centroid")).alias("_cn"),
    )
    base = emb.select(
        "vec_id",
        "embedding",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_vd"),
        _norm(F.col("embedding")).alias("_vn"),
    )
    joined = base.crossJoin(F.broadcast(cd))
    dot = F.aggregate(
        F.zip_with("_vd", "_cd", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sim = dot / (F.col("_vn") * F.col("_cn"))
    best = (
        joined.withColumn("sim", sim)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("sim"), (-F.col("cell_id")).alias("neg_cell"))
            ).alias("best"),
            F.first("embedding").alias("embedding"),  # constant within the group
        )
    )
    return best.select(
        "vec_id", "embedding", (-F.col("best.neg_cell")).cast("int").alias("cell_id")
    )


def seed_centroids(emb: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic seeds: the n_cells (vec_id, embedding) vectors with
    the smallest md5-hash of their id (a seeded sample without an RNG). cell_id is the
    hash rank — reproducible in any engine that has md5."""
    return (
        emb.select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("centroid"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h")
        .limit(n_cells)
        .withColumn("cell_id", F.row_number().over(__import__("pyspark").sql.Window.orderBy("h")) - 1)
        .select("cell_id", "centroid")
    )


def make_centroids(emb: DataFrame, n_cells: int, quantize: int = 0) -> DataFrame:
    """Seed centroids of (vec_id, embedding) rows refined by one Lloyd
    step (mean of assigned vectors).

    ``quantize > 0`` makes the refine step bit-deterministic across
    engines and partitionings: each coordinate is floor-scaled to an
    integer PER ROW before summing (integer sums are order-independent,
    float sums are not), and the mean is an integer division —
    ``floor(sum(floor(x*q)) / n) / q``. Use for reproducible index builds
    and oracle checking; ``quantize=0`` keeps plain float means.
    """
    seeds = seed_centroids(emb, n_cells)
    assigned = assign_cells(emb, seeds)
    per_dim = assigned.select("cell_id", F.posexplode("embedding").alias("d", "x"))
    if quantize > 0:
        q = F.lit(float(quantize))
        mean_col = (
            F.floor(F.sum(F.floor(F.col("x").cast("double") * q)) / F.count(F.lit(1)))
            / q
        ).alias("m")
    else:
        mean_col = F.avg("x").alias("m")
    refined = (
        per_dim.groupBy("cell_id", "d")
        .agg(mean_col)
        .groupBy("cell_id")
        .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
        .select(
            "cell_id",
            F.transform("dm", lambda s: s.getField("m")).alias("centroid"),
        )
    )
    return refined


def ivf_topk(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    centroids: DataFrame = None,
    assigned: DataFrame = None,
) -> DataFrame:
    """Approximate top-k over (vec_id, embedding) rows: probe the n_probe
    cells nearest to the query (of 16 k-means cells), then exact cosine
    within them. Pass pre-built `centroids`/`assigned`
    to amortize the index across queries (the production shape: the
    assignment is a materialized, cell-partitioned table)."""
    if centroids is None:
        # n_cells tiny rows consumed by TWO actions (the probe collect
        # below and the main query): persisting stops the seed-sort +
        # assign + per-dim refine tower from running twice
        centroids = make_centroids(emb, 16).persist()
    if assigned is None:
        assigned = assign_cells(emb, centroids)
    probe_cells = [
        r.id  # cosine_topk aliases the id column to "id"
        for r in cosine_topk(
            centroids, query, k=n_probe, vec_col="centroid", id_col="cell_id"
        ).collect()
    ]
    pruned = assigned.filter(F.col("cell_id").isin(probe_cells))
    return cosine_topk(pruned, query, k=k)
