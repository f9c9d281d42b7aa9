"""IVF approximate-nearest-neighbor over an embedding column — the
coarse-quantizer scale path beside exact brute-force cosine top-k (the
baseline its tests measure recall against).

Index: Spark ML KMeans (seeded) fits nlist centroids over the corpus
vectors — a dimension-scale model (nlist × dim floats) that broadcasts.
Search: every corpus vector is assigned to its nearest centroid cell
with a NATIVE dot-product expression (zip_with + aggregate over the
literal centroid array — no Python in the scan); each query probes its
``nprobe`` nearest cells, exact cosine runs only within probed cells,
and a window rank takes the top-k.  Work per query drops from O(N) to
O(N · nprobe / nlist) expected — the IVF contract — while the join key
(cell id) is near-uniform by construction (KMeans balances mass).

At 100 TB: the fit runs on a sample (`fit_fraction`), the centroid
literal is a few KB broadcast inside the plan, cell assignment is one
narrow projection, and the probe join shuffles on small-int cell ids.
KMeans training is the one non-SQL step, so this operator is covered by
measured-recall pytest rather than a DuckDB oracle row (the same split
as operators/classifier.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

DEFAULT_NLIST = 16
DEFAULT_NPROBE = 4


def fit_centroids(embeddings: DataFrame, vec_col: str = "embedding",
                  nlist: int = DEFAULT_NLIST, seed: int = 7,
                  fit_fraction: float = 1.0) -> list:
    """KMeans coarse quantizer → centroids as a plain list of lists
    (dimension-scale: nlist × dim floats), ready to inline as a literal
    array expression."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = embeddings.select(vec_col)
    if fit_fraction < 1.0:
        df = df.sample(fraction=fit_fraction, seed=seed)
    train = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=nlist, seed=seed, maxIter=20).fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _centroid_literal(centroids: list) -> F.Column:
    return F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids
    ])


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda __zx, __zy: __zx * __zy),
                       F.lit(0.0), lambda __acc, __zv: __acc + __zv)


def assign_cells(df: DataFrame, centroids: list, vec_col: str = "embedding",
                 out_col: str = "cell", nprobe: int = 1) -> DataFrame:
    """Add the ``nprobe`` nearest-centroid cell ids (by dot product —
    equivalent to cosine for unit-norm corpus vectors and centroids of
    unit-norm data) as an exploded ``out_col``.  Pure native expressions:
    the centroid array is a literal, scores compute per-row in one
    projection, cells come from a slice of the score-sorted index array."""
    cents = _centroid_literal(centroids)
    vec = F.col(vec_col).cast("array<double>")
    scores = F.transform(cents, lambda __cv: _dot(vec, __cv))
    # rank cells by score descending: array_sort on (neg score, idx)
    # structs orders by fields left-to-right, so idx breaks exact ties
    pairs = F.zip_with(
        scores, F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda __sa, __sb: F.struct(
            (-__sa).alias("neg"), __sb.alias("idx")))
    ranked = F.transform(F.array_sort(pairs), lambda __st: __st["idx"])
    return df.withColumn(out_col, F.explode(F.slice(ranked, 1, nprobe)))


def ivf_topk(embeddings: DataFrame, queries: DataFrame, centroids: list,
             vec_col: str = "embedding", id_col: str = "vec_id",
             qid_col: str = "query_id", topk: int = 10,
             nprobe: int = DEFAULT_NPROBE) -> DataFrame:
    """(query_id, vec_id, cosine, rank) — exact cosine within the
    ``nprobe`` probed cells per query only."""
    corpus = assign_cells(embeddings, centroids, vec_col, "cell", nprobe=1) \
        .select(F.col(id_col), F.col(vec_col).alias("_cv"), "cell")
    probes = assign_cells(queries, centroids, vec_col, "cell", nprobe=nprobe) \
        .select(F.col(qid_col), F.col(vec_col).alias("_qv"), "cell")
    a = F.col("_qv").cast("array<double>")
    b = F.col("_cv").cast("array<double>")
    cos = (_dot(a, b)
           / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))).alias("cosine")
    joined = probes.join(corpus, "cell").select(qid_col, id_col, cos)
    # a (query, vec) pair can match through several probed cells — dedup
    best = joined.groupBy(qid_col, id_col).agg(F.max("cosine").alias("cosine"))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (best.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk))
