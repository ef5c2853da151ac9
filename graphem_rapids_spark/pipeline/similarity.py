"""Similarity search over an embedding column (array<float>).

- **brute-force cosine top-k** — the exact baseline: broadcast the
  query block, JVM-side dot products (F.aggregate/zip_with — no
  Python in the hot path), per-query top-k window. Reuses the E5 kNN
  machinery (embedding/knn.py) with cosine instead of sqeuclidean.
- **IVF (inverted-file) top-k** — the scale path, mirroring the
  reference's ivf_flat regime (``embedder_cuvs.py:264-272``):
  k-means-lite centroids (hash-seeded init, a few Lloyd iterations,
  all DataFrame aggs), assign every vector to its nearest centroid,
  probe only ``n_probe`` nearest cells per query. Search cost drops
  from O(N) to O(N·n_probe/n_cells) per query.
- **embedding cosine near-dup join** — all pairs with cosine ≥ τ
  (dedup by semantic similarity); exact, or LSH-bucketed via
  knn.py's hyperplane bands for scale.

Cosine here = dot(a,b)/(‖a‖‖b‖) computed in float64.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Window

from graphem_rapids_spark.checkpoint import eager_checkpoint as _eager_ckpt
from graphem_rapids_spark.checkpoint import owned, persist
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def _as_double(col):
    return F.transform(col, lambda v: v.cast("double"))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """(qid, rid, cosine, rank) — exact brute-force cosine top-k,
    self-pairs excluded, ties broken by rid."""
    q = queries.select(
        F.col(id_col).alias(query_id), _as_double(F.col(vec_col)).alias("_qv")
    )
    r = vectors.select(F.col(id_col).alias("rid"), _as_double(F.col(vec_col)).alias("_rv"))
    j = (
        r.crossJoin(F.broadcast(q))
        .filter(F.col(query_id) != F.col("rid"))
        .select(
            query_id,
            "rid",
            (_dot(F.col("_qv"), F.col("_rv")) / (_norm(F.col("_qv")) * _norm(F.col("_rv")))).alias(
                "_cos"
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(), F.col("rid").asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rid", F.round("_cos", 6).alias("cosine"), "rank")
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_a, vec_b, cosine) — exact all-pairs cosine ≥ threshold.
    O(n²) dot products; use the LSH variant beyond ~10⁵ vectors."""
    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    a = v.select(F.col(id_col).alias("vec_a"), F.col("_v").alias("_va"))
    b = v.select(F.col(id_col).alias("vec_b"), F.col("_v").alias("_vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine",
            _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb"))),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def plan_lsh_geometry(
    n: int, threshold: float, target_recall: float = 0.9
) -> tuple[int, int]:
    """(n_bands, n_planes) for hyperplane-LSH near-dup at a given
    corpus size and cosine threshold.

    - **planes** bound bucket size: 2^planes buckets per band, so
      planes ≈ log2(n/128) keeps expected buckets ≈128 rows — the
      per-band candidate cost stays ~bands·n·128 instead of n²/2^planes
      exploding when a fixed geometry meets a 10⁹-row corpus.
    - **bands** buy recall: a plane agrees w.p. p = 1-θ/π at the
      threshold angle θ = acos(threshold); a band needs all planes
      (p^planes), any band suffices, so
      bands = ln(1-target)/ln(1-p^planes), clamped to [8, 64] (the cap
      surfaces an infeasible ask as lower recall rather than an
      unbounded cost blowup)."""
    import math

    planes = min(24, max(4, math.ceil(math.log2(max(n, 2) / 128))))
    p_plane = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_band = p_plane**planes
    if p_band >= 1.0:
        return 8, planes
    bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
    return min(64, max(8, bands)), planes


def cosine_near_dup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_bands: int = 20,
    n_planes: int = 5,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_a, vec_b, cosine) — approximate near-dup pairs at scale:
    hyperplane-LSH banding (embedding/knn.py machinery) generates
    candidate pairs from shared (band, signature) buckets, then an
    exact cosine verify keeps pairs ≥ threshold. Cost is Σ(bucket²)
    instead of n² — the 100 TB shape.

    Band geometry sets recall at the threshold: a plane agrees with
    probability 1-θ/π (θ = pair angle), a band needs all n_planes to
    agree, any of n_bands suffices. Defaults 20×5 give ≈0.88 recall at
    cos=0.4 (and →1 for closer pairs); for high-threshold dedup
    (cos≥0.9, agreement ≈0.86/plane) the same geometry is ≈1-1e-8.
    Raise n_planes to shrink buckets (cost) at the price of recall."""
    from graphem_rapids_spark.embedding.knn import _band_signatures

    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    sigs = _band_signatures(v, id_col, "_v", dim, n_bands, n_planes, seed)
    cand = (
        sigs.select(F.col(id_col).alias("vec_a"), "band", "sig")
        .join(sigs.select(F.col(id_col).alias("vec_b"), "band", "sig"), ["band", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    a = v.select(F.col(id_col).alias("vec_a"), F.col("_v").alias("_va"))
    b = v.select(F.col(id_col).alias("vec_b"), F.col("_v").alias("_vb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn(
            "cosine",
            _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb"))),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def cosine_near_dup_join(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    method: str = "auto",
    n_vectors: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **lsh_kw,
) -> DataFrame:
    """Size-based exact↔LSH switch for near-dup pairs, mirroring
    knn_join's auto strategy (reference index-type selection,
    ``embedder_cuvs.py:255-272``): exact all-pairs is bit-stable and
    fine up to EXACT_ALLPAIRS_MAX_ROWS; beyond that the all-pairs
    crossJoin is a scale-killer (pair volume grows quadratically —
    unlike bounded-output kNN, which keeps the higher
    EXACT_KNN_MAX_ROWS cap) and the banded-LSH candidate path takes
    over."""
    if method == "auto":
        if n_vectors is None:
            n_vectors = vectors.count()
        from graphem_rapids_spark import session

        method = (
            "exact"
            if n_vectors <= session.EXACT_ALLPAIRS_MAX_ROWS
            else "lsh"
        )
    if method == "exact":
        return cosine_near_dup_pairs(vectors, threshold, id_col=id_col, vec_col=vec_col)
    if "n_bands" not in lsh_kw and "n_planes" not in lsh_kw:
        # size- and threshold-aware geometry (see plan_lsh_geometry) —
        # a fixed 20×5 grid that is right at 10⁵ rows is a candidate
        # explosion at 10⁹
        if n_vectors is None:
            n_vectors = vectors.count()
        lsh_kw["n_bands"], lsh_kw["n_planes"] = plan_lsh_geometry(
            n_vectors, threshold
        )
    return cosine_near_dup_pairs_lsh(
        vectors, threshold, dim=dim, id_col=id_col, vec_col=vec_col, **lsh_kw
    )


def quantize_int8(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, scale, q) — per-vector symmetric int8 scalar
    quantization, the standard ANN index compression (4× over f32):
    scale = max|x|/127, q_i = round(x_i/scale) ∈ [-127, 127].
    Entirely narrow (one higher-order-function pass, zero shuffles —
    quantizing a 100 TB embedding table is a map-only job). The
    rounding (half-away-from-zero) and IEEE divide are identical
    across engines, so q — the full integer codes, not a summary — is
    oracle-checked. Zero vectors quantize to all-zero codes."""
    v = _as_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return vectors.select(
        F.col(id_col), F.round(scale, 9).alias("scale"), q.alias("q")
    )


def jl_sign_matrix(k: int, dim: int, seed: int = 5) -> list[list[float]]:
    """k×dim Rademacher (±1) sign matrix from the deterministic mixer
    (Achlioptas 2001 database-friendly JL projections, public record):
    row j, column i gets sign(mix(i·k + j) - 0.5). Computed driver-
    side as plain literals — k·dim ≤ a few thousand — and inlined
    verbatim into both engines."""
    from graphem_rapids_spark.functions import mix_py

    return [
        [1.0 if mix_py(i * k + j, seed) < 0.5 else -1.0 for i in range(dim)]
        for j in range(k)
    ]


def project_jl(
    vectors: DataFrame,
    k: int = 16,
    dim: int = 64,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, proj) — Johnson–Lindenstrauss random projection to k
    dims: proj_j = Σ_i x_i·s_ji / √k with a Rademacher sign matrix.
    The dimensionality-reduction step before ANN indexing at scale.
    Narrow map-only pass; the sign matrix is a broadcast-free literal
    (k·dim doubles baked into the plan). The left-fold dot product
    matches the SQL oracle's list_reduce fold order exactly, so proj
    is bit-stable across engines before its 6-decimal rounding."""
    sgn = F.array(
        *[
            F.array(*[F.lit(s) for s in row])
            for row in jl_sign_matrix(k, dim, seed)
        ]
    )
    v = _as_double(F.col(vec_col))
    inv_sqrt_k = 1.0 / (k**0.5)
    proj = F.transform(
        sgn,
        lambda row: F.round(
            F.aggregate(
                F.zip_with(v, row, lambda x, s: x * s), F.lit(0.0), lambda a, b: a + b
            )
            * F.lit(inv_sqrt_k),
            6,
        ),
    )
    return vectors.select(F.col(id_col), proj.alias("proj"))


def semdedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 8,
    dim: int = 64,
    seed: int = 7,
    iters: int = 0,
    init: str = "mix",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, keep) — SemDeDup (Abbas et al. 2023, public
    arXiv): semantic deduplication by clustering embeddings, then
    dropping every vector that has a within-cluster neighbor with
    cosine ≥ ``threshold`` and a smaller id (the canonical survivor
    rule). Returns ALL vectors with their cell and a keep flag so the
    caller can both filter and audit the drop rate.

    Scale shape: the O(n²) cosine matrix of naive near-dup becomes
    Σ(cell²) — cells partition the corpus, so pair generation is a
    self-join co-partitioned on ``cell`` (one shuffle on a balanced
    key), never a crossJoin. With ``init='mix', iters=0`` the
    clustering is exact integer arithmetic and the whole operator is
    bit-reproducible across engines; Lloyd-refined cells (iters>0)
    are the quality default at production scale."""
    assign, _ = ivf_build(
        vectors, n_cells, dim, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col, init=init,
    )
    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v")).join(
        assign, id_col
    )
    a = v.select(F.col(id_col).alias("_ida"), "cell", F.col("_v").alias("_va"))
    b = v.select(F.col(id_col).alias("_idb"), "cell", F.col("_v").alias("_vb"))
    dropped = (
        a.join(b, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .withColumn(
            "_cos",
            _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb"))),
        )
        .filter(F.col("_cos") >= threshold)
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        v.select(id_col, "cell")
        .join(dropped, id_col, "left")
        .select(id_col, "cell", F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"))
    )


@owned
def ivf_build(
    vectors: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    iters: int = 3,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "xxhash",
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: (assignments(vec_id, cell), centroids(cell,
    centroid)). K-means with deterministic hash-sampled init and
    ``iters`` Lloyd rounds — every step is a join + groupBy (no
    driver-side data beyond the k×dim centroid table, which is tiny
    and broadcast)."""
    v = persist(vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v")))
    if init == "mix":
        # cross-engine-replayable init: the n_cells vectors with the
        # smallest mixer value become the centroids VERBATIM (no
        # averaging → no float-summation divergence); with iters=0 the
        # whole index build is bit-exact against the DuckDB oracle
        from graphem_rapids_spark.functions import mix_uniform

        u = mix_uniform(F.col(id_col), seed)
        # orderBy().limit() → TakeOrdered (per-partition top-n + tiny
        # driver merge), NOT a single-partition global window; the
        # row_number window then runs over n_cells rows only
        top = v.withColumn("_u", u).orderBy(F.col("_u").asc(), F.col(id_col).asc()).limit(n_cells)
        cents = top.select(
            (
                F.row_number().over(Window.orderBy(F.col("_u").asc(), F.col(id_col).asc())) - 1
            ).alias("cell"),
            F.col("_v").alias("centroid"),
        )
    else:
        cents = (
            v.orderBy(F.xxhash64(id_col, F.lit(seed)))
            .limit(n_cells)
            .select(F.col("_v").alias("centroid"))
            .withColumn(
                "cell", F.row_number().over(Window.orderBy(F.xxhash64("centroid"))) - 1
            )
            .select("cell", "centroid")
        )
    for _ in range(iters):
        d2 = v.crossJoin(F.broadcast(cents)).withColumn(
            "_d2",
            F.aggregate(
                F.zip_with("_v", "centroid", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, x: s + x,
            ),
        )
        w = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("cell").asc())
        assign = d2.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
        cents = (
            assign.groupBy("cell")
            .agg(*[F.avg(F.col("_v").getItem(d)).alias(f"c{d}") for d in range(dim)])
            .select("cell", F.array(*[F.col(f"c{d}") for d in range(dim)]).alias("centroid"))
        )
    d2 = v.crossJoin(F.broadcast(cents)).withColumn(
        "_d2",
        F.aggregate(
            F.zip_with("_v", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("cell").asc())
    assign = (
        d2.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, "cell")
        # the assignment table must be computed anyway; materializing
        # it frees the cached vector projection (no more consumers)
        .transform(_eager_ckpt)
    )
    # cents is k×dim (tiny) but its lineage is the whole Lloyd chain
    # over v — pin it so the result no longer reads the cache
    cents = cents.transform(_eager_ckpt)
    return assign, cents


def ivf_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
    iters: int = 3,
    init: str = "xxhash",
) -> DataFrame:
    """(qid, rid, cosine, rank) — IVF-accelerated approximate cosine
    top-k: probe the n_probe nearest cells per query only."""
    assign, cents = ivf_build(
        vectors, n_cells, dim, iters=iters, seed=seed, id_col=id_col, vec_col=vec_col, init=init
    )
    q = queries.select(F.col(id_col).alias(query_id), _as_double(F.col(vec_col)).alias("_qv"))
    qd = q.crossJoin(F.broadcast(cents)).withColumn(
        "_d2",
        F.aggregate(
            F.zip_with("_qv", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )
    wq = Window.partitionBy(query_id).orderBy(F.col("_d2").asc(), F.col("cell").asc())
    probes = (
        qd.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= n_probe)
        .select(query_id, "_qv", "cell")
    )
    r = vectors.select(F.col(id_col).alias("rid"), _as_double(F.col(vec_col)).alias("_rv")).join(
        assign.select(F.col(id_col).alias("rid"), "cell"), "rid"
    )
    j = (
        r.join(F.broadcast(probes), "cell")
        .filter(F.col(query_id) != F.col("rid"))
        .select(
            query_id,
            "rid",
            (_dot(F.col("_qv"), F.col("_rv")) / (_norm(F.col("_qv")) * _norm(F.col("_rv")))).alias(
                "_cos"
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(), F.col("rid").asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rid", F.round("_cos", 6).alias("cosine"), "rank")
    )


@owned
def kmeans_int8(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster, n_members, inertia, centroid) — Lloyd k-means over
    int8-quantized codes (:func:`quantize_int8`) with EXACT integer
    arithmetic: squared-L2 assignment, floor-mean centroid updates,
    BIGINT inertia. Quantized k-means is the production coarse-
    quantizer trainer for IVF ANN indexes (the int8 lattice keeps
    every engine bit-identical — no float summation-order drift).

    Engine shape: centroids live on the driver (k×dim ints — the same
    bounded-collect contract as MLlib KMeans) and enter each pass as
    array literals; one iteration = ONE scan + ONE k-row hash
    aggregate computing all per-dimension sums columnar (no dim
    explode, no shuffle beyond the k-row agg). Initialization =
    the k smallest ids (deterministic). Empty clusters keep their
    previous centroid. Output: per surviving cluster, member count,
    inertia (Σ squared distance to the assignment centroids), and the
    post-update centroid.

    Spark-first analog of the reference's IVF index build
    (``embedder_cuvs.py:274-313`` trains an IVF coarse quantizer);
    distributed Lloyd via broadcast centroids replaces cuVS's on-GPU
    k-means."""
    spark = vectors.sparkSession
    q = persist(
        quantize_int8(vectors, id_col, vec_col)
        .select(F.col(id_col).alias("_id"), F.col("q").cast("array<long>").alias("_q"))
    )
    init = q.orderBy("_id").limit(k).collect()
    if not init:
        raise ValueError("kmeans_int8: input table is empty")
    # fewer rows than k: every point seeds its own cluster (matches
    # the MLlib contract of k <= n)
    k = min(k, len(init))
    cents = [[int(x) for x in r["_q"]] for r in init]
    dim = len(cents[0])

    def assign():
        cs = F.array(*[F.array(*[F.lit(v) for v in c]) for c in cents])
        d = F.expr(
            "transform(_cs, c -> aggregate(zip_with(_q, c, "
            "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x))"
        )
        return (
            q.withColumn("_cs", cs)
            .withColumn("_d", d)
            .select(
                "_id",
                "_q",
                F.array_min("_d").alias("dist"),
                (F.array_position("_d", F.array_min("_d")) - 1).cast("long").alias("cluster"),
            )
        )

    stats: list = []
    for _ in range(iters):
        rows = (
            assign()
            .groupBy("cluster")
            .agg(
                F.count("*").alias("n_members"),
                F.sum("dist").alias("inertia"),
                *[F.sum(F.element_at("_q", i + 1)).alias(f"_s{i}") for i in range(dim)],
            )
            .collect()
        )
        new = {
            int(r["cluster"]): [int(r[f"_s{i}"]) // int(r["n_members"]) for i in range(dim)]
            for r in rows
        }
        cents = [new.get(j, cents[j]) for j in range(k)]
        stats = sorted(
            (int(r["cluster"]), int(r["n_members"]), int(r["inertia"])) for r in rows
        )
    final = [(c, n, i, cents[c]) for (c, n, i) in stats]
    return spark.createDataFrame(
        final, "cluster long, n_members long, inertia long, centroid array<long>"
    )


@owned
def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m_sub: int = 8,
    k_codes: int = 16,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, rid, approx_d2, rank) — IVF-PQ approximate nearest
    neighbours: the third rung of the reference's ANN ladder
    (``embedder_cuvs.py:264-272``: brute_force < 100K, ivf_flat to
    1M, **ivf_pq above 1M**). Product quantization over int8-
    quantized RESIDUALS (vector − coarse centroid): ``m_sub``
    subspaces × ``k_codes`` codewords trained by integer Lloyd
    (BIGINT squared-L2, floor-mean updates — the
    :func:`kmeans_int8` discipline, so the whole index and search
    are bit-exact across engines and vs the SQL oracle), then ADC
    search: per query, a (probed cell × subspace × codeword) integer
    distance table; a candidate's distance is the sum of its M table
    lookups — BIGINT end to end, no float anywhere past the int8
    grid.

    Engine shape at 100 TB: codebooks and coarse centroids are
    driver-bounded literals (n_cells·dim + m_sub·k_codes·subdim ints
    — the MLlib KMeans bounded-collect contract); the encoded table
    is n×m_sub small codes (the 8–32× memory compression PQ exists
    for); search joins the broadcastable ADC table against encodings
    keyed on (cell, m, code) — candidate work ∝ probed-cell size,
    never O(n)."""
    spark = vectors.sparkSession
    q = persist(
        quantize_int8(vectors, id_col, vec_col)
        .select(F.col(id_col).alias("_id"), F.col("q").cast("array<long>").alias("_q"))
    )
    n_init = max(n_cells, k_codes)
    init = q.orderBy("_id").limit(n_init).collect()
    if not init:
        raise ValueError("ivfpq_topk: input table is empty")
    n_cells = min(n_cells, len(init))
    k_codes = min(k_codes, len(init))
    coarse = [[int(x) for x in r["_q"]] for r in init[:n_cells]]
    dim = len(coarse[0])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sub = dim // m_sub
    cs = F.array(*[F.array(*[F.lit(v) for v in c]) for c in coarse])
    d_expr = F.expr(
        "transform(_cs, c -> aggregate(zip_with(_q, c, "
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x))"
    )

    def _subspaces(df, out_id):
        """Residual vs assigned coarse centroid, split into
        (out_id, cell, m, sv) subvector rows."""
        assigned = (
            df.withColumn("_cs", cs)
            .withColumn("_d", d_expr)
            .withColumn(
                "cell",
                (F.array_position("_d", F.array_min("_d")) - 1).cast("long"),
            )
            .withColumn(
                "_res",
                F.expr(
                    "zip_with(_q, element_at(_cs, CAST(cell AS INT) + 1), (a, b) -> a - b)"
                ),
            )
        )
        return assigned.select(
            F.col("_id").alias(out_id),
            "cell",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).cast("long").alias("m"),
                            F.slice("_res", m * sub + 1, sub).alias("sv"),
                        )
                        for m in range(m_sub)
                    ]
                )
            ).alias("_e"),
        ).select(out_id, "cell", F.col("_e.m").alias("m"), F.col("_e.sv").alias("sv"))

    subs = persist(_subspaces(q, "rid"))
    # codebook init: residual subvectors of the k_codes smallest ids,
    # codeword index = rank of the id (deterministic, mirrors the
    # coarse init)
    init_ids = sorted(int(r["_id"]) for r in init[:k_codes])
    code_of = {vid: c for c, vid in enumerate(init_ids)}
    init_rows = subs.filter(F.col("rid").isin(init_ids)).collect()
    books: list[list[list[int]]] = [[None] * k_codes for _ in range(m_sub)]
    for r in init_rows:
        books[int(r["m"])][code_of[int(r["rid"])]] = [int(x) for x in r["sv"]]

    def _code_col():
        cb = F.array(
            *[
                F.array(*[F.array(*[F.lit(v) for v in cw]) for cw in books[m]])
                for m in range(m_sub)
            ]
        )
        return (
            F.expr(
                "transform(element_at(_cb, CAST(m AS INT) + 1), c -> "
                "aggregate(zip_with(sv, c, (a, b) -> (a - b) * (a - b)), "
                "0L, (acc, x) -> acc + x))"
            ),
            cb,
        )

    for _ in range(pq_iters):
        dd, cb = _code_col()
        rows = (
            subs.withColumn("_cb", cb)
            .withColumn("_dd", dd)
            .withColumn(
                "code",
                (F.array_position("_dd", F.array_min("_dd")) - 1).cast("long"),
            )
            .groupBy("m", "code")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.element_at("sv", i + 1)).alias(f"_s{i}") for i in range(sub)],
            )
            .collect()
        )
        new = {
            (int(r["m"]), int(r["code"])): [
                int(r[f"_s{i}"]) // int(r["n"]) for i in range(sub)
            ]
            for r in rows
        }
        books = [
            [new.get((m, c), books[m][c]) for c in range(k_codes)]
            for m in range(m_sub)
        ]
    dd, cb = _code_col()
    enc = (
        subs.withColumn("_cb", cb)
        .withColumn("_dd", dd)
        .withColumn(
            "code", (F.array_position("_dd", F.array_min("_dd")) - 1).cast("long")
        )
        .select("rid", "cell", "m", "code")
        .transform(_eager_ckpt)
    )

    # query side: same quantization, n_probe nearest coarse cells,
    # per-probe residual subvectors, ADC distance table over every
    # codeword (k_codes rows per (qid, cell, m) — broadcastable)
    qq = quantize_int8(queries, id_col, vec_col).select(
        F.col(id_col).alias("_id"), F.col("q").cast("array<long>").alias("_q")
    )
    qprobe = (
        qq.withColumn("_cs", cs)
        .withColumn("_d", d_expr)
        .select(F.col("_id").alias("qid"), "_q", "_cs", F.posexplode("_d").alias("cell", "d2"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("cell").asc())
    qres = (
        qprobe.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= n_probe)
        .withColumn(
            "_res",
            F.expr(
                "zip_with(_q, element_at(_cs, CAST(cell AS INT) + 1), (a, b) -> a - b)"
            ),
        )
    )
    qsub = qres.select(
        "qid",
        F.col("cell").cast("long").alias("cell"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("long").alias("m"),
                        F.slice("_res", m * sub + 1, sub).alias("sv"),
                    )
                    for m in range(m_sub)
                ]
            )
        ).alias("_e"),
    ).select("qid", "cell", F.col("_e.m").alias("m"), F.col("_e.sv").alias("sv"))
    dd_q, cb_q = _code_col()
    adc = (
        qsub.withColumn("_cb", cb_q)
        .withColumn("_dd", dd_q)
        .select("qid", "cell", "m", F.posexplode("_dd").alias("codei", "d2m"))
        .select("qid", "cell", "m", F.col("codei").cast("long").alias("code"), "d2m")
    )
    cand = (
        enc.join(F.broadcast(adc), ["cell", "m", "code"])
        .groupBy("qid", "rid")
        .agg(F.sum("d2m").alias("approx_d2"))
        .filter(F.col("qid") != F.col("rid"))
    )
    wk = Window.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("rid").asc())
    out = (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", "rid", "approx_d2", "rank")
    )
    return out


@owned
def pca_power_int8(
    vectors: DataFrame,
    iters: int | list[int] = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    components: int = 1,
) -> DataFrame:
    """(component, dim, v_micro, lam) — top-``components`` principal
    components of the int8-quantized embedding cloud via power
    iteration with exact integer arithmetic at every accumulation (the
    embedding-analysis companion to :func:`quantize_int8` /
    :func:`project_jl`; the reference's spectral surface runs
    n_components-wide eigendecompositions on GPU dense tensors — this
    is its k>1 path).

    One distributed pass builds the centered scatter matrix from
    integer sufficient statistics ``C_ij = n·Σq_iq_j − S_iS_j``
    (BIGINT), floor-divided by n via pmod (both engines' ``%`` is
    C-style, so ``(c − ((c % n + n) % n)) / n`` is an exact integer
    floor division — no float, no negative-division semantics
    mismatch). Pair statistics are one map-side upper-triangle explode
    (d(d+1)/2 structs per row — no positional self-join) into an
    (i, j)-keyed aggregate. The d(d+1)/2 entries are collected once and
    mirrored into a d×d matrix of Python ints; every power round then
    runs on the driver (:func:`_power_rounds`). The iteration state is
    d×d whatever the number of vectors, so this holds at any n — as
    MLlib's ``RowMatrix.computePrincipalComponents`` does with its
    Gramian.

    Each matvec ``u = B·v`` sums BIGINT·micro-unit products
    (|u| ≤ 64·B_max·1e6 < 2⁵³ for n ≤ 4·10⁶ vectors, so the ONE
    int→double conversion per element is exact); the only rounded
    conversion is the decimal Σu² feeding IEEE sqrt, identical
    cross-engine. v re-quantizes to 1e6 micro-units per round.
    Components beyond the first come from per-round Gram–Schmidt
    deflation: ``u`` is orthogonalized against every already-extracted
    component ``w`` by subtracting ``round((Σu·w / Σw·w) · w_i)`` —
    a ratio of exact integer sums, one rounded double product per
    element, subtracted as an integer. The trajectory is therefore
    bit-reproducible and the SQL oracle replays all components exactly.

    ``iters`` may be a per-component list: later components converge
    at the (λ_{k+1}/λ_k) Rayleigh ratio of the DEFLATED spectrum,
    which on flat spectra is worse than the leading gap, so they earn
    a larger fixed budget (the registry uses [40, 120]). With a fixed
    budget the output on a near-degenerate spectrum is a top-subspace
    mixture — the oracle contract is exact trajectory parity, and the
    numpy-agreement pytest pins direction quality where the synthetic
    data's gaps allow."""
    q = quantize_int8(vectors, id_col, vec_col).select(
        F.col("q").cast("array<long>").alias("_q")
    )
    pairs = q.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, {dim - 1}), i -> "
                f"transform(sequence(i, {dim - 1}), j -> struct("
                "i AS i, j AS j, "
                "element_at(_q, i + 1) * element_at(_q, j + 1) AS p))))"
            )
        ).alias("e")
    ).select("e.i", "e.j", "e.p")
    pp = pairs.groupBy("i", "j").agg(F.sum("p").alias("pp"))
    s = (
        q.select(F.posexplode("_q").alias("i", "qi"))
        .groupBy("i")
        .agg(F.sum("qi").alias("s"))
    )
    nn = q.agg(F.count("*").alias("n"))
    c = (
        pp.join(s.select(F.col("i").alias("_si"), F.col("s").alias("si")), pp["i"] == F.col("_si"))
        .join(s.select(F.col("i").alias("_sj"), F.col("s").alias("sj")), pp["j"] == F.col("_sj"))
        .crossJoin(F.broadcast(nn))
        .select(
            "i", "j",
            (F.col("n") * F.col("pp") - F.col("si") * F.col("sj")).alias("c"),
            "n",
        )
    )
    # exact integer floor division by n (pmod keeps both engines'
    # C-style % consistent for negative covariances)
    b = c.select(
        "i", "j",
        F.expr("(c - ((c % n + n) % n)) div n").cast("long").alias("b"),
    )
    B = [[0] * dim for _ in range(dim)]
    for i, j, bij in b.collect():
        B[i][j] = B[j][i] = bij
    iters_by_comp = (
        list(iters) if isinstance(iters, (list, tuple)) else [iters] * components
    )
    iters_by_comp += [iters_by_comp[-1]] * (components - len(iters_by_comp))
    pcs = _power_rounds(B, iters_by_comp[:components])
    rows = [
        (comp, i, vi, lam)
        for comp, (v, lam) in enumerate(pcs, 1)
        for i, vi in enumerate(v)
    ]
    return vectors.sparkSession.createDataFrame(
        rows, "component bigint, dim int, v_micro bigint, lam double"
    ).select("component", "dim", "v_micro", F.round("lam", 6).alias("lam"))


_INT64 = 1 << 63
_DECIMAL38 = 10**38


def _bigint(x: int) -> int:
    """x, or the ArithmeticError an ANSI BIGINT result raises."""
    if not -_INT64 <= x < _INT64:
        raise ArithmeticError(f"BIGINT overflow: {x}")
    return x


def _decimal_dot(a: list[int], b: list[int]) -> int:
    """Σa_i·b_i, or the ArithmeticError a ``decimal(38,0)`` sum raises."""
    t = sum(x * y for x, y in zip(a, b))
    if abs(t) >= _DECIMAL38:
        raise ArithmeticError(f"decimal(38,0) overflow: {t}")
    return t


def _half_up(x: float) -> int:
    """Spark's ``round(x)`` of a double (BigDecimal HALF_UP at scale 0);
    every x.5 below 2⁵² is itself a double, so the exact binary value
    rounds the same way as Spark's decimal string."""
    return int(Decimal(x).to_integral_value(ROUND_HALF_UP))


def _power_rounds(
    B: list[list[int]], iters_by_comp: list[int]
) -> list[tuple[list[int], float]]:
    """[(v, unrounded Rayleigh quotient)] per component: the integer
    power iteration of :func:`pca_power_int8` on the d×d scatter ``B``,
    each component deflated against the earlier ones in order."""
    d = len(B)
    basis: list[tuple[list[int], int]] = []  # (w, Σw²) per component
    out = []
    for rounds in iters_by_comp:
        v = [1_000_000] * d
        for _ in range(rounds):
            v_prev = v
            u = [_bigint(sum(bij * vj for bij, vj in zip(row, v))) for row in B]
            for w, g in basis:
                cf = float(_decimal_dot(u, w))
                u = [
                    _bigint(ui - _half_up(cf / float(g) * float(wi)))
                    for ui, wi in zip(u, w)
                ]
            nrm = math.sqrt(float(_decimal_dot(u, u)))
            v = [_half_up(float(ui) / nrm * 1e6) for ui in u]
        lam = float(_decimal_dot(v_prev, u)) / float(_decimal_dot(v_prev, v_prev))
        out.append((v, lam))
        basis.append((v, _bigint(sum(x * x for x in v))))
    return out


def kcenter_select(
    vectors: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, float]]:
    """Greedy k-center (Gonzalez farthest-first) coreset selection —
    returns [(sel_round, id, sel_dist)], the maximally spread k-point
    skeleton used for diversity-based training-data pruning (the
    complement of :func:`semdedup`, which drops redundant points).
    sel_dist is the covering radius of the first t centers
    (non-increasing); the classic 2-approximation guarantee of the
    farthest-first traversal applies.

    Scale shape: round t broadcasts the t chosen centers as plan
    LITERALS (no join, no pairwise matrix) and takes a 1-row
    TakeOrdered argmax of the rounded min-squared-distance — ONE
    corpus scan per round, k scans total at any corpus size. For
    large k, run the two-level variant: cluster with
    :func:`ivf_build` cells first, then greedy-select over cell
    centroids (k scans of the centroid table, corpus touched once).

    Distances are 6-decimal-rounded identical IEEE left-folds, ties
    break on id — fully deterministic (oracle-replayable; see
    queries.embedding_kcenter_coreset)."""
    emb = vectors.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    first = emb.orderBy("_id").limit(1).collect()[0]
    out = [(0, first["_id"], 0.0)]
    cvecs = [list(first["_v"])]
    for t in range(1, k):
        dists = [
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("_v"),
                        F.array(*[F.lit(float(x)) for x in cv]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda a, v: a + v,
                ),
                6,
            )
            for cv in cvecs
        ]
        dmin = dists[0] if len(dists) == 1 else F.least(*dists)
        row = (
            emb.select("_id", "_v", dmin.alias("_dmin"))
            .orderBy(F.col("_dmin").desc(), F.col("_id").asc())
            .limit(1)
            .collect()[0]
        )
        out.append((t, row["_id"], float(row["_dmin"])))
        cvecs.append(list(row["_v"]))
    return out


def covering_radii(
    vectors: DataFrame,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[float]:
    """[radius_1 … radius_k] — covering radius of the first t centers
    for every prefix t, in ONE corpus scan: the per-row running-min
    squared distances to center prefixes are k columns of the same
    select (broadcast plan literals, no join), then a single max
    aggregate. Distances are the repo's 6-decimal-rounded identical
    IEEE folds."""
    emb = vectors.select(_as_double(F.col(vec_col)).alias("_v"))
    dcols = []
    running = None
    for i, cv in enumerate(centers):
        d = F.round(
            F.aggregate(
                F.zip_with(
                    F.col("_v"),
                    F.array(*[F.lit(float(x)) for x in cv]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        )
        running = d if running is None else F.least(running, d)
        dcols.append(running.alias(f"_m{i}"))
    row = (
        emb.select(*dcols)
        .agg(*[F.max(f"_m{i}").alias(f"_r{i}") for i in range(len(centers))])
        .collect()[0]
    )
    return [float(row[f"_r{i}"]) for i in range(len(centers))]


@owned
def kcenter_two_level(
    vectors: DataFrame,
    k: int = 8,
    n_cells: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, float, float]]:
    """Two-level k-center — the 100 TB path :func:`kcenter_select`'s
    docstring promises: level 1 is the IVF mix-init cell
    pre-cluster (the same deterministic mixer selection
    ``ivf_build(init="mix", iters=0)`` uses — n_cells verbatim corpus
    vectors become cell representatives, so selected centers are real
    points with real ids); level 2 runs greedy Gonzalez over that
    n_cells-row representative table (k scans of a TINY table instead
    of k corpus scans). The corpus is touched exactly TWICE regardless
    of k: once by the mixer selection (a TakeOrdered top-n_cells) and
    once by the single-scan prefix covering-radius evaluation
    (:func:`covering_radii`) — vs k+1 full scans for exact Gonzalez.
    Returns [(sel_round, id, sel_dist, radius)]: sel_dist is the
    Gonzalez covering radius WITHIN the representative table,
    radius the true corpus covering radius of the first t selected
    centers (the honest quality readout — compare against exact
    Gonzalez's radii to price the approximation). Deterministic end
    to end: mixer, 6-decimal IEEE distance folds, id ties —
    oracle-replayable (queries.embedding_kcenter_two_level)."""
    from graphem_rapids_spark.functions import mix_uniform

    emb = vectors.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    )
    reps = (
        emb.withColumn("_u", mix_uniform(F.col("_id"), seed))
        .orderBy(F.col("_u").asc(), F.col("_id").asc())
        .limit(n_cells)
        .select("_id", "_v")
        .transform(_eager_ckpt)
    )
    sel = kcenter_select(reps, k=k, id_col="_id", vec_col="_v")
    rep_vecs = {int(r["_id"]): list(r["_v"]) for r in reps.collect()}
    centers = [rep_vecs[int(i)] for _, i, _ in sel]
    radii = covering_radii(vectors, centers, id_col=id_col, vec_col=vec_col)
    return [
        (t, int(i), float(d), radii[t]) for (t, i, d) in sel
    ]
