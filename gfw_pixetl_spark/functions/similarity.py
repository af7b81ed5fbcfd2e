"""Similarity search over embedding columns (array<float>).

Two paths, same contract:

* brute-force cosine top-k — the correctness baseline. Query vectors are a
  small broadcast side; the corpus streams map-only through a dot-product
  projection and a per-query top-k aggregation (no full sort).
* LSH-bucketed ANN — the scale path. Deterministic integer hyperplanes
  bucket both sides; candidate generation is an equi-join on the bucket
  key, so work is proportional to collisions, not corpus size x queries.

Dot products use F.zip_with + F.aggregate (JVM-side, no Python); at very
large dims a vectorized Pandas UDF over mapInPandas is the drop-in upgrade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import ensure_min_partitions

EMBED_DIM = 64
N_HYPERPLANES = 8


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def semdedup_keep(
    df: DataFrame,
    cluster: Column,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup decision (Abbas et al. 2023,
    arXiv:2303.09540): within each cluster, an item is DROPPED when its
    max cosine to any earlier (lower-id) cluster member exceeds the
    threshold — the greedy keep-first rule the paper applies inside
    k-means cells, here on any caller-supplied clustering column (LSH
    bucket, IVF cell, ...).

    Scale shape: the pair space is the equi-join on ``cluster`` (never
    corpus x corpus); the verdict per item is one groupBy(max). Returns
    (id, cluster, max_cos_prev [-1 when first/alone], keep).
    """
    b = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        cluster.alias("cluster"),
    )
    a, c = b.alias("a"), b.alias("c")
    cos = cosine(F.col("a.embedding"), F.col("c.embedding"))
    prev_max = (
        a.join(c, (F.col("a.cluster") == F.col("c.cluster"))
               & (F.col("a.vec_id") < F.col("c.vec_id")))
        .groupBy(F.col("c.vec_id").alias("vec_id"))
        .agg(F.max(cos).alias("max_cos_prev"))
    )
    return (
        b.join(prev_max, "vec_id", "left")
        .select(
            "vec_id", "cluster",
            F.round(F.coalesce("max_cos_prev", F.lit(-1.0)), 6)
            .alias("max_cos_prev"),
            (
                F.col("max_cos_prev").isNull()
                | (F.col("max_cos_prev") <= F.lit(threshold))
            ).alias("keep"),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. queries is broadcast; ranking uses
    min_by-style window limited to k (ties broken by neighbor id)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = ensure_min_partitions(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def hyperplane_weights(dim: int = EMBED_DIM, planes: int = N_HYPERPLANES) -> list[list[int]]:
    """Deterministic integer pseudo-hyperplanes: w[j][i] in [-3, 3].

    Integer weights make the projection exactly reproducible in an external
    SQL engine (literals inline into the oracle).
    """
    return [
        [((i * 31 + j * 17 + (i * j) % 5) % 7) - 3 for i in range(dim)]
        for j in range(planes)
    ]


def lsh_bucket(vec: Column, weights: list[list[int]]) -> Column:
    """Sign-LSH bucket id: bit j = sign(w_j . v)."""
    bucket = F.lit(0)
    for j, w in enumerate(weights):
        lits = F.array([F.lit(float(x)) for x in w])
        proj = dot(vec, lits)
        bucket = bucket + F.when(proj > 0, F.lit(2**j)).otherwise(F.lit(0))
    return bucket.cast("int")


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its ``n_probe``
    nearest centroids by cosine (rank 1 = home cell; ranks 2..n_probe are
    the probe cells used on the query side).

    The centroid table is tiny and broadcast, so assignment is map-only;
    the result is the inverted-list layout (cell -> members) that turns
    ANN search into an equi-join on cell id.
    """
    c = centroids.select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec")
    )
    v = ensure_min_partitions(vectors.select(id_col, vec_col))
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col, vec_col, "cell_id",
        cosine(F.col(vec_col), F.col("cvec")).alias("_cs"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_cs").desc(), F.col("cell_id").asc()
    )
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= n_probe)
        .drop("_cs")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their home cell
    (probe_rank 1); queries probe their ``n_probe`` nearest cells; exact
    cosine re-ranks within the probed cells.

    At scale this is the classic IVF trade: the corpus-side assignment is
    one broadcast pass, the inverted lists are just a partitioning of the
    corpus by cell id, and search touches ``n_probe / n_cells`` of the
    data instead of all of it — an equi-join on cell, not a cross join.
    """
    inv = ivf_assign(corpus, centroids, 1, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        "cell_id",
    )
    probes = ivf_assign(queries, centroids, n_probe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        "cell_id",
    )
    scored = (
        inv.join(F.broadcast(probes), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
        )
        # no dedup needed: each neighbor lives in exactly one home cell,
        # so a (query, neighbor) pair matches at most once
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    weights: list[list[int]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the sign-LSH bucket; exact cosine
    re-rank within bucket. At scale this replaces the cross join with an
    equi-join on bucket — collisions, not corpus x queries."""
    ws = weights or hyperplane_weights()
    corpus = ensure_min_partitions(corpus)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        lsh_bucket(F.col(vec_col), ws).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        lsh_bucket(F.col(vec_col), ws).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label mean vector, computed WITHOUT a Python UDF: posexplode
    to (label, pos, component), one partial-aggregable avg, reassemble
    the array with an ordered collect. Shuffle state is labels × dims —
    tiny — regardless of corpus size; this is the distributed centroid
    shape k-means/IVF training uses at scale.
    """
    ex = emb.select(
        F.col(label_col).alias("clabel"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    per = ex.groupBy("clabel", "pos").agg(F.avg("v").alias("cv"))
    return (
        per.groupBy("clabel")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pc")
        )
        .select("clabel", F.col("pc.cv").alias("centroid"))
    )


def centroid_assign(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid assignment by cosine (semantic cluster routing /
    mixture balancing). Centroids default to the per-``label`` means —
    making this a self-classification whose agreement rate measures
    cluster tightness. The centroid table broadcasts; scoring is a
    JVM-side zip_with/aggregate over each row — no shuffle of the corpus
    beyond the final per-vector argmax (a window over ~k rows/vector).
    """
    cent = centroids if centroids is not None else label_centroids(
        emb, label_col, vec_col
    )
    scored = ensure_min_partitions(
        emb.select(
            id_col, label_col, F.col(vec_col).cast("array<double>").alias("_v")
        )
    ).crossJoin(F.broadcast(cent))
    cos = cosine(F.col("_v"), F.col("centroid"))
    # per-vector argmax as ONE hash aggregation instead of a sort
    # window (guide §2.4): min(struct(-cos, clabel)) is the
    # row_number()-over-(cos DESC, clabel ASC) pick for finite cosines —
    # the double negation is exact, ties fall through to the label, and
    # the aggregate partials combine map-side so only one row per vector
    # crosses the exchange. Two differences from that window: a NaN
    # cosine (NaN component) sorts largest, so the window would pick it
    # while the min skips it whenever another cosine exists (a zero norm
    # raises DIVIDE_BY_ZERO under ANSI; tests/test_functions.py pins
    # these cases); and the result has one row per (id, label), not per
    # id.
    pick = F.min(F.struct(
        (-F.col("cos")).alias("nc"),
        F.col("clabel").alias("clabel"),
        F.col("cos").alias("cos"),
    )).alias("m")
    return (
        scored.withColumn("cos", cos)
        .groupBy(id_col, label_col)
        .agg(pick)
        .select(
            id_col, label_col,
            F.col("m.clabel").alias("assigned"),
            F.round(F.col("m.cos"), 6).alias("sim"),
        )
    )


def covariance_upper(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Upper-triangle covariance matrix of an embedding column via
    PARTIAL GRAM aggregation: each partition computes its own X^T X /
    column sums / count with one BLAS call inside an Arrow kernel, and
    only those d^2-sized partials shuffle — never the vectors. At 100 TB
    the shuffle volume is (#partitions x d^2) rows, independent of
    corpus size; the classic one-pass distributed moment pattern (same
    shape Spark MLlib's RowMatrix.computeGramianMatrix uses).

    Output: (i, j, cov) for 1 <= i <= j <= d, cov = E[xy] - E[x]E[y],
    rounded to 6 digits so partial-sum association order can't flip the
    comparison.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gram = None
        sums = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            n += X.shape[0]
            g = X.T @ X
            s = X.sum(axis=0)
            gram = g if gram is None else gram + g
            sums = s if sums is None else sums + s
        if gram is None:
            return
        d = gram.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.concat([
            pd.DataFrame({"i": (iu + 1).astype("int32"),
                          "j": (ju + 1).astype("int32"),
                          "v": gram[iu, ju]}),
            pd.DataFrame({"i": np.arange(1, d + 1, dtype="int32"),
                          "j": np.zeros(d, dtype="int32"), "v": sums}),
            pd.DataFrame({"i": np.int32([0]), "j": np.int32([0]),
                          "v": [float(n)]}),
        ], ignore_index=True)

    partials = df.select(vec_col).mapInPandas(kernel, "i int, j int, v double")
    # n_row / means (twice) / pairs all filter this d^2-sized table —
    # checkpoint so the gram kernel runs once, not four times
    sums = partials.groupBy("i", "j").agg(F.sum("v").alias("s")) \
        .localCheckpoint(eager=False)
    n_row = sums.filter((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("s").alias("n"))
    means = sums.filter((F.col("j") == 0) & (F.col("i") > 0)).select(
        F.col("i").alias("mi"), F.col("s").alias("msum"))
    pairs = sums.filter(F.col("j") > 0)
    return (
        pairs.crossJoin(F.broadcast(n_row))
        .join(F.broadcast(means).withColumnRenamed("mi", "_a")
              .withColumnRenamed("msum", "sum_a"), F.col("i") == F.col("_a"))
        .join(F.broadcast(means).withColumnRenamed("mi", "_b")
              .withColumnRenamed("msum", "sum_b"), F.col("j") == F.col("_b"))
        .select(
            "i", "j",
            (F.round(
                F.col("s") / F.col("n")
                - (F.col("sum_a") / F.col("n")) * (F.col("sum_b") / F.col("n")),
                6,
            ) + 0.0).alias("cov"),  # + 0.0 canonicalizes IEEE -0.0
        )
    )


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization encode: split each vector into ``m`` equal
    subvectors and store, per subvector, the index of the nearest
    centroid from that subspace's codebook (``codebook[s][j]`` = j-th
    centroid of subspace s) plus the total reconstruction error.

    PQ is the standard embedding-compression step at retrieval scale —
    a 64-dim float vector becomes m small codes (here 4 x 2 bits), an
    ~64x memory cut that makes billion-vector indexes RAM-resident.
    The codebook is dimension-sized (m*k*sub_dim floats), so it inlines
    as literals and the whole encode stays inside whole-stage codegen:
    distances via the dot-product identity |x|^2 - 2<x,c> + |c|^2 with
    sequential-fold dots (replayable exactly by any engine), argmin with
    lowest-index tie-break, no Python or shuffle anywhere.
    """
    m = len(codebook)
    k = len(codebook[0])
    sub = len(codebook[0][0])

    def dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)

    out_cols = [F.col(id_col)]
    err = F.lit(0.0)
    for s in range(m):
        x = F.transform(
            F.slice(F.col(vec_col), s * sub + 1, sub),
            lambda v: v.cast("double"))
        dists = []
        for j in range(k):
            c = F.array(*[F.lit(float(v)) for v in codebook[s][j]])
            dists.append(dot(x, x) - 2 * dot(x, c) + dot(c, c))
        darr = F.array(*dists)
        best = F.array_position(darr, F.array_min(darr))
        out_cols.append((best - 1).cast("int").alias(f"code_{s}"))
        err = err + F.array_min(darr)
    out_cols.append(F.round(err, 6).alias("recon_err"))
    return df.select(*out_cols)


def _py_cosine(a: list, b: list) -> float:
    """Driver-side replay of :func:`cosine`'s exact float arithmetic.

    Mirrors the JVM evaluation order operation for operation: the dot
    and both squared norms are left-to-right ``acc + x`` folds over
    per-element double products (zip_with/transform), then
    ``dot / (sqrt(na) * sqrt(nb))``. Python floats are IEEE doubles, so
    the result is bit-identical to the column expression.
    """
    import math

    s = 0.0
    for x, y in zip(a, b):
        s = s + x * y
    na = 0.0
    for x in a:
        na = na + x * x
    nb = 0.0
    for y in b:
        nb = nb + y * y
    return s / (math.sqrt(na) * math.sqrt(nb))


def mmr_select(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 3,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    local_bound: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    greedily pick k items maximizing ``lam * rel - (1 - lam) * max-sim to
    already-selected`` — the diversity re-rank between retrieval and a
    context window.

    Scale shape: the greedy loop is k BOUNDED driver steps; each scores
    the corpus against the (broadcast, <= k-row) selected set and takes
    a TakeOrdered(1). Nothing corpus-sized ever reaches the driver, and
    the corpus-side plan is map + bounded-k join per step. Ties break by
    id for cross-engine determinism; only ids are emitted (argmax ids
    are stable across engines where raw float scores would not hash).

    ``local_bound``: callers whose candidate slice is bounded by
    CONSTRUCTION (a constant-valued predicate, e.g. ``vec_id < 200`` —
    never a data-sized set) may pass that constant to collect the slice
    once and replay the identical greedy walk driver-side — the
    documented tiny-statistic discipline. One job instead of ~2 per
    step; arithmetic is replayed bit-for-bit (:func:`_py_cosine`, same
    ``lam * rel - (1 - lam) * ms`` doubles, same (score desc, id) tie
    rule), so results are identical to the distributed loop
    (tests/test_functions.py::test_mmr_local_bound_matches_loop).
    """
    from pyspark.sql import functions as F

    from .partitioning import ensure_min_partitions

    spark = corpus.sparkSession
    q = query.select(F.col(vec_col).alias("qvec"))
    if local_bound is not None:
        rows = (
            corpus.select(F.col(id_col).alias("vid"),
                          F.col(vec_col).alias("vec"))
            .crossJoin(F.broadcast(q))
            .select("vid", "vec",
                    cosine(F.col("vec"), F.col("qvec")).alias("rel"))
            .collect()  # <= local_bound rows, bounded by construction
        )
        pool_l = [(int(r.vid), [float(x) for x in r.vec], float(r.rel))
                  for r in rows]
        chosen: list = []  # (vid, vec)
        picked: set = set()
        for _step in range(1, k + 1):
            best = None
            for vid, vec, rel in pool_l:
                if vid in picked:
                    continue
                if chosen:
                    ms = max(_py_cosine(vec, svec) for _, svec in chosen)
                    score = lam * rel - (1.0 - lam) * ms
                else:
                    score = rel
                key = (-score, vid)
                if best is None or key < best[0]:
                    best = (key, vid, vec)
            if best is None:
                break
            chosen.append((best[1], best[2]))
            picked.add(best[1])
        return spark.createDataFrame(
            [(i + 1, v) for i, (v, _) in enumerate(chosen)],
            "step int, vec_id bigint")

    cands = ensure_min_partitions(
        corpus.select(F.col(id_col).alias("vid"),
                      F.col(vec_col).alias("vec"))
    ).crossJoin(F.broadcast(q)).select(
        "vid", "vec", cosine(F.col("vec"), F.col("qvec")).alias("rel")
    ).localCheckpoint(eager=False)

    selected: list = []  # (step, vid, vec)
    for step in range(1, k + 1):
        pool = cands
        if selected:
            sel = spark.createDataFrame(
                [(r[1], r[2]) for r in selected], ["svid", "svec"]
            )
            sims = (
                pool.join(F.broadcast(sel), F.col("vid") != F.col("svid"))
                .groupBy("vid", "rel")
                .agg(F.max(cosine(F.col("vec"), F.col("svec")))
                     .alias("ms"))
            )
            picked_ids = [r[1] for r in selected]
            score = F.lit(lam) * F.col("rel") \
                - F.lit(1.0 - lam) * F.col("ms")
            top = (
                sims.filter(~F.col("vid").isin(picked_ids))
                .orderBy(score.desc(), F.col("vid"))
                .limit(1)
                .join(pool.select("vid", "vec"), "vid")
                .collect()
            )
        else:
            top = pool.orderBy(F.col("rel").desc(),
                               F.col("vid")).limit(1).collect()
        if not top:  # k exceeds the corpus / candidate pool exhausted
            break
        r = top[0]
        selected.append((step, int(r.vid),
                         [float(x) for x in r.vec]))
    return spark.createDataFrame(
        [(s, v) for s, v, _ in selected], "step int, vec_id bigint")


def sq8_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization (the FAISS SQ8 shape).

    Per-vector max-abs scale; code[i] = floor(x[i] * 127 / m + 0.5) —
    an explicit half-up floor instead of round() so the tie rule is
    identical in every engine. 4x smaller than float32, and int-dot
    ranking needs NO dequantization: per-vector scales cancel inside
    the cosine ratio. Map-only projection, no shuffle; the scale is
    computed once in a prior select so the HOF lambda captures a plain
    column reference (never recompute array_max per element —
    ROADMAP HOF note).
    """
    raw_m = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    # all-zero vector: scale 1.0 keeps codes at exact zeros instead of
    # null/NaN poisoning downstream integer dot products
    m = F.when(raw_m == 0, F.lit(1.0)).otherwise(raw_m)
    scaled = df.select(
        F.col(id_col), F.col(vec_col), m.alias("sq8_scale"))
    code = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x * 127.0 / F.col("sq8_scale") + 0.5)
        .cast("long"),
    )
    return scaled.select(
        F.col(id_col), code.alias("sq8_code"), "sq8_scale")


def sq8_topk(
    codes: DataFrame,
    query_ids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate cosine top-k over int8 codes.

    Approx cosine = <qa,qb> / sqrt(<qa,qa> <qb,qb>) on the INTEGER
    codes — the per-vector scales cancel, and every dot term is an
    exact small integer (|sum| < 64 * 127^2 << 2^53), so the double
    sum is exact in ANY reduction order: the ranking is bit-stable on
    any partitioning. Queries broadcast, ties break to the lower id.
    """
    q = codes.join(query_ids, id_col, "left_semi").select(
        F.col(id_col).alias("query_id"), F.col("sq8_code").alias("qc"))
    c = ensure_min_partitions(codes.select(
        F.col(id_col).alias("neighbor_id"), F.col("sq8_code").alias("cc")))
    idot = (
        lambda a, b: F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, v: acc + v)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            (idot(F.col("qc"), F.col("cc")).cast("double")
             / F.sqrt(idot(F.col("qc"), F.col("qc")).cast("double")
                      * idot(F.col("cc"), F.col("cc")).cast("double")))
            .alias("acos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("acos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def int_gram(
    codes: DataFrame, code_col: str = "sq8_code"
) -> DataFrame:
    """Exact integer Gram matrix X^T X of a quantized-code column via
    PARTIAL GRAM aggregation (the :func:`covariance_upper` scale shape,
    but in EXACT int64): each partition computes its own d x d Gram
    with one NumPy int64 matmul inside an Arrow kernel, and only those
    d^2-sized partials shuffle — never the vectors. Entries are exact
    (|G_ij| <= n * 127^2 stays in int64 up to n ~ 5e14 rows), so a SQL
    oracle replays them bit-for-bit in any reduction order — the
    property float Grams (q170) can never have.

    Output: (i, j, g) for the FULL d x d matrix (1-based), plus the
    row count as (0, 0, n).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gram = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[code_col].tolist(), dtype=np.int64)
            n += X.shape[0]
            g = X.T @ X
            gram = g if gram is None else gram + g
        if gram is None:
            return
        d = gram.shape[0]
        ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        yield pd.concat([
            pd.DataFrame({"i": (ii.ravel() + 1).astype("int32"),
                          "j": (jj.ravel() + 1).astype("int32"),
                          "g": gram.ravel()}),
            pd.DataFrame({"i": np.int32([0]), "j": np.int32([0]),
                          "g": np.int64([n])}),
        ], ignore_index=True)

    partials = codes.select(code_col).mapInPandas(
        kernel, "i int, j int, g long")
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))
