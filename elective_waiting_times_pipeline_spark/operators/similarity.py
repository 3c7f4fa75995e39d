"""Similarity search over embedding columns (ARRAY<FLOAT>): exact
brute-force cosine top-k as the baseline, and a random-hyperplane LSH
bucketed variant as the scale path.

All vector math is built-in array expressions (zip_with / aggregate —
JVM fold, no Python). The LSH hyperplanes are generated once on the
driver from a fixed seed and embedded as literals (a few KB), i.e. an
implicit broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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
    # try_divide: an all-zero vector yields NULL similarity (dropped
    # by any threshold/top-k) instead of an ANSI DIVIDE_BY_ZERO abort
    # of the whole scan — Spark 4 runs with ansi.enabled=true
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """`cosine(a, b)` with the two norms supplied as precomputed
    columns. BIT-IDENTICAL to `cosine`: the dot fold is unchanged and
    `na * nb` multiplies the same IEEE doubles `norm(a) * norm(b)`
    would produce — only WHERE the norm fold runs moves. Callers that
    evaluate cosine across a JOIN bind each side's norm once per ROW
    (`norm(v).alias(...)` in the pre-join projection) instead of once
    per PAIR, cutting the per-pair cost from three O(dim) folds to
    one (measured 2.1× on knn_pagerank_coreset's 4M-pair kNN build)."""
    return F.try_divide(dot(a, b), na * nb)


def cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k by cosine against a single query vector (a 1-row
    DataFrame, kept lazy — no collect). The query side is broadcast;
    the candidate side streams, so this is one scan of the corpus.
    Ordering is (similarity DESC, id ASC) on the ROUNDED similarity so
    top-k membership is engine-independent."""
    # limit(1) enforces the single-query contract (the quantized
    # variants do the same): a multi-row query_df would silently
    # interleave scores against different queries
    # the query norm is bound in the 1-row broadcast side — the inline
    # form re-folds norm(_qvec) for every corpus row
    q = F.broadcast(
        query_df.select(
            F.col(vec_col).alias("_qvec"), norm(F.col(vec_col)).alias("_qn")
        ).limit(1)
    )
    sim = F.round(
        cosine_with_norms(
            F.col(vec_col), F.col("_qvec"), norm(F.col(vec_col)), F.col("_qn")
        ),
        round_dp,
    )
    return (
        df.crossJoin(q)
        .select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
    max_rows: int | None = 10_000,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (brute force — quadratic; use
    lsh_bucketed_pairs at corpus scale).

    This is an oracle/verification baseline: `max_rows` (default 10k
    ⇒ ≤ 50M candidate pairs) makes the quadratic join an explicit
    opt-in — pass ``max_rows=None`` only when the caller has already
    bounded the input. Pointing it at a full corpus must fail loudly,
    not silently launch an |corpus|² shuffle."""
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_near_dup_pairs is quadratic: input has {n} rows "
                f"> max_rows={max_rows}. Use lsh_bucketed_pairs at scale, "
                "or pass max_rows=None to override."
            )
    # norms bound per ROW before the quadratic join (cosine_with_norms:
    # bit-identical, 3 O(dim) folds per pair -> 1)
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = F.round(
        cosine_with_norms(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
        round_dp,
    )
    return pairs.select("id_a", "id_b", sim.alias("cosine_sim")).filter(
        F.col("cosine_sim") >= threshold
    )


def ivf_fit(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_size: int = 2048,
) -> DataFrame:
    """IVF index BUILD, step 1: fit `n_cells` coarse centroids and
    return them as a tiny (cell INT, centroid ARRAY<DOUBLE>) DataFrame
    — persist it next to the corpus (plain parquet) and every later
    search reuses it instead of re-fitting.

    The fitting sample is the `sample_size` rows with the smallest
    `xxhash64(id, seed)` — a deterministic pseudo-random draw that is
    independent of file layout (a bare ``limit`` would take whichever
    partitions answer first: on a corpus written sorted/clustered, the
    centroids would mirror one shard and probe recall collapses
    elsewhere). TakeOrdered keeps only `sample_size` rows per
    partition, so the draw costs one corpus scan, no full sort. KMeans
    (8 Lloyd iterations) runs driver-side on the sample — the model is
    tiny; the distributed pass is the ASSIGNMENT (`ivf_assign`)."""
    import numpy as np

    sample = np.array(
        [
            r[0]
            for r in df.select(
                F.col(vec_col), F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).alias("_h")
            )
            .orderBy("_h")
            .limit(sample_size)
            .drop("_h")
            .collect()
        ],
        dtype="float64",
    )
    if len(sample) == 0:
        raise ValueError("ivf_fit: empty corpus — nothing to fit centroids on")
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)]
    for _ in range(8):  # Lloyd iterations, driver-side on the sample
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(centroids)):
            m = assign == c
            if m.any():
                centroids[c] = sample[m].mean(0)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )


def _centroid_matrix(centroids_df: DataFrame):
    """Driver-side (cells × dim) matrix from the tiny centroid table,
    ordered by cell id. n_cells rows — never a data-scale collect."""
    import numpy as np

    rows = sorted(centroids_df.collect(), key=lambda r: r["cell"])
    if not rows:
        raise ValueError("empty centroid table")
    return np.array([r["centroid"] for r in rows], dtype="float64")


def ivf_assign(
    df: DataFrame,
    centroids_df: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF index BUILD, step 2: tag every corpus vector with its
    nearest-centroid cell. Write the result `partitionBy(cell)` and
    probes become partition-pruned scans (see test_skew_ivf_simhash's
    pruning assertion) — the 100 TB layout this operator implies.

    Cell assignment is an Arrow-batched Pandas UDF: the expression
    form (n_cells × zip_with/aggregate lambdas) runs INTERPRETED per
    row per cell — ~7× slower measured at 16 cells × dim 64. One
    numpy broadcast per batch computes the same exact squared
    distances (same dtype, same argmin tie behavior: numpy argmin
    and array_position(min) both take the first minimum). Centroids
    travel in the UDF closure — n_cells × dim floats, not data-scale."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = _centroid_matrix(centroids_df)

    @pandas_udf("int")
    def _cell_of(s: pd.Series) -> pd.Series:
        M = np.stack(s.to_numpy()).astype("float64")
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return pd.Series(d.argmin(1).astype("int32"))

    return df.filter(F.col(vec_col).isNotNull()).withColumn(cell_col, _cell_of(F.col(vec_col)))


def ivf_probe(
    indexed_df: DataFrame,
    centroids_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
    round_dp: int = 6,
) -> DataFrame:
    """IVF SEARCH over a built index (`ivf_assign` output, typically
    reloaded from its cell-partitioned parquet): score only the
    `n_probe` cells nearest the query. The probe set is decided on the
    driver from the centroid table (n_cells rows); the `cell IN
    probes` filter prunes partitions at plan time on a
    cell-partitioned layout, so the scan touches ~n_probe/n_cells of
    the corpus."""
    import numpy as np

    C = _centroid_matrix(centroids_df)
    qrow = query_df.select(vec_col).head()
    if qrow is None:
        raise ValueError("ivf_probe: empty query DataFrame")
    qv = np.array(qrow[0], dtype="float64")
    qd = ((C - qv) ** 2).sum(-1)
    probes = [int(i) for i in qd.argsort()[:n_probe]]

    # score the EXACT row that chose the probes: head() and a separate
    # limit(1) are two executions of an unordered plan and can return
    # different rows for a multi-row query_df — the collected vector
    # becomes a literal array instead
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    pruned = indexed_df.filter(F.col(cell_col).isin(probes))
    sim = F.round(cosine(F.col(vec_col), q_lit), round_dp)
    return (
        pruned
        .select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    round_dp: int = 6,
    sample_size: int = 2048,
) -> DataFrame:
    """IVF-style ANN in one call: fit + assign + probe (see the three
    lifecycle operators above — production persists the fit/assign
    outputs once and calls `ivf_probe` per query). Returns (id,
    cosine) top-k like cosine_topk but scanning ~n_probe/n_cells of
    the corpus."""
    cents = ivf_fit(
        df, n_cells=n_cells, vec_col=vec_col, id_col=id_col, seed=seed, sample_size=sample_size
    )
    indexed = ivf_assign(df, cents, vec_col=vec_col, cell_col="_cell")
    return ivf_probe(
        indexed,
        cents,
        query_df,
        k=k,
        n_probe=n_probe,
        vec_col=vec_col,
        id_col=id_col,
        cell_col="_cell",
        round_dp=round_dp,
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def integer_hyperplanes(
    dim: int, n_planes: int, seed: int = 42, scale: int = 1000
) -> list[list[int]]:
    """Seeded Gaussian hyperplanes quantized to integers. With
    integer-valued input vectors the signature dots are EXACT in
    float64 (|term| ≤ scale² per component, 64-dim sums ≪ 2^53), so
    sign decisions cannot flip across engines or summation orders —
    the property that lets an independent SQL engine replay
    `lsh_bucketed_pairs` bucket-for-bucket. Quantizing a hyperplane
    only perturbs its direction ~1e-3 radian; LSH guarantees are
    distribution-level and unaffected."""
    rng = np.random.RandomState(seed)
    return [
        [int(v) for v in row]
        for row in (rng.randn(n_planes, dim) * scale).round().astype(int)
    ]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(vec · plane_i).
    Returned as a compact bigint (n_planes ≤ 63)."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(dot(vec, p) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = sig + bit * F.lit(1 << i).cast("long")
    return sig


def lsh_bucketed_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    round_dp: int = 6,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Scale path for near-dup pairs: bucket by hyperplane signature
    (highly similar vectors collide with high probability), generate
    pairs within buckets only, verify with exact cosine. The pair join
    is an equi-join on the signature — shuffle on a bigint, bounded by
    bucket size, never |corpus|².

    ``planes`` overrides the seeded Gaussian hyperplanes. Passing
    INTEGER-valued planes over integer-valued vectors makes every dot
    product exact in float64 (sums stay far below 2^53), so the sign
    — hence the bucket — is bit-identical across engines and
    summation orders: the cross-engine-replayable configuration the
    oracle-backed catalog query uses."""
    if planes is None:
        planes = _hyperplanes(dim, n_planes, seed)
    else:
        n_planes = len(planes)
    # Arrow-batched signature: n_planes interpreted dot-product lambdas
    # per row (lsh_signature's expression form, kept for composability)
    # become one numpy matmul + sign bit-pack per batch. Bucketing is
    # sign-based, so the different-but-deterministic float summation
    # order only matters for exact-zero-boundary dots; the exact cosine
    # verification downstream is unaffected either way.
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype="float64")
    weights = (1 << np.arange(n_planes)).astype("int64")

    @pandas_udf("long")
    def _sig_of(s: pd.Series) -> pd.Series:
        M = np.stack(s.to_numpy()).astype("float64")
        bits = (M @ P.T) >= 0
        return pd.Series(bits @ weights)

    sigd = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col), _sig_of(F.col(vec_col)).alias("_sig")
    )
    # per-side norms ride the bucket shuffle as one extra double so
    # the in-bucket pair scoring pays one fold, not three
    a = sigd.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"), F.col("_sig"),
    )
    b = sigd.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"), F.col("_sig"),
    )
    pairs = a.join(b, ["_sig"]).filter(F.col("id_a") < F.col("id_b"))
    sim = F.round(
        cosine_with_norms(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
        round_dp,
    )
    return pairs.select("id_a", "id_b", sim.alias("cosine_sim")).filter(
        F.col("cosine_sim") >= threshold
    )


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Per-group embedding centroid in long form: (group, pos, centroid_val),
    pos 1-based. Per-dimension mean via posexplode → hash agg — partial
    aggregation makes this one shuffle of |groups|×dim cells regardless of
    corpus size (the class-mean / cluster-centroid primitive).

    Long form keeps the result oracle-comparable; `F.array_agg` the
    values back if an array is wanted downstream.
    """
    ex = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    return ex.groupBy(group_col, "pos").agg(
        F.round(F.avg("val"), round_dp).alias("centroid_val")
    ).select(
        F.col(group_col),
        (F.col("pos") + 1).cast("int").alias("pos"),
        "centroid_val",
    )


def centroid_outliers(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_sim: float = 0.0,
) -> DataFrame:
    """Embedding-space quality filter: cosine of every vector to its
    group's mean vector, flagging vectors below `min_sim` as outliers
    (mislabeled / noise / off-distribution — the embedding-side analog
    of the MAD text-length filter).

    Scale shape: centroids come from the `group_centroids` long-form
    agg (one shuffle of |groups|·dim cells regardless of corpus size),
    reassembled into |groups| arrays and broadcast back — the corpus
    itself never re-shuffles. The cosine is a sequential `zip_with` +
    `aggregate` fold over the array — deterministic summation order,
    codegen'd, no UDF. Centroid components are pre-rounded to 6 dp
    (group_centroids) so the flag is reproducible across engines' AVG
    summation orders."""
    cents = group_centroids(df, group_col=group_col, vec_col=vec_col)
    carr = (
        cents.groupBy(group_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))).alias("_s"))
        .select(group_col, F.transform("_s", lambda s: s["centroid_val"]).alias("_cv"))
    )
    # module-level dot/norm helpers (identical per-element double
    # casts); zero-norm pairs pin sim to 0.0 — this report counts them
    # as outliers rather than dropping them like cosine()'s NULL
    v, cv = F.col(vec_col), F.col("_cv")
    n1, n2 = norm(v), norm(cv)
    sim = F.round(
        F.when((n1 > 0) & (n2 > 0), dot(v, cv) / (n1 * n2)).otherwise(F.lit(0.0)), 6
    )
    return (
        df.join(F.broadcast(carr), group_col)
        .select(
            id_col,
            group_col,
            sim.alias("centroid_sim"),
            (sim < min_sim).alias("is_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# int8 quantization + maximum-inner-product top-k (the storage-scale
# path: a 100 TB float32 embedding store shrinks 4x as int8, and the
# scoring dot becomes exact integer math).
# ---------------------------------------------------------------------------


def max_abs(a: Column) -> Column:
    """Per-vector symmetric quantization scale: max |x_i|. Pure
    per-element math (no summation), so both engines derive the exact
    same double from the same float32 inputs."""
    return F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))


def quantize_int8(vec: Column) -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization: q_i = floor(127*x_i/s
    + 0.5) with s = max|x_i|, stored as ARRAY<TINYINT> (4x smaller
    than the float32 source). Deterministic across engines because no
    float SUMMATION is involved — every step is per-element IEEE math
    on exactly-representable inputs. Returns (scale, quantized)."""
    s = max_abs(vec)
    # all-zero vectors: 127*0/0 is NULL in non-ANSI Spark — pin them to
    # q = zeros with scale 0 (their dot with anything is a clean 0.0).
    # `s` must NOT be referenced inside the per-element lambda: an
    # outer expression captured by a higher-order-function lambda is
    # re-evaluated PER ELEMENT (the documented `ngrams` pathology),
    # so the previous form re-ran the max-abs fold ~2·dim times per
    # row — O(dim²) per vector. Hoisting the zero test out of the
    # lambda and feeding the scale through array_repeat evaluates the
    # fold twice per row, and zip_with's element sees it as a plain
    # lambda variable. Identical values, element type and NULL
    # behavior (NULL x → NULL element either way).
    q = F.when(
        s == 0, F.transform(vec, lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.zip_with(
            vec,
            F.array_repeat(s, F.size(vec)),
            lambda x, sv: F.floor(F.lit(127) * x.cast("double") / sv + 0.5).cast(
                "tinyint"
            ),
        )
    )
    return s, q


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_ip_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Top-k by maximum inner product, scored entirely on int8
    quantized vectors: score = int_dot(q_a, q_q) * s_a * s_q / 127^2.
    One corpus scan, query side broadcast; the integer dot is exact,
    the two scale multiplications are the only float ops. Top-k
    membership is the quantized ranking (that is the point — the
    float vectors never need to be read at query time); recall vs the
    exact float dot is property-tested.

    Single-query contract (like cosine_topk): exactly one query row is
    scored — extra rows are dropped via limit(1). Batch multi-query
    retrieval needs a query-id join, not this top-k."""
    s_q, q_q = quantize_int8(F.col(vec_col))
    q = F.broadcast(
        query_df.limit(1).select(s_q.alias("_sq"), q_q.alias("_qq"))
    )
    s_c, q_c = quantize_int8(F.col(vec_col))
    score = F.round(
        int_dot(q_c, F.col("_qq")) * s_c * F.col("_sq") / 16129.0, round_dp
    )
    return (
        df.crossJoin(q)
        .select(F.col(id_col), score.alias("ip_score"))
        .orderBy(F.col("ip_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def write_quantized_store(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Materialize the int8 store: (id, scale DOUBLE, qvec
    ARRAY<TINYINT>). This is the table searches read INSTEAD of the
    float corpus — ~4x less I/O per scan, and quantized_store_topk
    below runs on it without ever loading a float vector."""
    s, q = quantize_int8(F.col(vec_col))
    df.select(F.col(id_col), s.alias("scale"), q.alias("qvec")).write.mode(mode).parquet(path)


def quantized_store_topk(
    store: DataFrame,
    query_store: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Top-k by inner product over a persisted int8 store; both sides
    are already quantized (store rows), so the whole search is one
    scan of tinyint arrays + an exact integer dot. Identical ranking
    to quantized_ip_topk on the float source (equivalence-tested).
    Single-query contract: one query row (limit(1)), as in
    quantized_ip_topk."""
    q = F.broadcast(
        query_store.limit(1).select(F.col("scale").alias("_sq"), F.col("qvec").alias("_qq"))
    )
    score = F.round(
        int_dot(F.col("qvec"), F.col("_qq")) * F.col("scale") * F.col("_sq") / 16129.0, round_dp
    )
    return (
        store.crossJoin(q)
        .select(F.col(id_col), score.alias("ip_score"))
        .orderBy(F.col("ip_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def write_ivf_quantized_store(
    df: DataFrame,
    path: str,
    centroids_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """The production ANN layout — IVF cells x int8 payloads: assign
    every vector to its nearest coarse centroid (ivf_assign, float
    math at BUILD time only), quantize, and write partitioned by cell.
    A probe then reads ~n_probe/n_cells of a store that is itself ~4x
    smaller than the float corpus — the two savings multiply."""
    assigned = ivf_assign(df, centroids_df, vec_col=vec_col, cell_col="cell")
    s, q = quantize_int8(F.col(vec_col))
    (
        assigned.select(F.col(id_col), F.col("cell"), s.alias("scale"), q.alias("qvec"))
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_quantized_topk(
    store: DataFrame,
    centroids_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Search the IVF+int8 store: pick the `n_probe` nearest cells on
    the driver (centroid table is n_cells rows), partition-prune the
    store scan to those cells, and rank by the exact-integer quantized
    dot — float vectors are read NOWHERE on the search path (the query
    vector is quantized once, driver-side logic only touches
    centroids)."""
    import numpy as np

    C = _centroid_matrix(centroids_df)
    qrow = query_df.select(vec_col).head()
    if qrow is None:
        raise ValueError("ivf_quantized_topk: empty query DataFrame")
    qd = ((C - np.array(qrow[0], dtype="float64")) ** 2).sum(-1)
    probes = [int(i) for i in qd.argsort()[:n_probe]]

    # quantize the SAME collected vector that chose the probes (a
    # separate limit(1) execution could pick a different query row);
    # replicates quantize_int8 exactly: s = max|x|, q = floor(127*x/s
    # + 0.5) — per-element IEEE double math, identical in numpy
    qv = np.array(qrow[0], dtype="float64")
    amax = float(np.abs(qv).max())
    if amax == 0.0:
        q_ints = np.zeros(len(qv), dtype="int64")
    else:
        q_ints = np.floor(127.0 * qv / amax + 0.5).astype("int64")
    q = F.broadcast(
        query_df.sparkSession.range(1).select(
            F.lit(amax).alias("_sq"),
            F.array(*[F.lit(int(v)) for v in q_ints]).cast("array<tinyint>").alias("_qq"),
        )
    )
    pruned = store.filter(F.col("cell").isin(probes))
    score = F.round(
        int_dot(F.col("qvec"), F.col("_qq")) * F.col("scale") * F.col("_sq") / 16129.0, round_dp
    )
    return (
        pruned.crossJoin(q)
        .select(F.col(id_col), score.alias("ip_score"))
        .orderBy(F.col("ip_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def batch_cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_dp: int = 6,
) -> DataFrame:
    """Multi-query retrieval: top-k per QUERY over one corpus scan.
    The query set broadcasts (a batch of user queries, not a corpus);
    each corpus row scores against every query via the exploded
    broadcast, and a per-query window rank keeps k. Cost: one scan x
    |queries| score evaluations + one (query, score) shuffle — the
    batch complement of the single-query cosine_topk (which this
    matches row-for-row per query, equivalence-tested)."""
    q = F.broadcast(
        query_df.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            norm(F.col(vec_col)).alias("_qn"),
        )
    )
    # corpus-side norm bound once per row (it is re-read per QUERY in
    # the cross join); query-side norm rides the broadcast
    df = df.withColumn("_vn", norm(F.col(vec_col)))
    sim = F.round(
        cosine_with_norms(F.col(vec_col), F.col("_qvec"), F.col("_vn"), F.col("_qn")),
        round_dp,
    )
    scored = df.crossJoin(q).select(
        F.col("_qid").alias(query_id_col), F.col(id_col), sim.alias("cosine_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
