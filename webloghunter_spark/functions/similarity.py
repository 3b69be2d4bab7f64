"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: a broadcast of the
query vector + one narrow projection + a top-k (TakeOrderedAndProject,
no full sort). The scale path is LSH bucketing: random-hyperplane
signatures computed from deterministic per-dimension coefficients so
both sides of a join (or an external oracle) derive identical buckets;
candidate search is restricted to same-bucket vectors.

All arithmetic is done in float64 left-to-right (F.aggregate), so an
oracle computing the same sequential sum matches bit-for-bit after
rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from webloghunter_spark.functions.numeric import round_half_up
from webloghunter_spark.session import materialize


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_to_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def grid_round_expr(col: Column, digits: int = 4) -> Column:
    """Half-away-from-zero rounding of the STORED double — the grid
    every oracle and Arrow kernel already uses (DuckDB round(),
    numeric.round_half_up). F.round is BigDecimal HALF_UP on the
    double's SHORTEST DECIMAL REPR: a stored value just below a grid
    midpoint whose shortest repr sits ON the midpoint (0.08725)
    rounds UP under F.round but DOWN everywhere else — a latent
    oracle divergence the fixtures happen not to hit. The cosine
    family rounds through this helper so the exposure is gone."""
    g = F.lit(float(10 ** digits))
    return F.signum(col) * F.floor(F.abs(col) * g + F.lit(0.5)) / g


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by cosine similarity to `query_vec`.

    Deterministic ordering: (cosine desc, id asc). The plan is a scan +
    projection + TakeOrderedAndProject — no shuffle of the full table.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        grid_round_expr(cosine_expr(F.col(vec_col), q), round_digits).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _plane_coeffs(p: int, dim: int) -> list[float]:
    """Deterministic hyperplane coefficients: c(p,d) = nibble0(md5(p|d))
    - 7.5. Computed driver-side with hashlib (== Spark md5 bit-for-bit;
    an oracle derives the same values from its own md5), so the plan
    carries plain double literals instead of 256 md5/conv expressions
    Catalyst would have to build and constant-fold per query."""
    import hashlib

    return [
        int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16) - 7.5
        for d in range(dim)
    ]


def hyperplane_bucket_expr(
    vec_col: Column | str, num_planes: int = 8, dim: int = 64
) -> Column:
    """LSH bucket id from deterministic pseudo-random hyperplanes.

    Plane p's coefficient for dimension d is derived from md5(p|d) —
    reproducible in any engine: c(p,d) = (nibble0(md5) - 7.5). The
    bucket id packs the sign bits of the projections.
    """
    v = _to_double(F.col(vec_col) if isinstance(vec_col, str) else vec_col)
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        coeffs = F.array(*[F.lit(c) for c in _plane_coeffs(p, dim)])
        proj = F.aggregate(
            F.zip_with(v, coeffs, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0))
    return bucket


def neardup_pairs_lsh(
    df: DataFrame,
    num_planes: int = 4,
    dim: int = 64,
    threshold: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> Column:
    """Near-duplicate pairs (id_a < id_b, cosine >= threshold) found
    within hyperplane-LSH buckets — the scale path: candidate pairs are
    bounded by bucket sizes, never global n^2."""
    # Norms are per-vector, so compute them BEFORE the self-join: inside
    # the pair projection they would be re-evaluated per candidate pair
    # (HOF lambdas are interpreted, not codegen'd — ~3× the work).
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        norm_expr(F.col(vec_col)).alias("_n"),
        hyperplane_bucket_expr(vec_col, num_planes, dim).alias("_bucket"),
    )
    bucketed = materialize(bucketed)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cos = grid_round_expr(
        dot_expr(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n")),
        round_digits,
    )
    return (
        a.join(
            b,
            (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "centroid",
) -> DataFrame:
    """IVF list assignment: each vector joins its nearest centroid
    (max cosine; ties -> lowest centroid id).

    The centroid table is tiny (k entries) so the join is a broadcast
    nested loop — each row scans k centroids map-side, no shuffle of
    the vector table. At 100 TB the output is written partitioned by
    `cent_id` so probes read only the probed lists."""
    c = F.broadcast(centroids.select(
        F.col(cent_id_col), F.col(cent_vec_col).alias("_cv"),
        norm_expr(F.col(cent_vec_col)).alias("_cn"),
    ))
    v = df.select(
        F.col(id_col), F.col(vec_col).alias("_v"), norm_expr(F.col(vec_col)).alias("_vn")
    )
    scored = v.join(c).select(
        id_col,
        cent_id_col,
        (dot_expr(F.col("_v"), F.col("_cv")) / (F.col("_vn") * F.col("_cn"))).alias("_cos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_cos").desc(), F.col(cent_id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, cent_id_col)
    )


def ivf_assign_fast(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "centroid",
) -> DataFrame:
    """Arrow twin of `ivf_assign`: the k-row centroid table is collected
    to the driver (a few KB), shipped in the task closure, and each
    Arrow batch scores all centroids with ONE (batch x dim)@(dim x k)
    matmul — BLAS throughput instead of k interpreted HOF dot-folds per
    row, and no 4M-row row_number window.

    Tie-break parity with ivf_assign: centroid columns are sorted by
    cent_id ascending, and argmax returns the FIRST maximum — i.e. the
    lowest cent_id among tied scores, exactly the window's
    (cos desc, cent_id asc) order."""
    import numpy as np
    import pandas as pd

    rows = centroids.select(cent_id_col, cent_vec_col).collect()
    rows.sort(key=lambda r: r[0])
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    c = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    cn = np.sqrt((c * c).sum(axis=1))

    def gen(batches):
        for pdf in batches:
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            s = (v @ c.T) / np.outer(np.sqrt((v * v).sum(axis=1)), cn)
            j = s.argmax(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], cent_id_col: cids[j]}
            )

    return df.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, {cent_id_col} long"
    )


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
) -> DataFrame:
    """Train real IVF centroids with pyspark.ml KMeans (the production
    path; `cosine_topk_ivf`'s default first-n-by-id centroids are an
    oracle-reproducible stand-in). Returns (cent_id, centroid) in the
    shape `ivf_assign`/`cosine_topk_ivf` accept.

    Training is distributed (KMeans|| init); only the k centers — a few
    KB — come back to the driver. Not used by the correctness gate:
    KMeans results depend on Spark's implementation and are not
    reproducible in an external SQL oracle."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    return df.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cent_id long, centroid array<double>",
    )


def cosine_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: probe only the `n_probe` inverted
    lists whose centroids are closest to the query.

    Default centroids are the first `n_centroids` vectors by id — a
    deterministic, oracle-reproducible stand-in for KMeans training;
    pass `centroids=kmeans_centroids(df, ...)` for trained centers (the
    probe/scan topology is identical). Query→centroid scoring happens
    driver-side (tiny), so the distributed plan is: assignment
    (broadcast NL join + per-vector argmax) → partition-pruned scan of
    probed lists → brute-force top-k within them."""
    if centroids is None:
        centroids = df.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("centroid")
        )
    cents = {r["cent_id"]: list(r["centroid"]) for r in centroids.collect()}

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) * float(x) for x in a) ** 0.5
        nb = sum(float(y) * float(y) for y in b) ** 0.5
        return dot / (na * nb)

    probes = sorted(
        cents, key=lambda cid: (-cos(query_vec, cents[cid]), cid)
    )[:n_probe]

    assigned = ivf_assign(df, centroids)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    candidates = df.join(
        assigned.filter(F.col("cent_id").isin([int(p) for p in probes])),
        on=id_col,
        how="inner",
    )
    scored = candidates.select(
        F.col(id_col),
        grid_round_expr(cosine_expr(F.col(vec_col), q), round_digits).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def quantize_embedding_exprs(
    vec_col: Column | str = "embedding", bits: int = 8
) -> tuple[Column, Column]:
    """Symmetric per-vector int quantization for embedding storage:
    (scale, codes) with scale = max|x| / (2^(bits-1) - 1) and
    codes[i] = round-half-away(x[i] / scale) clamped to the int range —
    the standard int8 compression that cuts an embedding store 4x.
    floor(x + 0.5) sign-split keeps the rounding engine-portable.
    Zero vectors quantize to scale 0 / all-zero codes."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    qmax = (1 << (bits - 1)) - 1
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax > 0.0, amax / qmax).otherwise(F.lit(0.0))

    def code(x):
        r = x.cast("double") / scale
        rounded = F.when(r >= 0, F.floor(r + 0.5)).otherwise(-F.floor(-r + 0.5))
        return F.least(F.greatest(rounded, F.lit(-qmax - 1)), F.lit(qmax)).cast("int")

    codes = F.when(
        scale > 0.0, F.transform(v, code)
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return scale, codes


def simhash_hamming_pairs(
    df: DataFrame,
    simhash_col: str = "simhash",
    id_col: str = "doc_id",
    max_distance: int = 3,
    bits: int = 16,
    n_bands: int = 4,
    max_pairs_per_doc: int | None = 64,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= max_distance.

    Multi-index banding (the standard Hamming-search trick): split the
    fingerprint into `n_bands` contiguous bit bands; any pair within
    distance d < n_bands must agree EXACTLY on at least one band
    (pigeonhole), so candidates come from per-band bucket joins —
    Σ|bucket|², never n² — and the exact bit_count(xor) filter runs on
    candidates only. Requires max_distance < n_bands for completeness.

    Pair ENUMERATION output is inherently O(Σ|family|²) on dup-heavy
    corpora (a 32× dup-saturated probe emitted 144M pairs from 160k
    docs — small fingerprint spaces collide quadratically), so the
    output is bounded by `max_pairs_per_doc`: each id_a keeps its k
    closest partners, ranked deterministically by (hamming, id_b),
    giving a hard O(n·k) output contract. The default (64 near-dup
    partners per document) is far above any verification-stage need;
    pass None for the unbounded enumeration. The representative forms
    (`near_dedup_cc`, `near_dedup`) remain the right operators for
    dup-heavy corpora — linear output with no cap at all.
    """
    if max_distance >= n_bands:
        raise ValueError(
            f"max_distance ({max_distance}) must be < n_bands ({n_bands}) "
            "for pigeonhole completeness"
        )
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sh = F.col(simhash_col)
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(sh, b * band_bits).bitwiseAND(F.lit(mask)).alias("bv"),
        )
        for b in range(n_bands)
    ])
    banded = df.select(
        F.col(id_col), sh.alias("_sh"), F.explode(bands).alias("b")
    ).select(id_col, "_sh", F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
    # Materialize: the banded table feeds BOTH sides of the self-join;
    # unmaterialized, the fingerprint pipeline upstream (typically a
    # pandas UDF) would be evaluated twice (same barrier as
    # lsh_candidate_pairs).
    banded = materialize(banded)
    # deliberately UNHINTED: the banded table is NARROW (id + band +
    # bv — no explode blow-up), so its static size estimate scales
    # with row count and cannot be under-estimated into an OOM
    # broadcast at scale (contrast ngram_jaccard_pairs' wide shingle
    # table, which is pinned); at fixture scale the planner's
    # broadcast is also skew-immune, where a forced shuffle join
    # measured 36x at the 32x dup-stress (saturated 2^band_bits
    # buckets land in single tasks).
    left, right = banded.alias("l"), banded.alias("r")
    cand = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bv") == F.col("r.bv"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        F.bit_count(
            F.col("l._sh").bitwiseXOR(F.col("r._sh"))
        ).alias("hamming"),
    ).distinct()
    pairs = cand.filter(F.col("hamming") <= max_distance)
    if max_pairs_per_doc is None:
        return pairs
    w = Window.partitionBy("id_a").orderBy("hamming", "id_b")
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_pairs_per_doc)
        .drop("_rn")
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: DataFrame | None = None,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF index on disk: vectors written PARTITIONED BY
    their nearest-centroid id (one directory per inverted list), with
    the centroid table as a sidecar. A probe then reads only the
    probed lists' directories — partition pruning does the list
    selection before any I/O, which is the physical layout a 100 TB
    ANN corpus needs (`cosine_topk_ivf`'s join-based probe still scans
    the full vector table to compute assignments).

    Layout: <path>/vectors/cent_id=<c>/...parquet, <path>/centroids/.
    """
    if centroids is None:
        centroids = df.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("centroid")
        )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    df.join(assigned, on=id_col).write.mode("overwrite").partitionBy(
        "cent_id"
    ).parquet(f"{path}/vectors")


def cosine_topk_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Top-k over a `write_ivf_index` store: pick the n_probe nearest
    centroids driver-side (centroid table is a few KB), then scan ONLY
    those lists — the cent_id filter is a PartitionFilter, so unprobed
    lists are never opened."""
    cents = {
        r["cent_id"]: list(r["centroid"])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) * float(x) for x in a) ** 0.5
        nb = sum(float(y) * float(y) for y in b) ** 0.5
        return dot / (na * nb)

    probes = sorted(cents, key=lambda c: (-cos(query_vec, cents[c]), c))[:n_probe]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    vecs = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cent_id").isin([int(p) for p in probes])
    )
    scored = vecs.select(
        F.col(id_col),
        grid_round_expr(cosine_expr(F.col(vec_col), q), round_digits).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _bucket_py(vec: list[float], num_planes: int, dim: int) -> int:
    """Driver-side twin of `hyperplane_bucket_expr` for a known vector —
    same coefficients, so the bucket id matches without launching a
    job."""
    bucket = 0
    for p in range(num_planes):
        coeffs = _plane_coeffs(p, dim)
        proj = 0.0
        for d in range(dim):
            proj += float(vec[d]) * coeffs[d]
        if proj >= 0:
            bucket += 1 << p
    return bucket


def cosine_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 4,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    At scale the bucket column is precomputed/partitioned-on, so the
    scan prunes to ~n/2^planes vectors before any arithmetic.
    """
    dim = len(query_vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qbucket = _bucket_py(query_vec, num_planes, dim)
    bucketed = df.withColumn(
        "_bucket", hyperplane_bucket_expr(vec_col, num_planes, dim)
    ).filter(F.col("_bucket") == qbucket)
    scored = bucketed.select(
        F.col(id_col),
        grid_round_expr(cosine_expr(F.col(vec_col), q), round_digits).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def jl_projection_matrix(in_dim: int, out_dim: int) -> "list[list[int]]":
    """Achlioptas sparse JL matrix with md5-derived entries: r[i][j] is
    +1 / -1 / 0 with probability 1/6 / 1/6 / 2/3, decided by
    md5(f"jl:{i}:{j}") % 6 — the exact expression a SQL oracle (or any
    other engine) evaluates, so the 'random' projection is a pure
    function of the dimensions. Sparse entries mean 2/3 of the mass
    never multiplies; the sqrt(3/k) scale restores expected norms
    (Achlioptas 2003, database-friendly random projections)."""
    import hashlib

    mat = []
    for i in range(in_dim):
        row = []
        for j in range(out_dim):
            h = hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()
            v = int(h[:8], 16) % 6
            row.append(1 if v == 0 else (-1 if v == 1 else 0))
        mat.append(row)
    return mat


def jl_project(
    df: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction of an embedding
    column: (id, dim, val) long-form rows of the out_dim-dimensional
    projection, val = round(sqrt(3/out_dim) * e . r_dim, 6).

    Pairwise distances are preserved within (1 +/- eps) for
    eps ~ sqrt(8 ln n / out_dim) — the standard pre-shrink before ANN
    indexing when the raw dimension makes candidate scoring
    memory-bound. One mapInPandas matmul per Arrow batch against the
    closure-shipped in_dim x out_dim +/-1 matrix; no shuffle, output
    n x out_dim rows. Deterministic: the matrix derives from md5, not
    an RNG, so re-runs and SQL mirrors agree bit-for-bit after
    rounding."""
    import numpy as np
    import pandas as pd

    r = np.array(
        jl_projection_matrix(in_dim, out_dim), dtype=np.float64
    )
    scale = float(np.sqrt(3.0 / out_dim))

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # half-up (away-from-zero) like F.round/DuckDB — np.round
            # is banker's and diverges on exact 5e-7 midpoints
            p = round_half_up(scale * (v @ r), round_digits)
            n, k = p.shape
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), k),
                    "dim": np.tile(np.arange(k, dtype=np.int32), n),
                    "val": p.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, dim int, val double"
    )


def hard_negatives(
    queries: DataFrame,
    store: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_digits: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    row, the k store vectors MOST similar by cosine yet carrying a
    DIFFERENT label — the near-miss negatives that make embedding
    models learn boundaries instead of memorizing easy contrasts.
    Output: (qid, id, label, cosine), top-k per query by
    (cosine desc, id asc); NULL-labeled rows never match (either side).
    Zero-norm vectors have no direction — cosine against them is
    NULL/NaN, which would silently turn a query's "top-k hardest
    negatives" into the k smallest-id rows — so they are excluded on
    BOTH sides (the triplet_mining contract).

    Scale: one store scan regardless of batch size — the query batch
    (ids + labels + vectors) is broadcast into a crossJoin, the label
    inequality prunes before scoring, and per-query top-k is a bounded
    window (rank <= k) — no per-query rescans, no store self-join.
    The query batch must be small (100s, not millions); mine bigger
    batches in chunks.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("qid"),
            F.col(label_col).alias("_qlab"),
            F.col(vec_col).alias("_qv"),
            norm_expr(F.col(vec_col)).alias("_qn"),
        ).filter(F.col("_qn") > 0)
    )
    st = store.select(
        F.col(id_col),
        F.col(label_col),
        F.col(vec_col).alias("_sv"),
        norm_expr(F.col(vec_col)).alias("_sn"),
    ).filter(F.col("_sn") > 0)
    raw = dot_expr(F.col("_sv"), F.col("_qv")) / (
        F.col("_sn") * F.col("_qn")
    )
    scored = (
        st.crossJoin(q)
        .filter(F.col(label_col) != F.col("_qlab"))
        .select(
            "qid",
            id_col,
            label_col,
            grid_round_expr(raw, round_digits).alias("cosine"),
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("qid", id_col, label_col, "cosine")
    )


def label_propagation(
    unlabeled: DataFrame,
    seeds: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_digits: int = 4,
) -> DataFrame:
    """One round of kNN label propagation — the semi-supervised step
    that turns a small hand-labeled seed set into corpus-scale labels
    (quality/domain classifiers for data curation are routinely
    bootstrapped this way): each unlabeled vector takes the majority
    label of its k nearest seeds by cosine; vote ties break to the
    smaller label, neighbor ties at the cosine boundary to the
    smaller seed id. Output: (id, pred_label, votes) per unlabeled
    row; NULL-labeled seeds are ignored, and zero-norm vectors are
    excluded on BOTH sides (no direction -> NULL cosine would silently
    hand the vote to the k smallest-id seeds; the triplet_mining
    contract).

    Scale: the seed side is small by the SSL contract (thousands
    against a corpus of billions), so the seed matrix is collected
    once and shipped in the task closure; each Arrow batch scores ALL
    seeds with one (batch x dim)@(dim x m) matmul — BLAS throughput
    (an interpreted HOF dot-fold per pair measured 177x wall at the
    32x probe; this kernel ~9x). For seed sets too big to ship,
    prune candidates with the IVF/LSH bucket path (cosine_topk_ivf /
    cosine_topk_lsh) before voting.

    Tie rules: cosines round half-away-from-zero on the stored double
    (round_half_up == DuckDB round()), seed columns are pre-sorted by
    sid ascending so the stable argsort on -S gives the (cos desc,
    sid asc) order, and np.unique + argmax picks the smallest label
    among tied vote counts."""
    import numpy as np
    import pandas as pd

    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    rows = (
        seeds.filter(F.col(label_col).isNotNull())
        .select(id_col, label_col, vec_col)
        .collect()
    )
    rows.sort(key=lambda r: r[0])
    # zero-norm exclusion on both sides
    def _sq(r):
        v = np.asarray(r[2], dtype=np.float64)
        return float(v @ v)

    rows = [r for r in rows if _sq(r) > 0]
    if not rows:
        return unlabeled.sparkSession.createDataFrame(
            [], f"{id_col} long, pred_label long, votes long"
        )
    c = np.stack([np.asarray(r[2], dtype=np.float64) for r in rows])
    cn = np.sqrt((c * c).sum(axis=1))
    sl = np.array([r[1] for r in rows], dtype=np.int64)
    kk = min(k, len(rows))

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.sqrt((v * v).sum(axis=1))
            keep = vn > 0  # zero-norm rows excluded
            if not keep.all():
                pdf, v, vn = pdf[keep], v[keep], vn[keep]
                if len(pdf) == 0:
                    continue
            s = (v @ c.T) / np.outer(vn, cn)
            s = round_half_up(s, round_digits)
            order = np.argsort(-s, axis=1, kind="stable")[:, :kk]
            top_lab = sl[order]
            pred = np.empty(len(pdf), dtype=np.int64)
            votes = np.empty(len(pdf), dtype=np.int64)
            for i in range(len(pdf)):
                labs, cnts = np.unique(top_lab[i], return_counts=True)
                j = int(cnts.argmax())  # first max = smallest label
                pred[i], votes[i] = labs[j], cnts[j]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "pred_label": pred, "votes": votes}
            )

    return unlabeled.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, pred_label long, votes long"
    )


def triplet_mining(
    queries: DataFrame,
    store: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_digits: int = 4,
) -> DataFrame:
    """Triplet mining for contrastive training (anchor, hardest
    positive, hardest negative): for each labeled anchor, the MOST
    similar same-label store vector (the positive the model should
    pull closer) and the most similar different-label one (the
    near-miss negative to push away). Output one row per anchor:
    (qid, pos_id, pos_bp, neg_id, neg_bp, margin_bp) — cosines on
    the half-away-from-zero 1e-4 integer grid (the stored-value grid
    DuckDB round() and the Arrow kernels agree on; F.round's
    shortest-repr HALF_UP would not), margin = pos - neg in bp
    (negative margin = the triplet is currently inverted — the
    highest-value training signal). Anchors or store rows with NULL
    labels are excluded (no side of a triplet can be unlabeled);
    anchors lacking a same-label or different-label candidate emit
    NULL ids with 0 bp for that side.

    Scale: one store scan — the anchor batch broadcasts into a
    crossJoin, per-(anchor, same/diff) argmax is a combinable
    max(struct) aggregate (no window, no per-anchor rescans). Anchor
    batches must be small (100s); mine big sets in chunks."""
    # zero vectors have no direction: cosine would be NaN/Inf (an
    # ANSI cast error, or a Long.MAX argmax winner without ANSI) —
    # exclude them on both sides, like NULL labels
    q = F.broadcast(
        queries.filter(F.col(label_col).isNotNull()).select(
            F.col(id_col).alias("qid"),
            F.col(label_col).alias("_qlab"),
            F.col(vec_col).alias("_qv"),
            norm_expr(F.col(vec_col)).alias("_qn"),
        ).filter(F.col("_qn") > 0)
    )
    st = store.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col),
        F.col(label_col),
        F.col(vec_col).alias("_sv"),
        norm_expr(F.col(vec_col)).alias("_sn"),
    ).filter(F.col("_sn") > 0)
    raw = dot_expr(F.col("_sv"), F.col("_qv")) / (
        F.col("_sn") * F.col("_qn")
    )
    # stored-value grid in INTEGER units of 10^-round_digits: one
    # representation for the argmax key, the output, and the oracle
    grid = F.lit(float(10 ** round_digits))
    cos_bp = (
        F.signum(raw) * F.floor(F.abs(raw) * grid + F.lit(0.5))
    ).cast("long")
    scored = st.crossJoin(q).select(
        "qid",
        (F.col(label_col) == F.col("_qlab")).alias("_same"),
        cos_bp.alias("_bp"),
        F.col(id_col).alias("_sid"),
    )
    # argmax by (bp desc, id asc) == max of struct(bp, -id)
    best = scored.groupBy("qid", "_same").agg(
        F.max(F.struct(F.col("_bp"), (-F.col("_sid")).alias("_ni"))).alias(
            "_w"
        )
    )
    pivoted = best.groupBy("qid").agg(
        F.max(F.when(F.col("_same"), F.col("_w"))).alias("_p"),
        F.max(F.when(~F.col("_same"), F.col("_w"))).alias("_n"),
    )
    # anchor universe = the eligible query batch, NOT the scored rows:
    # an anchor facing an empty/unlabeled store still gets its row
    # (NULL ids, 0 bp) instead of silently vanishing
    anchors = q.select("qid")
    pivoted = anchors.join(pivoted, "qid", "left")
    pos_bp = F.coalesce(F.col("_p._bp"), F.lit(0))
    neg_bp = F.coalesce(F.col("_n._bp"), F.lit(0))
    return pivoted.select(
        "qid",
        (-F.col("_p._ni")).alias("pos_id"),
        pos_bp.cast("long").alias("pos_bp"),
        (-F.col("_n._ni")).alias("neg_id"),
        neg_bp.cast("long").alias("neg_bp"),
        (pos_bp - neg_bp).cast("long").alias("margin_bp"),
    )


def ivf_probe_curve(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    probes: tuple = (1, 2, 4),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Recall@k vs n_probe — the IVF tuning curve every ANN
    deployment reads before pinning its probe setting (more probes =
    more recall = more scan; the knee is the operating point). One
    brute-force ground truth and ONE list assignment are computed and
    materialized; each probe setting only filters the SAME assignment
    to its centroid prefix and re-ranks — the expensive parts are
    probe-independent, exactly like dedup_sensitivity's shared pair
    pass. Returns (n_probe, n_common, recall_bp) per probe setting,
    monotone non-decreasing in n_probe (a centroid prefix only
    grows). Same centroid defaults and tie-breaks as cosine_topk_ivf,
    so SQL_KNN_IVF replays each branch with its LIMIT swapped."""
    if not probes:
        raise ValueError("probes must be non-empty")
    if any(int(p) < 1 for p in probes):
        raise ValueError(f"every probe count must be >= 1, got {probes}")
    if centroids is None:
        centroids = df.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("centroid")
        )
    cents = {r["cent_id"]: list(r["centroid"]) for r in centroids.collect()}

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) * float(x) for x in a) ** 0.5
        nb = sum(float(y) * float(y) for y in b) ** 0.5
        return dot / (na * nb)

    ranked = sorted(cents, key=lambda cid: (-cos(query_vec, cents[cid]), cid))
    truth = materialize(
        cosine_topk(
            df, query_vec, k=k, vec_col=vec_col, id_col=id_col,
            round_digits=round_digits,
        ).select(id_col)
    )
    assigned = materialize(ivf_assign(df, centroids, vec_col=vec_col,
                                      id_col=id_col))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = None
    for n in probes:
        pset = [int(p) for p in ranked[: int(n)]]
        approx = (
            df.join(
                assigned.filter(F.col("cent_id").isin(pset)),
                on=id_col, how="inner",
            )
            .select(
                F.col(id_col),
                grid_round_expr(
                    cosine_expr(F.col(vec_col), q), round_digits
                ).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), F.col(id_col))
            .limit(k)
            .select(id_col)
        )
        row = (
            truth.join(approx, id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
            .select(
                F.lit(int(n)).cast("long").alias("n_probe"),
                "n_common",
                F.expr(f"n_common * 10000 div {int(k)}")
                .cast("long")
                .alias("recall_bp"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
