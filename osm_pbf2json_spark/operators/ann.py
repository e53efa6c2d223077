"""Approximate-nearest-neighbor search over embedding columns.

- `cosine_topk_bruteforce`: exact baseline — query vectors broadcast as
  literal arrays; dot/norm in zip_with+aggregate (JVM); window top-k.
- `cosine_topk_lsh`: scale path — random-hyperplane LSH buckets (same
  deterministic planes for corpus and queries) with multi-probe (flip
  each bit once) to keep recall; exact cosine re-rank inside buckets.
  At 10¹² rows the bucket join touches ~(probes/2^planes) of the corpus
  per query instead of all of it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

# rows in the deterministic training sample (`_pq_sample`) that the IVF,
# PQ and OPQ trainers draw, and that cosine_topk_ivfpq shares among them
PQ_SAMPLE_ROWS = 2048


def _dot(x, y):
    return F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda s, z: s + z)


def _lit_vec(v) -> "F.Column":
    return F.array(*[F.lit(float(x)) for x in v])


def cosine_topk_bruteforce(
    df: DataFrame,
    queries: list[tuple],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """queries: [(qid, vector)]. Returns (qid, neighbor_id, cosine, rank).

    One pass over the corpus computes every query's scores as independent
    columns (no join, no shuffle of the corpus); the only shuffle is the
    per-query top-k window over corpus_rows × n_queries scored rows.
    """
    vec = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(_dot(vec, vec))
    scored = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(qid)).alias("qid"),
                        (
                            _dot(vec, _lit_vec(q))
                            / (norm * float(np.linalg.norm(np.asarray(q, float))))
                        ).alias("cosine"),
                    )
                    for qid, q in queries
                ]
            )
        ).alias("s"),
    ).select("neighbor_id", "s.qid", "s.cosine")
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor_id", "cosine", "rank")
    )


def _plane_buckets(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.normal(size=(n_planes, dim))


def train_ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample_rows: int = PQ_SAMPLE_ROWS,
    iters: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Driver-side spherical k-means on a deterministic sample (the IVF
    coarse quantizer). The sample is tiny and bounded; at 10¹² rows this
    is the standard train-small/apply-everywhere pattern.

    The sample is the `sample_rows` smallest xxhash64(vector) rows — a
    deterministic, partition-UNbiased draw executed as one TakeOrdered
    job (per-partition top-k + driver merge), unlike `limit()` which
    takes whatever rows the first partitions yield. Size `n_centroids`
    ~sqrt(corpus rows) at scale so probe cells stay balanced.

    `sample` short-circuits the draw with an already-collected
    `_pq_sample` array — composed trainers (IVF-PQ) share ONE sample
    job instead of re-scanning the corpus per trainer."""
    if sample is None:
        sample = _pq_sample(df, vec_col, sample_rows)
    sample = sample / (np.linalg.norm(sample, axis=1, keepdims=True) + 1e-12)
    rng = np.random.Generator(np.random.PCG64(seed))
    cents = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)]
    for _ in range(iters):
        sims = sample @ cents.T
        assign = sims.argmax(axis=1)
        for ci in range(len(cents)):
            members = sample[assign == ci]
            if len(members):
                v = members.sum(axis=0)
                cents[ci] = v / (np.linalg.norm(v) + 1e-12)
    return cents


def cosine_topk_ivf(
    df: DataFrame,
    queries: list[tuple],
    k: int = 10,
    n_centroids: int | str = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """IVF scale path: corpus partitioned into centroid cells once; each
    query scans only its `n_probe` nearest cells with exact cosine
    re-ranking. Cell assignment is one Arrow kernel pass; the probe join
    is a broadcast equi-join on cell id — the corpus never shuffles.

    n_centroids="auto" sizes the quantizer to ~sqrt(corpus rows)
    (clamped to [16, 4096]) — index build is O(N) anyway, so the count
    is amortized into the build.

    Pass `centroids` (array-like, one row per centroid) to skip training
    — the production pattern where the quantizer is trained once and
    reused across many query batches, and the path external audits can
    reproduce exactly (assignment is a pure argmax over fixed vectors)."""
    from ..plans.partitioning import widen_narrow_input

    df = widen_narrow_input(df)
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
    else:
        if n_centroids == "auto":
            n_centroids = int(min(4096, max(16, df.count() ** 0.5)))
        cents = train_ivf_centroids(df, n_centroids, vec_col=vec_col, seed=seed)

    def assign(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)
        return pd.Series((m @ cents.T).argmax(axis=1).astype(np.int64))

    assign_udf = F.pandas_udf(assign, "long")
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("cell", assign_udf("v"))

    spark = df.sparkSession
    qrows = []
    for qid, q in queries:
        qv = np.asarray(q, dtype=np.float64)
        qn = qv / (np.linalg.norm(qv) + 1e-12)
        probes = np.argsort(-(qn @ cents.T))[:n_probe]
        for c in probes:
            qrows.append((int(qid), [float(x) for x in qv], int(c)))
    qdf = spark.createDataFrame(qrows, "qid long, qv array<double>, cell long")

    norm = lambda x: F.sqrt(_dot(x, x))  # noqa: E731
    scored = (
        corpus.join(F.broadcast(qdf), "cell")
        .withColumn("cosine", _dot(F.col("v"), F.col("qv")) / (norm("v") * norm("qv")))
        .select("qid", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_lsh(
    df: DataFrame,
    queries: list[tuple],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """LSH-bucketed variant: corpus hashed once; each query probes its own
    bucket plus all 1-bit-flip neighbors (multi-probe). The plane dim
    comes from the query vectors — no driver job against the corpus."""
    from ..plans.partitioning import widen_narrow_input

    df = widen_narrow_input(df)
    dim = len(queries[0][1])
    planes = _plane_buckets(n_planes, dim, seed)

    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        key = (((m @ planes.T) > 0) * (1 << np.arange(n_planes))).sum(axis=1)
        return pd.Series(key.astype(np.int64))

    bucket_udf = F.pandas_udf(bucket, "long")
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("bucket", bucket_udf("v"))

    spark = df.sparkSession
    qrows = []
    for qid, q in queries:
        qv = np.asarray(q, dtype=np.float64)
        base = int((((qv @ planes.T) > 0) * (1 << np.arange(n_planes))).sum())
        probes = [base] + [base ^ (1 << i) for i in range(n_planes)]
        for p in probes:
            qrows.append((int(qid), [float(x) for x in qv], int(p)))
    qdf = spark.createDataFrame(qrows, "qid long, qv array<double>, bucket long")

    norm = lambda x: F.sqrt(_dot(x, x))  # noqa: E731
    scored = (
        corpus.join(F.broadcast(qdf), "bucket")
        .withColumn("cosine", _dot(F.col("v"), F.col("qv")) / (norm("v") * norm("qv")))
        .select("qid", "neighbor_id", "cosine")
        .distinct()
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor_id", "cosine", "rank")
    )


# --- product quantization (PQ) -------------------------------------------


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    sample_rows: int = PQ_SAMPLE_ROWS,
    iters: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Driver-side PQ training: split dims into `m` subspaces, k-means
    (`k_codes` centroids) per subspace on the same deterministic
    TakeOrdered sample the IVF trainer uses. Returns (m, k', dim/m)
    float64 codebooks with k' = min(k_codes, sample size) — never
    zero-padded, so no phantom all-zero codes can win an argmin.

    PQ is the memory scale path for ANN: a 64-dim float32 vector is
    256 bytes; its PQ codes are `m` small ints — at 10^12 vectors the
    difference between a corpus that fits executor memory and one that
    doesn't."""
    if sample is None:
        sample = _pq_sample(df, vec_col, sample_rows)
    return _subspace_kmeans(sample, m, k_codes, iters, seed)


def train_pq_codebooks_residual(
    df: DataFrame,
    centroids: np.ndarray,
    m: int = 8,
    k_codes: int = 16,
    sample_rows: int = PQ_SAMPLE_ROWS,
    iters: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Residual PQ training: quantize (v − centroid[cell]) instead of v.
    Residuals concentrate around the origin, so the same code budget
    captures far more of the remaining variance — the standard IVF-PQ
    accuracy upgrade. Same sample/k-means machinery as
    train_pq_codebooks (shared helpers), applied to residuals."""
    if sample is None:
        sample = _pq_sample(df, vec_col, sample_rows)
    cents = np.asarray(centroids, dtype=np.float64)
    xn = sample / (np.linalg.norm(sample, axis=1, keepdims=True) + 1e-12)
    resid = sample - cents[(xn @ cents.T).argmax(axis=1)]
    return _subspace_kmeans(resid, m, k_codes, iters, seed)


def train_opq(
    df: DataFrame,
    centroids: np.ndarray | None = None,
    m: int = 8,
    k_codes: int = 16,
    sample_rows: int = PQ_SAMPLE_ROWS,
    iters: int = 8,
    outer: int = 6,
    vec_col: str = "embedding",
    seed: int = 42,
    sample: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ (Ge et al., CVPR 2013): learn an orthonormal rotation R so
    the product quantizer's independent-subspace assumption fits the
    data, then train codebooks in the rotated space. Returns (R (d,d),
    codebooks (m, k', d/m)).

    Alternating minimization of ||X·R − Q(X·R)||² over R and the
    codebooks: (1) k-means per subspace on X·R, (2) orthogonal
    Procrustes R = U·Vᵀ from SVD(Xᵀ·recon). With `centroids` given, X
    is the IVF residual sample (v − centroid[cell]) — the rotation then
    composes with residual IVF-PQ. Rotation preserves dot products and
    norms, so ADC scoring is unchanged except queries (and centroid
    cross-terms) are rotated into codebook space."""
    if sample is None:
        sample = _pq_sample(df, vec_col, sample_rows)
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        xn = sample / (np.linalg.norm(sample, axis=1, keepdims=True) + 1e-12)
        target = sample - cents[(xn @ cents.T).argmax(axis=1)]
    else:
        target = sample
    d = target.shape[1]
    R = np.eye(d)
    for _ in range(outer):
        xr = target @ R
        books = _subspace_kmeans(xr, m, k_codes, iters, seed)
        codes = _encode_codes(xr, books, (books**2).sum(axis=2))
        recon = np.concatenate([books[s][codes[:, s]] for s in range(m)], axis=1)
        u, _s, vt = np.linalg.svd(target.T @ recon)
        R = u @ vt
    books = _subspace_kmeans(target @ R, m, k_codes, iters, seed)
    return R, books


def _pq_sample(df: DataFrame, vec_col: str, sample_rows: int) -> np.ndarray:
    return np.array(
        [
            r[0]
            for r in df.select(vec_col)
            .orderBy(F.xxhash64(F.col(vec_col)))
            .limit(sample_rows)
            .collect()
        ],
        dtype=np.float64,
    )


def _subspace_kmeans(
    x: np.ndarray, m: int, k_codes: int, iters: int, seed: int
) -> np.ndarray:
    """Per-subspace k-means; k clamps to the sample size so the codebook
    is never zero-padded (no phantom codes that could win an argmin)."""
    dim = x.shape[1]
    assert dim % m == 0, "dim must divide evenly into m subspaces"
    sub = dim // m
    k_codes = min(k_codes, len(x))
    rng = np.random.Generator(np.random.PCG64(seed))
    books = np.zeros((m, k_codes, sub))
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        cents = xs[rng.choice(len(xs), size=k_codes, replace=False)]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for ci in range(len(cents)):
                members = xs[assign == ci]
                if len(members):
                    cents[ci] = members.mean(axis=0)
        books[s] = cents
    return books


def _encode_codes(x: np.ndarray, codebooks: np.ndarray, cb_n2: np.ndarray) -> np.ndarray:
    """(n, dim) targets → (n, m) argmin codes, ranked by the expanded
    distance |c|² − 2·x·c (the |x_sub|² term is constant per row — same
    argmin, and the same arithmetic shape the DuckDB oracle mirror
    computes, which keeps cross-engine near-ties aligned)."""
    m, _, sub = codebooks.shape
    out = np.zeros((len(x), m), dtype=np.int64)
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        d = cb_n2[s][None, :] - 2.0 * (xs @ codebooks[s].T)
        out[:, s] = d.argmin(axis=1)
    return out


def _pq_encode_udf(codebooks: np.ndarray):
    """Arrow kernel wrapping _encode_codes (cb_n2 precomputed once in the
    closure, not per batch)."""
    cb_n2 = (codebooks**2).sum(axis=2)  # (m, k)

    def kernel(vecs: pd.Series) -> pd.Series:
        x = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(list(_encode_codes(x, codebooks, cb_n2)))

    return F.pandas_udf(kernel, "array<long>")


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>[m]) in one Arrow pass."""
    enc = _pq_encode_udf(codebooks)
    return df.select(F.col(id_col).alias("id"), enc(F.col(vec_col)).alias("codes"))


def _adc_luts(queries: list[tuple], codebooks: np.ndarray):
    """Stacked per-query ADC lookup tables: (qids, |q| array (Q,),
    partial-dot LUT (Q, m, k_codes))."""
    m, k_codes, sub = codebooks.shape
    qids, qns, luts = [], [], []
    for qid, q in queries:
        qv = np.asarray(q, dtype=np.float64)
        qids.append(int(qid))
        qns.append(float(np.linalg.norm(qv)))
        lut = np.zeros((m, k_codes))
        for s in range(m):
            lut[s] = codebooks[s] @ qv[s * sub : (s + 1) * sub]
        luts.append(lut)
    return qids, np.array(qns), np.stack(luts)


def cosine_topk_pq(
    df: DataFrame,
    queries: list[tuple],
    k: int = 10,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k: corpus scanned as PQ
    codes only; per query a tiny (m × k_codes) lookup table of partial
    dots/norms is broadcast in the kernel closure, and the approximate
    cosine is

        cos ≈ Σ_s dot(q_s, cb[s, code_s]) / (|q| · sqrt(Σ_s |cb[s, code_s]|²))

    — EXACT given the reconstruction (subspaces are disjoint
    coordinates, cross terms vanish). ONE scan scores every query (the
    kernel returns an array of Q scores, exploded with its qid); the
    scan touches m ints per vector, never the float vectors — at 10^12
    rows the I/O drops ~16× vs a full-precision scan. Re-rank top
    candidates downstream when exactness matters (cosine_topk_ivfpq
    shows the pattern)."""
    from ..plans.partitioning import widen_narrow_input

    df = widen_narrow_input(df)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            df, m=m, k_codes=k_codes, vec_col=vec_col, seed=seed
        )
    m, k_codes, _ = codebooks.shape
    codes = pq_encode(df, codebooks, id_col, vec_col)
    qids, qns, luts = _adc_luts(queries, codebooks)
    nq = len(qids)
    cb_n2 = (codebooks**2).sum(axis=2)
    lut_flat = luts.reshape(nq, m * k_codes)
    n2_flat = cb_n2.reshape(m * k_codes)
    offs = (np.arange(m) * k_codes)[None, :]

    def score(codes_s: pd.Series) -> pd.Series:
        c = np.array(list(codes_s), dtype=np.int64)  # (n, m)
        idx = offs + c  # (n, m) flat LUT indexes
        num = lut_flat[:, idx].sum(axis=2)  # (Q, n)
        vn = np.sqrt(n2_flat[idx].sum(axis=1))  # (n,)
        sc = num / (qns[:, None] * vn[None, :] + 1e-12)  # (Q, n)
        return pd.Series(list(sc.T))

    score_udf = F.pandas_udf(score, "array<double>")
    qid_arr = F.array(*[F.lit(q) for q in qids])
    scored = (
        codes.select(
            F.col("id").alias("neighbor_id"),
            F.posexplode(score_udf(F.col("codes"))).alias("qpos", "cosine_hat"),
        )
        .select(
            F.element_at(qid_arr, F.col("qpos") + 1).alias("qid"),
            "neighbor_id",
            "cosine_hat",
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine_hat").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor_id", "cosine_hat", "rank")
    )


def cosine_topk_ivfpq(
    df: DataFrame,
    queries: list[tuple],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    rerank: int = 0,
    residual: bool = False,
    opq: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ — the canonical 10^9+-vector ANN layout (FAISS IVFPQ shape,
    built from this module's own pieces): an IVF coarse quantizer prunes
    the corpus to `n_probe` cells per query, and within the probed cells
    the scan touches PQ CODES only (m small ints per vector). Per query
    the work is ~(n_probe/n_centroids) × corpus_rows × m ints — the
    selectivity knob (n_probe/n_centroids) and the bytes-per-row knob
    (m) are both explicit.

    Plan shape: ONE corpus scan computes codes + cell together; the
    (qid, cell) probe list is broadcast; every probed row is scored for
    its row's qid in one kernel (no per-query scans). `rerank > 0`
    re-scores that many ADC candidates with exact cosine — the
    candidate ids are BROADCAST back against the corpus, so the float
    vectors are never shuffled. Returns (qid, neighbor_id, cosine,
    rank); `cosine` is the ADC approximation when rerank=0 and the
    exact value when rerank>0 — same schema either way.

    `residual=True` PQ-encodes (v − centroid[cell]) instead of v — the
    standard accuracy upgrade: residuals concentrate near the origin,
    so the same code budget captures more variance. The reconstruction
    norm then needs the centroid×code cross terms; they are precomputed
    as a (cells × m × k_codes) table in the kernel closure.

    `opq=True` additionally learns an orthonormal rotation (train_opq)
    and PQ-encodes the ROTATED target. Rotation preserves dots/norms,
    so ADC is unchanged with queries (and, under residual, the centroid
    cross-term tables) rotated into codebook space — q·v = q·c +
    (qR)·((v−c)R)."""
    from ..plans.partitioning import widen_narrow_input

    df = widen_narrow_input(df)
    if residual and codebooks is not None and centroids is None:
        raise ValueError(
            "residual=True with caller-supplied codebooks requires the "
            "centroids they were residual-trained against — training fresh "
            "centroids here would silently corrupt every ADC score"
        )
    # ONE TakeOrdered sample job feeds both trainers — the draw is
    # deterministic (smallest xxhash64 rows), so sharing it is
    # value-identical to each trainer collecting its own, and at scale
    # it halves the training-time corpus scans
    shared = (
        _pq_sample(df, vec_col, PQ_SAMPLE_ROWS)
        if centroids is None or codebooks is None
        else None
    )
    if centroids is None:
        centroids = train_ivf_centroids(
            df, n_centroids, vec_col=vec_col, seed=seed, sample=shared
        )
    cents = np.asarray(centroids, dtype=np.float64)
    if codebooks is None:
        if opq:
            rotation, codebooks = train_opq(
                df,
                cents if residual else None,
                m=m,
                k_codes=k_codes,
                vec_col=vec_col,
                seed=seed,
                sample=shared,
            )
        else:
            codebooks = (
                train_pq_codebooks_residual(
                    df, cents, m=m, k_codes=k_codes, vec_col=vec_col, seed=seed,
                    sample=shared,
                )
                if residual
                else train_pq_codebooks(
                    df, m=m, k_codes=k_codes, vec_col=vec_col, seed=seed,
                    sample=shared,
                )
            )
    elif opq and rotation is None:
        raise ValueError(
            "opq=True with caller-supplied codebooks requires the rotation "
            "they were trained with"
        )
    R = np.asarray(rotation, dtype=np.float64) if rotation is not None else None
    # NB with residual=True a caller-supplied codebook MUST be
    # residual-trained against `centroids` (train_pq_codebooks_residual);
    # raw-trained codebooks would yield silently wrong cosines.
    m, k_codes, sub = codebooks.shape
    enc_n2 = (codebooks**2).sum(axis=2)  # hoisted: constant across batches

    def enc_cell(vecs: pd.Series) -> pd.DataFrame:
        x = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        xn = x / (np.linalg.norm(x, axis=1, keepdims=True) + 1e-12)
        cell = (xn @ cents.T).argmax(axis=1)
        target = x - cents[cell] if residual else x
        if R is not None:
            target = target @ R
        out = _encode_codes(target, codebooks, enc_n2)
        return pd.DataFrame({"cell": cell.astype(np.int64), "codes": list(out)})

    enc_udf = F.pandas_udf(enc_cell, "cell long, codes array<long>")
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # one scan, ONE kernel: cell assignment + (residual) encode together
    codes = base.select("id", enc_udf(F.col("v")).alias("e")).select(
        "id", F.col("e.cell").alias("cell"), F.col("e.codes").alias("codes")
    )

    spark = df.sparkSession
    # LUTs are partial dots against codebooks, which live in ROTATED
    # space under OPQ — rotate the queries to match (|q| is invariant)
    lut_queries = (
        [(qid, np.asarray(q, dtype=np.float64) @ R) for qid, q in queries]
        if R is not None
        else queries
    )
    qids, qns, luts = _adc_luts(lut_queries, codebooks)
    qpos_of = {q: i for i, q in enumerate(qids)}
    qcells = []
    for qid, q in queries:
        qv = np.asarray(q, dtype=np.float64)
        qn_unit = qv / (np.linalg.norm(qv) + 1e-12)
        for c in np.argsort(-(qn_unit @ cents.T))[:n_probe]:
            qcells.append((int(qid), qpos_of[int(qid)], int(c)))
    qdf = spark.createDataFrame(qcells, "qid long, qpos int, cell long")
    cb_n2 = (codebooks**2).sum(axis=2)
    lut_flat = luts.reshape(len(qids), m * k_codes)
    offs = (np.arange(m) * k_codes)[None, :]
    if residual:
        # per-query centroid dots; norm/cross tables ONLY for the probed
        # cells (a full table at n_centroids=4096, k=256 would be a 64MB
        # UDF closure for <=n_probe*Q cells actually scored)
        qdotc = np.array(
            [cents @ np.asarray(q, dtype=np.float64) for _qid, q in queries]
        )  # (Q, cells)
        used = sorted({c for _qid, _qp, c in qcells})
        remap = np.full(len(cents), -1, dtype=np.int64)
        remap[used] = np.arange(len(used))
        # cross terms pair centroids with code vectors, so under OPQ the
        # centroids are rotated into codebook space too
        cu_flat = cents[used] @ R if R is not None else cents[used]
        cu = cu_flat.reshape(len(used), m, sub)
        cross = 2.0 * np.einsum("skd,csd->csk", codebooks, cu)
        tot2_flat = (cross + cb_n2[None, :, :]).reshape(len(used), m * k_codes)
        cnorm2_used = (cents[used] ** 2).sum(axis=1)
    else:
        n2_flat = cb_n2.reshape(m * k_codes)

    def score(qpos_s: pd.Series, cell_s: pd.Series, codes_s: pd.Series) -> pd.Series:
        qp = qpos_s.to_numpy(dtype=np.int64)
        c = np.array(list(codes_s), dtype=np.int64)
        idx = offs + c
        part = np.take_along_axis(lut_flat[qp], idx, axis=1).sum(axis=1)
        if residual:
            cl = cell_s.to_numpy(dtype=np.int64)
            cu_idx = remap[cl]  # probed rows only ever carry probed cells
            num = qdotc[qp, cl] + part
            vn = np.sqrt(
                cnorm2_used[cu_idx]
                + np.take_along_axis(tot2_flat[cu_idx], idx, axis=1).sum(axis=1)
            )
        else:
            num = part
            vn = np.sqrt(n2_flat[idx].sum(axis=1))
        return pd.Series(num / (qns[qp] * vn + 1e-12))

    score_udf = F.pandas_udf(score, "double")
    scored = (
        codes.join(F.broadcast(qdf), "cell")
        .select(
            "qid",
            F.col("id").alias("neighbor_id"),
            score_udf(F.col("qpos"), F.col("cell"), F.col("codes")).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    adc = scored.withColumn("rank", F.row_number().over(w))
    if not rerank:
        return adc.filter(F.col("rank") <= k).select(
            "qid", "neighbor_id", "cosine", "rank"
        )
    cand = adc.filter(F.col("rank") <= max(k, rerank)).select("qid", "neighbor_id")
    qvecs = spark.createDataFrame(
        [(int(qid), [float(x) for x in q]) for qid, q in queries],
        "qid long, qv array<double>",
    )
    norm = lambda x: F.sqrt(_dot(x, x))  # noqa: E731
    exact = (
        F.broadcast(cand)
        .join(
            base.select(
                F.col("id").alias("neighbor_id"),
                F.col("v").cast("array<double>").alias("ev"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(qvecs), "qid")
        .withColumn("cosine", _dot(F.col("ev"), F.col("qv")) / (norm("ev") * norm("qv")))
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor_id", "cosine", "rank")
    )
