"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k against a query vector; all math
  stays JVM-side (F.zip_with + F.aggregate -> whole-stage codegen), no
  Python in the scoring loop. TakeOrderedAndProject gives per-partition
  top-k then a driver merge — the right distributed plan for top-k.
- lsh_bucketed_topk: the scale path — random-hyperplane LSH buckets
  computed map-side; the query probes only its own bucket (and optional
  multi-probe neighbors), cutting the scan by ~2^bits. Lossy (documented)
  but the candidate scoring is exact cosine.
- pairwise bucketed self-similarity for embedding near-dup dedup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cosine_expr(vec_col: str, q: list[float]):
    """Cosine of vec_col with q. Both norms are clamped at 1e-12, as the
    Arrow IVF path clamps them: a zero vector scores 0 instead of
    dividing by zero (an error under ANSI SQL, Spark 4's default)."""
    qarr = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), qarr, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.greatest(
        F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        F.lit(1e-12),
    )
    qn = max(float(np.sqrt(np.sum(np.asarray(q, dtype=np.float64) ** 2))), 1e-12)
    return dot / (norm_v * F.lit(qn))


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (vec_id, cosine) ordered desc, ties by id asc."""
    return (
        emb.select(
            F.col(id_col),
            _cosine_expr(vec_col, query_vec).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def lsh_bucket_expr(vec_col: str, planes: np.ndarray):
    """Bucket id = sign bits against fixed random hyperplanes, computed
    with built-in array functions (JVM-side)."""
    bits = []
    for row in planes:
        arr = F.array(*[F.lit(float(x)) for x in row])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)))
    out = F.lit(0)
    for b in bits:
        out = out * F.lit(2) + b
    return out


def lsh_bucketed_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
) -> DataFrame:
    """ANN top-k: probe the query's LSH bucket (plus, with multiprobe=d,
    every bucket within Hamming distance d — the standard fix for the
    recall cliff at high bit counts: a vector near a hyperplane falls on
    the far side in some bits, and flipping the least-confident bits
    recovers it), exact cosine inside the probed buckets. At 10^12
    vectors, persist the bucketed table partitioned by bucket and this
    becomes a partition-pruned scan of 1 + bits + ... buckets."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, bits, seed)
    qbits = 0
    for row in planes:
        qbits = qbits * 2 + (1 if float(np.dot(row, query_vec)) >= 0 else 0)
    probes = {qbits}
    if multiprobe >= 1:
        for i in range(bits):
            probes.add(qbits ^ (1 << i))
    if multiprobe >= 2:
        for i in range(bits):
            for j in range(i + 1, bits):
                probes.add(qbits ^ (1 << i) ^ (1 << j))
    bucketed = emb.withColumn("bucket", lsh_bucket_expr(vec_col, planes))
    return (
        bucketed.filter(F.col("bucket").isin(sorted(probes)))
        .select(F.col(id_col), _cosine_expr(vec_col, query_vec).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ------------------------------------------------------------------- IVF


def ivf_train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    seed: int = 11,
    vec_col: str = "embedding",
    sample_cap: int = 100_000,
) -> np.ndarray:
    """Deterministic IVF coarse quantizer: k-means over a seeded sample.

    The sample is taken with a deterministic hash filter and trained on
    the driver (numpy Lloyd iterations with fixed seed + stable
    tie-breaks) — at 10^12 vectors the coarse quantizer still only needs
    ~10^5 training points, so driver training is the right scale shape;
    assignment is the distributed part."""
    total = emb.count()
    frac = min(1.0, sample_cap / max(total, 1))
    sample = emb.select(vec_col)
    if frac < 1.0:
        sample = sample.sample(fraction=frac, seed=seed)
    X = np.asarray(
        [r[0] for r in sample.limit(sample_cap).collect()], dtype=np.float64
    )
    if X.shape[0] == 0:
        raise ValueError("no vectors to train on")
    k = min(n_centroids, X.shape[0])
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(X.shape[0], size=k, replace=False)]
    for _ in range(iters):
        # cosine assignment (normalized dot); stable argmax
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        Cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(Xn @ Cn.T, axis=1)
        for c in range(k):
            members = X[assign == c]
            if members.shape[0]:
                cent[c] = members.mean(axis=0)
    return cent


IVF_EXPR_LITERAL_CAP = 10_000  # n_centroids * dim above which exprs blow up


def ivf_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Add a `cell` column = nearest centroid by cosine (first-max wins
    on ties). Persist partitioned by cell for partition-pruned probes at
    scale.

    method="expr" embeds centroids as Catalyst literals (whole-stage
    codegen, zero Python) — right while n_centroids*dim stays small;
    method="arrow" runs one argmax matmul per Arrow batch in a
    pandas_udf over the full centroid matrix — right for 256+ cells at
    high dim, where the literal plan explodes. "auto" switches on
    n_centroids*dim > 10_000."""
    if method == "auto":
        method = "expr" if centroids.size <= IVF_EXPR_LITERAL_CAP else "arrow"
    if method == "arrow":
        from pyspark.sql.functions import pandas_udf

        Cn = centroids / np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
        CnT = Cn.T  # closure-captured; one copy per executor python worker

        @pandas_udf("int")
        def assign_udf(vecs: pd.Series) -> pd.Series:
            X = np.stack(vecs.to_numpy()).astype(np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            return pd.Series(np.argmax(Xn @ CnT, axis=1).astype(np.int32))

        return emb.withColumn("cell", assign_udf(F.col(vec_col)))
    # argmax as array_max over (sim, -cell) structs: lexicographic struct
    # max picks the highest sim, ties the LOWEST cell (highest -cell) —
    # exactly the first-max-wins of the previous chained-when fold, whose
    # expression tree repeated every earlier dot product inside every
    # later when() (O(k^2 * dim) nodes; at 16 cells x 64 dims the
    # optimizer+codegen cost of that tree, not execution, dominated the
    # query at ~4 s/run). This tree is O(k * dim) and plans in ~0.1 s.
    entries = [
        F.struct(
            _cosine_expr(vec_col, [float(x) for x in row]).alias("sim"),
            F.lit(-c).alias("negc"),
        )
        for c, row in enumerate(centroids)
    ]
    return emb.withColumn("cell", -F.array_max(F.array(*entries))["negc"])


def ivf_topk(
    emb: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """IVF ANN top-k: score only the nprobe cells whose centroids are
    closest to the query (exact cosine within). The inverted-file scale
    path: recall grows with nprobe, scan cost is nprobe/n_centroids of
    the corpus. method: see ivf_assign."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    Cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    order = np.argsort(-(Cn @ qn), kind="stable")[:nprobe]
    cells = [int(c) for c in order]
    assigned = ivf_assign(emb, centroids, vec_col, method=method)
    return (
        assigned.filter(F.col("cell").isin(cells))
        .select(F.col(id_col), _cosine_expr(vec_col, query_vec).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    bits: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join: pairs share
    a bucket (candidate generation), then exact cosine >= threshold.
    Shuffle = one hash partition by bucket; no global cross join.

    max_bucket guards the degenerate-bucket case (zero vectors,
    constant-fill embeddings hashing equal): buckets larger than the cap
    are excluded from the self-join instead of going quadratic — at web
    scale such buckets are boilerplate best handled by exact dedup."""
    # dim from the first row; embeddings must be fixed-width
    first = emb.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = first[0]["d"] if first else 0
    planes = _hyperplanes(dim, bits, seed)
    b = emb.select(
        F.col(id_col), F.col(vec_col), lsh_bucket_expr(vec_col, planes).alias("bucket")
    )
    sizes = b.groupBy("bucket").agg(F.count("*").alias("_bn"))
    b = b.join(sizes, "bucket").filter(F.col("_bn") <= max_bucket).drop("_bn")
    a1, a2 = b.alias("x"), b.alias("y")
    pairs = a1.join(
        a2,
        (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}"), lambda p, q: p.cast("double") * q.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # clamped at 1e-12 as _cosine_expr clamps: a zero vector scores 0
    # instead of dividing by zero (an error under ANSI SQL)
    norm = lambda side: F.greatest(
        F.sqrt(
            F.aggregate(
                F.col(f"{side}.{vec_col}"),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        ),
        F.lit(1e-12),
    )
    return (
        pairs.select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            (dot / (norm("x") * norm("y"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
