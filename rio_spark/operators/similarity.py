"""Similarity search over embedding columns (array<float>).

Brute-force cosine is the exactness baseline: dot products via
``F.aggregate(F.zip_with(...))`` — JVM-side, no UDF, scans once, no shuffle
until the top-k. The scale path is LSH bucketing with data-derived random
hyperplanes (the first ``n_planes`` embeddings, deterministic — no RNG in the
plan): sign-bit bucket key -> candidates share a bucket -> exact cosine only
within buckets. At 10^12 rows the bucket join replaces the O(N) scan per
query with a pruned probe; multi-probe (flipping one bit) trades recall back.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_to_query(
    embeddings: DataFrame, query_vec: list[float], id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """-> (vec_id, cosine) against a constant query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col(vec_col).cast("array<double>")
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        (_dot(v, q) / (_norm(v) * _norm(q))).alias("cosine"),
    )


def topk_cosine(
    embeddings: DataFrame, query_vec: list[float], k: int = 10,
    round_to: int = 4, **kw
) -> DataFrame:
    """Brute-force exact top-k (the baseline an ANN variant is judged by).
    Ranks by the ROUNDED cosine with a vec_id tiebreak — the same
    determinism convention as every other top-k here (ann_topk_lsh, the
    catalog's inlined top-ks): an unrounded float order is
    engine-specific at the last ulp, so a 1e-4-scale tie at the k boundary
    would make Spark and a SQL oracle pick different member sets."""
    return (
        cosine_to_query(embeddings, query_vec, **kw)
        .select("vec_id", F.round("cosine", round_to).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def cosine_pairs_above(
    embeddings: DataFrame, threshold: float, id_col: str = "vec_id",
    vec_col: str = "embedding", round_to: int = 4,
    max_input_rows: int | None = 10_000,
) -> DataFrame:
    """Embedding near-duplicate pairs: exact all-pairs cosine >= threshold.

    Quadratic — correctness baseline for small N; use LSH buckets
    (:func:`cosine_pairs_lsh`) at scale.  The small-N contract is
    MECHANICAL: unless ``max_input_rows=None`` is passed explicitly, the
    input is counted (one cheap job) and anything larger raises before the
    quadratic join can be scheduled.  Cosines are rounded so accumulation
    order can't flip comparisons across engines."""
    if max_input_rows is not None:
        n = embeddings.count()
        if n > max_input_rows:
            raise ValueError(
                f"cosine_pairs_above is an all-pairs O(N^2) baseline; input has "
                f"{n} rows > max_input_rows={max_input_rows}. Use "
                f"cosine_pairs_lsh at scale, or pass max_input_rows=None "
                f"to override explicitly."
            )
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        _norm(F.col(vec_col).cast("array<double>")).alias("n"),
    )
    a, b = e.alias("a"), e.alias("b")
    av, bv = F.col("a.v"), F.col("b.v")
    # per-vector norms hoisted out of the per-pair expression (same fix as
    # cosine_pairs_lsh; identical arithmetic, so oracle values are unchanged)
    cos = _dot(av, bv) / (F.col("a.n") * F.col("b.n"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, round_to).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def collect_planes(
    embeddings: DataFrame, n_planes: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The ``n_planes`` lowest-id embeddings, collected ONCE, act as
    deterministic data-derived hyperplane normals (no RNG in any plan).
    Bounded by the constant ``n_planes`` — never a large collect."""
    return [
        [float(x) for x in r[1]]
        for r in embeddings.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(n_planes)
        .collect()
    ]


def _bucket_expr(vec_col: str, planes: list[list[float]]):
    """Sign-bit bucket key as a pure column expression."""
    v = F.col(vec_col).cast("array<double>")
    bits = [
        F.when(_dot(v, F.array(*[F.lit(x) for x in p])) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def _query_bits(query_vec: list[float], planes: list[list[float]]) -> str:
    return "".join(
        "1" if sum(a * b for a, b in zip(p, query_vec)) >= 0 else "0"
        for p in planes
    )


def lsh_bucket_ids(
    embeddings: DataFrame, n_planes: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding", planes: list[list[float]] | None = None,
) -> DataFrame:
    """Random-hyperplane LSH -> (vec_id, bucket string of sign bits).
    Collisions preserve cosine locality. Pass precollected ``planes`` to
    avoid the (bounded) driver collect."""
    if planes is None:
        planes = collect_planes(embeddings, n_planes, id_col, vec_col)
    return embeddings.select(
        F.col(id_col).alias("vec_id"), _bucket_expr(vec_col, planes).alias("bucket")
    )


def _round_half_up(x: float, nd: int):
    """Spark's Round(double, nd): BigDecimal.valueOf(x) (= the shortest
    round-trip decimal repr, the same value Python's repr produces)
    quantized HALF_UP, back to double; NaN/Inf pass through unchanged
    (Spark's MathExpressions guard).  Used by the vectorized pair scorer so
    its emitted cosines are bit-identical to the column expression
    ``F.round(cos, nd)`` the join formulation produced — pinned by
    tests/test_r07_pair_scoring.py against Spark's own round."""
    if x != x or x in (float("inf"), float("-inf")):
        return x
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    )


def cosine_pairs_lsh(
    embeddings: DataFrame, threshold: float, n_planes: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding", round_to: int = 4,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Near-duplicate pairs, LSH-bucketed: exact cosine only WITHIN a bucket.

    The scale path for embedding near-dup detection (vs
    :func:`cosine_pairs_above`, the guarded small-N baseline).  Recall is
    tunable: fewer planes -> bigger buckets -> higher recall and cost.

    r7 shape (guide §4.2 — distribute with Spark, crunch batches in native
    code): ONE shuffle of (vec_id, v, bucket) on the bucket key into a
    grouped Arrow stage whose numpy kernel scores each bucket's pair block.
    The previous bucket-key self-join had the right 100 TB join shape but
    paid an interpreted ``ArrayAggregate`` dot product per candidate pair
    (CodegenFallback, never codegen'd): 12.5M in-bucket pairs at sf1.0 =
    28-34 s; the block kernel does the same arithmetic in ~2 s and
    shuffles each row once instead of twice (the join exchanged both
    aliases).

    Bit-exactness contract (oracle-checked): the scorer reproduces the
    column expressions literally — dot products accumulate in ascending
    dimension order exactly like ``F.aggregate(zip_with(...))`` (a chunked
    rank-1-update loop over dimensions, so every pair cell sees the
    identical multiply/add sequence), ``cosine = dot / (norm_a * norm_b)``
    in the same operation order, and rounding goes through
    :func:`_round_half_up` (Spark's shortest-repr HALF_UP).  Values below
    ``threshold - 0.5*10^-round_to - 1e-9`` cannot round up to the
    threshold, so only the surviving fringe pays per-value decimal
    rounding.  A zero-norm vector that meets any bucket partner raises,
    exactly as the join formulation's pair division does under ANSI mode
    (Spark 4 default).  Differential-tested against the join formulation
    on real SF data and crafted zero-norm/boundary cases
    (tests/test_r07_pair_scoring.py).

    Skew note (100 TB): a bucket is one task here, where the join had AQE
    skew-split — but the quadratic in-bucket pair WORK is identical either
    way, so a bucket too hot for one task was already too hot for the
    operator: split it upstream with more planes (the knob this operator
    exposes) or block-salt the group key.  Task memory is bounded at
    O(chunk x bucket) doubles by the chunked block loop regardless of
    bucket size."""
    import pandas as pd

    if planes is None:
        planes = collect_planes(embeddings, n_planes, id_col, vec_col)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    thr = float(threshold)
    nd = int(round_to)
    # below this, HALF_UP rounding to `nd` decimals cannot reach `thr`
    # (half-grid margin plus repr slop)
    margin = thr - 0.5 * 10.0 ** (-nd) - 1e-9

    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        _bucket_expr(vec_col, planes).alias("bucket"),
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        out_a: list = []
        out_b: list = []
        out_c: list = []
        n_rows = len(pdf)
        if n_rows >= 2:
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            X = np.array(pdf["v"].to_list(), dtype=np.float64)
            d = X.shape[1]
            # the _norm column expression's left fold, vectorized over
            # rows: acc = (((0 + x0*x0) + x1*x1) + ...) per row
            acc = np.zeros(n_rows)
            for i in range(d):
                acc = acc + X[:, i] * X[:, i]
            norms = np.sqrt(acc)
            if np.any(norms == 0.0):
                # n_rows >= 2, so a zero-norm row meets at least one pair
                # division — ANSI Spark raises there; match it rather than
                # silently emitting NaN pairs the join would never return
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] zero-norm embedding in an LSH bucket "
                    "with partners: the pair cosine divides by zero "
                    "(ANSI mode). Drop zero vectors before pairing."
                )
            col_idx = np.arange(n_rows)
            chunk = 2048  # bounds the pair block at chunk x bucket doubles
            for s0 in range(0, n_rows - 1, chunk):
                s1 = min(s0 + chunk, n_rows)
                A = X[s0:s1]
                G = np.zeros((s1 - s0, n_rows))
                for i in range(d):
                    G = G + A[:, i][:, None] * X[:, i][None, :]
                C = G / (norms[s0:s1][:, None] * norms[None, :])
                # strict upper triangle (vec_a < vec_b after the id sort)
                mask = C >= margin
                mask &= col_idx[None, :] > (s0 + np.arange(s1 - s0))[:, None]
                for ri, ci in zip(*np.nonzero(mask)):
                    c = _round_half_up(C[ri, ci], nd)
                    if c >= thr:
                        out_a.append(ids[s0 + ri])
                        out_b.append(ids[ci])
                        out_c.append(c)
        return pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "cosine": out_c})

    return e.groupBy("bucket").applyInPandas(
        score, f"vec_a {id_type}, vec_b {id_type}, cosine double"
    )


def ann_topk_lsh(
    embeddings: DataFrame, query_vec: list[float], k: int = 10, n_planes: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to the query's LSH bucket.

    ONE Spark job: planes are collected once (bounded constant), the query's
    bucket bits are computed driver-side, and candidates are a plain FILTER on
    the bucket expression (no join, no extra probe jobs). If the bucket holds
    fewer than k vectors the result has fewer than k rows."""
    if planes is None:
        planes = collect_planes(embeddings, n_planes, id_col, vec_col)
    qbits = _query_bits(query_vec, planes)
    cand = embeddings.filter(_bucket_expr(vec_col, planes) == qbits)
    return topk_cosine(cand, query_vec, k, id_col=id_col, vec_col=vec_col)


def embedding_dup_groups(
    embeddings: DataFrame,
    threshold: float,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate GROUPS end-to-end: LSH-bucketed
    cosine pairs -> hub-safe connected components -> (vec_id, group_id),
    group_id = min id of the cluster — the embedding-space twin of
    dedup.near_dup_groups (the MinHash text path), sharing its 100 TB
    shape: the pair graph is only in-bucket candidates (never all-pairs)
    and the transitive closure is the same large/small-star CC the KG
    alias merge uses.  Vectors in no cluster are omitted; the caller's
    keep-filter is ``group_id == vec_id`` plus a left anti-join, exactly
    like the text path."""
    from rio_spark.operators.canonicalize import connected_components

    pairs = cosine_pairs_lsh(
        embeddings, threshold, n_planes, id_col, vec_col, planes=planes
    )
    cc = connected_components(
        pairs.select("vec_a", "vec_b"), src="vec_a", dst="vec_b"
    )
    return cc.select(
        F.col("node").alias("vec_id"), F.col("component").alias("group_id")
    )
