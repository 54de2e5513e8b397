"""Similarity search over embedding columns (beyond-reference
extension): brute-force cosine top-k baseline and an LSH-bucketed
(random-hyperplane) variant as the scale path.

Everything stays in Catalyst (zip_with / aggregate HOFs — JVM,
codegen); hyperplanes are derived from md5 so the bucketing is
deterministic and engine-reproducible. At cluster scale:
- top-k: broadcast the (small) query set against the partitioned
  corpus; Spark ≥3.5 rewrites rank-filter windows into per-partition
  WindowGroupLimit (local top-k before the shuffle), so the shuffle
  carries O(queries × k × partitions), not the corpus.
- LSH: candidates come from an equi-join on the signature bucket —
  linear shuffle; raise `planes` to narrow buckets at higher N.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ in double (left-to-right fold — reproducible), as SQL
    text so it can sit inside a larger lambda."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def dot_expr(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def norm2_expr(a: str) -> Column:
    return F.expr(
        f"aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def cosine_expr(a: str, b: str) -> Column:
    return dot_expr(a, b) / F.sqrt(norm2_expr(a) * norm2_expr(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k neighbors per query (self-matches
    excluded). Output: (query_id, cand_id, rank, cos)."""
    # norms fold ONCE per row before the join (inside the join output
    # each query norm would re-fold per candidate and vice versa — a 3x
    # O(d) overhead per scored pair); sqrt(qn*cn) is the identical IEEE
    # value, so results are bit-unchanged
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qn", norm2_expr("qv"))
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm2_expr("cv"))
    scored = (
        c.join(q, F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cos",
            F.round(dot_expr("qv", "cv") / F.sqrt(F.col("qn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
    )


def _plane_weight(p: int, d: int) -> int:
    """(md5-derived int mod 2001) − 1000 — a fixed pseudo-random
    ±integer grid any engine can rebuild from the same recipe."""
    import hashlib

    h = hashlib.md5(f"{p}_{d}".encode()).hexdigest()
    return int(h[:15], 16) % 2001 - 1000


def hyperplane_signature(vec_col: str, planes: int = 8, dims: int = 64) -> Column:
    """Deterministic random-hyperplane LSH signature (sign bits).

    The weight grid is md5-derived but CONSTANT per (plane, dim), so it
    is materialized driver-side and embedded as literal arrays — the
    per-row work is just ``planes`` dot products in codegen, with no
    runtime hashing (512 md5 calls/row otherwise)."""
    bits = []
    first_terms = None
    for p in range(planes):
        w = F.lit([float(_plane_weight(p, d)) for d in range(dims)])
        terms = F.aggregate(
            F.zip_with(F.col(vec_col), w, lambda x, wt: x.cast("double") * wt),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        if first_terms is None:
            first_terms = terms
        bits.append(F.when(terms > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    # guard: a vector whose length differs from `dims` (zip_with pads
    # with NULL -> every plane's dot is NULL -> signature 0 for EVERY
    # row, silently collapsing the LSH into one bucket) or that carries
    # NULL elements must fail loudly, not mis-bucket
    valid = (F.size(F.col(vec_col)) == F.lit(dims)) & first_terms.isNotNull()
    return F.when(valid, sig.cast("int")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"hyperplane_signature: expected a null-free {dims}-dim "
                    "vector, got length "
                ),
                F.size(F.col(vec_col)).cast("string"),
            )
        ).cast("int")
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k: only candidates in the query's hyperplane
    bucket are scored (recall < 1 by design; raise planes→buckets for
    precision/cost trade)."""
    sig = hyperplane_signature(vec_col, planes, dims)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), sig.alias("qsig")
        ).withColumn("qn", norm2_expr("qv"))
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), sig.alias("csig")
    ).withColumn("cn", norm2_expr("cv"))
    scored = (
        c.join(q, (F.col("qsig") == F.col("csig")) & (F.col("query_id") != F.col("cand_id")))
        .withColumn(
            "cos",
            F.round(dot_expr("qv", "cv") / F.sqrt(F.col("qn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their nearest
    centroid (coarse quantizer); a query scans only its ``nprobe``
    nearest centroid cells. ``centroids``: (centroid_id, embedding) —
    typically k-means output; any fixed codebook works.

    Shuffle profile: corpus assignment is a broadcast join + argmin;
    the search is an equi-join on centroid_id — linear, no O(N·Q)."""
    cent = F.broadcast(
        centroids.select(F.col("centroid_id"), F.col(vec_col).alias("centv"))
    )

    def assign(df: DataFrame, idc: str, vc: str, n: int) -> DataFrame:
        # round(9) before ranking: the argmin must not depend on the
        # last-ulp of a float sum (engines fold in different orders)
        scored = df.join(cent).withColumn("_d", F.round(cosine_expr(vc, "centv"), 9))
        w = Window.partitionBy(idc).orderBy(F.col("_d").desc(), F.col("centroid_id"))
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= n)
            .drop("_d", "_r", "centv")
        )

    c = assign(
        corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")),
        "cand_id",
        "cv",
        1,
    )
    q = assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "query_id",
        "qv",
        nprobe,
    )
    scored = (
        c.withColumn("cn", norm2_expr("cv"))
        .join(q.withColumn("qn", norm2_expr("qv")), "centroid_id")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cos",
            F.round(dot_expr("qv", "cv") / F.sqrt(F.col("qn") * F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
    )


def knn_graph_blocked(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs k-NN graph via block-partitioned GEMM.

    The brute-force baseline done the way a 100 TB cluster would run
    it: shard the corpus into B deterministic blocks
    (``xxhash64(id) % B``), replicate each block B ways so every block
    PAIR (i, j) co-locates on one task, and evaluate that pair's whole
    similarity sub-matrix as ONE float64 ``numpy`` matmul (BLAS) per
    task instead of O(rows²) expression evaluations. Each task prunes
    to its local top-k per query using the exact global total order,
    so the post-GEMM exchange carries O(n·B·k) candidate rows — never
    the n²/B score matrix — and the final window merge collapses them
    with the standard partial-top-k + WindowGroupLimit shape.

    Memory per task is bounded by ``block_rows²·8`` bytes for the
    score matrix (32 MB at the 2048 default), independent of corpus
    size; replication shuffles 2·n·B rows, the unavoidable I/O of an
    exact all-pairs pass (the sub-quadratic alternatives are
    ``cosine_topk_lsh`` / ``ivf_topk``, which trade recall for it).

    Exactness: cosines are computed in float64 and rounded
    half-away-from-zero to 6 decimals BEFORE any ranking, and the
    local prune orders by the identical (cos DESC, cand_id ASC) key
    as the global merge — so the result is identical for every B and
    every partitioning. Rounding fine print: the numpy
    ``floor(|x|·1e6 + 0.5)`` form matches DuckDB's multiply-based
    round bit-for-bit (measured: 300k half-boundary-seeded samples,
    zero diffs), which is what the oracle certifies; it can differ
    from Spark's BigDecimal ``F.round`` (cosine_topk's path) when a
    value lands within one float ulp of a .5e-6 boundary — a ~1e-10
    event for real-data cosines, bounded at 1e-6 when it happens.

    Output: (query_id, cand_id, rank, cos) — one row per (vector,
    neighbor) with rank 1..k, self-matches excluded.
    """
    import numpy as np
    import pandas as pd

    if n_blocks is None:
        n = df.count()
        n_blocks = max(1, -(-n // block_rows))
    b_count = int(n_blocks)

    base = df.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    ).withColumn("_bid", F.pmod(F.xxhash64(F.col("_id")), F.lit(b_count)))
    all_blocks = F.array([F.lit(j) for j in range(b_count)])
    q_side = base.select(
        F.col("_id"),
        F.col("_v"),
        F.col("_bid").alias("_ba"),
        F.explode(all_blocks).alias("_bb"),
        F.lit(0).alias("_side"),
    )
    c_side = base.select(
        F.col("_id"),
        F.col("_v"),
        F.explode(all_blocks).alias("_ba"),
        F.col("_bid").alias("_bb"),
        F.lit(1).alias("_side"),
    )
    both = q_side.unionByName(c_side)

    def score_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "cand_id": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        qm = pdf[pdf["_side"] == 0]
        cm = pdf[pdf["_side"] == 1]
        if qm.empty or cm.empty:
            return empty
        xq = np.vstack(qm["_v"].to_numpy()).astype(np.float64)
        xc = np.vstack(cm["_v"].to_numpy()).astype(np.float64)
        qid = qm["_id"].to_numpy(dtype=np.int64)
        cid = cm["_id"].to_numpy(dtype=np.int64)
        scores = xq @ xc.T
        nq = np.sqrt((xq * xq).sum(axis=1))
        nc = np.sqrt((xc * xc).sum(axis=1))
        cos = scores / (nq[:, None] * nc[None, :])
        cos[qid[:, None] == cid[None, :]] = -np.inf  # self-match
        # half-away-from-zero to 6 decimals, the oracle-matching form
        # (see docstring fine print; -inf passes through:
        # sign(-inf)*floor(inf)/1e6 = -inf)
        cos_r = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
        nqr, ncr = cos_r.shape
        kk = min(k, ncr)
        q_idx = np.repeat(np.arange(nqr), ncr)
        cid_t = np.tile(cid, nqr)
        flat = cos_r.ravel()
        # primary q_idx, then cos DESC, then cand_id ASC — the exact
        # global merge order, so local top-k ⊇ the global winners
        order = np.lexsort((cid_t, -flat, q_idx))
        sel = order.reshape(nqr, ncr)[:, :kk].ravel()
        keep = np.isfinite(flat[sel])
        sel = sel[keep]
        return pd.DataFrame(
            {
                "query_id": qid[q_idx[sel]],
                "cand_id": cid_t[sel],
                "cos": flat[sel],
            }
        )

    local = both.groupBy("_ba", "_bb").applyInPandas(
        score_block_pair, schema="query_id long, cand_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
    )
