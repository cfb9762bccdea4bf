"""Similarity search over embedding columns (array<float>).

Two paths:
  * `cosine_topk` — brute force: query set × corpus, JVM-side dot
    products via zip_with/aggregate, window top-k. The exactness
    baseline; O(Q × N), fine when Q is small or N is a filtered
    candidate set.
  * `lsh_topk` — the scale path: random-hyperplane LSH. Each vector
    gets a `nbits`-bit signature from deterministic ±1 hyperplanes
    (md5-derived, so the DuckDB oracle can reproduce them); search
    joins on the bucket and ranks within it. At 10^12 vectors the
    bucket join shuffles ~N/2^nbits rows per query bucket instead of
    N — recall traded for a 2^nbits fan-in reduction; multi-probe
    (flip one bit) widens recall.

All expressions stay in Catalyst; no Python UDFs.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


MAX_CORPUS_ROWS = 1_000_000  # cosine_topk's cross-join bound


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    round_to: int = 4,
    corpus_rows: Optional[int] = None,
) -> DataFrame:
    """Exact top-k by cosine for each (query_id, q_embedding) query over
    the (vec_id, embedding) corpus (brute force baseline).

    Deterministic tie-break: (cos desc, vec_id asc). Cosine is
    rounded to `round_to` decimals BEFORE ranking so results are
    reproducible across engines/float orders.

    This is a CROSS JOIN — O(Q × N). To stop it being pointed at a
    full 10^12-row corpus by accident, it raises when the corpus has
    more than ``MAX_CORPUS_ROWS`` rows; use `lsh_topk` (bucketed,
    multi-probe) as the scale path. Callers that already know the
    corpus size pass `corpus_rows` to skip the guard's extra
    `limit().count()` job (it still enforces the bound).
    """
    if corpus_rows is not None:
        n = corpus_rows
    else:
        # bounded probe: scans at most MAX_CORPUS_ROWS+1 rows
        n = corpus.limit(MAX_CORPUS_ROWS + 1).count()
    if n > MAX_CORPUS_ROWS:
        raise ValueError(
            f"cosine_topk corpus exceeds {MAX_CORPUS_ROWS} rows; this "
            "is a cross join — use lsh_topk or pre-filter a candidate set"
        )
    # r7: hoist the cast and the norm to per-SIDE projections — inline
    # they were recomputed per PAIR (Q x N times instead of Q + N).
    # Bit-identical: the same aggregate runs on the same values, only
    # earlier; the division still happens per pair.
    q2 = queries.withColumn("_qv", F.col("q_embedding").cast("array<double>"))
    q2 = q2.withColumn("_qn", norm(F.col("_qv")))
    c2 = corpus.withColumn("_cv", F.col("embedding").cast("array<double>"))
    c2 = c2.withColumn("_cn", norm(F.col("_cv")))
    joined = q2.crossJoin(c2)
    cos = F.round(
        dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
        round_to,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        joined.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


@lru_cache(maxsize=256)
def _plane_weights(plane: int, dim: int) -> tuple:
    """±1 weights for one hyperplane, computed ONCE on the driver.

    Weight for (plane j, dim i) = +1 if the 56-bit md5 hash of "j_i"
    is even else -1 — the exact arithmetic the DuckDB oracle runs in
    SQL; here it runs in Python so executors never call md5 (the r2
    plan audit flagged dim x nbits md5 calls PER ROW)."""
    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{plane}_{i}".encode()).hexdigest()[:14], 16)
        out.append(1.0 if h % 2 == 0 else -1.0)
    return tuple(out)


def hyperplane_sign(vec: Column, plane: int, dim: int) -> Column:
    """Deterministic ±1 hyperplane dot-product sign.

    The weights are embedded as an array LITERAL (constant-folded by
    Catalyst), so the per-row work is one zip_with/aggregate pass —
    no hashing on the executors. Values are unchanged vs the md5-in-SQL
    formulation the oracle uses.
    """
    weights = F.array(*[F.lit(w) for w in _plane_weights(plane, dim)])
    d = F.aggregate(
        F.zip_with(vec, weights, lambda x, w: x * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (d >= 0).cast("int")


def lsh_bucket(vec_col: str, nbits: int, dim: int) -> Column:
    """nbits-bit LSH bucket id from random-hyperplane signs
    (nbits <= 63: the 2^j bucket-bit literals must stay in int64 —
    same class of silent-wrap hazard as the SimHash/MinHash bounds)."""
    if nbits > 63:
        raise ValueError("nbits <= 63: bucket-bit literals are int64")
    v = F.col(vec_col).cast("array<double>")
    acc = F.lit(0)
    for j in range(nbits):
        acc = acc + hyperplane_sign(v, j, dim) * F.lit(2 ** j)
    return acc


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    nbits: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "q_embedding",
    corpus_vec: str = "embedding",
    round_to: int = 4,
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k: rank within the query's LSH bucket(s).

    `probes` > 0 enables multi-probe: each query additionally searches
    the `probes` buckets at Hamming distance 1 (bucket XOR one bit) —
    the standard recall/recall-cost dial for hyperplane LSH. Only the
    query side fans out (probes+1 rows per query); the corpus keeps one
    bucket per vector, so the join stays a small-left × bucketed-right
    shuffle and a candidate pair can never appear twice.
    """
    qb = queries.withColumn("bucket", lsh_bucket(query_vec, nbits, dim))
    if probes > 0:
        probe_arr = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j))
                for j in range(min(probes, nbits))
            ],
        )
        qb = qb.withColumn("bucket", F.explode(probe_arr))
    cb = corpus.withColumn("bucket", lsh_bucket(corpus_vec, nbits, dim))
    # r7: cast + norm hoisted to per-side projections (were recomputed
    # per candidate pair); bit-identical, see cosine_topk
    qb = qb.withColumn("_qv", F.col(query_vec).cast("array<double>"))
    qb = qb.withColumn("_qn", norm(F.col("_qv")))
    cb = cb.withColumn("_cv", F.col(corpus_vec).cast("array<double>"))
    cb = cb.withColumn("_cn", norm(F.col("_cv")))
    joined = qb.join(cb, "bucket")
    cos = F.round(
        dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
        round_to,
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos").desc(), F.col(corpus_id).asc()
    )
    return (
        joined.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos", "rank")
    )


def lsh_topk_probe_levels(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    nbits: int = 4,
    round_to: int = 4,
    probes: int = 4,
) -> DataFrame:
    """probes=0 AND probes=N top-k from ONE candidate frame.

    Value-identical to
    ``lsh_topk(probes=0).select(lit(0) as probes, *) UNION
    lsh_topk(probes=N).select(lit(N) as probes, *)`` but the corpus
    bucketing, the bucket join, the cosine arithmetic and the per-query
    sort run ONCE: the probes=0 ranks are recovered from the multi-probe
    candidate order as a running count of self-bucket rows. Both window
    functions share the same partition/order/frame spec, so Catalyst
    plans a single Window node over a single sort. Sound because the
    probes=0 candidate set (the query's own bucket) is a subset of the
    multi-probe set, the (cos desc, corpus_id asc) order is total within
    a query (one bucket per corpus vector — no duplicate candidate
    pairs), and restricting a total order to a subset preserves relative
    order, so the running self-count equals row_number over the subset.
    """
    qb = queries.withColumn("_self_bucket", lsh_bucket("q_embedding", nbits, dim))
    probe_arr = F.array(
        F.col("_self_bucket"),
        *[
            F.col("_self_bucket").bitwiseXOR(F.lit(1 << j))
            for j in range(min(probes, nbits))
        ],
    )
    qb = qb.withColumn("bucket", F.explode(probe_arr))
    qb = qb.withColumn("_qv", F.col("q_embedding").cast("array<double>"))
    qb = qb.withColumn("_qn", norm(F.col("_qv")))
    cb = corpus.withColumn("bucket", lsh_bucket("embedding", nbits, dim))
    cb = cb.withColumn("_cv", F.col("embedding").cast("array<double>"))
    cb = cb.withColumn("_cn", norm(F.col("_cv")))
    joined = qb.join(cb, "bucket")
    cos = F.round(
        dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
        round_to,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        joined.withColumn("cos", cos)
        .withColumn(
            "_self", (F.col("bucket") == F.col("_self_bucket")).cast("int")
        )
        .withColumn("_rank_multi", F.row_number().over(w))
        .withColumn("_rank_self", F.sum("_self").over(running))
    )
    # emit both probe levels from the SAME ranked frame (a union of two
    # filters would re-plan — and re-sort — the window subtree once per
    # branch): each candidate row contributes the (probes, rank) pairs
    # it qualifies for, then one explode flattens them
    levels = F.array(
        F.when(
            (F.col("_self") == 1) & (F.col("_rank_self") <= k),
            F.struct(
                F.lit(0).alias("probes"),
                F.col("_rank_self").cast("int").alias("rank"),
            ),
        ),
        F.when(
            F.col("_rank_multi") <= k,
            F.struct(
                F.lit(probes).alias("probes"),
                F.col("_rank_multi").alias("rank"),
            ),
        ),
    )
    return (
        ranked.select(
            F.explode(F.filter(levels, lambda x: x.isNotNull())).alias("_pr"),
            "query_id",
            "vec_id",
            "cos",
        ).select(
            # coalesce against non-null literals: field access through
            # the when()-nullable struct infers nullable, while the
            # two-call union form this replaces (lit + row_number) does
            # not — keep the schema bit-identical (no null can occur:
            # the filter already dropped non-qualifying entries)
            F.coalesce(F.col("_pr.probes"), F.lit(0)).alias("probes"),
            "query_id",
            "vec_id",
            "cos",
            F.coalesce(F.col("_pr.rank"), F.lit(0)).alias("rank"),
        )
    )


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    threshold: float = 0.99,
    nbits: int = 6,
    round_to: int = 4,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cos >= threshold) via LSH blocking.

    `max_bucket` caps rows per LSH bucket (window top-N by id, the same
    guard as `minhash_lsh_pairs`): a dense bucket (~N/2^nbits rows)
    otherwise goes quadratic in the self-join. Capping drops candidate
    pairs (recall), never admits false ones. Default None keeps the
    exact blocked semantics for oracle parity at test scale; at corpus
    scale always set it (e.g. 10_000).
    """
    b = df.withColumn("bucket", lsh_bucket("embedding", nbits, dim))
    if max_bucket is not None:
        wcap = Window.partitionBy("bucket").orderBy(F.col("vec_id"))
        b = (
            b.withColumn("_rn", F.row_number().over(wcap))
            .where(F.col("_rn") <= max_bucket)
            .drop("_rn")
        )
    # r7: cast + norm once per ROW before the self-join (were
    # recomputed per candidate pair); bit-identical, see cosine_topk
    b = b.withColumn("_v", F.col("embedding").cast("array<double>"))
    b = b.withColumn("_n", norm(F.col("_v")))
    a = b.select(
        F.col("bucket"), F.col("vec_id").alias("a"),
        F.col("_v").alias("va"), F.col("_n").alias("na"),
    )
    c = b.select(
        F.col("bucket"), F.col("vec_id").alias("b"),
        F.col("_v").alias("vb"), F.col("_n").alias("nb"),
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        round_to,
    )
    return (
        a.join(c, "bucket")
        .where(F.col("a") < F.col("b"))
        .withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def _sq_dist_to(vec: Column, centroid, round_to: int) -> Column:
    """Squared euclidean distance to a centroid LITERAL (map-only)."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.round(
        F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        round_to,
    )


def _dists_to_all(vec: Column, cents, round_to: int) -> Column:
    """Rounded squared distances to ALL centroids, as ONE ``transform``
    over a 2-D centroid literal (r7): k separate aggregate(zip_with)
    trees put O(k*dim) nodes in the analyzed/codegen'd plan; constant
    folding collapses the 2-D array into a single Literal, so this is
    one O(dim) lambda walked k times. Per-element arithmetic — zip
    order, (a-b)*(a-b), left fold from 0.0, then round — is identical
    to the per-centroid form, so distances are bit-equal and argmin
    tie-breaks cannot move (pinned by the differential test)."""
    cents2d = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in cents
    ])
    return _dists_over(vec, cents2d, round_to)


def _dists_over(vec: Column, cents2d: Column, round_to: int) -> Column:
    """transform(cents2d, c -> round(sum((v-c)^2), round_to))."""
    return F.transform(
        cents2d,
        lambda c: F.round(
            F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            round_to,
        ),
    )


def _kmeans_centroids(base: DataFrame, dim: int, k: int,
                      iterations: int, round_to: int):
    """Deterministic Lloyd centroid training over base(id, v):
    init = vectors of the k smallest ids; per iteration one
    groupBy(cluster) AVG pass + a k-row driver collect; empty clusters
    keep their previous centroid. The reference the fused trainer
    ``train_ivf_pq`` is tested against."""
    init = base.orderBy("id").limit(k).collect()
    cents = [list(r["v"]) for r in init]
    for _ in range(iterations):
        assigned = _kmeans_assign_stage(base, cents, round_to)
        rows = (
            assigned.groupBy("cluster")
            .agg(*[
                F.round(F.avg(F.col("v")[i]), round_to).alias(f"c{i}")
                for i in range(dim)
            ])
            .collect()
        )
        got = {r["cluster"]: [r[f"c{i}"] for i in range(dim)] for r in rows}
        cents = [got.get(j, cents[j]) for j in range(len(cents))]
    return cents


def _kmeans_assign_stage(base: DataFrame, cents, round_to: int) -> DataFrame:
    """Argmin over centroid literals; ties break to the lowest cluster
    index (array_position returns the FIRST minimum)."""
    dists = _dists_to_all(F.col("v"), cents, round_to)
    return (
        base.withColumn("_d", dists)
        .withColumn(
            "cluster",
            (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1)
            .cast("int"),
        )
        .withColumn("dist", F.array_min(F.col("_d")))
        .drop("_d")
    )


def kmeans_assign(df: DataFrame, centroids) -> DataFrame:
    """Assign each (vec_id, embedding) to its nearest centroid — the IVF
    coarse quantizer's assignment pass, over centroids trained by
    ``train_ivf_pq``. MAP-ONLY: the centroids are array literals (k is
    small by definition), so there is no cache and no driver job.

    Determinism contract (engine-portable, no rand()):
      * distances are rounded to 6 decimals, the trainer's rounding, so
        cross-engine float-summation-order noise (~1e-15) never flips
        an assignment,
      * argmin ties break to the lowest cluster index.
    """
    base = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    return _kmeans_assign_stage(base, centroids, 6).select(
        F.col("id").alias("vec_id"), "cluster", "dist"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN scale path
# ---------------------------------------------------------------------------

def _round_half_up(x: float, nd: int) -> float:
    """Mirror of Spark's Round on DOUBLE (BigDecimal HALF_UP over the
    shortest decimal representation) — Python's built-in round() is
    half-EVEN and would diverge on exact .5 boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP
    ))


def pq_train_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    init_vectors=None,
):
    """Train per-subspace PQ codebooks: split each vector into `m`
    contiguous subvectors of dim/m and run the SAME deterministic
    Lloyd k-means the IVF coarse quantizer uses in each subspace.

    Returns a driver-side list of m codebooks x k centroids x (dim/m)
    floats — m*k rows total cross the driver (codebooks are model
    parameters, bounded by construction, never corpus-sized). At
    100 TB the training input would be a deterministic sample.

    ALL subspaces train together: one init collect, then per Lloyd
    iteration ONE pass over the (posexploded) subvectors with a single
    groupBy(subspace, cluster) AVG — not m separate jobs. Values are
    identical to training each subspace independently (same init, same
    rounded distances, same tie-breaks); only the job count changes.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("full"),
    ).cache()
    if init_vectors is not None:
        full_init = [[float(x) for x in v] for v in init_vectors[:k]]
    else:
        init = base.orderBy("id").limit(k).collect()
        full_init = [list(r["full"]) for r in init]
    books = [
        [v[s * sub:(s + 1) * sub] for v in full_init]
        for s in range(m)
    ]
    slices = F.array(
        *[F.slice("full", s * sub + 1, sub) for s in range(m)]
    )
    long = base.select("id", F.posexplode(slices).alias("s", "v"))
    for _ in range(iterations):
        # r7: ONE 3-D codebook literal indexed by the row's subspace —
        # the former per-s when-chain of k aggregate trees re-stated the
        # whole m*k distance forest in the plan; element_at picks the
        # same book the matching when-branch did, so distances are
        # bit-equal (same lambda arithmetic, see _dists_to_all)
        books3d = F.array(*[
            F.array(*[
                F.array(*[F.lit(float(x)) for x in c]) for c in books[s]
            ])
            for s in range(m)
        ])
        darr = _dists_over(
            F.col("v"),
            F.element_at(books3d, F.col("s") + 1),
            round_to,
        )
        assigned = long.withColumn(
            "cluster",
            (F.array_position(darr, F.array_min(darr)) - 1).cast("int"),
        )
        rows = (
            assigned.groupBy("s", "cluster")
            .agg(*[
                F.round(F.avg(F.col("v")[i]), round_to).alias(f"c{i}")
                for i in range(sub)
            ])
            .collect()
        )
        got = {
            (r["s"], r["cluster"]): [r[f"c{i}"] for i in range(sub)]
            for r in rows
        }
        books = [
            [got.get((s, j), books[s][j]) for j in range(k)]
            for s in range(m)
        ]
    base.unpersist(blocking=False)
    return books


def train_ivf_pq(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    iterations: int = 1,
    round_to: int = 6,
    init_vectors=None,
):
    """Train the IVF coarse quantizer (full-vector k-means) AND the m
    per-subspace PQ codebooks in the SAME Lloyd iteration job (r7):
    one posexploded long frame carries s=0 = the full vector and
    s=1..m = the subspaces, so each iteration is ONE
    groupBy(s, cluster) AVG pass instead of one job per trainer, over
    one shared cached projection instead of two.

    Returns ``(cents, books)`` — exactly what ``_kmeans_centroids`` and
    ``pq_train_codebooks`` return for the same inputs: the same init
    (vectors of the k smallest ids), the same bit-equal rounded
    distances (`_dists_over` over a per-s codebook literal), the same
    argmin tie-breaks, the same rounded per-dimension AVG update, the
    same empty-cluster fallback — only the job count changes (pinned
    by ``test_train_ivf_pq_matches_separate_trainers``).

    The shared agg is ``dim`` columns wide; subspace rows are shorter
    than ``dim``, so elements are read via ``try_element_at`` (NULL
    past the end — ANSI-safe) and a subspace book keeps its first
    dim/m entries. AVG over the in-range positions sees exactly the
    per-trainer operand sets.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    base = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("full"),
    ).cache()
    if init_vectors is not None:
        full_init = [[float(x) for x in v] for v in init_vectors[:k]]
    else:
        init = base.orderBy("id").limit(k).collect()
        full_init = [list(r["full"]) for r in init]
    cents = [list(v) for v in full_init]
    books = [
        [v[s * sub:(s + 1) * sub] for v in full_init]
        for s in range(m)
    ]
    slices = F.array(
        F.col("full"),
        *[F.slice("full", s * sub + 1, sub) for s in range(m)],
    )
    long = base.select("id", F.posexplode(slices).alias("s", "v"))
    for _ in range(iterations):
        books3d = F.array(
            F.array(*[
                F.array(*[F.lit(float(x)) for x in c]) for c in cents
            ]),
            *[
                F.array(*[
                    F.array(*[F.lit(float(x)) for x in c])
                    for c in books[s]
                ])
                for s in range(m)
            ],
        )
        darr = _dists_over(
            F.col("v"),
            F.element_at(books3d, F.col("s") + 1),
            round_to,
        )
        assigned = long.withColumn(
            "cluster",
            (F.array_position(darr, F.array_min(darr)) - 1).cast("int"),
        )
        rows = (
            assigned.groupBy("s", "cluster")
            .agg(*[
                F.round(
                    F.avg(F.try_element_at(F.col("v"), F.lit(i + 1))),
                    round_to,
                ).alias(f"c{i}")
                for i in range(dim)
            ])
            .collect()
        )
        got = {
            (r["s"], r["cluster"]): [r[f"c{i}"] for i in range(dim)]
            for r in rows
        }
        cents = [got.get((0, j), cents[j])[:dim] for j in range(k)]
        books = [
            [
                got[(s + 1, j)][:sub] if (s + 1, j) in got else books[s][j]
                for j in range(k)
            ]
            for s in range(m)
        ]
    base.unpersist(blocking=False)
    return cents, books


def pq_encode(df: DataFrame, codebooks, round_to: int = 6) -> DataFrame:
    """(id, codes array<int>): per subspace, the index of the nearest
    codebook centroid (rounded squared distance, ties to the lowest
    index — the kmeans_assign determinism contract). MAP-ONLY: the
    codebooks are array literals, so encoding a 10^12-vector corpus is
    one scan with no shuffle; the encoded corpus is m bytes-ish per
    vector instead of dim floats — the entire point of PQ.
    """
    sub = len(codebooks[0][0])
    vec = F.col("embedding").cast("array<double>")
    codes = []
    for s, book in enumerate(codebooks):
        sv = F.slice(vec, s * sub + 1, sub)
        dists = _dists_to_all(sv, book, round_to)
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return df.select(
        F.col("vec_id"), F.array(*codes).alias("codes")
    )


def pq_adc_distances(
    codes_df: DataFrame,
    codebooks,
    query,
    round_to: int = 6,
    keep: tuple = (),
) -> DataFrame:
    """Asymmetric distance computation: per subspace, the query's
    squared distance to each codebook centroid forms a k-entry lookup
    table (computed driver-side — m*k scalars); a row's approximate
    distance is the sum of its codes' table entries. MAP-ONLY over the
    encoded corpus: scoring 10^12 vectors is m array lookups + one
    rounded sum per row, no shuffle, no full-precision vector reads.

    Returns (id, *keep, adc_dist) — ``keep`` passes columns through so
    callers never need a self-join to pair distances with codes. Table
    entries use the same HALF_UP rounding as the engine so a SQL
    oracle can replay them from its own centroids.
    """
    sub = len(codebooks[0][0])
    tables = []
    for s, book in enumerate(codebooks):
        q = query[s * sub:(s + 1) * sub]
        tables.append([
            _round_half_up(
                sum((qd - cd) * (qd - cd) for qd, cd in zip(q, c)),
                round_to,
            )
            for c in book
        ])
    dist = None
    for s, table in enumerate(tables):
        t = F.array(*[F.lit(x) for x in table])
        term = F.element_at(t, F.col("codes")[s] + 1)
        dist = term if dist is None else dist + term
    return codes_df.select(
        F.col("vec_id"), *[F.col(c) for c in keep],
        F.round(dist, round_to).alias("adc_dist"),
    )

