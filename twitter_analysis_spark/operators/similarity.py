"""Similarity search over embedding columns (array<float>).

Two tiers, per the standard ANN playbook:

- ``cosine_topk``: exact brute-force top-k — one scan, a codegen'd
  fold for the dot product, TakeOrderedAndProject for the top-k. The
  correctness baseline, and perfectly serviceable when the query set
  is small (each query is one scan of the corpus).
- ``random_hyperplane_lsh`` + ``lsh_topk``: the scale path. Sign-bit
  LSH buckets the corpus once (a cheap narrow table, bucketable /
  partitionable on disk); each query probes only its own bucket and
  multi-probe neighbors (Hamming-1 flips), turning a 100 TB scan into
  a few-partition lookup at some recall cost.

No Python UDFs anywhere: dot products are Catalyst ``zip_with`` +
``aggregate`` folds in double precision (sequential, deterministic
across engines — this matters for the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def valid_vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Input contract shared by every similarity entry point (r14,
    null-audit class A): cosine/L2 geometry is undefined on a missing
    vector and a hit without an id is unreportable, so NULL rows are
    dropped by an explicit plan-visible filter (pushed to the scan).
    An SQL replay must carry the same ``IS NOT NULL`` pair — DuckDB's
    ``list_inner_product`` refuses NULL lists outright, while Spark's
    ``aggregate``/``zip_with`` folds would silently emit NULL scores
    and a NaN/NULL-ordered top-k. One NULL row at 100 TB must degrade
    to "excluded", never to a job-killing kernel error."""
    return emb.where(F.col(id_col).isNotNull()
                     & F.col(vec_col).isNotNull())


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two array columns. (An
    unrolled ``element_at`` add-chain was measured 5-12x slower on the
    real similarity queries — OPTIMIZATION_r16.md.)"""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def pynorm(vec: list[float]) -> float:
    """Driver-side twin of ``l2norm`` for a CONSTANT vector: the same
    sequential left fold over IEEE doubles (0.0 + x0*x0 + x1*x1 + ...,
    then sqrt), so inlining the result as a literal is bit-identical
    to evaluating the fold per row — it just stops the interpreted
    HOF from re-running on every row for a plan constant (guide §4)."""
    import math
    s = 0.0
    for x in vec:
        s = s + float(x) * float(x)
    return math.sqrt(s)


def cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine against a constant query vector.

    The query vector is inlined as a literal array, so the plan is a
    single projection + filter-free scan ending in
    TakeOrderedAndProject — no shuffle, no crossJoin, trivially
    parallel over corpus partitions.
    """
    q = F.array([F.lit(float(x)) for x in query_vec])
    return (
        valid_vectors(emb, id_col, vec_col).select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def random_hyperplane_lsh(emb: DataFrame, planes: list[list[float]],
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Assign each vector a sign-bit LSH bucket from fixed hyperplanes.

    ``planes`` must be generated once (deterministically seeded) and
    shared between indexing and querying. With p planes the corpus
    splits into ≤2^p buckets; cosine-similar vectors collide with
    probability 1 - θ/π per plane.
    """
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        pv = F.array([F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(dot(F.col(vec_col), pv) >= 0,
                                 F.lit(1 << i)).otherwise(F.lit(0))
    return valid_vectors(emb, id_col, vec_col) \
        .select(F.col(id_col), F.col(vec_col),
                bucket.cast("int").alias("bucket"))


def _hamming1_buckets(bucket: int, num_planes: int) -> list[int]:
    return [bucket] + [bucket ^ (1 << i) for i in range(num_planes)]


def lsh_topk(emb: DataFrame, planes: list[list[float]],
             query_vec: list[float], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             multiprobe: bool = True) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket (plus Hamming-1
    neighbors when ``multiprobe``), then exact cosine within it.

    At scale the bucketed table is precomputed and partitioned by
    ``bucket``, so this is a partition-pruned read of ~(1+p)/2^p of the
    corpus instead of a full scan.
    """
    qb = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) >= 0:
            qb |= 1 << i
    probe = _hamming1_buckets(qb, len(planes)) if multiprobe else [qb]
    bucketed = random_hyperplane_lsh(emb, planes, id_col, vec_col)
    q = F.array([F.lit(float(x)) for x in query_vec])
    return (
        bucketed.where(F.col("bucket").isin(probe))
        .select(F.col(id_col),
                F.round(cosine(F.col(vec_col), q), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


#: Distinct multipliers for arith_planes (primes, pairwise coprime
#: with the modulus 11 so each plane's residue pattern differs).
_PLANE_PRIMES = (31, 37, 41, 43, 47, 53, 59, 61, 67, 71, 73, 79)


def arith_planes(dim: int, num_planes: int) -> list[list[float]]:
    """Closed-form integer-valued hyperplanes: plane[i][j] =
    (j * prime_i) mod 11 - 5, values in [-5, 5].

    Same contract as ``fixed_planes`` (deterministic, shared between
    index and query side) with one extra property: the generation rule
    is a one-line integer formula, so an external SQL engine (the
    DuckDB oracle) can regenerate the planes exactly and recompute
    bucket assignments bit-for-bit — integer-valued entries keep every
    product exactly representable in double precision, which removes
    the last cross-engine rounding seam from the sign test. Bucket
    quality is mildly worse than xorshift planes (coarser directions);
    fine for the oracle-checked catalog variant, and ``fixed_planes``
    remains the production default.
    """
    assert num_planes <= len(_PLANE_PRIMES)
    return [[float((j * _PLANE_PRIMES[i]) % 11 - 5) for j in range(dim)]
            for i in range(num_planes)]


def fixed_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (shared index/query side).

    A tiny xorshift-style generator — no numpy dependency at call sites
    that only need plan construction, and bit-reproducible everywhere.
    """
    planes = []
    state = seed & 0xFFFFFFFFFFFFFFFF or 1
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse-quantize the corpus into nlist cells,
# probe only the nprobe cells nearest the query. The second scale path
# next to sign-bit LSH: cells adapt to the data distribution (centroids
# come from the corpus itself), so probe sets are better balanced than
# fixed hyperplane buckets under skew.
# ---------------------------------------------------------------------------

def ivf_centroids(emb: DataFrame, nlist: int = 8,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Pick nlist deterministic seed centroids from the corpus.

    Stand-in for a k-means fit (one k-means|| pass at index-build time
    on a real deployment): the lowest-id vectors are a deterministic,
    reproducible sample — good enough to define cells, and the oracle-
    facing recall tests measure the quality that actually matters.
    Driver-side collect is nlist rows (bounded, tiny).
    """
    rows = (valid_vectors(emb, id_col, vec_col)
            .select(id_col, vec_col).orderBy(F.asc(id_col))
            .limit(nlist).collect())
    return [(i, [float(x) for x in r[1]]) for i, r in enumerate(rows)]


def ivf_assign(emb: DataFrame, centroids: list[tuple[int, list[float]]],
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               with_cos: bool = False) -> DataFrame:
    """Assign every vector to its max-cosine centroid cell.

    The centroid set is a small constant inlined into the plan (same
    trick as the LSH planes): the argmax is an array_sort over an
    nlist-length struct array, all JVM-side codegen, no shuffle. At
    100 TB the output is written bucketed/partitioned BY cell so a
    probe is a partition-pruned read.

    ``with_cos`` additionally emits ``cell_cos``, the cosine to the
    winning centroid — what cluster-radius pruning needs (see
    dedup.embedding_near_dup_pairs). It is deliberately UNROUNDED:
    radius bounds derive an acos from it, and near cos≈1 the acos error
    of a rounded cosine inflates by d(acos)≈sqrt(2·δ) — a 5e-10
    rounding error becomes ~3e-5 rad, enough to under-estimate a cell
    radius past the pruning slack and (exactness-breaking) drop a true
    pair. Round only user-facing outputs, never pruning inputs.
    """
    # Hoisted norms (r16, guide §4): the naive per-struct
    # cosine(v, c) re-evaluates the interpreted sumsq fold of v once
    # per CENTROID and folds each constant centroid's norm once per
    # ROW — 2*nlist redundant 64-element HOF folds per row. The row
    # norm is computed once in a separate projection (multi-referenced
    # non-cheap aliases survive CollapseProject, verified in the plan)
    # and each centroid norm once on the driver (pynorm — the same
    # IEEE fold sequence, so cos values are bit-identical and every
    # downstream assignment/prune/dedup decision is unchanged).
    scored = F.array(*[
        F.struct(
            (dot(F.col(vec_col), F.array([F.lit(x) for x in cvec]))
             / (F.col("_nv") * F.lit(pynorm(cvec)))).alias("cos"),
            F.lit(cid).alias("cell"),
        )
        for cid, cvec in centroids
    ])
    # sort_array on structs orders by first field; last element = max.
    # `_best` is its own multi-referenced projection column for the
    # same reason as `_nv`: referencing best["cell"] and best["cos"]
    # directly would paste the whole nlist-fold array into the
    # projection twice.
    best = F.sort_array(scored)[len(centroids) - 1]
    cols = [F.col(id_col), F.col(vec_col),
            F.col("_best")["cell"].alias("cell")]
    if with_cos:
        cols.append(F.col("_best")["cos"].alias("cell_cos"))
    return (valid_vectors(emb, id_col, vec_col)
            .withColumn("_nv", l2norm(F.col(vec_col)))
            .withColumn("_best", best)
            .select(*cols))


def _nearest_cells(centroids: list[tuple[int, list[float]]],
                   query_vec: list[float], nprobe: int) -> list[int]:
    """Driver-side: ids of the ``nprobe`` centroids with the highest
    cosine to the query (a zero-norm centroid or query scores 0.0)."""
    def pycos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        da = sum(x * x for x in a) ** 0.5
        db = sum(x * x for x in b) ** 0.5
        return num / (da * db) if da and db else 0.0

    return [cid for cid, _ in sorted(
        centroids, key=lambda c: -pycos(c[1], query_vec))[:nprobe]]


def ivf_topk(emb: DataFrame, centroids: list[tuple[int, list[float]]],
             query_vec: list[float], k: int = 10, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: exact cosine inside the nprobe cells whose
    centroids are nearest the query."""

    probe = _nearest_cells(centroids, query_vec, nprobe)
    q = F.array([F.lit(float(x)) for x in query_vec])
    return (
        ivf_assign(emb, centroids, id_col, vec_col)
        .where(F.col("cell").isin(probe))
        .select(F.col(id_col),
                F.round(cosine(F.col(vec_col), q), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_vectorized(emb: DataFrame, query_vec: list[float],
                           k: int = 10, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k with an Arrow-batched numpy kernel.

    Same semantics as ``cosine_topk``; different physical strategy: each
    Arrow batch becomes one (rows × dim) float64 matrix and the scores
    are a single BLAS matvec, instead of per-row expression folds. At
    bench scale (2k × 64) the JVM fold wins on overhead; the crossover
    is around 10^5 vectors/batch or dim >= 256, where matmul throughput
    dominates — this is the kernel the 100 TB path uses, with the same
    TakeOrderedAndProject top-k above it.
    """
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])
            cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * qn)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "cosine": np.round(cos, 6)})

    scored = valid_vectors(emb, id_col, vec_col) \
        .select(id_col, vec_col).mapInPandas(
            kernel, schema=f"{id_col} long, cosine double")
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 5,
             qid_col: str = "qid", qvec_col: str = "qv",
             cid_col: str = "cid", cvec_col: str = "cv",
             exclude_self: bool = True) -> DataFrame:
    """Batched exact k-NN join: for every query vector, its top-k
    corpus neighbors by cosine. Output (qid, cid, cosine, rk).

    ``exclude_self`` drops pairs whose query id equals the corpus id —
    correct when the queries ARE corpus rows (self-similarity search,
    the registered query's shape). Pass False when the two id spaces
    are independent: an id collision there is a coincidence, and a
    legitimate neighbor must not be silently dropped.

    The 100 TB shape, in three moves:

    1. Broadcast the query batch (eval/query sets are the small side)
       and cross-join corpus x queries — map-only, the corpus never
       shuffles. Cosine is the JVM fold expression (similarity.dot),
       rounded to 6 dp so ordering keys are engine-portable.
    2. Per-partition top-k PRUNE with mapInPandas: a dict of heaps per
       qid, fed batch-by-batch. Pure SELECTION on the already-computed
       cosine (no Python arithmetic → no float drift vs the oracle);
       shrinks the pair stream from |corpus|x|Q| rows to at most
       k x |Q| per partition before anything shuffles.
    3. One window over the survivors for the global rank — the only
       shuffle, sized O(partitions x k x |Q|), independent of corpus
       size.

    The prune criteria (cosine desc, cid asc) equal the final ranking
    criteria, so pruning is lossless.
    """
    from pyspark.sql import Window

    # Norms hoisted to the per-SIDE projections (r16, guide §4): the
    # per-pair cosine used to re-run both sumsq folds for every (q, c)
    # pair; computing them once per vector on each side of the join is
    # the same IEEE arithmetic (dot / (qn * cn), identical op order),
    # so every cosine — and the top-k it ranks — is bit-identical.
    q = valid_vectors(queries, qid_col, qvec_col) \
        .select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("_qv"),
                l2norm(F.col(qvec_col)).alias("_qn"))
    c = valid_vectors(corpus, cid_col, cvec_col) \
        .select(F.col(cid_col).alias("cid"), F.col(cvec_col).alias("_cv"),
                l2norm(F.col(cvec_col)).alias("_cn"))
    join_cond = F.col("qid") != F.col("cid") if exclude_self else F.lit(True)
    pairs = (
        c.join(F.broadcast(q), join_cond)
        .select("qid", "cid",
                F.round(dot(F.col("_qv"), F.col("_cv"))
                        / (F.col("_qn") * F.col("_cn")), 6).alias("cosine"))
    )

    import heapq
    from collections.abc import Iterator

    import pandas as pd

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        heaps: dict = {}                       # qid -> min-heap of size <= k
        for b in batches:
            for qid, cid, cos in zip(b["qid"], b["cid"], b["cosine"]):
                h = heaps.setdefault(qid, [])
                # heap key: (cosine, -cid) so the WORST kept row is the
                # smallest cosine / largest cid — matches (cosine desc,
                # cid asc) ranking.
                item = (cos, -cid)
                if len(h) < k:
                    heapq.heappush(h, item)
                elif item > h[0]:
                    heapq.heapreplace(h, item)
        out = [(qid, -ncid, cos)
               for qid, h in heaps.items() for cos, ncid in h]
        yield pd.DataFrame(out, columns=["qid", "cid", "cosine"])

    pruned = pairs.mapInPandas(local_topk, schema=pairs.schema)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        pruned.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
        .select("qid", "cid", "cosine", "rk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression ANN path. Vectors
# are unit-normalized, split into m subspaces, and each subvector is
# replaced by the id of its nearest codebook centroid — dim floats
# become m small ints (64x-256x smaller). Scoring is asymmetric
# distance computation (ADC): cosine(q, x) ≈ Σ_s lut[s][code_s] where
# lut[s][j] = dot(q_s, C[s][j]) is an m×ksub table computed once per
# query. At 100 TB the encoded corpus (m bytes/vector) fits where raw
# embeddings never could, and the scan is a literal-array lookup fold —
# no vector arithmetic per row at query time.
# ---------------------------------------------------------------------------

def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)


def _unit(vec: Column) -> Column:
    n = l2norm(vec)
    return F.transform(vec, lambda x: x.cast("double") / n)


def _pq_codes_expr(unit_vec: Column,
                   codebooks: list[list[list[float]]]) -> Column:
    """Row-wise PQ assignment: array of per-subspace argmin-L2 codes.

    ``unit_vec`` must be an already-MATERIALIZED unit-normalized array
    column (a plain attribute, not a normalization expression): this
    expression references the vector m·ksub times, and higher-order
    lambdas evaluate interpreted — an embedded l2norm fold would be
    recomputed per (subspace, code) per row (~20s for 500 rows,
    measured) instead of once per row. Callers project the unit
    vector in a separate select; CollapseProject keeps multi-referenced
    non-cheap aliases materialized.

    The codebooks are inlined literal arrays (m × ksub × dsub doubles,
    small constants). Ties break to the lowest code id, deterministic
    everywhere.
    """
    dsub = len(codebooks[0][0])
    codes = []
    for s, book in enumerate(codebooks):
        sub = F.slice(unit_vec, s * dsub + 1, dsub)
        book_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c])
                             for c in book])
        # ONE fold lambda per subspace (transform over the literal
        # codebook), not one per (subspace, code): the expression tree
        # stays ksub-times smaller, which is what keeps Catalyst
        # analysis + codegen time sane as m*ksub grows.
        dists = F.transform(book_lit, lambda c: _l2sq(sub, c))
        # array_position returns the FIRST index of the min -> ties
        # break to the lowest code id, deterministic everywhere.
        codes.append((F.array_position(dists, F.array_min(dists)) - 1)
                     .cast("int"))
    return F.array(*codes)


def pq_train(emb: DataFrame, m: int = 8, ksub: int = 16, iters: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             ) -> list[list[list[float]]]:
    """Fit PQ codebooks: per-subspace L2 k-means over unit-normalized
    vectors, every Lloyd round ONE corpus scan for ALL subspaces.

    - **seed**: subvector slices of the ``ksub`` lowest-id vectors
      (deterministic, same convention as ivf_centroids).
    - **assign**: row-wise ``_pq_codes_expr`` — map-only, no shuffle.
    - **update**: posexplode the normalized vector once; each exploded
      position folds to (sub, code, sub_pos); ``groupBy.avg`` with
      map-side partials shuffles only m·ksub·dsub rows and the driver
      collects the same (bounded: 8·16·8 ≈ 1k doubles per round).

    Empty codes keep their previous centroid. Unlike the spherical IVF
    fit, PQ minimizes per-subspace *reconstruction* L2 — the quantity
    ADC error is bounded by — so updates are plain means.
    """
    emb = valid_vectors(emb, id_col, vec_col)
    head = emb.select(vec_col).first()
    if head is None:
        raise ValueError("no non-null vectors to train on")
    dim = len(head[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    seeds = (emb.orderBy(F.asc(id_col)).limit(ksub)
             .select(_unit(F.col(vec_col)).alias("_u")).collect())
    books = [[[float(x) for x in r["_u"][s * dsub:(s + 1) * dsub]]
              for r in seeds]
             for s in range(m)]
    for _ in range(iters):
        coded = (emb.select(_unit(F.col(vec_col)).alias("_u"))
                 .select(_pq_codes_expr(F.col("_u"), books).alias("_codes"),
                         F.col("_u")))
        parts = (
            coded.select("_codes", F.posexplode("_u").alias("pos", "x"))
            .select((F.col("pos") / dsub).cast("int").alias("sub"),
                    (F.col("pos") % dsub).alias("spos"),
                    F.element_at("_codes",
                                 (F.col("pos") / dsub).cast("int") + 1)
                    .alias("code"),
                    "x")
            .groupBy("sub", "code", "spos")
            .agg(F.avg("x").alias("mval"))
            .collect()  # bounded: m*ksub*dsub rows
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in parts:
            got.setdefault((r["sub"], r["code"]), {})[r["spos"]] = r["mval"]
        books = [
            [([got[(s, j)][p] for p in sorted(got[(s, j)])]
              if (s, j) in got else old)
             for j, old in enumerate(book)]
            for s, book in enumerate(books)
        ]
    return books


def pq_encode(emb: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode the corpus: (id, codes array<int>). Map-only projection
    (two chained selects: normalize once, then assign); at scale this
    is the stored index — m small ints per vector."""
    return (valid_vectors(emb, id_col, vec_col)
            .select(F.col(id_col), _unit(F.col(vec_col)).alias("_u"))
            .select(F.col(id_col),
                    _pq_codes_expr(F.col("_u"), codebooks).alias("codes")))


def pq_topk(emb: DataFrame, codebooks: list[list[list[float]]],
            query_vec: list[float], k: int = 10,
            id_col: str = "vec_id",
            vec_col: str = "embedding",
            rerank: int = 0) -> DataFrame:
    """Approximate top-k by ADC over the PQ-encoded corpus, optionally
    exact-reranked.

    The m×ksub lookup table lut[s][j] = dot(q̂_s, C[s][j]) is computed
    driver-side in pure Python (deterministic) and inlined; the scan
    evaluates Σ_s lut[s][codes[s]] — literal-array indexing, no vector
    math per row — and ends in TakeOrderedAndProject.

    ``rerank=C`` is the production shape: ADC selects a C-candidate
    shortlist from the compressed index (the only full scan, and of
    m-byte codes rather than raw vectors), then exact cosine reranks
    just those C rows via a broadcast semi-join back to the raw table
    — at scale a partition-pruned point read, since C ≪ corpus.
    Recall then depends on shortlist depth instead of quantization
    fidelity alone. Output column is ``adc_score`` either way (the
    reranked variant's scores are the exact cosines).
    """
    qn = sum(x * x for x in query_vec) ** 0.5 or 1.0
    qhat = [x / qn for x in query_vec]
    dsub = len(codebooks[0][0])
    lut = [[sum(qhat[s * dsub + i] * c[i] for i in range(dsub))
            for c in book]
           for s, book in enumerate(codebooks)]
    encoded = pq_encode(emb, codebooks, id_col, vec_col)
    score = None
    for s, row in enumerate(lut):
        term = F.element_at(F.array([F.lit(v) for v in row]),
                            F.element_at("codes", s + 1) + 1)
        score = term if score is None else score + term
    adc = (
        encoded.select(F.col(id_col),
                       F.round(score, 6).alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.asc(id_col))
        .limit(max(k, rerank))
    )
    if not rerank:
        return adc
    q = F.array([F.lit(float(x)) for x in query_vec])
    return (
        valid_vectors(emb, id_col, vec_col)
        .join(F.broadcast(adc.select(id_col)), id_col)
        .select(F.col(id_col),
                F.round(cosine(F.col(vec_col), q), 6).alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.asc(id_col))
        .limit(k)
    )


def kmeans_fit(emb: DataFrame, nlist: int = 8, iters: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               seed_centroids: list[tuple[int, list[float]]] | None = None,
               ) -> list[tuple[int, list[float]]]:
    """Spherical k-means (Lloyd) for IVF centroids, as DataFrame aggs.

    Replaces the lowest-id seeds of ``ivf_centroids`` with a real fit
    while keeping every per-round step cluster-shaped:

    - **assign**: ``ivf_assign`` — the argmax over an inlined centroid
      array, whole-stage codegen, zero shuffle;
    - **update**: normalize each vector, ``posexplode`` to
      (cell, pos, x/|x|), then ``groupBy(cell, pos).avg`` — the dim-fold
      row inflation is absorbed by map-side partial aggregation, so the
      shuffle carries only nlist x dim rows; the driver collects just
      the new centroids (nlist x dim floats) per round.

    Spherical update = mean of UNIT vectors, re-normalized: for cosine
    assignment this is the exact maximizer of the per-cell cosine sum
    (sum_x cos(x,c) = (sum_x x/|x|) . c/|c|), so the mean-cosine
    objective is monotone non-decreasing per Lloyd round — the property
    the tests assert. Empty cells keep their previous centroid.
    """
    cents = seed_centroids or ivf_centroids(emb, nlist, id_col, vec_col)
    for _ in range(iters):
        assigned = ivf_assign(emb, cents, id_col, vec_col)
        parts = (
            assigned
            .withColumn("_n", l2norm(F.col(vec_col)))
            .select("cell", F.posexplode(
                F.transform(F.col(vec_col),
                            lambda x: x / F.col("_n"))).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()  # bounded: nlist x dim rows
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in parts:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        new = []
        for cid, old in cents:
            if cid in by_cell:
                vec = [by_cell[cid][p] for p in sorted(by_cell[cid])]
                nrm = sum(x * x for x in vec) ** 0.5 or 1.0
                new.append((cid, [x / nrm for x in vec]))
            else:
                new.append((cid, old))
        cents = new
    return cents


def kmeans_fit_exact(emb: DataFrame, nlist: int = 8, iters: int = 1,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     scale: int = 1_000_000,
                     ) -> list[tuple[int, list[float]]]:
    """Bit-reproducible spherical k-means: Lloyd with QUANTIZED updates.

    Same assign/update shape as ``kmeans_fit``, but the centroid update
    is made order-independent so an external SQL engine can replay the
    whole fit exactly (the seeded-codebook technique from ``pq_train``
    iters=0, extended to a REAL training round):

    - each vector's unit components are rounded to ``scale`` fixed-point
      (``round(x/|x| * scale)`` as BIGINT) — the only lossy step, and a
      deterministic one;
    - the per-cell update is then an exact integer SUM (commutative →
      partition-order independent, unlike float ``avg``), and the new
      centroid is simply that integer sum vector: cosine assignment is
      scale-invariant, so dividing by ``count*scale`` (the true mean)
      or renormalizing would change nothing — skipping both removes
      two cross-engine rounding seams;
    - empty cells keep their previous centroid (seed raw vector).

    Component sums stay exactly representable in doubles while
    ``count_per_cell * scale < 2^53`` — ~9e9 vectors per cell at the
    default scale, comfortably past 100 TB corpora; raise ``nlist`` or
    lower ``scale`` beyond that.

    Driver traffic per round is one bounded collect of nlist x dim
    sums, identical to ``kmeans_fit``. The float-``avg`` trainer
    remains the production default (slightly better centroids — no
    quantization bias); this variant backs the cross-engine-checked
    catalog row.
    """
    cents = ivf_centroids(emb, nlist, id_col, vec_col)
    for _ in range(iters):
        assigned = ivf_assign(emb, cents, id_col, vec_col)
        parts = (
            assigned
            .withColumn("_n", l2norm(F.col(vec_col)))
            .select("cell", F.posexplode(
                F.transform(F.col(vec_col),
                            lambda x: F.round(x.cast("double") / F.col("_n")
                                              * F.lit(float(scale)))
                            .cast("long"))).alias("pos", "q"))
            .groupBy("cell", "pos")
            .agg(F.sum("q").alias("s"))
            .collect()  # bounded: nlist x dim rows
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in parts:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["s"]
        cents = [
            (cid, [float(by_cell[cid][p]) for p in sorted(by_cell[cid])])
            if cid in by_cell else (cid, old)
            for cid, old in cents
        ]
    return cents


def save_lsh_index(emb: DataFrame, planes: list[list[float]], path: str,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> None:
    """Materialize the sign-bit LSH index PARTITIONED BY BUCKET — the
    storage layout that turns the docstring's "probe is a
    partition-pruned read" into physical reality: each bucket is its
    own directory, so a probe opens (1+p) directories out of 2^p."""
    # Rebalance by bucket before the partitioned write (SCALE.md
    # hazard 18): the assignment is map-only over emb's input splits,
    # so every task would otherwise write a sliver into every bucket
    # directory — tasks x 2^p files per build.
    (random_hyperplane_lsh(emb, planes, id_col, vec_col)
     .hint("rebalance", "bucket")
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def lsh_probe(spark, path: str, planes: list[list[float]],
              query_vec: list[float], k: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding",
              multiprobe: bool = True) -> DataFrame:
    """Query a saved LSH index: compute the query's bucket driver-side
    (p dot products), read ONLY the probed bucket partitions (the
    bucket filter reaches the scan as PartitionFilters — asserted by
    tests), exact-cosine within them. Identical results to the
    in-memory ``lsh_topk`` by construction."""
    qb = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) >= 0:
            qb |= 1 << i
    probe = _hamming1_buckets(qb, len(planes)) if multiprobe else [qb]
    q = F.array([F.lit(float(x)) for x in query_vec])
    return (
        spark.read.parquet(path)
        .where(F.col("bucket").isin(probe))
        .select(F.col(id_col),
                F.round(cosine(F.col(vec_col), q), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def save_ivf_index(emb: DataFrame, centroids: list[tuple[int, list[float]]],
                   path: str, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> None:
    """Materialize the IVF assignment partitioned by cell (same
    partition-pruned-probe contract as ``save_lsh_index``)."""
    # Rebalance by cell (SCALE.md hazard 18): map-only assignment
    # would otherwise fan every input split into every cell directory
    # — tasks x nlist files, and nlist grows with the corpus.
    (ivf_assign(emb, centroids, id_col, vec_col)
     .hint("rebalance", "cell")
     .write.mode("overwrite").partitionBy("cell").parquet(path))


def ivf_probe(spark, path: str, centroids: list[tuple[int, list[float]]],
              query_vec: list[float], k: int = 10, nprobe: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Query a saved IVF index: nprobe nearest cells chosen driver-side
    from the (tiny, constant) centroid list, partition-pruned read of
    those cells, exact cosine within."""

    probe = _nearest_cells(centroids, query_vec, nprobe)
    q = F.array([F.lit(float(x)) for x in query_vec])
    return (
        spark.read.parquet(path)
        .where(F.col("cell").isin(probe))
        .select(F.col(id_col),
                F.round(cosine(F.col(vec_col), q), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def append_to_ivf_index(emb_new: DataFrame,
                        centroids: list[tuple[int, list[float]]],
                        path: str, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> None:
    """Incrementally grow a saved IVF index: assign ONLY the new
    vectors against the index's frozen centroids and append them to
    their cell partitions — no rebuild, no touch of existing cells'
    data, cost proportional to the batch (the vector-corpus analogue
    of streaming_ingest_dedup's index maintenance).

    Frozen centroids keep probe results exactly equal to a fresh
    build over the union (tests pin this): cells drift from optimal
    as the distribution shifts, which a real deployment handles with
    a periodic re-train + full rewrite (the compaction of this
    index); recall monitoring decides when, not this function.
    """
    (ivf_assign(emb_new, centroids, id_col, vec_col)
     .hint("rebalance", "cell")   # SCALE.md hazard 18, as the builder
     .write.mode("append").partitionBy("cell").parquet(path))
