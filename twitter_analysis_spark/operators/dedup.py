"""Deduplication operators for large-scale document corpora.

The reference deduplicates only by exact id, using an in-memory dict
(DataProcessing.ipynb:cell16:50, cell34:24-27) — OOM-bound and
single-threaded. This module provides the dedup family a 100 TB
training-data pipeline needs, each expressed as distributed DataFrame
plans:

- exact:        hash group-by on a normalization key (content or id)
- n-gram Jaccard: exact set-similarity via shingle inverted index
                  (token self-join), the verification primitive
- MinHash+LSH:  sub-quadratic candidate generation — shingle → k min
                hashes → bands → bucket join; candidates verified with
                exact Jaccard
- SimHash:      64-bit near-dup signature, banded for candidate pairs
- embedding:    cosine near-dup over a vector column

Scale notes (why these shapes survive 100 TB):
- Everything is shuffle-on-key; no driver-side state, no collect().
- The Jaccard self-join carries a document-frequency cap
  (``max_shingle_df``): a shingle appearing in d docs produces d² pair
  rows, so ultra-common shingles (boilerplate) must be dropped — the
  standard inverted-index pruning used by web-dedup pipelines.
- MinHash/SimHash signatures are fixed-width (k longs), so the band
  shuffle is O(corpus), never O(pairs).
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

#: Default document-frequency cap for the shingle inverted index. A
#: shingle appearing in d documents fans out into d² candidate pair
#: rows in the self-join, so boilerplate shingles (site chrome, license
#: headers) are THE dedup scale-killer on web corpora. 256 bounds the
#: per-shingle fan-out at 64Ki pair rows regardless of corpus size —
#: the harm of a hot shingle is absolute (d²), not relative, hence an
#: absolute cap. A shingle shared by >256 documents carries no
#: near-duplicate signal anyway (it is boilerplate by definition), so
#: dropping it loses recall only on pathological boilerplate-only
#: documents, which exact_dedup already catches.
DEFAULT_MAX_SHINGLE_DF = 256

#: Default size cap for one LSH band bucket, the same d² argument as
#: the shingle DF cap one level up: a band bucket holding d documents
#: emits d² candidate pairs in the band self-join, so one degenerate
#: bucket (e.g. the shared signature of near-empty or boilerplate
#: documents) is quadratic damage with only AQE task-splitting as a
#: defense — the work still happens, it is merely spread out. Buckets
#: over the cap are DROPPED whole: genuinely similar pairs inside a
#: mega-bucket almost always collide in another (smaller) band too,
#: and signature-degenerate duplicates (identical text) are exact
#: duplicates, which exact_dedup catches without LSH.
DEFAULT_MAX_BAND_BUCKET = 256


def km_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic per-permutation constants for the portable minhash
    family: (a_j, b_j) odd 30-bit ints derived from md5 of a fixed
    label, so Spark code, the DuckDB oracle, and any other engine can
    regenerate them identically."""
    import hashlib

    def c(label: str) -> int:
        return (int(hashlib.md5(label.encode()).hexdigest()[:8], 16)
                & 0x3FFFFFFF) | 1

    return [(c(f"minhash-a-{j}"), c(f"minhash-b-{j}"))
            for j in range(num_hashes)]


@contextmanager
def released():
    """Exception-safe release for the ``cleanup``-list persist
    contract (``ngram_jaccard_pairs``, ``minhash_lsh_pairs``,
    ``set_similarity_join``, ...): yields a
    fresh list to pass as ``cleanup=`` and unpersists everything in
    it on exit, including when the consumer raises (e.g. a CC
    non-convergence RuntimeError) — a bare post-hoc unpersist loop
    strands the corpus-sized index in cache for the session exactly
    when something went wrong.
    ``tests/helpers.py:collect_with_cleanup`` is the test-side twin.
    """
    cleanup: list = []
    try:
        yield cleanup
    finally:
        for f in cleanup:
            f.unpersist()


def tokens(col):
    """Lowercased whitespace tokens (engine-standard tokenizer, C4/C5)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def eager_barrier(df: DataFrame) -> DataFrame:
    """Eager lineage-truncating materialization for mid-pipeline
    multi-consumer barriers (the minhash banded/candidate tables).

    Default: ``localCheckpoint()`` — executor-local blocks, the right
    local/bench shape but NON-REPLAYABLE on executor loss. With
    ``SPARK_GRAFT_CHECKPOINT_DIR`` set, a RELIABLE ``checkpoint()``
    into that directory instead (the deploy-scale durability story the
    r15 docstrings promised): blocks survive executor loss at the cost
    of a filesystem round-trip, so it is opt-in per deployment rather
    than a local default — the bench contract is unchanged when the
    variable is unset. The session's checkpoint dir is set on first
    use; an explicit prior ``setCheckpointDir`` wins.

    Release semantics (r15 ADVICE): checkpoint blocks are NOT in the
    cache registry, so ``spark.catalog.clearCache()`` does not free
    them — they release when the ContextCleaner GCs the result frame
    (localCheckpoint) or when the checkpoint dir is cleaned
    (reliable). Long-lived sessions that build these frames without
    consuming them hold executor-local blocks until GC; the bench is
    unaffected (each timed pass rebuilds and drops the frame).
    """
    import os as _os

    ckdir = _os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not ckdir:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(ckdir)
    return df.checkpoint()


def word_shingles(col, n: int):
    """n-word shingles as strings: transform over a sequence of offsets
    (pure Catalyst expression — no UDF, codegen-friendly).

    PERF: ``col`` must be an already-materialized token ARRAY column
    (a plain attribute), NOT the ``tokens(text)`` expression inline.
    Higher-order-function lambdas re-evaluate captured subtrees per
    element, so an inline split() makes this O(tokens²) per document —
    measured 10× slower on the bench corpus. Callers project
    ``tokens(text)`` into a column first (see ``_with_tokens``).
    """
    toks = col
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def exact_dedup(df: DataFrame, id_col: str, key_cols: list[str]) -> DataFrame:
    """Exact dedup: keep the lowest id per identical key (deterministic
    winner). One hash-aggregate shuffle; spills instead of the
    reference's in-memory dict (cell16:50)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def doc_shingle_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int, max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF
                      ) -> DataFrame:
    """Distinct (id, shingle) pairs, pruning shingles whose document
    frequency exceeds ``max_shingle_df`` (pair-explosion guard; pass
    None to disable — only sensible for oracle-twin baselines).

    The capped path is ONE shuffle: ``groupBy(shingle).collect_set(doc)``
    dedups (partial aggregation dedups map-side), the posting-list size
    IS the document frequency (filter, no second pass), and the explode
    re-emits pairs already hash-partitioned by ``shingle`` — the join
    key of the downstream Jaccard self-join. This replaced a
    distinct-then-Window.partitionBy(shingle) formulation whose second
    shuffle doubled the LSH pipeline's wall clock (the signature branch
    aggregates by doc, so the window's shingle exchange bought nothing).

    Memory note for the 100 TB case: a posting list is materialized per
    shingle before the size filter, so a shingle appearing in d docs
    holds d ids on one reducer (spill-safe sort-based fallback, but the
    single hot key's list must fit). Web-corpus boilerplate reaches
    d ~ 1e6-1e8; if that bites, pre-drop hot shingles with a broadcast
    blocklist from ``shingle_cap_report``-style one-pass counts (count
    partials are O(1) per key) before this aggregate. At the cap's
    design point (256) the surviving lists are tiny.
    """
    toked = df.select(F.col(id_col).alias("doc"),
                      tokens(F.col(text_col)).alias("_tk"))
    exploded = toked.select(
        "doc", F.explode(word_shingles(F.col("_tk"), n)).alias("shingle"))
    if max_shingle_df is None:
        return exploded.distinct()
    return (
        exploded.groupBy("shingle")
        .agg(F.collect_set("doc").alias("_docs"))
        .where(F.size("_docs") <= max_shingle_df)
        .select(F.explode("_docs").alias("doc"), "shingle")
    )


def shingle_cap_report(df: DataFrame, id_col: str, text_col: str, n: int,
                       max_shingle_df: int = DEFAULT_MAX_SHINGLE_DF) -> dict:
    """Observability for the pair-explosion guard: how many (doc,
    shingle) rows the DF cap drops, and the worst offender's frequency.

    A separate bounded aggregate job (one shuffle over the shingle
    index) rather than an in-plan ``observe()``: the shingle table
    feeds a self-join, so any metric node below it would be duplicated
    per join side. Production pipelines run this once per corpus and
    log it next to the dedup job.
    """
    freq = (doc_shingle_pairs(df, id_col, text_col, n, max_shingle_df=None)
            .groupBy("shingle").agg(F.count(F.lit(1)).alias("d")))
    row = freq.agg(
        F.sum(F.when(F.col("d") > max_shingle_df, F.col("d")).otherwise(0))
        .alias("dropped_rows"),
        F.sum("d").alias("total_rows"),
        F.sum((F.col("d") > max_shingle_df).cast("long")).alias("dropped_shingles"),
        F.count(F.lit(1)).alias("total_shingles"),
        F.max("d").alias("max_df"),
    ).first()
    return {k: (row[k] or 0) for k in
            ("dropped_rows", "total_rows", "dropped_shingles",
             "total_shingles", "max_df")}


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.8,
                        max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
                        cleanup: list | None = None,
                        persist_index: bool = True) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id1 < id2, jaccard >= t).

    Inverted-index plan: distinct (doc, shingle) → self-join on shingle
    → per-pair intersection count → Jaccard via per-doc set sizes.
    Entirely relational: two shuffles (shingle join key, pair group key),
    partial aggregation on both, AQE handles skew. Shingles above the
    document-frequency cap are dropped BEFORE set sizes are computed,
    so Jaccard is exact over the capped shingle sets (mirrored in the
    DuckDB oracles).

    The (doc, shingle) index feeds four plan branches (the self-join
    sides share one reused exchange, but the set-size table is joined
    twice more — the lazy plan shows SIX corpus scans), so it is
    persisted: measured ~20% of pipeline wall clock at sf0.1. The
    result stays LAZY — an eager checkpoint here would collapse every
    downstream plan to an opaque RDD leaf, hiding the DF-cap filter
    the plan pins assert on the deployed catalog rows. Release
    contract is ``minhash_lsh_pairs``': pass ``cleanup`` to receive the persisted
    index for unpersisting after your action; without it, repeated
    calls in a long-lived session accumulate cached storage (bench
    clears via ``spark.catalog.clearCache()``).

    ``persist_index=False`` skips the persist entirely (passing
    ``cleanup`` alongside it warns — the release protocol would be a
    no-op): the right call when the pairs feed ONE downstream
    consumer inside a larger composite plan, where recomputing the
    index per branch is cheaper than materializing it — A/B at sf0.1
    on the corpus_training_set composite: 3.2 s unpersisted vs 3.7 s
    persisted vs 4.9 s persisted+eagerly-checkpointed. It also keeps
    the whole pipeline one declarative DAG (no storage barrier), which
    is what AQE wants at scale.
    """
    ds = doc_shingle_pairs(df, id_col, text_col, n, max_shingle_df)
    if not persist_index:
        if cleanup is not None:
            # A caller wiring up a release protocol while also opting
            # out of the persist has conflicting intent — surface it
            # instead of silently ignoring the cleanup list.
            warnings.warn(
                "ngram_jaccard_pairs: cleanup list supplied with "
                "persist_index=False — nothing is persisted, so the "
                "list will stay empty and the release protocol is a "
                "no-op", stacklevel=2)
        return _jaccard_pairs_from(ds, threshold)
    ds = ds.persist()
    if cleanup is not None:
        cleanup.append(ds)
    return _jaccard_pairs_from(ds, threshold)


def _jaccard_pairs_from(ds: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard pairs from a distinct (doc, shingle) table."""
    sizes = ds.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))

    left = ds.select(F.col("doc").alias("id1"), "shingle")
    right = ds.select(F.col("doc").alias("id2"), "shingle")
    inter = (
        left.join(right, "shingle")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col("doc").alias("id1"), F.col("n_shingles").alias("n1"))
    s2 = sizes.select(F.col("doc").alias("id2"), F.col("n_shingles").alias("n2"))
    return (
        inter.join(s1, "id1").join(s2, "id2")
        # int/int would truncate; all inputs are exact longs, so the
        # double division is bit-identical across engines.
        .withColumn("jaccard",
                    F.col("n_common").cast("double")
                    / (F.col("n1") + F.col("n2") - F.col("n_common")))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))
    )


def _signatures_from(ds: DataFrame, num_hashes: int,
                     hash_fn: str = "xxhash64") -> DataFrame:
    """MinHash signatures from a distinct (doc, shingle) table.

    ``hash_fn="xxhash64"`` (default): h_j(shingle) = xxhash64(j,
    shingle) — Spark's built-in 64-bit hash with the permutation index
    mixed in as a literal, one column per permutation.
    ``hash_fn="md5"``: a portable Carter-Wegman family over one md5
    per shingle — m1 = hex digits 1-7, m2 = digits 9-15 (28 bits
    each), h_j = (a_j*m1 + b_j*m2) mod (2^31 - 1) with
    per-permutation odd 30-bit constants (km_constants). One
    standard-hash call plus k multiply-add-mods, every intermediate
    under 2^59 (64-bit arithmetic never overflows), all exactly
    reproducible in any SQL engine — the DuckDB oracle recomputes
    identical signatures. The MOD-PRIME REDUCTION IS LOAD-BEARING:
    without it the argmin of a positive linear form is confined to
    the lower-convex-hull shingles of the (m1, m2) point cloud, so
    all k permutations pick their minima from the same ~30 shingles —
    measured 37-53× the candidate volume (7.5-13.7k vs 256 pairs at
    sf0.1) across several no-mod variants (plain KM m1+j*m2, random
    2-source and 4-source combinations), doubling pipeline wall
    clock. The wrap-around of the modulus scrambles the per-j
    ordering, restoring candidate volume to exactly the xxhash64
    level (256 at sf0.1). Exact-Jaccard verification downstream means
    family quality only moves candidate volume/recall, never output
    correctness; the planted-corpus recall test covers this family
    explicitly.

    Either way, k independent MIN aggregates get map-side partial
    aggregation (each mapper emits one k-wide row per doc), so the
    shuffle is O(docs × k), not O(shingles × k) — the collect_list
    formulation this replaced shipped every shingle's hash array to the
    reducer and was the dominant cost of the LSH pipeline.
    """
    # k independent hash families (permutation index mixed in as a
    # literal). A cheaper double-hashing family (h1 ^ rotl(h2, j)) was
    # tried and REJECTED: the rotated permutations are correlated, and
    # measured LSH recall dropped from 5/6 to 3/6 planted near-dup
    # pairs with no wall-clock win — hash independence is what the
    # banding math assumes, and it is worth k string hashes.
    if hash_fn == "md5":
        P31 = (1 << 31) - 1                      # Mersenne prime 2^31-1
        ab = km_constants(num_hashes)
        base = ds.select(
            "doc",
            F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10)
            .cast("long").alias("_m1"),
            F.conv(F.substring(F.md5("shingle"), 9, 7), 16, 10)
            .cast("long").alias("_m2"),
        )
        hashed = base.select(
            "doc", *[((F.lit(a) * F.col("_m1") + F.lit(b) * F.col("_m2"))
                      % F.lit(P31)).alias(f"h{j}")
                     for j, (a, b) in enumerate(ab)])
    else:
        hashed = ds.select(
            "doc", *[F.xxhash64(F.lit(j), F.col("shingle")).alias(f"h{j}")
                     for j in range(num_hashes)])
    return (
        hashed.groupBy("doc")
        .agg(*[F.min(f"h{j}").alias(f"m{j}") for j in range(num_hashes)])
        .select("doc", F.array([F.col(f"m{j}")
                                for j in range(num_hashes)]).alias("sig"))
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5,
                      max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
                      max_bucket_size: int | None = DEFAULT_MAX_BAND_BUCKET,
                      hash_fn: str = "xxhash64",
                      cleanup: list | None = None) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified with exact Jaccard.

    Pipeline: signatures → band keys (hash of r consecutive minhashes)
    → explode to (band_id, band_hash, doc) → self-join per bucket →
    distinct candidates → exact Jaccard verification (only on the
    candidate set, which is the whole point: candidates ≪ n²).

    The band self-join shuffles on (band_id, band_hash); a bucket with
    d docs yields d² candidates. Two defenses: buckets larger than
    ``max_bucket_size`` are dropped whole BEFORE the join (the hard
    bound — see DEFAULT_MAX_BAND_BUCKET for why dropping is safe), and
    AQE's skew-join splitting balances whatever skew remains under the
    cap. Verification reuses ngram_jaccard_pairs' plan restricted via
    a semi-join on the candidate pair set. The shingle DF cap applies
    to the shared inverted index, so signatures, candidates and
    verification all see the same capped shingle sets.

    ``cleanup``: optional list the two internally persisted
    DataFrames (shingle index, pruned verify set) are appended to;
    the caller can ``unpersist()`` them once the result is
    materialized — ``released()`` does it exception-safely. Without
    it, repeated calls in a long-lived session accumulate cached
    storage (bench clears via ``spark.catalog.clearCache()``). The
    banded-key and candidate tables are eager ``localCheckpoint``
    leaves since r15 (lineage truncation — see inline notes); their
    blocks are released by the ContextCleaner when the result frame
    is dropped, not via this list.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # One shingle inverted index feeds BOTH the signature pass and the
    # exact verification pass; persist so tokenize+shingle+distinct
    # runs once. (Deploy scale: a materialized table between jobs.)
    ds = doc_shingle_pairs(df, id_col, text_col, n, max_shingle_df).persist()
    if cleanup is not None:
        cleanup.append(ds)
    sigs = _signatures_from(ds, num_hashes, hash_fn)
    # Band bucket key: xxhash64 of the band's r minhashes (a cheap
    # 8-byte key) on the fast path; the md5 family instead joins on
    # the raw comma-joined minhash tuple, which an external SQL engine
    # can reproduce exactly (string_agg over the same values) — the
    # hash here is only a key-size optimization, never semantics.
    if hash_fn == "md5":
        def band_key(b: int):
            return F.concat_ws(",", *[F.col("sig")[b * r + i].cast("string")
                                      for i in range(r)])
    else:
        def band_key(b: int):
            return F.xxhash64(*[F.col("sig")[b * r + i] for i in range(r)])
    # Materialize the banded key table eagerly (localCheckpoint, r15
    # optimization round — formerly a lazy persist): it feeds the
    # hot-bucket count AND both sides of the self-join, so it must be
    # held either way; truncating its lineage to a leaf additionally
    # stops the signature subtree from being re-analyzed under every
    # downstream operator of this deep pipeline (measured with the
    # cand checkpoint below: whole pipeline 4.9 -> 3.7 s, 28 -> 23
    # jobs at sf0.1, hash-identical). Narrow (docs × bands rows) —
    # cheap to hold; at deploy scale this is the banded index a
    # production run would write between the signature and bucketing
    # jobs. eager_barrier: executor-local blocks by default,
    # SPARK_GRAFT_CHECKPOINT_DIR flips both barriers to a reliable
    # checkpoint() where executor loss matters (r16).
    banded = sigs.select(
        "doc",
        F.explode(F.array([
            F.struct(F.lit(b).alias("band"), band_key(b).alias("bh"))
            for b in range(bands)
        ])).alias("bk"),
    ).select("doc", "bk.band", "bk.bh")
    banded = eager_barrier(banded)

    if max_bucket_size is not None:
        # Hot-bucket guard: count per (band, bh) — map-side partial
        # agg, same shuffle key the self-join uses — and anti-join the
        # (tiny, by construction) over-cap key set. Broadcast: the hot
        # set has at most |corpus|·bands/cap keys and in practice a
        # handful, so the guard costs one cheap agg, never a shuffle
        # of the banded table itself.
        hot = (banded.groupBy("band", "bh")
               .agg(F.count(F.lit(1)).alias("_n"))
               .where(F.col("_n") > max_bucket_size)
               .select("band", "bh"))
        banded = banded.join(F.broadcast(hot), ["band", "bh"], "left_anti")

    # The candidate set feeds three consumers (doc pruning twice, the
    # final pair filter); materialize the narrow (id1, id2) table so
    # its band-join lineage runs once — eagerly since r15 (see the
    # banded note above). At deploy scale this is where the candidate
    # table would be checkpointed to storage between the bucketing
    # and verification jobs.
    cand = eager_barrier(
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bh"])
        .where(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("id1"), F.col("r.doc").alias("id2"))
        .distinct()
    )
    # Exact-Jaccard verification restricted to candidate DOCUMENTS: the
    # shingle inverted index is pruned to docs that appear in some
    # candidate pair before the self-join, so verification cost scales
    # with |candidates|, not |corpus|² — the entire point of LSH at
    # 100 TB (verifying against the full corpus would redo the
    # quadratic join LSH exists to avoid).
    cand_docs = (
        cand.select(F.col("id1").alias("doc"))
        .unionByName(cand.select(F.col("id2").alias("doc")))
        .distinct()
    )
    # The pruned verify set is _jaccard_pairs_from's input, which it
    # consumes on three plan branches; unpersisted, the semi-join and
    # set-size aggregations each re-prune over the cached index
    # (measured ~20% of pipeline wall clock at sf0.1). Same release
    # contract as the other three persists above.
    pruned = ds.join(cand_docs, "doc", "left_semi").persist()
    if cleanup is not None:
        cleanup.append(pruned)
    exact = _jaccard_pairs_from(pruned, threshold)
    # Keep only verified-above-threshold candidate pairs.
    return exact.join(cand, ["id1", "id2"], "left_semi")


def simhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document: sign-sum of token-hash bit vectors.

    For each bit position, count tokens whose token-hash has that bit
    set minus those that don't; bit = 1 if the sum is positive. All
    codegen'd column expressions — no UDF.

    ``hash_fn`` picks the token-hash family:

    * ``"xxhash64"`` (default) — Spark's native 64-bit hash, the fast
      production path (JVM intrinsic, no string materialization).
    * ``"md5"`` — the 64-bit value assembled from the first 16 hex
      digits of md5(token), as four 16-bit chunks. ~2× slower, but md5
      is a cross-engine standard, so an external SQL engine (the
      DuckDB oracle) can recompute identical signatures — this is what
      upgrades the simhash catalog query from rows-only to a full
      hash-match check. Identical banding/verification code either way.
    """
    tok = df.select(F.col(id_col).alias("doc"),
                    F.explode(tokens(F.col(text_col))).alias("tok"))
    if hash_fn == "md5":
        return _simhash_from_bit_tests(
            tok.select("doc", *[
                F.conv(F.substring(F.md5("tok"), i * 4 + 1, 4), 16, 10)
                .cast("int").alias(f"_c{i}")
                for i in range(4)
            ]),
            lambda b: F.shiftright(F.col(f"_c{b // 16}"), b % 16)
            .bitwiseAND(F.lit(1)) == 1,
        )
    h = F.xxhash64("tok")
    return _simhash_from_bit_tests(
        tok.select("doc", h.alias("_h")),
        lambda b: F.col("_h").bitwiseAND(F.lit(_bit_mask(b))) != 0,
    )


def _bit_mask(b: int) -> int:
    """Bit b's mask as a Python long literal (bit 63 is the long's sign
    bit, hence the negative literal)."""
    return (1 << b) if b < 63 else -(1 << 63)


def _simhash_from_bit_tests(hashed, bit_test) -> DataFrame:
    """Shared SimHash core: ``hashed`` carries (doc, token-hash cols);
    ``bit_test(b)`` is a boolean Column testing bit b of the token
    hash.

    64 independent SUM aggregates so each mapper pre-folds its tokens
    into one 64-wide partial row per doc (map-side combine); the
    shuffle is O(docs × 64), not O(tokens × 64) as with the
    collect_list fold this replaced. The token hash is materialized
    once per row and the 64 sign tests read that attribute.
    """
    summed = (
        hashed
        .select("doc", *[
            F.when(bit_test(b), 1).otherwise(-1).alias(f"b{b}")
            for b in range(64)
        ])
        .groupBy("doc")
        .agg(*[F.sum(f"b{b}").alias(f"s{b}") for b in range(64)])
    )
    # Fold the sign bits back into one long. Masks are disjoint, so OR
    # == arithmetic sum; a flat 64-term sum keeps the expression tree
    # linear (a nested when-chain would reference its child twice per
    # level and blow up exponentially during analysis).
    import functools
    import operator
    sig = functools.reduce(operator.add, [
        F.when(F.col(f"s{b}") > 0,
               F.lit(_bit_mask(b)).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ])
    return summed.select("doc", sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k.

    Candidate generation uses the standard 4-block trick: two
    signatures within Hamming distance 3 must agree exactly on at least
    one of 4 16-bit blocks, so we bucket-join on (block_idx, block)
    instead of cross-joining, then verify the true distance with
    bit_count(xor).
    """
    sigs = simhash_signatures(df, id_col, text_col, hash_fn=hash_fn)
    blocks = sigs.select(
        "doc", "simhash",
        F.explode(F.array([
            F.struct(F.lit(i).alias("blk"),
                     F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF))
                     .alias("bv"))
            for i in range(4)
        ])).alias("b"),
    ).select("doc", "simhash", "b.blk", "b.bv")
    cand = (
        blocks.alias("l").join(blocks.alias("r"), ["blk", "bv"])
        .where(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("id1"), F.col("r.doc").alias("id2"),
                F.col("l.simhash").alias("s1"), F.col("r.simhash").alias("s2"))
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def embedding_near_dup_pairs(emb: DataFrame, id_col: str, vec_col: str,
                             threshold: float = 0.95,
                             method: str = "cells",
                             nlist: int = 16,
                             cleanup: list | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, cos ≥ t).

    ``method="cells"`` (default, the 100 TB path): EXACT cluster-pruned
    pair join. Vectors are coarse-quantized into ``nlist`` centroid
    cells (similarity.ivf_assign); a pair of cells (a, b) can contain a
    qualifying pair only if the angular distance between their
    centroids satisfies θ(cₐ, c_b) ≤ arccos(t) + rₐ + r_b, where r is
    the cell's angular radius — the triangle inequality on the sphere,
    so pruning NEVER loses a true pair regardless of centroid quality
    (bad centroids only weaken pruning). Surviving cell pairs drive a
    broadcast + cell equi-join (no CartesianProduct); candidates are
    verified with the exact cosine. On clusterable corpora the verify
    volume is Σ|a||b| over surviving cell pairs ≪ n²; the brute-force
    twin remains available as ``method="allpairs"`` (and is the DuckDB
    oracle's formulation). Driver-side state is bounded: nlist centroid
    rows + nlist radii.

    Cosine is computed in double precision with a sequential fold
    (zip_with + aggregate), deterministic across engines — and
    identical between both methods, so their outputs are bit-equal.

    NULL contract: similarity.valid_vectors (cosine is undefined on a
    missing vector; NULL ids can't be reported) — applied here so the
    allpairs twin and the cells path share one plan-visible filter,
    mirrored by ``IS NOT NULL`` in any oracle.
    """
    from . import similarity as _sim_guard

    emb = _sim_guard.valid_vectors(emb, id_col, vec_col)

    # similarity's shared fold kernels (see OPTIMIZATION_r16.md for why
    # the unrolled variant is not used). Norms are hoisted to per-VECTOR
    # columns on each join side (r16, guide §4): the per-pair cosine
    # used to re-run both sumsq folds for every candidate pair — 3
    # interpreted 64-element folds per pair, the dominant cost of this
    # operator (~2M pairs at sf0.1). dot / (n1 * n2) is the identical
    # IEEE op order, so every cosine (and the threshold decision) is
    # bit-identical; both methods share the expression, so they remain
    # bit-equal to each other and to the all-pairs oracle.
    cos_expr = (_sim_guard.dot(F.col("v1"), F.col("v2"))
                / (F.col("_n1") * F.col("_n2")))

    if method == "allpairs":
        left = emb.select(F.col(id_col).alias("id1"),
                          F.col(vec_col).alias("v1"),
                          _sim_guard.l2norm(F.col(vec_col)).alias("_n1"))
        right = emb.select(F.col(id_col).alias("id2"),
                           F.col(vec_col).alias("v2"),
                           _sim_guard.l2norm(F.col(vec_col)).alias("_n2"))
        return (
            left.crossJoin(right)
            .where(F.col("id1") < F.col("id2"))
            .withColumn("cosine", cos_expr)
            .where(F.col("cosine") >= threshold)
            .select("id1", "id2", F.round("cosine", 6).alias("cosine"))
        )
    if method != "cells":
        raise ValueError(f"unknown method {method!r}")

    import math

    from . import similarity as sim

    cents = sim.ivf_centroids(emb, nlist, id_col, vec_col)
    # assigned feeds three consumers (radii, both join sides); persist
    # so the scan + nlist-wide argmax projection runs once per job.
    # Same cleanup-list convention as minhash_lsh_pairs; bench clears
    # via clearCache(). At deploy scale this is the partitioned-BY-cell
    # stored table a real index build would materialize.
    # the hoisted per-vector norm rides the persisted assignment, so
    # it is computed once per vector, not once per candidate pair
    assigned = (sim.ivf_assign(emb, cents, id_col, vec_col, with_cos=True)
                .withColumn("_nrm", sim.l2norm(F.col(vec_col)))
                .persist())
    if cleanup is not None:
        cleanup.append(assigned)

    # Angular radius per cell: max arccos(cos-to-own-centroid). cell_cos
    # is UNROUNDED (see ivf_assign — a rounded cosine's acos error near
    # the pole is ~sqrt(2·δ), far above float noise), so the 1e-6 slack
    # below only needs to cover float64 arithmetic, which it does with
    # ~50x margin (acos forward error ≈ 2e-8). Slack only ADDS candidate
    # cell pairs — never loses pairs.
    clamped = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.col("cell_cos")))
    radii = (assigned.groupBy("cell")
             .agg(F.max(F.acos(clamped)).alias("r")))

    def pycos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return num / (da * db) if da and db else 0.0

    theta_t = math.acos(max(-1.0, min(1.0, threshold)))
    cellpairs_rows = [
        (ca, cb, math.acos(max(-1.0, min(1.0, pycos(va, vb)))))
        for i, (ca, va) in enumerate(cents)
        for cb, vb in cents[i:]
    ]
    spark = emb.sparkSession
    cellpairs = spark.createDataFrame(cellpairs_rows, "ca int, cb int, theta double")
    pruned_cellpairs = (
        cellpairs
        .join(radii.select(F.col("cell").alias("ca"), F.col("r").alias("ra")), "ca")
        .join(radii.select(F.col("cell").alias("cb"), F.col("r").alias("rb")), "cb")
        .where(F.col("theta") <= F.lit(theta_t) + F.col("ra") + F.col("rb") + 1e-6)
        .select("ca", "cb")
    )

    left = assigned.select(F.col(id_col).alias("id1"),
                           F.col(vec_col).alias("v1"),
                           F.col("_nrm").alias("_n1"),
                           F.col("cell").alias("ca"))
    right = assigned.select(F.col(id_col).alias("id2"),
                            F.col(vec_col).alias("v2"),
                            F.col("_nrm").alias("_n2"),
                            F.col("cell").alias("cb"))
    # cellpairs is ≤ nlist² rows -> broadcast; the right side shuffles
    # on its cell key (at deploy scale the corpus is stored partitioned
    # BY cell, making this co-located). Each unordered vector pair is
    # produced exactly once: cross-cell via its unique (ca<cb) cell
    # pair, same-cell via the id order filter.
    cand = (
        left.join(F.broadcast(pruned_cellpairs), "ca")
        .join(right, "cb")
        .where((F.col("ca") < F.col("cb"))
               | ((F.col("ca") == F.col("cb")) & (F.col("id1") < F.col("id2"))))
    )
    return (
        cand.withColumn("cosine", cos_expr)
        .where(F.col("cosine") >= threshold)
        .select(F.least("id1", "id2").alias("id1"),
                F.greatest("id1", "id2").alias("id2"),
                F.round("cosine", 6).alias("cosine"))
    )


#: Size gate for the local connected-components fast path, counted in
#: SYMMETRIZED edge rows (2x the undirected pair count). Under the
#: gate the whole pair graph is collected (bounded by construction:
#: ~100k pairs, tens of MB) and solved by driver-side union-find in
#: one pass — the iterative loops cost 4-6 shuffle rounds of pure
#: fixed overhead on a graph this size, the same runtime size-gating
#: philosophy as AQE's broadcast conversion and layout.ranked_cumsum's
#: window gate. Above the gate the distributed loop runs untouched.
DEFAULT_CC_LOCAL_EDGES = 200_000

#: Node-id types for which Python's ``<``/``min`` (what the gated
#: driver-side union-find compares with) provably agrees with Spark's
#: ``F.least``/``F.min`` ordering, so both physical paths emit
#: byte-identical cluster labels. Floats are excluded (a NaN id sorts
#: LAST under Spark's total order but poisons Python comparisons) and
#: so are binary/decimal/date (collected as bytearray/Decimal/date —
#: orderings exist but are unproven against Spark's). Outside this
#: list the size gate is skipped entirely and the distributed loop
#: runs, keeping one contract instead of silently diverging labels.
_CC_LOCAL_ID_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "string"})


def _cc_local(e: DataFrame) -> DataFrame:
    """Driver-side union-find over an already-BOUNDED symmetrized edge
    set (callers gate on the edge count first — this function must
    never see an ungated frame): returns the same (node, cluster =
    component minimum) contract as the distributed loops, with the
    node type preserved. Collects only the ``u < v`` orientation —
    half the symmetrized rows. Precondition (enforced at the callers'
    gates): the id dtype is in ``_CC_LOCAL_ID_TYPES``, where Python's
    ``min`` agrees with Spark's."""
    node_t = dict(e.dtypes)["u"]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in e.where(F.col("u") < F.col("v")).collect():
        ru, rv = find(r["u"]), find(r["v"])
        if ru != rv:
            parent[ru] = rv
    comp: dict = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    out = []
    for members in comp.values():
        m = min(members)
        out.extend((x, m) for x in members)
    return e.sparkSession.createDataFrame(
        out, f"node {node_t}, cluster {node_t}")


def connected_components(pairs: DataFrame, id1: str = "id1",
                         id2: str = "id2", max_iter: int = 50,
                         local_threshold: int = DEFAULT_CC_LOCAL_EDGES,
                         ) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (node, cluster) where cluster is the minimum node id reachable.

    ``local_threshold`` gates a driver-side union-find fast path on
    the symmetrized edge count (see DEFAULT_CC_LOCAL_EDGES): the
    count is one extra action this variant didn't previously run, but
    it doubles as the cache-warming job for the persisted edge set —
    above the gate the loop's rounds then hit a materialized cache
    instead of paying the scan inside round 1. Under the gate the
    whole clustering is one bounded collect instead of diameter-many
    shuffle rounds — identical output either way (pinned by the
    property suite's union-find ground truth). Pass 0 to force the
    distributed loop; id dtypes outside ``_CC_LOCAL_ID_TYPES`` also
    force it (Python/Spark ordering parity is unproven there).

    Min-label propagation: each round every node takes the minimum of
    its own label and its neighbors' labels — a join + hash aggregate,
    both distributed; the driver only checks the converged flag. Rounds
    needed = graph diameter, and near-dup clusters are shallow (dup
    groups are cliques or short chains), so this converges in a handful
    of rounds; ``localCheckpoint`` truncates lineage each round so the
    plan doesn't grow with iterations. For adversarially deep graphs
    the large-star/small-star alternation (O(log n) rounds) drops in
    without changing the interface.

    The reference's only grouping of duplicates is dict-keying by id
    (DataProcessing.ipynb:cell16:50); transitive closure over NEAR-dup
    pairs has no reference analogue but is what turns pairwise LSH
    output into the keep-one-per-cluster decision a corpus pipeline
    actually needs.
    """
    edges = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
    # src != dst: self-loops carry no linkage (the pair generators
    # never emit them) and dropping them here keeps both CC variants
    # AND both physical paths (distributed loop / gated union-find)
    # on one contract — without the filter, the min-label loop would
    # emit a label row for a self-loop-only node that the star
    # variant and the local path both drop.
    edges = (edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst")).distinct().persist())
    try:
        # dtype check first (free, driver-side): an ineligible id type
        # skips the count too — the loop's first round then warms the
        # cache, exactly the pre-gate behavior of this variant.
        if (local_threshold
                and dict(edges.dtypes)["src"] in _CC_LOCAL_ID_TYPES
                and edges.count() <= local_threshold):
            return _cc_local(edges.select(F.col("src").alias("u"),
                                          F.col("dst").alias("v")))
        labels = (edges.select(F.col("src").alias("node")).distinct()
                  .withColumn("label", F.col("node")).localCheckpoint())
        for _ in range(max_iter):
            nbr_min = (
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy("src").agg(F.min("label").alias("nbr_min"))
            )
            # The convergence check rides the checkpoint job: the old
            # label is already in this round's plan, so an observe
            # node counts label changes WHILE the new table
            # materializes — no separate compare-join action per
            # round (F.count, not sum: count is 0 on an empty label
            # table, where a null sum would read as "not converged"
            # forever).
            obs = Observation()
            new_labels = (
                labels.join(nbr_min, labels["node"] == nbr_min["src"],
                            "left")
                .select("node", F.col("label").alias("_old"),
                        F.least("label", F.coalesce("nbr_min", "label"))
                        .alias("label"))
                .observe(obs, F.count(
                    F.when(F.col("label") != F.col("_old"), 1))
                    .alias("n_changed"))
                .select("node", "label")
                .localCheckpoint()
            )
            labels = new_labels
            if obs.get["n_changed"] == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components: no convergence in {max_iter} "
                "rounds (graph diameter exceeds max_iter — raise it, "
                "or use connected_components_star, whose round count "
                "is O(log n))")
        return labels.select(F.col("node"),
                             F.col("label").alias("cluster"))
    finally:
        # normal exit, non-convergence raise, or a failed round — the
        # symmetrized edge cache never outlives the call
        edges.unpersist()


def keep_one_per_cluster(df: DataFrame, pairs: DataFrame,
                         id_col: str) -> DataFrame:
    """Corpus minus non-representative duplicates: every document keeps
    its row unless it belongs to a near-dup cluster and is not that
    cluster's minimum-id member. One anti-join against the (small)
    victim list — the full corpus is never shuffled."""
    victims = (connected_components(pairs)
               .where(F.col("node") != F.col("cluster"))
               .select(F.col("node").alias(id_col)))
    return df.join(victims, id_col, "left_anti")


def canonicalize(scored: DataFrame, pairs: DataFrame,
                 id_col: str = "doc_id",
                 quality_col: str = "quality_score") -> DataFrame:
    """Keep-one-per-cluster decisions: given per-document quality
    scores and near-duplicate pairs, pick each duplicate cluster's
    CANONICAL document (highest quality, ties to the lowest id) and
    mark every other member for dropping — the selection step that
    turns pairwise dedup output into an actual smaller corpus while
    keeping the best copy rather than an arbitrary one.

    Output: (id, cluster, canonical_id, keep). Documents in no pair
    are their own singleton cluster and always kept.

    Scale shape: clusters come from ``connected_components`` (join +
    partial-agg rounds, diameter-bounded); the canonical choice is ONE
    max(struct(quality, -id)) aggregate per cluster — map-side partials
    collapse a mega-cluster to one row per upstream partition, where a
    rank-window would sort the whole cluster on one key — and the
    decision join back on cluster fans out members x 1.
    """
    cc = connected_components(pairs)
    q = scored.select(F.col(id_col).alias("_id"),
                      F.col(quality_col).alias("_q"))
    labeled = (
        q.join(cc, q["_id"] == cc["node"], "left")
        .select("_id", "_q",
                F.coalesce(F.col("cluster"), F.col("_id")).alias("cluster"))
    )
    best = labeled.groupBy("cluster").agg(
        F.max(F.struct(F.col("_q").alias("q"),
                       (-F.col("_id")).alias("neg_id"))).alias("_b"))
    return (
        labeled.join(best, "cluster")
        .select(
            F.col("_id").alias(id_col),
            F.col("cluster").cast("bigint").alias("cluster"),
            (-F.col("_b.neg_id")).cast("bigint").alias("canonical_id"),
            (F.col("_id") == -F.col("_b.neg_id")).alias("keep"),
        )
    )


def content_index(df: DataFrame, id_col: str,
                  text_col: str = "text",
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Exact-content index for incremental dedup: one (key, id) row
    per distinct content, id = lowest holder. ``hash_fn``:
    "xxhash64" (production, 8-byte keys) or "md5" / "text"
    (cross-engine-replayable). Stored partitioned/bucketed by key at
    scale so batch probes co-locate."""
    if hash_fn == "xxhash64":
        key = F.xxhash64(F.col(text_col))
    elif hash_fn == "md5":
        key = F.md5(F.col(text_col))
    else:
        key = F.col(text_col)
    return (df.select(key.alias("content_key"),
                      F.col(id_col).alias("holder_id"))
            .groupBy("content_key")
            .agg(F.min("holder_id").alias("holder_id")))


def incremental_exact_dedup(batch: DataFrame, index: DataFrame,
                            id_col: str, text_col: str = "text",
                            hash_fn: str = "xxhash64") -> DataFrame:
    """Dedup an ingest BATCH against an existing corpus index without
    touching the corpus — the daily-ingestion pattern: the 100 TB
    corpus contributes only its (already materialized) content index,
    and all heavy work is proportional to the batch.

    Output, one row per batch document:
    (id, status, dup_of) with status ∈ {'new', 'dup_of_corpus',
    'dup_in_batch'}; 'new' rows are what gets appended to the corpus
    (and their keys merged into the index, min-holder semantics).
    Within the batch, the lowest id of an unseen content is 'new' and
    later copies are 'dup_in_batch' pointing at it; content already
    in the index is 'dup_of_corpus' pointing at the corpus holder.

    Scale shape: one batch-keyed min(struct) aggregate (winner per
    content), then the index is probed in TWO steps whose join
    directions keep it shuffle-free: (1) a left-SEMI join of the index
    against the batch's distinct keys — the batch side is the build
    side there, so AQE broadcasts it and the corpus-sized index is
    SCANNED once, never shuffled (a direct ``batch LEFT JOIN index``
    cannot do this: Spark can only broadcast the build side of an
    outer join, which for a left join is the index — so that shape
    degrades to shuffling the whole index every batch); (2) a left
    join of the batch against the resulting hit set, which is at most
    batch-distinct-sized and broadcasts the same way. Bucketing the
    stored index by content_key (sources/io.py:write_bucketed) removes
    even the scan's exchange at deploy scale — pinned (with the
    _batch_id-partitioned streaming layout composed in, plus a
    plain-parquet negative control) by tests/test_plans.py::
    test_incremental_dedup_bucketed_index_scan_has_no_exchange.

    ``index`` may also be a list/tuple of index TIERS — the two-tier
    deploy layout where a bucketed catalog BASE table (folded by
    maintenance.fold_index_bucketed) coexists with the recent
    plain-parquet delta partitions the streaming sinks append. Each
    tier is semi-joined against the batch keys on its OWN plan
    branch, so the bucketed base keeps its exchange-free scan (a
    pre-union of the tiers would destroy the bucket distribution and
    shuffle the corpus-sized base into the join); only the
    batch-bounded HIT SETS are unioned, with a min-holder aggregate
    resolving keys present in more than one tier (possible only in
    the fold's crash-retry window, where base and delta briefly
    overlap — min matches content_index's lowest-holder semantics
    either way).
    """
    if hash_fn == "xxhash64":
        key = F.xxhash64(F.col(text_col))
    elif hash_fn == "md5":
        key = F.md5(F.col(text_col))
    else:
        key = F.col(text_col)
    keyed = batch.select(F.col(id_col).alias("_id"),
                         key.alias("content_key"))
    batch_min = keyed.groupBy("content_key").agg(
        F.min("_id").alias("_batch_first"))
    tiers = list(index) if isinstance(index, (list, tuple)) else [index]
    batch_keys = keyed.select("content_key").distinct()
    hit_sets = [t.join(batch_keys, "content_key", "left_semi")
                for t in tiers]
    if len(hit_sets) == 1:
        hits = hit_sets[0]
    else:
        all_hits = hit_sets[0]
        for h in hit_sets[1:]:
            all_hits = all_hits.unionByName(h)
        hits = all_hits.groupBy("content_key").agg(
            F.min("holder_id").alias("holder_id"))
    return (
        keyed.join(batch_min, "content_key")
        .join(hits, "content_key", "left")
        .select(
            F.col("_id").alias(id_col),
            F.when(F.col("holder_id").isNotNull(), F.lit("dup_of_corpus"))
             .when(F.col("_id") != F.col("_batch_first"),
                   F.lit("dup_in_batch"))
             .otherwise(F.lit("new")).alias("status"),
            F.when(F.col("holder_id").isNotNull(), F.col("holder_id"))
             .when(F.col("_id") != F.col("_batch_first"),
                   F.col("_batch_first"))
             .cast("bigint").alias("dup_of"),
        )
    )


def connected_components_star(pairs: DataFrame, id1: str = "id1",
                              id2: str = "id2",
                              max_iter: int = 25,
                              local_threshold: int =
                              DEFAULT_CC_LOCAL_EDGES) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al. 2014): converges in O(log n) rounds on ANY
    graph, where min-label propagation needs O(diameter) — the variant
    to use when duplicate graphs can be adversarially deep (long
    near-dup chains), at the cost of rewriting the edge set each round
    instead of only a label table.

    Same contract as ``connected_components``: (node, cluster) with
    cluster = the component's minimum node id. Raises RuntimeError if
    the edge set hasn't stabilized within ``max_iter`` rounds — an
    honest failure instead of silently wrong clusters (25 rounds
    covers graphs beyond 2^25 nodes at the proven 2·log n bound).

    ``local_threshold`` gates the driver-side union-find fast path on
    the symmetrized edge count (see DEFAULT_CC_LOCAL_EDGES) — the
    count comes free off the loop's initial convergence-signature
    aggregate, so the gate costs nothing above the threshold and
    replaces 4-6 shuffle rounds of fixed overhead below it; identical
    output either way (union-find ground truth in the property
    suite). Pass 0 to force the distributed star loop; id dtypes
    outside ``_CC_LOCAL_ID_TYPES`` also force it.
    """
    e = pairs.select(F.col(id1).alias("u"), F.col(id2).alias("v"))
    e = (e.unionByName(e.select(F.col("v").alias("u"),
                                F.col("u").alias("v")))
         .where(F.col("u") != F.col("v")).distinct().persist())

    def _sym(d: DataFrame) -> DataFrame:
        d = d.where(F.col("u") != F.col("v"))
        return (d.unionByName(d.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
                .distinct())

    # Per-star neighborhood minimum as a WINDOW over the edge rows
    # rather than groupBy(u).min + join-back (the r15 optimization
    # A/B: full dedup_clusters_star 10.4 -> 7.0 s, 98 -> 54 jobs at
    # sf0.1, hash-identical). Cost argument: the window needs exactly
    # one exchange + one sort on u; the join formulation needs the
    # same exchange for its aggregate and then a join whose
    # sort-merge path re-sorts the SAME edge rows on the SAME key
    # (and whose broadcast path only exists while |V| fits).
    # Skew tradeoff (r15 ADVICE, honest version): a giant component
    # converges toward a star whose center u holds ~|component| edges,
    # and ALL of them land in one window partition = one task — AQE
    # can split a skewed JOIN partition but never a window partition,
    # so in the adversarial-graph regime the window trades the join's
    # splittable skew for a straggler. Mitigations at that scale: the
    # window state is O(1) (min) so the straggler is one sequential
    # sorted-run scan, not a blowup; and the alternating-star rounds
    # themselves shrink hot stars geometrically. A skew-triggered
    # fallback to the groupBy+join form (signaled by, e.g., max
    # per-u count from a round's aggregate) is the escape hatch if a
    # deploy corpus ever hits it; not wired here because the signal
    # isn't free (the convergence signature is a flat agg, no per-u
    # max) and bench-scale evidence can't justify the extra pass.
    _w = Window.partitionBy("u")

    def _star(d: DataFrame, large: bool) -> DataFrame:
        d2 = d.withColumn("m", F.least(F.min("v").over(_w), F.col("u")))
        if large:
            moved = d2.where(F.col("v") > F.col("u"))
        else:
            moved = d2.where(F.col("v") <= F.col("u"))
        out = moved.select(F.col("v").alias("u"), F.col("m").alias("v"))
        if not large:
            # one (u, m) row per input edge; the round's closing
            # distinct collapses them to one per node, identical to
            # the per-distinct-u emission of the join formulation
            out = out.unionByName(d2.select("u", F.col("m").alias("v")))
        return out

    # Convergence signature: (count, xor of per-edge hashes) — an
    # order-free SET signature (the edge set is distinct), no
    # overflow (xor, unlike sum, can't trip ANSI arithmetic); a
    # missed change needs a ~2^-64 collision. The per-round signature
    # rides the checkpoint materialization via an observe node, so
    # stabilization costs ZERO extra scans (the initial sig is one
    # explicit aggregate over the persisted input).
    _SIG_METRICS = (F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(xxhash64(u, v))").alias("h"))

    try:
        r = e.agg(*_SIG_METRICS).first()
        sig = (r["n"], r["h"])
        if (local_threshold and sig[0] <= local_threshold
                and dict(e.dtypes)["u"] in _CC_LOCAL_ID_TYPES):
            return _cc_local(e)
        for _ in range(max_iter):
            obs = Observation()
            new_e = (_sym(_star(_star(e, large=True), large=False))
                     .observe(obs, *_SIG_METRICS)
                     .localCheckpoint())
            got = obs.get
            new_sig = (got["n"], got["h"])
            e.unpersist()
            e = new_e.persist()
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"connected_components_star: no convergence in "
                f"{max_iter} rounds (theoretical bound ~2 log n — the "
                "input edge list is pathological or max_iter is set "
                "too low)")
        # Materialize the (|V|-sized) result inside the protected
        # region — the lazy form left the FINAL round's |E|-sized
        # cache registered for the session on every bare call (the
        # labels table min-label returns is already a checkpoint
        # leaf), and a failure of THIS checkpoint job must release it
        # too.
        return (e.groupBy("u").agg(F.min("v").alias("_mn"))
                .select(F.col("u").alias("node"),
                        F.least("_mn", F.col("u")).alias("cluster"))
                .localCheckpoint())
    finally:
        # whichever round's edge cache is current: success, a failed
        # round, the non-convergence raise, or the final
        # materialization failing
        e.unpersist()


def semantic_dedup(emb: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   nlist: int = 8, eps: float = 0.35,
                   cleanup: list | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and pruning near-identical
    pairs WITHIN each cluster only — the lossy-by-design scale
    trick that avoids the all-pairs (or even cell-pair) join of
    :func:`embedding_near_dup_pairs`.

    Procedure: fit spherical k-means (the quantized bit-reproducible
    trainer, similarity.kmeans_fit_exact), assign every vector to its
    max-cosine cell, and inside each cell drop any vector that has
    cosine ≥ ``eps`` to a vector that ranks before it. Rank order is
    (cosine-to-centroid asc, id asc): the paper's keep-the-outlier
    rule — among semantic duplicates the one FARTHEST from the
    centroid survives, deterministic tie-break by id.

    Returns one row per vector: (id, cell, kept). The pair search is
    an equi-join on cell — at 100 TB, ``nlist`` scales with corpus
    size so the expected cluster stays bounded (the paper uses 50k
    clusters for LAION), keeping the per-cell quadratic verify flat
    and the join's AQE-splittable skew bounded; driver state is still
    only the nlist centroid rows.

    Every float in the decision is a sequential fold identical in
    DuckDB (list_dot_product), so kept/dropped is bit-reproducible
    cross-engine — no boundary ambiguity at cos == eps.
    """
    from . import similarity as sim

    cents = sim.kmeans_fit_exact(emb, nlist=nlist, iters=1,
                                 id_col=id_col, vec_col=vec_col)

    # assigned feeds three consumers (two join sides + the output
    # spine); persist so the scan + nlist-wide argmax runs once. The
    # L2 norm is materialized per VECTOR here, so the in-cell pair
    # test below is one dot fold + a scalar divide instead of three
    # folds — same sqrt(dot(v,v)) arithmetic, bit-identical cosines.
    # (norm/dot are similarity's shared fold kernels; see
    # OPTIMIZATION_r16.md for why the unrolled variant is not used.)
    asg = (sim.ivf_assign(emb, cents, id_col, vec_col, with_cos=True)
           .select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"),
                   "cell", F.col("cell_cos").alias("cc"),
                   sim.l2norm(F.col(vec_col)).alias("nrm"))
           .persist())
    if cleanup is not None:
        cleanup.append(asg)

    def side(tag: str) -> DataFrame:
        return asg.select(F.col("vid").alias(f"{tag}_id"),
                          F.col("v").alias(f"{tag}_v"),
                          F.col("cell").alias(f"{tag}_cell"),
                          F.col("cc").alias(f"{tag}_cc"),
                          F.col("nrm").alias(f"{tag}_nrm"))

    i, j = side("i"), side("j")
    dot = sim.dot(F.col("i_v"), F.col("j_v"))

    ranked_before = (F.col("i_cc") < F.col("j_cc")) | (
        (F.col("i_cc") == F.col("j_cc")) & (F.col("i_id") < F.col("j_id")))
    dropped = (
        j.join(i, F.col("i_cell") == F.col("j_cell"), "inner")
        .where(ranked_before)
        .where(dot / (F.col("i_nrm") * F.col("j_nrm")) >= eps)
        .select(F.col("j_id").alias("vid")).distinct()
    )
    return (
        asg.join(dropped.withColumn("_d", F.lit(1)), "vid", "left")
        .select(F.col("vid").alias(id_col), "cell",
                F.col("_d").isNull().alias("kept"))
    )
