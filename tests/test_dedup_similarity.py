"""Dedup + similarity invariants beyond the DuckDB oracles: planted
near-duplicates are found; LSH candidates stay subsets of exact pairs;
ANN recall is bounded below."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from helpers import collect_with_cleanup

from twitter_analysis_spark.operators import dedup, similarity


def _jaccard_rows(*args, **kw):
    return collect_with_cleanup(dedup.ngram_jaccard_pairs, *args, **kw)


def _lsh_rows(*args, **kw):
    return collect_with_cleanup(dedup.minhash_lsh_pairs, *args, **kw)


@pytest.fixture(scope="module")
def planted(spark):
    """Tiny corpus with known near-dup structure."""
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight")
    rows = [
        (0, base),
        (1, base),                                        # exact dup
        (2, base.replace("lazy", "sleepy")),              # near dup
        (3, base.replace("quick", "slow").replace("dog", "cat")),
        (4, "completely different text about spark query engines and "
            "distributed columnar execution plans"),
        (5, "yet another unrelated document mentioning benchmarks"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_planted(planted):
    out = dedup.exact_dedup(planted, "doc_id", ["text"])
    assert out.count() == 5                    # 0/1 collapse
    dup = out.where(F.col("n_copies") == 2).first()
    assert dup["doc_id"] == 0                  # lowest id wins


def test_jaccard_unpersisted_warns_on_cleanup_list(planted):
    """persist_index=False + a cleanup list is conflicting intent —
    nothing will ever be appended — so the call must warn."""
    sink: list = []
    with pytest.warns(UserWarning, match="persist_index=False"):
        dedup.ngram_jaccard_pairs(planted, "doc_id", "text",
                                  cleanup=sink, persist_index=False)
    assert sink == []


def test_jaccard_finds_near_dups(planted):
    pairs = {(r["id1"], r["id2"]): r["jaccard"]
             for r in _jaccard_rows(
                 planted, "doc_id", "text", n=3, threshold=0.3)}
    assert pairs[(0, 1)] == 1.0                # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert not any({a, b} & {4, 5} for a, b in pairs)


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_minhash_lsh_subset_and_recall(planted, hash_fn):
    """Both hash families (native xxhash64 and the oracle-reproducible
    md5/Carter-Wegman family) must keep candidates ⊆ exact, and must
    find every pair above the banding s-curve threshold — with r=4
    rows per band the collision s-curve midpoint is (1/8)^(1/4)≈0.6,
    so J ≥ 0.7 pairs are in the guarantee zone (find probability ≈0.9
    per family; both deterministic families do find them), while
    J≈0.5 pairs are legitimately coin flips that exact verification
    cannot resurrect."""
    jac = {(r["id1"], r["id2"]): r["jaccard"]
           for r in _jaccard_rows(
               planted, "doc_id", "text", n=3, threshold=0.3)}
    lsh = {(r["id1"], r["id2"])
           for r in _lsh_rows(
               planted, "doc_id", "text", n=3, num_hashes=32, bands=8,
               threshold=0.3, hash_fn=hash_fn)}
    assert lsh <= set(jac)
    sure = {p for p, j in jac.items() if j >= 0.7}
    assert sure <= lsh                         # guarantee-zone recall
    if hash_fn == "xxhash64":
        # regression pin for the deterministic production family: it
        # currently also catches all but one borderline pair
        assert len(lsh) >= len(jac) - 1


def test_simhash_exact_dup_distance_zero(planted):
    sigs = {r["doc"]: r["simhash"]
            for r in dedup.simhash_signatures(planted, "doc_id", "text").collect()}
    assert sigs[0] == sigs[1]
    assert bin(sigs[0] ^ sigs[2]).count("1") < bin(sigs[0] ^ sigs[4]).count("1")


def test_shingle_df_pruning(planted):
    """The pair-explosion guard drops ultra-common shingles."""
    unpruned = dedup.doc_shingle_pairs(planted, "doc_id", "text", 3)
    pruned = dedup.doc_shingle_pairs(planted, "doc_id", "text", 3,
                                     max_shingle_df=1)
    assert pruned.count() < unpruned.count()
    assert pruned.groupBy("shingle").count().agg(
        F.max("count")).first()[0] == 1


def test_lsh_hot_bucket_cap(spark, planted):
    """Planted mega-bucket: 120 identical boilerplate docs collide into
    one band bucket per band (d² = 14k pairs each). The bucket cap must
    drop those buckets (their pairs vanish — they are exact duplicates,
    exact_dedup's job) WITHOUT losing the genuine near-dup pairs, whose
    buckets are far under the cap."""
    boiler = [(100 + i,
               "standard site navigation header copyright notice terms "
               "of service privacy policy all rights reserved forever")
              for i in range(120)]
    corpus = planted.unionByName(
        spark.createDataFrame(boiler, ["doc_id", "text"]))
    kw = dict(n=3, num_hashes=32, bands=8, threshold=0.3,
              max_shingle_df=None)

    capped = {(r["id1"], r["id2"])
              for r in _lsh_rows(corpus, "doc_id", "text",
                                 max_bucket_size=50, **kw)}
    # genuine near-dup recall survives the cap
    assert (0, 1) in capped and (0, 2) in capped
    # the mega-bucket's quadratic pair set is gone
    assert not any(a >= 100 and b >= 100 for a, b in capped)

    # control: with the cap off the same pairs DO surface, proving the
    # cap (not the planting) is what removed them
    uncapped = {(r["id1"], r["id2"])
                for r in _lsh_rows(corpus, "doc_id", "text",
                                   max_bucket_size=None, **kw)}
    assert (100, 101) in uncapped and capped < uncapped


def test_ann_recall_floor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    bf = [r["vec_id"] for r in similarity.cosine_topk(emb, qvec, 10).collect()]
    planes = similarity.fixed_planes(len(qvec), 6)
    ann = [r["vec_id"] for r in similarity.lsh_topk(emb, planes, qvec, 10).collect()]
    recall = len(set(bf) & set(ann)) / 10
    assert bf[0] in ann                        # top-1 always found
    assert recall >= 0.3                       # floor on structure-free data


def test_cosine_identity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.where("vec_id = 7").first()["embedding"]]
    top = similarity.cosine_topk(emb, qvec, 1).first()
    assert top["vec_id"] == 7 and abs(top["cosine"] - 1.0) < 1e-9


def test_ivf_partition_and_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    cents = similarity.ivf_centroids(emb, nlist=8)
    assigned = similarity.ivf_assign(emb, cents)
    # every vector lands in exactly one of the 8 cells
    assert assigned.count() == emb.count()
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= set(range(8))
    # probing ALL cells == exact brute force (sanity: partition is lossless)
    bf = [r["vec_id"] for r in similarity.cosine_topk(emb, qvec, 10).collect()]
    full = [r["vec_id"] for r in
            similarity.ivf_topk(emb, cents, qvec, 10, nprobe=8).collect()]
    assert full == bf
    # nprobe=2 keeps the query's own identity match and decent recall
    ann = [r["vec_id"] for r in
           similarity.ivf_topk(emb, cents, qvec, 10, nprobe=2).collect()]
    assert 0 in ann
    assert len(set(bf) & set(ann)) / 10 >= 0.3


def test_vectorized_cosine_matches_expression(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    expr = similarity.cosine_topk(emb, qvec, 10).collect()
    vect = similarity.cosine_topk_vectorized(emb, qvec, 10).collect()
    assert [(r["vec_id"], r["cosine"]) for r in expr] == \
           [(r["vec_id"], r["cosine"]) for r in vect]


def test_eager_barrier_env_gate(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT_DIR flips the minhash barriers from
    localCheckpoint (executor-local) to a reliable checkpoint()."""
    df = spark.range(10).toDF("x")

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    local = dedup.eager_barrier(df)
    assert local.rdd.getNumPartitions() >= 1
    assert "LogicalRDD" in local._jdf.queryExecution().logical().toString()

    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    reliable = dedup.eager_barrier(spark.range(10).toDF("x"))
    assert reliable.count() == 10
    # reliable checkpoint writes RDD blocks under the configured dir
    found = []
    for root, _dirs, files in os.walk(ckdir):
        found.extend(files)
    assert found, "reliable checkpoint() wrote nothing under the env dir"


def test_connected_components_merges_chains(spark):
    from twitter_analysis_spark.operators.dedup import connected_components

    # chain 1-2-3, star 10-{11,12,13}, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13), (20, 21)],
        ["id1", "id2"])
    got = {r["node"]: r["cluster"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}


def test_cc_size_gate_refuses_non_whitelisted_id_types(spark, monkeypatch):
    """Ids whose Python ordering is unproven against Spark's (floats:
    NaN) must route BOTH variants to the distributed loop even under
    the size threshold — the gated union-find compares with Python
    ``min`` and would silently emit divergent labels otherwise."""
    import twitter_analysis_spark.operators.dedup as dd

    def _boom(*_a, **_k):
        raise AssertionError("driver union-find took a float-id graph")

    monkeypatch.setattr(dd, "_cc_local", _boom)
    pairs = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 3.0), (10.0, 11.0)], "id1 double, id2 double")
    want = {1.0: 1.0, 2.0: 1.0, 3.0: 1.0, 10.0: 10.0, 11.0: 10.0}
    got = {r["node"]: r["cluster"]
           for r in dd.connected_components(pairs).collect()}
    assert got == want
    got_star = {r["node"]: r["cluster"]
                for r in dd.connected_components_star(pairs).collect()}
    assert got_star == want


def test_cc_size_gate_takes_local_path_for_whitelisted_ids(spark,
                                                           monkeypatch):
    """Long/string ids under the threshold DO take the union-find fast
    path (pin the gate stays live after the dtype check landed)."""
    import twitter_analysis_spark.operators.dedup as dd

    calls = []
    real = dd._cc_local
    monkeypatch.setattr(
        dd, "_cc_local", lambda e: calls.append(1) or real(e))
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id1", "id2"])
    got = {r["node"]: r["cluster"]
           for r in dd.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    assert calls == [1]


def test_connected_components_deep_chain_converges(spark):
    from twitter_analysis_spark.operators.dedup import connected_components

    # a 12-hop path exercises multi-round propagation + checkpointing;
    # local_threshold=0 forces the distributed loop (the size gate
    # would otherwise route a graph this small to driver union-find)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id1", "id2"])
    got = {r["node"]: r["cluster"]
           for r in connected_components(pairs,
                                         local_threshold=0).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_keep_one_per_cluster(spark):
    from twitter_analysis_spark.operators.dedup import keep_one_per_cluster

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id1", "id2"])
    kept = {r["doc_id"] for r in
            keep_one_per_cluster(docs, pairs, "doc_id").collect()}
    # cluster {1,2,3} keeps 1; cluster {5,6} keeps 5; singletons survive
    assert kept == {0, 1, 4, 5, 7}


def test_split_assign_stable_under_repartition(spark):
    from twitter_analysis_spark.operators.sampling import split_assign

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"]
         for r in split_assign(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"]
         for r in split_assign(docs.repartition(13), "doc_id").collect()}
    assert a == b                              # content-addressed, not positional
    frac = sum(1 for s in a.values() if s == "val") / len(a)
    assert 0.06 <= frac <= 0.13                # ~25/256 with hash noise


def test_split_assign_is_incremental(spark):
    from twitter_analysis_spark.operators.sampling import split_assign

    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    grown = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in split_assign(small, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in split_assign(grown, "doc_id").collect()}
    assert all(b[k] == v for k, v in a.items())  # growth never reassigns


def test_stratified_sample_rates(spark):
    from twitter_analysis_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fr = {"en": 0.5, "de": 0.1}
    got = stratified_sample(docs.where(F.col("lang").isin(*fr)), "lang", fr)
    by_lang = {r["lang"]: r["n"] for r in
               got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    base = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, f in fr.items():
        if base.get(lang, 0) >= 50:
            rate = by_lang.get(lang, 0) / base[lang]
            assert abs(rate - f) <= 0.15, (lang, rate)
    # same seed, same input => identical sample
    again = stratified_sample(docs.where(F.col("lang").isin(*fr)), "lang", fr)
    assert {r["doc_id"] for r in got.collect()} == \
        {r["doc_id"] for r in again.collect()}


def test_knn_join_prune_is_lossless(spark):
    from pyspark.sql import Window
    from twitter_analysis_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    got = sim.knn_join(queries, emb, k=4,
                       qid_col="vec_id", qvec_col="embedding",
                       cid_col="vec_id", cvec_col="embedding").collect()

    # reference: single global window, no pruning
    q = queries.select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("_qv"))
    c = emb.select(F.col("vec_id").alias("cid"),
                   F.col("embedding").alias("_cv"))
    pairs = (c.crossJoin(q).where(F.col("qid") != F.col("cid"))
             .select("qid", "cid",
                     F.round(sim.cosine(F.col("_qv"), F.col("_cv")), 6)
                     .alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    ref = (pairs.withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") <= 4).collect())
    assert {(r["qid"], r["cid"], r["rk"]) for r in got} == \
        {(r["qid"], r["cid"], r["rk"]) for r in ref}
    assert len(got) == 5 * 4


def test_knn_join_disjoint_id_spaces_keep_colliding_ids(spark):
    """With exclude_self=False, a query id that happens to equal a
    corpus id must NOT lose that neighbor (independent id spaces)."""
    from twitter_analysis_spark.operators import similarity as sim

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["cid", "cv"])
    # query id 1 collides with corpus id 1, whose vector is its nearest
    queries = spark.createDataFrame([(1, [0.9, 0.1])], ["qid", "qv"])

    kept = sim.knn_join(queries, corpus, k=1, exclude_self=False).collect()
    assert [(r["qid"], r["cid"]) for r in kept] == [(1, 1)]
    dropped = sim.knn_join(queries, corpus, k=1, exclude_self=True).collect()
    assert [(r["qid"], r["cid"]) for r in dropped] == [(1, 2)]


def test_snapshot_diff_key_only(spark):
    """Empty cmp_cols = membership diff: no TypeError, rows on both
    sides are 'unchanged'."""
    from twitter_analysis_spark.operators.sampling import snapshot_diff

    old = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    new = spark.createDataFrame([(2, "x"), (3, "c")], ["k", "v"])
    got = {r["k"]: r["status"]
           for r in snapshot_diff(old, new, "k", []).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "added"}


def test_snapshot_diff_statuses_and_null_safety(spark):
    from twitter_analysis_spark.operators.sampling import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], ["k", "v"])
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None), (5, "e")], ["k", "v"])
    got = {r["k"]: r["status"]
           for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    assert got == {1: "unchanged", 2: "changed",
                   3: "unchanged",            # NULL == NULL under <=>
                   4: "removed", 5: "added"}


def test_shingle_cap_blocks_boilerplate_explosion(spark):
    """A boilerplate shingle shared by every doc must not produce d²
    candidate pairs once its DF exceeds the cap — and the cap report
    quantifies exactly how much the guard dropped."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"document body number {i} is unique here {boiler}")
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = _jaccard_rows(df, "doc_id", "text", n=3,
                        threshold=0.05, max_shingle_df=10)
    # Every doc shares the 4-token boilerplate tail; uncapped, those
    # shingles alone join 40x40 docs. Capped, the only shared shingles
    # are gone, so no pair clears the threshold.
    assert got == []
    m = dedup.shingle_cap_report(df, "doc_id", "text", 3, max_shingle_df=10)
    assert m["dropped_shingles"] > 0
    assert m["max_df"] == 40
    assert m["total_rows"] > m["dropped_rows"] > 0


def test_embedding_cells_equal_allpairs(spark, sf_dir):
    """Cluster-pruned pair join is EXACT: bit-equal to brute force
    (triangle-inequality pruning cannot lose a true pair)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bf = sorted(map(tuple, dedup.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4,
        method="allpairs").collect()))
    cp = sorted(map(tuple, dedup.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4,
        method="cells", nlist=16).collect()))
    assert bf == cp and len(bf) > 0


def test_kmeans_fit_monotone_objective(spark, sf_dir):
    """Spherical Lloyd rounds never decrease mean cosine to the
    assigned centroid, and the trained fit beats the lowest-id seeds."""
    from pyspark.sql import functions as F

    from twitter_analysis_spark.operators import similarity as sim
    from twitter_analysis_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def objective(cents):
        return (sim.ivf_assign(emb, cents, with_cos=True)
                .agg(F.avg("cell_cos")).collect()[0][0])

    seeds = sim.ivf_centroids(emb, nlist=8)
    objs = [objective(seeds)]
    cents = seeds
    for _ in range(3):
        cents = sim.kmeans_fit(emb, nlist=8, iters=1, seed_centroids=cents)
        objs.append(objective(cents))
    for a, b in zip(objs, objs[1:]):
        assert b >= a - 1e-9, objs
    assert objs[-1] > objs[0], objs  # training actually moved
    # centroids are unit-norm; every vector stays assigned to some cell
    for _, v in cents:
        assert abs(sum(x * x for x in v) - 1.0) < 1e-6
    assert sim.ivf_assign(emb, cents).count() == emb.count()


def test_canonicalize_planted(spark):
    """Cluster {1,2,3} keeps its highest-quality member; quality tie
    in cluster {10,11} breaks to the lowest id; singleton 20 keeps."""
    from twitter_analysis_spark.operators.dedup import canonicalize

    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.7), (11, 0.7), (20, 0.1)],
        "doc_id LONG, quality_score DOUBLE")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id1 LONG, id2 LONG")
    out = {r["doc_id"]: r for r in canonicalize(scored, pairs).collect()}
    assert [out[i]["cluster"] for i in (1, 2, 3)] == [1, 1, 1]
    assert all(out[i]["canonical_id"] == 2 for i in (1, 2, 3))
    assert [out[i]["keep"] for i in (1, 2, 3)] == [False, True, False]
    assert out[10]["canonical_id"] == 10 and out[10]["keep"]
    assert not out[11]["keep"]
    assert out[20]["cluster"] == 20 and out[20]["keep"]


def test_incremental_exact_dedup_planted(spark):
    """Corpus holds 'x'; batch has a corpus dup (→ corpus holder), an
    in-batch dup pair (first wins), and a genuinely new doc; xxhash64
    and md5 keyings classify identically."""
    from twitter_analysis_spark.operators.dedup import (
        content_index, incremental_exact_dedup)

    corpus = spark.createDataFrame([(2, "x"), (4, "y")],
                                   "doc_id LONG, text STRING")
    batch = spark.createDataFrame(
        [(11, "x"), (13, "z"), (15, "z"), (17, "w")],
        "doc_id LONG, text STRING")
    for fn in ("xxhash64", "md5", "text"):
        idx = content_index(corpus, "doc_id", "text", hash_fn=fn)
        out = {r["doc_id"]: r for r in
               incremental_exact_dedup(batch, idx, "doc_id", "text",
                                       hash_fn=fn).collect()}
        assert (out[11]["status"], out[11]["dup_of"]) == ("dup_of_corpus", 2)
        assert (out[13]["status"], out[13]["dup_of"]) == ("new", None)
        assert (out[15]["status"], out[15]["dup_of"]) == ("dup_in_batch", 13)
        assert (out[17]["status"], out[17]["dup_of"]) == ("new", None)


def test_incremental_dedup_index_merge_roundtrip(spark):
    """Appending the batch's 'new' rows and re-indexing equals
    indexing the concatenated corpus — the invariant that lets the
    index be maintained incrementally forever."""
    from twitter_analysis_spark.operators.dedup import (
        content_index, incremental_exact_dedup)
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame([(2, "x"), (4, "y")],
                                   "doc_id LONG, text STRING")
    batch = spark.createDataFrame(
        [(11, "x"), (13, "z"), (15, "z")], "doc_id LONG, text STRING")
    idx = content_index(corpus, "doc_id", "text", hash_fn="md5")
    res = incremental_exact_dedup(batch, idx, "doc_id", "text",
                                  hash_fn="md5")
    new_ids = [r["doc_id"] for r in res.where(F.col("status") == "new")
               .collect()]
    appended = corpus.unionByName(
        batch.where(F.col("doc_id").isin(new_ids)))
    merged = content_index(appended, "doc_id", "text", hash_fn="md5")
    full = content_index(corpus.unionByName(batch), "doc_id", "text",
                         hash_fn="md5")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, full.collect()))


def test_saved_ann_indexes_prune_and_match(spark, sf_dir, tmp_path):
    """Materialized LSH/IVF indexes: the probe's bucket/cell filter
    reaches the scan as non-empty PartitionFilters, and probe results
    equal the in-memory formulations exactly."""
    from twitter_analysis_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).first()["embedding"]]

    planes = S.arith_planes(64, 6)
    lsh_path = str(tmp_path / "lsh_idx")
    S.save_lsh_index(emb, planes, lsh_path)
    probe = S.lsh_probe(spark, lsh_path, planes, qvec, k=10)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    filt = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in filt and filt.strip()
    want = S.lsh_topk(emb, planes, qvec, k=10).collect()
    assert sorted(map(tuple, probe.collect())) == sorted(map(tuple, want))

    cents = S.ivf_centroids(emb, nlist=8)
    ivf_path = str(tmp_path / "ivf_idx")
    S.save_ivf_index(emb, cents, ivf_path)
    iprobe = S.ivf_probe(spark, ivf_path, cents, qvec, k=10, nprobe=2)
    iplan = iprobe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in iplan
    ifilt = iplan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in ifilt and ifilt.strip()
    iwant = S.ivf_topk(emb, cents, qvec, k=10, nprobe=2).collect()
    assert sorted(map(tuple, iprobe.collect())) == sorted(map(tuple, iwant))


def test_star_cc_matches_min_label(spark):
    """Large-star/small-star clusters equal min-label clusters on
    random graphs, and converge on a 120-node chain where min-label's
    default round budget would be exhausted (diameter >> log n)."""
    import random

    from twitter_analysis_spark.operators.dedup import (
        connected_components, connected_components_star)

    rng = random.Random(11)
    nodes = list(range(60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id1 LONG, id2 LONG")
    # local_threshold=0 everywhere below: this test exists to compare
    # the two DISTRIBUTED algorithms, so the size gate must not route
    # either to the driver-side union-find
    a = sorted(map(tuple,
                   connected_components(pairs, max_iter=60,
                                        local_threshold=0).collect()))
    b = sorted(map(tuple, connected_components_star(
        pairs, local_threshold=0).collect()))
    assert a == b

    # deep chain: star converges well inside its O(log n) budget
    chain = spark.createDataFrame([(i, i + 1) for i in range(120)],
                                  "id1 LONG, id2 LONG")
    got = connected_components_star(chain, local_threshold=0).collect()
    assert all(r["cluster"] == 0 for r in got)
    assert len(got) == 121

    # min-label must now FAIL LOUDLY (not silently mislabel) when the
    # diameter exceeds its round budget
    import pytest
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(chain, max_iter=5, local_threshold=0)


def test_semantic_dedup_invariants(spark, sf_dir):
    """SemDeDup keep/drop set obeys its defining rules: the rank-min
    vector of every cell survives, every dropped vector has a
    before-ranked in-cell neighbor at cosine >= eps, and raising eps
    never drops more."""
    from twitter_analysis_spark.operators.dedup import semantic_dedup
    from twitter_analysis_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = {r["vec_id"]: r for r in
           semantic_dedup(emb, nlist=4, eps=0.3).collect()}
    assert set(r["kept"] for r in out.values()) == {True, False}

    cents = sim.kmeans_fit_exact(emb, nlist=4, iters=1)
    asg = sim.ivf_assign(emb, cents, with_cos=True).collect()
    by_cell: dict[int, list] = {}
    for r in asg:
        by_cell.setdefault(r["cell"], []).append(r)

    import math
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(y * y for y in b)))

    for cell, rows in by_cell.items():
        rows.sort(key=lambda r: (r["cell_cos"], r["vec_id"]))
        head = rows[0]
        assert out[head["vec_id"]]["kept"], "rank-min of a cell dropped"
        for idx, r in enumerate(rows):
            if not out[r["vec_id"]]["kept"]:
                assert any(cos(p["embedding"], r["embedding"]) >= 0.3
                           for p in rows[:idx]), "dropped w/o witness"

    strict = semantic_dedup(emb, nlist=4, eps=0.9).where("NOT kept").count()
    loose = sum(1 for r in out.values() if not r["kept"])
    assert strict <= loose


def test_stratified_hash_stable_and_rate_accurate(spark):
    from twitter_analysis_spark.operators.sampling import stratified_sample_hash
    rows = [(i, "a" if i % 2 else "b") for i in range(4000)]
    df = spark.createDataFrame(rows, ["doc_id", "src"])
    fr = {"a": 0.5, "b": 0.125}
    got = {r.doc_id for r in
           stratified_sample_hash(df, "src", "doc_id", fr).collect()}
    # content-stable: identical under repartitioning
    again = {r.doc_id for r in
             stratified_sample_hash(df.repartition(17), "src", "doc_id",
                                    fr).collect()}
    assert got == again
    # per-stratum rates near nominal (md5 buckets are uniform)
    a = sum(1 for i in got if i % 2)
    b = sum(1 for i in got if not i % 2)
    assert abs(a / 2000 - 0.5) < 0.05
    assert abs(b / 2000 - 0.125) < 0.05


def test_stratified_hash_drops_unlisted_strata(spark):
    from twitter_analysis_spark.operators.sampling import stratified_sample_hash
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["doc_id", "src"])
    out = stratified_sample_hash(df, "src", "doc_id", {"x": 1.0}).collect()
    assert [r.doc_id for r in out] == [1]


def test_weighted_sample_bias_and_determinism(spark):
    from twitter_analysis_spark.operators.sampling import weighted_sample_topk
    import pyspark.sql.functions as F
    # ids 0..1999: even ids weight 8, odd ids weight 1 -> the top-k
    # should be dominated by heavy ids roughly 8:1.
    rows = [(i, 8 if i % 2 == 0 else 1) for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = weighted_sample_topk(df, "doc_id", F.col("w"), k=200).collect()
    assert len(got) == 200
    heavy = sum(1 for r in got if r.doc_id % 2 == 0)
    assert heavy > 150                       # expectation ~178 of 200
    # deterministic: same sample on a different partitioning
    again = weighted_sample_topk(df.repartition(13), "doc_id",
                                 F.col("w"), k=200).collect()
    assert {r.doc_id for r in got} == {r.doc_id for r in again}
    # without replacement: ids unique
    assert len({r.doc_id for r in got}) == 200


def test_weighted_sample_topk_plan(spark):
    from twitter_analysis_spark.operators.sampling import weighted_sample_topk
    import pyspark.sql.functions as F
    df = spark.range(1000).select(F.col("id").alias("doc_id"),
                                  F.lit(3).alias("w"))
    plan = weighted_sample_topk(df, "doc_id", F.col("w"), k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan   # never a global sort
    assert "partial_max" in plan             # explode collapses pre-shuffle


def test_ivf_append_equals_fresh_build(spark, sf_dir, tmp_path):
    """Appending a batch to a saved IVF index (frozen centroids) gives
    byte-identical probe results to a fresh build over the union."""
    import pyspark.sql.functions as F
    from twitter_analysis_spark.operators import similarity as S
    from twitter_analysis_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where(F.col("vec_id") % 2 == 1)
    cents = S.ivf_centroids(base)            # centroids from BASE only
    qvec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]

    inc_path = str(tmp_path / "ivf_inc")
    S.save_ivf_index(base, cents, inc_path)
    S.append_to_ivf_index(batch, cents, inc_path)

    fresh_path = str(tmp_path / "ivf_fresh")
    S.save_ivf_index(emb, cents, fresh_path)

    got = [tuple(r) for r in
           S.ivf_probe(spark, inc_path, cents, qvec, k=10, nprobe=2).collect()]
    want = [tuple(r) for r in
            S.ivf_probe(spark, fresh_path, cents, qvec, k=10,
                        nprobe=2).collect()]
    assert got == want and len(got) == 10


def test_similarity_null_vector_contract(spark):
    """r14 NULL contract (similarity.valid_vectors): NULL ids/vectors
    are excluded at every entry point — never NULL scores in a top-k,
    never a raising kernel."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (None, [1.0, 0.0]),
         (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    top = similarity.cosine_topk(emb, [1.0, 0.0], k=10).collect()
    ids = [r["vec_id"] for r in top]
    assert None not in ids and 2 not in ids
    assert all(r["cosine"] is not None for r in top)
    assert ids[0] == 0

    cents = similarity.ivf_centroids(emb, nlist=2)
    assert all(c is not None for _, c in cents)
    assigned = similarity.ivf_assign(emb, cents)
    assert assigned.where(F.col("vec_id").isNull()
                          | F.col("embedding").isNull()).count() == 0

    knn = similarity.knn_join(emb, emb, k=2,
                              qid_col="vec_id", qvec_col="embedding",
                              cid_col="vec_id", cvec_col="embedding")
    pairs = [(r["qid"], r["cid"]) for r in knn.collect()]
    assert pairs and all(q not in (None, 2) and c not in (None, 2)
                         for q, c in pairs)
