"""Heavy-tier scale probe (r16, VERDICT item 5).

At sf0.1 every bench row is fixed-overhead-bound, so the 8-vs-32-core
ratios read ~1 and prove nothing about parallelism. This probe
synthesizes a 10x corpus (sf1-equivalent: 50k documents, 1M events)
from the sf0.1 testdata with per-replica perturbations that preserve
each replica's internal structure while keeping replicas disjoint:

- documents: every token gets a per-replica suffix (within-replica
  near-dup structure identical to sf0.1; no cross-replica shingle
  collisions, so the DF/bucket caps see sf0.1-shaped distributions);
- events: user/event ids offset per replica; the interaction graph's
  150 hub buckets (interaction_edges folds partner ids % 150) are
  SHARED across replicas, so the scaled graph is 10x the source nodes
  fanning into the same hubs — hub degrees grow 10x, which is the
  skew-heavier (more adversarial) regime for the graph tier.

Then it times the heavy tier (dedup_clusters_star, dedup_minhash_lsh,
graph_triangles, graph_pagerank) through bench.py's evaluator at
local[8] and local[32], fresh interpreter and session per (query,
cores), warm-up + min of harness.PASSES timed runs (harness.py), and
writes artifacts/SCALE_PROBE_r16.json.
j9-style skew scaling is covered separately by tools/skew_bench.py
(planted-skew A/B, r15).

Usage:
  python tools/scale_probe.py gen   [replicas]   # build the corpus
  python tools/scale_probe.py run   [8|32|both]  # time the heavy tier
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402

SRC = harness.SF_DIR
OUT_DIR = os.environ.get("SCALE_PROBE_DIR", "/root/scale_probe/sf1")
REPLICAS = 10
#: tables gen() scales; every other table in SRC is copied as-is
SCALED = ("documents", "events")
QUERIES = ["graph_pagerank", "graph_triangles",
           "dedup_minhash_lsh", "dedup_clusters_star"]
ART = os.environ.get(
    "SCALE_PROBE_ART",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "artifacts", "SCALE_PROBE_r16.json"))


def gen(replicas: int) -> None:
    from pyspark.sql import functions as F

    from twitter_analysis_spark.session import get_spark

    spark = get_spark("scale_probe_gen", master="local[16]",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT_DIR, exist_ok=True)

    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    reps = spark.range(replicas).select(F.col("id").alias("_r"))
    big_docs = (docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("_r") * F.lit(10_000_000)).alias("doc_id"),
        # suffix every token with the replica tag: within-replica
        # shingle/minhash structure is byte-for-byte sf0.1's, across
        # replicas nothing collides
        F.concat_ws(" ", F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda t: F.concat(t, F.lit("_"),
                               F.col("_r").cast("string")))).alias("text"),
        "lang", "source", "n_chars"))
    big_docs.repartition(16).write.mode("overwrite").parquet(
        os.path.join(OUT_DIR, "documents.parquet"))

    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    big_ev = (ev.crossJoin(reps).select(
        (F.col("event_id") + F.col("_r") * F.lit(1_000_000_000)).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("_r") * F.lit(1_000_000_000)).alias("user_id"),
        "event_type", "value",
        # props stays as-is: interaction_edges folds the partner id
        # into 150 hub buckets (% n_buckets), so hubs are shared
        # across replicas by construction — the scaled graph is 10x
        # the sources fanning into the SAME 150 hubs (hub degree x10,
        # a deliberately skew-heavier stress shape)
        "props"))
    big_ev.repartition(16).write.mode("overwrite").parquet(
        os.path.join(OUT_DIR, "events.parquet"))

    # remaining tables: straight copies so load_table never misses
    for f in sorted(os.listdir(SRC)):
        t, ext = os.path.splitext(f)
        if ext != ".parquet" or t in SCALED:
            continue
        spark.read.parquet(os.path.join(SRC, f)) \
            .write.mode("overwrite").parquet(os.path.join(OUT_DIR, f))
    print("generated", OUT_DIR)


def run(cores_list: list[int]) -> None:
    results: dict = {}
    if os.path.exists(ART):
        with open(ART) as f:
            results = json.load(f)
    results.update(probe_dir=OUT_DIR, passes=harness.PASSES)
    rows = results.setdefault("rows", {})
    for cores in cores_list:
        for name in QUERIES:
            sec = _time_one(name, cores)
            rows.setdefault(name, {})[f"c{cores}"] = sec
            print(f"{name} c{cores}: {sec:.2f}s", flush=True)
    for row in rows.values():
        if "c8" in row and "c32" in row:
            row["ratio_8_over_32"] = round(row["c8"] / row["c32"], 3)
    with open(ART, "w") as f:
        json.dump(results, f, indent=1)
    print("wrote", ART)


def _time_one(name: str, cores: int) -> float:
    """Fresh interpreter (and so fresh JVM) per (query, cores) so JVM
    state can't leak between core counts."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(
            1, mp_context=multiprocessing.get_context("spawn")) as pool:
        return pool.submit(_probe, name, cores).result()


def _probe(name: str, cores: int) -> float:
    from twitter_analysis_spark import catalog

    spark = harness.session("scale_probe", cores,
                            {"spark.driver.memory": "24g"})

    def timed(n: str) -> None:
        harness.evaluate(catalog.QUERIES[n](spark, OUT_DIR), n)

    return harness.best_of(spark, [name], timed)[name]["min_sec"]


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "gen":
        gen(int(sys.argv[2]) if len(sys.argv) > 2 else REPLICAS)
    elif mode == "run":
        arg = sys.argv[2] if len(sys.argv) > 2 else "both"
        run([8, 32] if arg == "both" else [int(arg)])
    else:
        raise SystemExit("usage: scale_probe.py gen|run")
