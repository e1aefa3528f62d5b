"""Planted-skew A/B bench: measure what the hazard-3 guards buy.

docs/SCALE.md row 3 pins three skew defenses — `operators/skew.py:
salted_join`, the a8 two-stage salted aggregation, and the LSH
hot-bucket / hot-shingle caps — by correctness and plan shape, but
until round 15 none had been MEASURED against the failure mode they
exist for. This tool builds deliberately pathological inputs and A/Bs
the guarded plan against the naive one on identical parquet files:

1. JOIN tier (j9's guard). sf0.1 events amplified ~50x (≈5M rows)
   with ONE user_id holding ~30% of rows (the verdict's spec) and,
   in a second profile, ~90% (pathological), joined to customer with
   broadcast disabled (salting exists for dimension sides too big to
   broadcast). Variants: plain sort-merge with AQE off (the naive
   plan — the hot key's rows hash to ONE reducer), plain with AQE
   skew-join splitting (Spark's runtime remedy, thresholds scaled to
   sf0.1 partition sizes or it never fires), salted_join n=16 (the
   structural guard). All verified hash-identical first. Each tier
   also reports the rows-per-reduce-partition histogram (max/mean):
   on local[32] the idle cores hide a straggler inside one box, so
   wall clock understates the damage — on a 1000-executor cluster
   stage time IS the max partition, and max/mean is the slowdown
   factor the guard removes.

2. AGG tier (a8's guard). Same skewed frame, two aggregate classes:
   - holistic (collect_list → size+sum): partial aggregation cannot
     collapse the list map-side, so the hot key's full row set lands
     on one reducer — the case a8's docstring claims the pattern is
     for. Plain one-stage vs two-stage (collect per (key, salt16),
     flatten per key).
   - algebraic control (count + decimal sum): map-side combine
     already collapses each partition to one partial row per key, so
     the guard is expected to be ~neutral here. Measuring it anyway
     keeps the claim honest in both directions.

3. LSH tier (the hot-bucket cap). sf0.1 documents plus a planted
   cluster of near-identical docs (shared ~40-word body, unique
   2-token suffix): every shared shingle's doc-frequency and every
   band bucket's size equal the cluster size, so with the caps OFF
   the band self-join and the exact-verification shingle self-join
   both go quadratic in the cluster. Variants: guards on (the
   DEFAULT_MAX_SHINGLE_DF=256 / DEFAULT_MAX_BAND_BUCKET=256
   defaults) vs guards off (both None).

Timing: each variant warms its plan shape once untimed, then takes
min-of-2 timed runs through bench.py's hash evaluator (every output
column load-bearing); cache cleared and the JVM GC'd between runs —
all three from harness.py, in bench.py's session. Inputs are written
to parquet first so every variant reads identical files.

Run: python tools/skew_bench.py            (~4 min quiet box)
     SPARK_GRAFT_SKEW_TAG=r15 python tools/skew_bench.py
Writes artifacts/BENCH_SKEW_<tag>.json when the tag is set.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402

SF_DIR = harness.SF_DIR
TAG = os.environ.get("SPARK_GRAFT_SKEW_TAG", "")
#: events amplification factor (≈5M rows from sf0.1's 100k)
REP = 50
#: hot-key profiles measured: ~30% (the verdict's spec — a strong
#: power-law head) and ~90% (pathological, where even a 32-core local
#: box feels the straggler in wall clock)
HOT_PROFILES = (3, 9)
N_SALTS = 16
#: planted near-identical LSH cluster size
CLUSTER = 1500
N_SHUFFLE = 32


def _hash_all(df):
    return harness.evaluate(df)[0][0]


def _timed(spark, build_fn) -> dict:
    """Warm once untimed, then min-of-2 through the hash evaluator."""
    def run(_: str) -> None:
        harness.evaluate(build_fn())

    return harness.best_of(spark, ["v"], run)["v"]


def _conf(spark, aqe: bool, skew_join: bool) -> None:
    spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                   str(skew_join).lower())
    # AQE's defaults (256MB skewed-partition threshold / 64MB advisory)
    # never fire at sf0.1 sizes — a 1.5M-row hot partition is ~30MB.
    # Scale the thresholds down so the runtime skew split engages in
    # proportion, the same way it would on cluster-sized partitions.
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    # the dimension must NOT broadcast: salting exists precisely for
    # dimension sides past the broadcast threshold
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")


def _part_hist(df, keys, n: int = N_SHUFFLE) -> dict:
    """Rows per reduce partition under hash(keys) — the straggler
    predictor a 1000-executor stage pays directly: stage wall clock is
    the MAX partition, so max/mean IS the slowdown factor vs balanced.
    (local[32] hides this in end-to-end timings because the idle cores
    belong to the same box; a cluster's don't.)"""
    from pyspark.sql import functions as F
    counts = [r["c"] for r in
              df.repartition(n, *keys)
              .select(F.spark_partition_id().alias("p"))
              .groupBy("p").agg(F.count(F.lit(1)).alias("c")).collect()]
    counts += [0] * (n - len(counts))
    mean = sum(counts) / n
    return {"max_rows": max(counts), "mean_rows": int(mean),
            "imbalance_max_over_mean": round(max(counts) / mean, 2)}


def _count_sum(df, key: str):
    """Row count + exact (decimal) value sum per ``key``."""
    from pyspark.sql import functions as F
    return (df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("s")))


def build_skewed_events(spark, dst: str, tenths: int, sub: str) -> dict:
    """Amplified events with one planted hot user_id (~tenths/10 of rows)."""
    from pyspark.sql import functions as F

    from twitter_analysis_spark.sources.io import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value")
    hot_key = (load_table(spark, SF_DIR, "customer")
               .agg(F.min("c_custkey")).collect()[0][0])
    amp = (ev.withColumn("_r", F.explode(
               F.sequence(F.lit(0), F.lit(REP - 1))))
           .select(
               (F.col("event_id") * REP + F.col("_r")).alias("event_id"),
               F.when(F.pmod(F.xxhash64(F.col("event_id") * REP + F.col("_r")),
                             F.lit(10)) < tenths,
                      F.lit(hot_key)).otherwise(F.col("user_id"))
               .alias("user_id"),
               "event_type", "value"))
    amp.write.mode("overwrite").parquet(os.path.join(dst, sub))
    facts = spark.read.parquet(os.path.join(dst, sub))
    n = facts.count()
    n_hot = facts.where(F.col("user_id") == hot_key).count()
    return {"rows": n, "hot_key": hot_key, "hot_rows": n_hot,
            "hot_share": round(n_hot / n, 4)}


def bench_join(spark, dst: str, sub: str, report: dict) -> None:
    from pyspark.sql import functions as F

    from twitter_analysis_spark.operators.skew import salted_join
    from twitter_analysis_spark.sources.io import load_table

    facts = spark.read.parquet(os.path.join(dst, sub))
    cust = (load_table(spark, SF_DIR, "customer")
            .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))

    def plain():
        return _count_sum(facts.join(cust, "user_id"), "c_mktsegment")

    def salted():
        return _count_sum(salted_join(facts, cust, on="user_id",
                                      row_cols=["event_id"],
                                      n_salts=N_SALTS), "c_mktsegment")

    def split():
        from twitter_analysis_spark.operators.skew import skew_split_join
        return _count_sum(skew_split_join(facts, cust, on="user_id",
                                          row_cols=["event_id"],
                                          n_salts=N_SALTS,
                                          hot_threshold=500_000),
                          "c_mktsegment")

    _conf(spark, aqe=False, skew_join=False)
    assert _hash_all(plain()) == _hash_all(salted()), \
        "salted join result differs from plain"
    assert _hash_all(plain()) == _hash_all(split()), \
        "split join result differs from plain"
    tiers = {}
    # the straggler predictor: how the fact side's rows land on the
    # join-shuffle reducers, unsalted vs salted
    tiers["partition_imbalance_plain"] = _part_hist(facts, ["user_id"])
    salted_keys = facts.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)))
    tiers["partition_imbalance_salted"] = _part_hist(
        salted_keys, ["user_id", "_salt"])
    for label, fn, aqe in (("plain_smj_no_aqe", plain, False),
                           ("plain_smj_aqe_skewjoin", plain, True),
                           (f"salted_join_{N_SALTS}", salted, False),
                           (f"salted_join_{N_SALTS}_aqe", salted, True),
                           (f"split_join_{N_SALTS}", split, False),
                           (f"split_join_{N_SALTS}_aqe", split, True)):
        _conf(spark, aqe=aqe, skew_join=aqe)
        tiers[label] = _timed(spark, fn)
    report["join"] = tiers


def bench_agg(spark, dst: str, sub: str, report: dict) -> None:
    from pyspark.sql import functions as F

    facts = spark.read.parquet(os.path.join(dst, sub))
    _conf(spark, aqe=False, skew_join=False)

    def _final(lists):
        # order-insensitive reduction of the collected list so plain
        # and salted variants hash identically; DECIMAL fold, not
        # double — float addition is order-dependent and the two
        # variants build the list in different orders
        return lists.select(
            "user_id", F.size("vs").alias("n"),
            F.aggregate(
                "vs", F.lit(0).cast("decimal(28,2)"),
                lambda a, x: (a + x.cast("decimal(18,2)"))
                .cast("decimal(28,2)")).alias("s"))

    def plain_collect():
        return _final(facts.groupBy("user_id")
                      .agg(F.collect_list("value").alias("vs")))

    def salted_collect():
        part = (facts.withColumn(
                    "_salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)))
                .groupBy("user_id", "_salt")
                .agg(F.collect_list("value").alias("vs")))
        return _final(part.groupBy("user_id")
                      .agg(F.flatten(F.collect_list("vs")).alias("vs")))

    def plain_sum():
        return _count_sum(facts, "user_id")

    def salted_sum():
        part = (facts.withColumn(
                    "_salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)))
                .groupBy("user_id", "_salt")
                .agg(F.count(F.lit(1)).alias("_n"),
                     F.sum(F.col("value").cast("decimal(18,2)")).alias("_s")))
        return (part.groupBy("user_id")
                .agg(F.sum("_n").alias("n"),
                     F.sum("_s").cast("double").alias("s")))

    assert _hash_all(plain_collect()) == _hash_all(salted_collect()), \
        "salted collect result differs from plain"
    assert _hash_all(plain_sum()) == _hash_all(salted_sum()), \
        "salted sum result differs from plain"
    report["agg_holistic_collect"] = {
        "plain_one_stage": _timed(spark, plain_collect),
        f"salted_two_stage_{N_SALTS}": _timed(spark, salted_collect)}
    report["agg_algebraic_control"] = {
        "plain_one_stage": _timed(spark, plain_sum),
        f"salted_two_stage_{N_SALTS}": _timed(spark, salted_sum)}


def build_hot_corpus(spark, dst: str) -> dict:
    """sf0.1 documents + a planted near-identical cluster."""
    from pyspark.sql import functions as F

    from twitter_analysis_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    body = " ".join(f"boiler{i} common" for i in range(20))
    planted = spark.range(CLUSTER).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit(body + " tail"),
                 F.lit(" unique"), F.col("id").cast("string"),
                 F.lit(" mark"), F.col("id").cast("string"))
        .alias("text"))
    docs.unionByName(planted).coalesce(8).write.mode("overwrite").parquet(
        os.path.join(dst, "docs_hot"))
    d = spark.read.parquet(os.path.join(dst, "docs_hot"))
    return {"rows": d.count(), "planted_cluster": CLUSTER}


def bench_lsh(spark, dst: str, report: dict) -> None:
    from pyspark.sql import functions as F

    from twitter_analysis_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(os.path.join(dst, "docs_hot"))
    # production conf: AQE on, as in the session defaults
    _conf(spark, aqe=True, skew_join=True)

    def run(capped: bool):
        def build():
            kw = ({} if capped
                  else {"max_shingle_df": None, "max_bucket_size": None})
            cleanup: list = []
            pairs = minhash_lsh_pairs(
                docs, "doc_id", "text", n=3, num_hashes=32, bands=8,
                threshold=0.5, cleanup=cleanup, **kw)
            out = pairs.select("id1", "id2",
                               F.round("jaccard", 6).alias("jaccard"))
            return out
        return build

    tiers = {}
    tiers["guards_on_defaults"] = _timed(spark, run(True))
    tiers["pairs_guards_on"] = run(True)().count()
    spark.catalog.clearCache()
    tiers["guards_off"] = _timed(spark, run(False))
    tiers["pairs_guards_off"] = run(False)().count()
    spark.catalog.clearCache()
    report["lsh_hot_bucket"] = tiers


def main() -> None:
    spark = harness.session("skew_bench")

    dst = tempfile.mkdtemp(prefix="skewdata_")
    report: dict = {"sf_dir": SF_DIR, "rep": REP, "n_salts": N_SALTS}
    try:
        for tenths in HOT_PROFILES:
            prof: dict = {}
            sub = f"events_skew_{tenths}"
            prof["events_input"] = build_skewed_events(
                spark, dst, tenths, sub)
            print(f"hot{tenths}0 input:", prof["events_input"])
            bench_join(spark, dst, sub, prof)
            print(f"hot{tenths}0 join:", json.dumps(prof["join"]))
            bench_agg(spark, dst, sub, prof)
            print(f"hot{tenths}0 agg holistic:",
                  json.dumps(prof["agg_holistic_collect"]))
            print(f"hot{tenths}0 agg algebraic:",
                  json.dumps(prof["agg_algebraic_control"]))
            report[f"hot_share_{tenths}0pct"] = prof
        report["corpus_input"] = build_hot_corpus(spark, dst)
        print("corpus input:", report["corpus_input"])
        bench_lsh(spark, dst, report)
        print("lsh:", json.dumps(report["lsh_hot_bucket"]))
    finally:
        shutil.rmtree(dst, ignore_errors=True)

    if TAG:
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "artifacts",
            f"BENCH_SKEW_{TAG}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print("wrote", path)


if __name__ == "__main__":
    main()
