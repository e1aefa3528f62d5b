"""Streaming-tier benchmark: drain-time of each Structured Streaming
shape over drop-dir inputs at sf0.1 rates.

Prints ONE JSON line:
  {"metric": "streaming_queries_total", "value": N, "unit": "sec",
   "queries": {...}, "sf": ...}

What is measured: wall time for an ``availableNow`` drain of the whole
drop dir into a memory sink — the batch-equivalent workload the
streaming engine would spread over a day of micro-batches. Each shape
gets an untimed warmup drain (classload + codegen) and the timed run
uses min-of-2, through the same loop as bench.py (harness.best_of).

Inputs are materialized once per run from the standard test data:
  - events.parquet (sf dir, 100k rows at sf0.1) -> JSONL drop files,
    feeding sessionization and the stream-stream attribution join.
  - the synthetic raw Twitter capture (tests/fixtures/gen_tweets.py,
    20k statuses) -> one drop file, feeding windowed keyword counts.

Environment knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (as bench.py).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "tests", "fixtures"))

import harness  # noqa: E402

SF_DIR = harness.SF_DIR
N_TWEETS = 20_000
N_DROP_FILES = 8          # simulate several micro-batch arrivals
EVENT_SCHEMA = ("event_id LONG, ts TIMESTAMP, user_id LONG, "
                "event_type STRING, value DOUBLE")


def _prep_event_drop(spark, root: str) -> str:
    """Events table -> JSONL drop dir (ISO timestamps, typed columns)."""
    from pyspark.sql import functions as F

    from twitter_analysis_spark.sources.io import load_table

    drop = os.path.join(root, "events_drop")
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id",
                F.date_format(F.col("ts").cast("timestamp"),
                              "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias("ts"),
                "user_id", "event_type", "value")
    )
    ev.coalesce(N_DROP_FILES).write.mode("overwrite").json(drop)
    return drop


def _prep_tweet_drop(root: str) -> str:
    from gen_tweets import make_raw_stream

    lines, _ = make_raw_stream(N_TWEETS)
    drop = os.path.join(root, "tweets_drop")
    os.makedirs(drop, exist_ok=True)
    per = len(lines) // N_DROP_FILES + 1
    for i in range(0, len(lines), per):
        with open(os.path.join(drop, f"part{i}.jsonl"), "w") as f:
            f.write("\n".join(lines[i:i + per]) + "\n")
    return drop


def main() -> None:
    from pyspark.sql import functions as F

    from twitter_analysis_spark.sources.io import load_table
    from twitter_analysis_spark.sources.maintenance import (
        compact_parquet, fold_index_bucketed)
    from twitter_analysis_spark.streaming import joins as SJ
    from twitter_analysis_spark.streaming import sessionize as SS
    from twitter_analysis_spark.streaming.ingest import (
        streaming_ingest_decontaminate, streaming_ingest_dedup,
        streaming_ingest_neardup)
    from twitter_analysis_spark.streaming.keyword_counts import (
        streaming_keyword_counts)
    from twitter_analysis_spark.streaming.rollup_ingest import (
        streaming_anomaly_alerts, streaming_rollup_ingest)
    from twitter_analysis_spark.streaming.sketch_ingest import (
        streaming_sketch_ingest)

    spark = harness.session("bench_streaming")

    root = tempfile.mkdtemp(prefix="bench_streaming_")
    ev_drop = _prep_event_drop(spark, root)
    tw_drop = _prep_tweet_drop(root)

    doc_drop = os.path.join(root, "docs_drop")
    (load_table(spark, SF_DIR, "documents").select("doc_id", "text")
     .coalesce(N_DROP_FILES).write.mode("overwrite").json(doc_drop))

    def ingest_run(tag: str) -> None:
        # fresh corpus/index/checkpoint per run: each drain ingests the
        # whole drop against an initially-empty index
        base = os.path.join(root, f"ingest_{tag}")
        streaming_ingest_dedup(
            spark, doc_drop,
            corpus_path=os.path.join(base, "corpus"),
            index_path=os.path.join(base, "index"),
            checkpoint=os.path.join(base, "ckpt"))

    def neardup_run(tag: str) -> None:
        # near-dup analogue: band-index probe + exact-Jaccard verify
        # per micro-batch (streaming/ingest.py:streaming_ingest_neardup)
        base = os.path.join(root, f"neardup_{tag}")
        streaming_ingest_neardup(
            spark, doc_drop,
            corpus_path=os.path.join(base, "corpus"),
            band_index_path=os.path.join(base, "index"),
            checkpoint=os.path.join(base, "ckpt"))

    def rollup_run(tag: str) -> None:
        # streamed rollup maintenance: id-dedup raw append + partition-
        # scoped recompute per micro-batch (streaming/rollup_ingest.py)
        base = os.path.join(root, f"rollup_{tag}")
        streaming_rollup_ingest(
            spark, ev_drop,
            lake_path=os.path.join(base, "lake"),
            index_path=os.path.join(base, "index"),
            rollup_path=os.path.join(base, "rollup"),
            grain="hour",
            schema=EVENT_SCHEMA,
            checkpoint=os.path.join(base, "ckpt"))

    def alerts_run(tag: str) -> None:
        # rollup ingest + trailing z-score detection + alert dedupe
        # per micro-batch (streaming/rollup_ingest.py)
        base = os.path.join(root, f"alerts_{tag}")
        streaming_anomaly_alerts(
            spark, ev_drop,
            lake_path=os.path.join(base, "lake"),
            index_path=os.path.join(base, "index"),
            rollup_path=os.path.join(base, "rollup"),
            alerts_path=os.path.join(base, "alerts"),
            schema=EVENT_SCHEMA,
            checkpoint=os.path.join(base, "ckpt"))

    def decon_run(tag: str) -> None:
        # decontaminating ingestion: build-once Bloom filter over the
        # benchmark shingles, per-batch probe + clean/quarantine split
        # (streaming/ingest.py:streaming_ingest_decontaminate). The
        # doc_id%97 slice stands in for the benchmark, as in the
        # text_decontaminate catalog row.
        base = os.path.join(root, f"decon_{tag}")
        bench = (load_table(spark, SF_DIR, "documents")
                 .where(F.col("doc_id") % 97 == 0)
                 .select("doc_id", "text"))
        streaming_ingest_decontaminate(
            spark, doc_drop, bench,
            corpus_path=os.path.join(base, "corpus"),
            quarantine_path=os.path.join(base, "quarantine"),
            checkpoint=os.path.join(base, "ckpt"))

    def sketch_run(tag: str) -> None:
        # continuously-maintained Count-Min sketch: constant-size state
        # merged per micro-batch (streaming/sketch_ingest.py)
        base = os.path.join(root, f"sketch_{tag}")
        streaming_sketch_ingest(
            spark, doc_drop,
            sketch_path=os.path.join(base, "sketch"),
            checkpoint=os.path.join(base, "ckpt"))

    def drain(df, name: str, mode: str) -> None:
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode(mode).trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()

    shapes = {
        "stream_windowed_counts": lambda tag: drain(
            streaming_keyword_counts(spark, tw_drop, window="10 minutes"),
            f"kw_{tag}", "complete"),
        "stream_sessionize": lambda tag: drain(
            SS.streaming_sessions(SS.read_event_stream(spark, ev_drop),
                                  gap="30 minutes"),
            f"sess_{tag}", "append"),
        "stream_stream_join": lambda tag: drain(
            SJ.attribution_join(SJ.read_typed_event_stream(spark, ev_drop),
                                horizon="12 hours"),
            f"attr_{tag}", "append"),
        "stream_dedup": lambda tag: drain(
            SS.streaming_dedup(SS.read_event_stream(spark, ev_drop),
                               watermark="1 hour"),
            f"dedup_{tag}", "append"),
        # deduplicating ingestion: drop -> corpus append + content
        # index maintenance inside foreachBatch (streaming/ingest.py)
        "stream_ingest_dedup": ingest_run,
        # near-duplicate ingestion: banded MinHash index probe +
        # exact-Jaccard verification of collisions, per micro-batch
        "stream_ingest_neardup": neardup_run,
        # rollup maintenance: lake append + touched-date recompute
        "stream_rollup_ingest": rollup_run,
        # anomaly alerting over the streamed rollup
        "stream_anomaly_alerts": alerts_run,
        # decontaminating ingestion: build-once Bloom prefilter probed
        # per batch, clean/quarantine routing
        "stream_ingest_decontaminate": decon_run,
        # constant-state CM-sketch maintenance (merge per micro-batch)
        "stream_sketch_ingest": sketch_run,
    }

    # One shape at a time (warm-up, then its timed drains), each timed
    # drain after harness.scrub: without the scrub the late-running
    # heavy rows (rollup family, neardup steady drains) read 2-3x their
    # isolated cost in-sweep — the r12 false-breach signature (in-sweep
    # 18.0/22.3 vs isolated 12.5/10.9 on an idle box). Disk state
    # (lakes, indexes, checkpoints) is untouched, so the steady-state
    # sections below still measure exactly the incremental economics.
    tags = itertools.count()

    def run(name: str) -> None:
        shapes[name](f"{name}_{next(tags)}")

    timings = {name: harness.best_of(spark, [name], run)[name]["min_sec"]
               for name in shapes}

    # Steady-state economics (BASELINE.md round-6 note: unshowable in
    # a single drain, where one batch touching every date IS a full
    # rebuild). Three drains against ONE checkpoint/lake: drain 1
    # ingests the whole corpus; drains 2-3 each ingest a small late
    # batch touching one date, so the partition-scoped refresh should
    # cost a small fraction of drain 1 — the per-batch cost
    # proportional to the BATCH, not the corpus. Run once (the cost
    # RATIO is the signal, not the absolute number); correctness of
    # the only-touched-partitions rewrite is pinned separately in
    # tests/test_maintenance.py.
    def seed_drop(src: str, base: str) -> str:
        """A fresh drop dir under ``base`` holding ``src``'s files."""
        drop = os.path.join(base, "drop")
        os.makedirs(drop, exist_ok=True)
        for f in os.listdir(src):
            if not f.startswith("_"):
                shutil.copy(os.path.join(src, f), os.path.join(drop, f))
        return drop

    def write_late(drop: str, fname: str, records: list[dict]) -> None:
        with open(os.path.join(drop, fname), "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in records) + "\n")

    def once(key: str, fn, *args, **kwargs) -> None:
        timings[key], _ = harness.timed(spark, fn, spark, *args, **kwargs)

    ss_base = os.path.join(root, "rollup_steady")
    ss_drop = seed_drop(ev_drop, ss_base)
    ev = load_table(spark, SF_DIR, "events")
    last_day = ev.agg(F.max(F.to_date("ts"))).first()[0]  # 1-row collect
    ss_kwargs = dict(
        lake_path=os.path.join(ss_base, "lake"),
        index_path=os.path.join(ss_base, "index"),
        rollup_path=os.path.join(ss_base, "rollup"),
        grain="hour",
        schema=EVENT_SCHEMA,
        checkpoint=os.path.join(ss_base, "ckpt"))
    for n_drain in (1, 2, 3):
        if n_drain > 1:
            # a late micro-batch: 500 events, all on the last date
            write_late(ss_drop, f"late{n_drain}.json", [{
                "event_id": 10_000_000 * n_drain + i,
                "ts": f"{last_day}T1{n_drain}:{i % 60:02d}:00.000Z",
                "user_id": i % 97, "event_type": "late_click",
                "value": 1.0} for i in range(500)])
        once(f"stream_rollup_steady_drain{n_drain}",
             streaming_rollup_ingest, ss_drop, **ss_kwargs)

    # Near-dup twin of the steady-state story: the persistent band
    # index makes a late micro-batch cost one (band, bh) equi-join
    # against the index — batch-proportional work — while drain 1
    # pays the full-corpus build. If drains 2-3 ever approach drain 1,
    # the index stopped doing its job (e.g. a corpus rescan crept in).
    nd_base = os.path.join(root, "neardup_steady")
    nd_drop = seed_drop(doc_drop, nd_base)
    nd_kwargs = dict(
        corpus_path=os.path.join(nd_base, "corpus"),
        band_index_path=os.path.join(nd_base, "index"),
        checkpoint=os.path.join(nd_base, "ckpt"))
    for n_drain in (1, 2, 3):
        if n_drain > 1:
            write_late(nd_drop, f"late{n_drain}.json", [{
                "doc_id": 10_000_000 * n_drain + i,
                "text": f"late document {n_drain} {i} about spark "
                        f"bands buckets and steady state economics"}
                for i in range(200)])
        once(f"stream_neardup_steady_drain{n_drain}",
             streaming_ingest_neardup, nd_drop, **nd_kwargs)

    # Two-tier steady state (round 11): after
    # maintenance.fold_index_bucketed compacts the accumulated delta
    # partitions into the content_key-bucketed base table, a late
    # micro-batch probes base + delta on separate plan branches
    # (streaming/ingest.py:streaming_ingest_dedup base_index_table).
    # Rows: the fold itself (corpus-proportional by design — the
    # amortized maintenance, like compaction drain1 below) and two
    # late drains over the folded base, which must sit at the same
    # batch-proportional floor as the single-tier late-drain cost or
    # the base probe added a per-trigger penalty. Zero-dup
    # correctness of exactly this sequence is pinned in
    # tests/test_maintenance.py's drain-fold-drain roundtrip.
    tt_base = os.path.join(root, "twotier_steady")
    tt_drop = seed_drop(doc_drop, tt_base)
    tt_kwargs = dict(
        corpus_path=os.path.join(tt_base, "corpus"),
        index_path=os.path.join(tt_base, "index"),
        checkpoint=os.path.join(tt_base, "ckpt"))
    spark.sql("DROP TABLE IF EXISTS bench_fold_base")
    # drain 1 = the full single-tier build (same workload class as
    # stream_ingest_dedup, re-timed here so the triplet is
    # self-contained like the other steady-state triplets)
    once("stream_ingest_twotier_drain1",
         streaming_ingest_dedup, tt_drop, **tt_kwargs)
    once("stream_ingest_fold",
         fold_index_bucketed, tt_kwargs["index_path"], "bench_fold_base")
    for n_drain in (2, 3):
        write_late(tt_drop, f"late{n_drain}.json", [{
            "doc_id": 20_000_000 * n_drain + i,
            "text": f"two tier late doc {n_drain} {i} probing the "
                    f"folded bucketed base"} for i in range(200)])
        once(f"stream_ingest_twotier_drain{n_drain}",
             streaming_ingest_dedup, tt_drop,
             base_index_table="bench_fold_base", **tt_kwargs)
    spark.sql("DROP TABLE IF EXISTS bench_fold_base")

    # Lake-compaction economics (round-8 verdict directive 6): the
    # appending rollup lake above has one file generation per drain;
    # production compacts it. Triplet mirrors the rollup steady-state
    # semantics: drain 1 = the one-time FULL-lake compaction after the
    # initial build (corpus-proportional — which is exactly why it is
    # amortized "every N drains", sources/maintenance.py docstring);
    # drains 2-3 = a late micro-batch followed by a PARTITION-SCOPED
    # compaction of only the touched event_date directory — the
    # batch-proportional maintenance a steady-state deployment
    # actually runs. Correctness of the partitioned layout + rewrite
    # is pinned in tests/test_maintenance.py; this records the cost.
    lake = ss_kwargs["lake_path"]
    once("stream_compaction_steady_drain1", compact_parquet, lake,
         target_file_mb=128, partition_by=["event_date"])
    for n_drain in (2, 3):
        write_late(ss_drop, f"late_c{n_drain}.json", [{
            "event_id": 20_000_000 * n_drain + i,
            "ts": f"{last_day}T0{n_drain}:{i % 60:02d}:00.000Z",
            "user_id": i % 89, "event_type": "late_compact",
            "value": 1.0} for i in range(500)])
        streaming_rollup_ingest(spark, ss_drop, **ss_kwargs)  # untimed
        part_dir = os.path.join(lake, f"event_date={last_day}")
        once(f"stream_compaction_steady_drain{n_drain}",
             compact_parquet, part_dir, target_file_mb=128)

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "metric": "streaming_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": harness.sf_value(),
    }))


if __name__ == "__main__":
    main()
