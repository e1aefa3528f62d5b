"""Shared timing harness for ``bench.py``, ``bench_streaming.py`` and the
timing tools (``tools/profile_bench.py``, ``tools/scale_probe.py``,
``tools/skew_bench.py``).

Three pieces live here and nowhere else:

- ``session``: the engine session (``session.get_spark``) with the
  status-store retention trimmed for long timed runs;
- ``evaluate``: the evaluator that makes a row's whole plan
  load-bearing (top-k rows collect, every other row hashes all columns);
- ``best_of``: untimed warm-up, then ``PASSES`` timed passes with
  ``clearCache()`` and a driver ``System.gc()`` before each run,
  keeping the per-key minimum.

Environment knobs (shared by every script that imports this module):
  SPARK_GRAFT_SF_DIR  parquet dir (default: sources.io.DEFAULT_SF_DIR)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
"""

from __future__ import annotations

import os
import time

from twitter_analysis_spark.sources.io import DEFAULT_SF_DIR

SF_DIR = DEFAULT_SF_DIR
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: Timed passes per key. Single-pass timings on the record box swing
#: ±50% run-to-run with zero code change (A/B-verified against pinned
#: commits), and min-of-N is the standard noise-floor estimator — the
#: engine can't run FASTER than its true cost, so the minimum is the
#: measurement least polluted by transient machine state.
PASSES = 2

#: Rows whose result is a bounded top-k: collecting it is already a
#: full, honest evaluation — and what a caller would do.
TOPK_PREFIXES = ("t1", "t6", "flagship", "q3", "a2", "sim")

#: Status-store retention is trimmed hard: even with the UI off,
#: AppStatusListener + SQLAppStatusListener retain per-execution plan
#: graphs and per-task metric rows (defaults: 1000 executions / 1000
#: stages / 100k tasks). Over the ~70 plan executions of a warmup+timed
#: run that accumulation degrades the JVM enough to inflate late heavy
#: queries ~2x (measured: dedup_minhash_lsh 6.9s isolated vs 14.2s as
#: query 17 of a stock-config pass).
RETENTION_CONF = {
    "spark.driver.memory": "16g",
    "spark.ui.enabled": "false",
    "spark.sql.ui.retainedExecutions": "2",
    "spark.ui.retainedJobs": "20",
    "spark.ui.retainedStages": "50",
    "spark.ui.retainedTasks": "500",
    "spark.ui.dagGraph.retainedRootRDDs": "10",
    "spark.cleaner.periodicGC.interval": "30s",
}


def sf_value() -> float | str:
    """The scale factor ``SF_DIR`` names (``.../sf0.1`` -> 0.1)."""
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def session(app_name: str, cpus: str | int = CPUS,
            extra_conf: dict[str, str] | None = None):
    """The engine session at ``local[cpus]`` with ``RETENTION_CONF``;
    ``extra_conf`` entries win over it (and, through ``get_spark``,
    over ``SPARK_GRAFT_EXTRA_CONF``)."""
    from twitter_analysis_spark.session import get_spark

    spark = get_spark(app_name=app_name, master=f"local[{cpus}]",
                      extra_conf={**RETENTION_CONF, **(extra_conf or {})})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def hash_frame(df):
    """One-row frame: ``bit_xor`` over ``xxhash64`` of every output
    column. A bare ``count()`` lets Catalyst drop provably-unique-side
    joins, projection-only windows, aggregate measure expressions, and
    the scan columns that feed them — q1's "record" once timed a
    3-column distinct, not its 7 decimal sums. Hashing every output
    column makes the entire plan load-bearing; ``bit_xor``, not sum,
    because ANSI mode makes a long-sum of hashes overflow-fatal and xor
    forces evaluation just as well. One long per row to the aggregate,
    no wide collect."""
    from pyspark.sql import functions as F

    return (df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("h"))
            .agg(F.expr("bit_xor(h)")))


def evaluate(df, name: str = ""):
    """Run ``df`` to completion the way the bench times row ``name``:
    collect a top-k row, hash every other row. Returns the collected
    rows (for a hashed row, one row holding the hash)."""
    if name.startswith(TOPK_PREFIXES):
        return df.collect()
    return hash_frame(df).collect()


def scrub(spark) -> None:
    """Between-run hygiene, outside every timer. Operators that
    persist() intermediates (LSH candidate sets) would otherwise
    accumulate storage across the session and skew later timings by
    2-3x. ``clearCache()`` does NOT release localCheckpoint blocks
    (minhash banded/cand barriers) — those free when the
    ContextCleaner GCs the result frame, which this full driver GC plus
    ``spark.cleaner.periodicGC.interval=30s`` keep bounded. The GC also
    reclaims broadcast / accumulator blocks, which the driver's 16g
    heap otherwise never fills enough to collect — each run would then
    pay earlier runs' garbage instead of its own plan."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def timed(spark, fn, *args, **kwargs) -> tuple[float, object]:
    """``scrub``, then one timed call: (seconds to the ms, result)."""
    scrub(spark)
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return round(time.perf_counter() - t0, 3), out


def best_of(spark, keys, run) -> dict[str, dict]:
    """Time ``run(key)`` for every key: one untimed warm-up pass over
    all keys (class loading + whole-stage codegen compile each plan
    shape once; first-run inflation is ~10x; the cache is cleared after
    each key), then ``PASSES`` timed passes of ``timed`` runs.

    Returns ``{key: {"runs": [sec, ...], "min_sec": sec, **extra}}``
    where ``extra`` is the dict ``run`` returned on its fastest timed
    run (``run`` may return None)."""
    for key in keys:
        run(key)
        spark.catalog.clearCache()
    best: dict[str, dict] = {}
    for _ in range(PASSES):
        for key in keys:
            sec, extra = timed(spark, run, key)
            rec = best.setdefault(key, {"runs": []})
            rec["runs"].append(sec)
            if "min_sec" not in rec or sec < rec["min_sec"]:
                rec.update(extra or {}, min_sec=sec)
    return best
