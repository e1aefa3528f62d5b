"""Per-query profiling for the optimization round: splits each bench
query's wall clock into DataFrame-construction time (Catalyst plan
building over py4j) vs execution time (the bench evaluator), and
counts the Spark jobs each evaluation launches.

Session, evaluator and warm-up/min-of-2 loop are bench.py's (the
shared harness.py), so the numbers are comparable with BENCH_*.json
rows; this tool only ADDS the construction/execution split and the
job counts. Not a replacement for bench.py — a diagnosis tool
(guide §1).

Usage:
  BENCH_QUERIES=graph_pagerank,dedup_clusters_star python tools/profile_bench.py
Env knobs identical to bench.py (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS),
plus PROFILE_OUT (json path).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402

OUT = os.environ.get("PROFILE_OUT", "")


def main() -> None:
    import bench

    fns = bench.rows()
    spark = harness.session("profile_bench")
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def profile(name: str) -> dict:
        n0 = dag.numTotalJobs()
        t0 = time.perf_counter()
        df = fns[name](spark, harness.SF_DIR)
        t1 = time.perf_counter()
        harness.evaluate(df, name)
        t2 = time.perf_counter()
        return {"construct_sec": round(t1 - t0, 3),
                "exec_sec": round(t2 - t1, 3),
                "total_sec": round(t2 - t0, 3),
                "n_jobs": dag.numTotalJobs() - n0}

    results = {name: {k: r[k] for k in ("construct_sec", "exec_sec",
                                        "total_sec", "n_jobs")}
               for name, r in harness.best_of(spark, list(fns),
                                              profile).items()}

    out = {"sf_dir": harness.SF_DIR, "cpus": harness.CPUS,
           "passes": harness.PASSES,
           "total_sec": round(sum(r["total_sec"]
                                  for r in results.values()), 3),
           "construct_sec": round(sum(r["construct_sec"]
                                      for r in results.values()), 3),
           "queries": dict(sorted(results.items(),
                                  key=lambda kv: -kv[1]["total_sec"]))}
    line = json.dumps(out)
    print(line)
    if OUT:
        with open(OUT, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
