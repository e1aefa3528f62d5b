"""Oracle-stability probe for DuckDB window nondeterminism (hazard 21).

docs/SCALE.md hazard 21: DuckDB 1.0.0 window ORDER BY over a
NULL-bearing sort key fed by an inlined aggregate CTE places the NULL
rows nondeterministically — run-to-run, even with explicit NULLS FIRST.
The pinned oracles work around it with null-free sort keys
(`(k IS NOT NULL), COALESCE(k, const)`) and MATERIALIZED feeding CTEs,
but until now verifying a fix meant manually rerunning the compare 4-6
times. This tool makes that evidence mechanical: it executes every
window-bearing oracle N times on a NULL-injected copy of the testdata
(the hazard does not fire on null-free input) through a FRESH DuckDB
connection per run, normalizes each result to the same order-insensitive
multiset the driver hashes, and reports any oracle whose hash varies.

Run: python tools/oracle_stability.py              (~2 min, all OVER() oracles)
     python tools/oracle_stability.py name1 name2  (only those rows)
     SPARK_GRAFT_STAB_RUNS=10 python tools/oracle_stability.py
     SPARK_GRAFT_NULL_RATE=10 python tools/oracle_stability.py (denser nulls)
Writes artifacts/ORACLE_STABILITY_<tag>.json when
SPARK_GRAFT_STAB_TAG is set. Exit code 1 iff any oracle is unstable,
so a future DuckDB upgrade or a new window row fails loudly.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# parity's own cell normalisation, so the hash reflects what the driver sees
from tests.parity import _norm, duck_connection, inject_nulls  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_NULL_SRC", "/root/testdata/sf0.001")
RATE = int(os.environ.get("SPARK_GRAFT_NULL_RATE", "10"))
RUNS = int(os.environ.get("SPARK_GRAFT_STAB_RUNS", "6"))
TAG = os.environ.get("SPARK_GRAFT_STAB_TAG", "")
WINDOW_RE = re.compile(r"\bOVER\s*\(", re.IGNORECASE)


def _hash_result(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mset = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return hashlib.sha256(repr((sorted(cols), mset)).encode()).hexdigest()[:16]


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    osql = E.oracle_sql()
    only = set(sys.argv[1:])
    if only:
        unknown = only - set(osql)
        if unknown:
            print("unknown oracle names:", sorted(unknown))
        targets = {n: s for n, s in osql.items() if n in only}
    else:
        targets = {n: s for n, s in osql.items() if WINDOW_RE.search(s)}
    print(f"probing {len(targets)} window-bearing oracles x {RUNS} runs "
          f"(null rate 1/{RATE}, src {SRC})")

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    dst = tempfile.mkdtemp(prefix="stabdata_")
    report = {"src": SRC, "rate": RATE, "runs": RUNS, "oracles": {}}
    unstable = []
    try:
        inject_nulls(spark, SRC, dst, rate=RATE)
        for name, sql in sorted(targets.items()):
            hashes, err = [], None
            for _ in range(RUNS):
                con = duck_connection(dst)  # fresh connection per run
                try:
                    res = con.execute(sql)
                    cols = [d[0].lower() for d in res.description]
                    hashes.append(_hash_result(cols, res.fetchall()))
                except Exception as exc:  # noqa: BLE001 — report, don't die
                    err = str(exc).splitlines()[0][:160]
                    break
                finally:
                    con.close()
            if err:
                report["oracles"][name] = {"status": "error", "error": err}
                unstable.append(name)
                print(f"  ERROR    {name} -- {err}")
            elif len(set(hashes)) == 1:
                report["oracles"][name] = {"status": "stable",
                                           "hash": hashes[0]}
                print(f"  stable   {name}")
            else:
                report["oracles"][name] = {"status": "UNSTABLE",
                                           "hashes": hashes}
                unstable.append(name)
                print(f"  UNSTABLE {name} -- {len(set(hashes))} distinct "
                      f"hashes over {RUNS} runs: {hashes}")
    finally:
        shutil.rmtree(dst, ignore_errors=True)

    n_stable = sum(1 for v in report["oracles"].values()
                   if v["status"] == "stable")
    print(f"oracle stability: {n_stable} stable / {len(unstable)} unstable "
          f"of {len(targets)}")
    if TAG:
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "artifacts",
            f"ORACLE_STABILITY_{TAG}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print("wrote", path)
    return 1 if unstable else 0


if __name__ == "__main__":
    sys.exit(main())
