"""Regenerate formatted physical plans (`df.explain("formatted")`) at
$SPARK_GRAFT_SF_DIR with AQE on — the plan-shape evidence the scale
review reads next to BENCH_r{N}.json.

Usage:
  python tools/gen_plans.py
      docs/PLANS.md: every bench.HEADLINE query plus the rows-only
      EXTRAS below, from this checkout.
  python tools/gen_plans.py ROW [ROW ...]
      plans/work/<ROW>.txt per named catalog row, from this checkout.
  python tools/gen_plans.py --rev COMMIT [ROW ...]
      plans/<short-sha>/<ROW>.txt per named row (default: the
      PLANS.md row set), built from COMMIT's sources inside a
      temporary `git worktree` that is removed afterwards.

A before/after plan diff for an optimization is
`gen_plans.py --rev <pre-change commit> ROWS` next to
`gen_plans.py ROWS`, then `diff -r plans/<sha> plans/work`
(plans/r15 and plans/r16 hold earlier rounds' pairs).
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADER = """# PLANS — physical plans of the headline queries (sf0.1, AQE on)

Generated from `df.explain("formatted")` over every `bench.HEADLINE` query
(`python tools/gen_plans.py`).
What to look for, per the scale design rules in README.md: filters and
projections reaching the `FileScan` (PushedFilters / ReadSchema),
dimensions as `BroadcastHashJoin`, top-k as `TakeOrderedAndProject`
(never a global Sort), aggregates split partial/final, and `Exchange`
only where a shuffle is semantically required.
"""

#: Rows-only / non-bench queries whose plans still carry scale signal.
EXTRAS = ["t7_pagination", "f2_nested_hashtag_path"]


def plans(rows: list[str]) -> dict[str, str]:
    """Formatted plan per row (default: bench.HEADLINE + EXTRAS), from
    whichever source tree is first on sys.path."""
    from twitter_analysis_spark import catalog
    from twitter_analysis_spark.session import get_spark

    spark = get_spark(app_name="plans", master="local[8]",
                      extra_conf={"spark.sql.shuffle.partitions": "32",
                                  "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    if not rows:
        import bench
        rows = [n for n in bench.HEADLINE + EXTRAS if n in catalog.QUERIES]
    out = {}
    for name in rows:
        df = catalog.QUERIES[name](spark, SF_DIR)
        out[name] = (df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
    return out


def write_rows(found: dict[str, str], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, plan in found.items():
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
    print(f"wrote {out_dir}: {len(found)} plans")


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Regenerate docs/PLANS.md or per-row plan files.")
    ap.add_argument("rows", nargs="*", help="catalog rows (default: all)")
    ap.add_argument("--rev", help="build the plans from this commit")
    args = ap.parse_args()

    if args.rev is None and not args.rows:
        found = plans([])
        path = os.path.join(ROOT, "docs", "PLANS.md")
        with open(path, "w") as f:
            f.write(HEADER + "".join(
                f"\n## {name}\n\n```\n{plan.rstrip()}\n```\n"
                for name, plan in found.items()))
        print(f"wrote {path}: {len(found)} plans")
    elif args.rev is None:
        write_rows(plans(args.rows), os.path.join(ROOT, "plans", "work"))
    else:
        def git(*cmd: str) -> str:
            return subprocess.run(["git", "-C", ROOT, *cmd], check=True,
                                  capture_output=True, text=True).stdout
        sha = git("rev-parse", "--short", args.rev).strip()
        with tempfile.TemporaryDirectory(prefix="gen_plans_") as tmp:
            src = os.path.join(tmp, sha)
            git("worktree", "add", "--detach", src, sha)
            try:
                sys.path.insert(0, src)
                found = plans(args.rows)
            finally:
                git("worktree", "remove", "--force", src)
        write_rows(found, os.path.join(ROOT, "plans", sha))


if __name__ == "__main__":
    main()
