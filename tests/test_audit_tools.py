"""Unit pins for the audit tooling (tools/oracle_stability.py,
tools/skew_bench.py, tools/scale_probe.py): the pure helpers these
tools' evidence rests on.
The tools themselves are exercised by their recorded artifact runs
(ORACLE_STABILITY_r15 / BENCH_SKEW_r15); these tests keep the helper
semantics from rotting between runs.
"""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stability_hash_is_order_insensitive():
    st = _load("oracle_stability")
    base = st._hash_result(["a", "b"], [(1, "x"), (2, "y"), (None, "z")])
    # row order must not matter (the driver compares sorted multisets)
    assert st._hash_result(["a", "b"],
                           [(None, "z"), (2, "y"), (1, "x")]) == base
    # column order must not matter either — columns are sorted by name
    assert st._hash_result(["b", "a"],
                           [("x", 1), ("y", 2), ("z", None)]) == base
    # but values must
    assert st._hash_result(["a", "b"], [(1, "x"), (2, "y"), (3, "z")]) != base


def test_stability_hash_normalizes_like_parity():
    from decimal import Decimal
    st = _load("oracle_stability")
    # Decimal vs float and NaN forms hash equal, as in tests/parity
    assert (st._hash_result(["v"], [(Decimal("1.50"),)])
            == st._hash_result(["v"], [(1.5,)]))
    assert (st._hash_result(["v"], [(float("nan"),)])
            == st._hash_result(["v"], [(float("nan"),)]))


def test_window_regex_selects_the_window_oracles():
    st = _load("oracle_stability")
    assert st.WINDOW_RE.search("SELECT rank() OVER (ORDER BY x) FROM t")
    assert st.WINDOW_RE.search("sum(v) over\n  (partition by k)")
    assert not st.WINDOW_RE.search("SELECT recover(x) FROM t")
    # every catalog window oracle is selected: the r15 sweep probed 36
    import __spark_entry__ as E
    n = sum(1 for s in E.oracle_sql().values() if st.WINDOW_RE.search(s))
    assert n >= 36


def test_part_hist_reports_imbalance(spark):
    from pyspark.sql import functions as F
    sb = _load("skew_bench")
    # 900 rows on one key + 100 spread: max/mean over 8 partitions
    # must report the hot key's concentration
    df = (spark.range(1000)
          .select("id",
                  F.when(F.col("id") < 900, F.lit(0))
                  .otherwise(F.col("id")).alias("k")))
    h = sb._part_hist(df, ["k"], n=8)
    assert h["max_rows"] >= 900
    assert h["mean_rows"] == 125
    assert h["imbalance_max_over_mean"] >= 7.0
    # salting the same frame must spread it (per-row id scatters the
    # hot key across salts, exactly salted_join's scatter column)
    salted = df.withColumn("_s", F.pmod(F.xxhash64("id"), F.lit(8)))
    hs = sb._part_hist(salted, ["k", "_s"], n=8)
    assert hs["imbalance_max_over_mean"] < h["imbalance_max_over_mean"]


def test_scale_probe_run_refreshes_stale_artifact(tmp_path, monkeypatch):
    """run() merges into an existing artifact: the top-level metadata
    must describe THIS run, and an old-format file without "rows" must
    not raise."""
    import json

    sp = _load("scale_probe")
    art = tmp_path / "probe.json"
    art.write_text(json.dumps({"probe_dir": "/stale/dir", "passes": 9}))
    monkeypatch.setattr(sp, "ART", str(art))
    monkeypatch.setattr(sp, "_time_one", lambda name, cores: float(cores))
    sp.run([8, 32])
    out = json.loads(art.read_text())
    assert out["probe_dir"] == sp.OUT_DIR
    assert out["passes"] == 2
    assert set(out["rows"]) == set(sp.QUERIES)
    for row in out["rows"].values():
        assert row == {"c8": 8.0, "c32": 32.0, "ratio_8_over_32": 0.25}
