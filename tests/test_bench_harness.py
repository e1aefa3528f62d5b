"""Bench-harness honesty: the evaluator must keep the whole plan
load-bearing.

Round-7 finding: a bare ``count()`` evaluator let Catalyst drop
provably-unique-side joins (triangles, funnel), projection-only
windows (as-of, SCD2, gini) and aggregate measure expressions — q1's
"record" turned out to time a 3-column distinct instead of its 7
decimal sums. bench.py therefore evaluates every non-top-k row through
a ``bit_xor(xxhash64(*all_columns))`` aggregate, which makes every
output column — and hence every join, window, and measure that feeds
one — impossible to prune. This module pins both halves: the count()
failure mode still exists (so the fix stays motivated), and the hash
evaluator (``harness.hash_frame``) provably preserves the plan for
every headline row. It also pins that the timing scripts share that
one harness, and the ``get_spark`` conf precedence the harness's
session relies on.
"""

from __future__ import annotations

import glob
import os

import pytest

import bench
import harness
from twitter_analysis_spark import catalog

#: Rows the round-7 audits caught under-timed by the count() evaluator
#: (joins or windows dropped), kept as the class's regression witness.
KNOWN_COUNT_PRUNED = [
    "funnel_conversion", "dedup_semantic", "text_bigram_xent",
    "sketch_countmin_topk", "dedup_incremental",
    "text_sentiment_lexicon", "j6_asof_join", "scd2_intervals",
    "a20_gini_concentration", "ts_peak_concurrency",
]


def _shape(df) -> tuple[int, int, int]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return (plan.count("Join"), plan.count("Window"), plan.count("sum("))


def test_count_evaluator_still_prunes_known_rows(spark, sf_dir):
    """The failure mode is real: under count(), each witness row loses
    a join or a window (if Spark ever stops pruning these, the hash
    evaluator becomes optional — revisit, don't delete)."""
    still_pruned = 0
    for name in KNOWN_COUNT_PRUNED:
        df = catalog.QUERIES[name](spark, sf_dir)
        jf, wf, _ = _shape(df)
        jc, wc, _ = _shape(df.groupBy().count())
        if jc < jf or wc < wf:
            still_pruned += 1
        spark.catalog.clearCache()
    assert still_pruned >= len(KNOWN_COUNT_PRUNED) - 2, still_pruned


def test_hash_evaluator_keeps_q1_measures(spark, sf_dir):
    """q1: count() drops all 7 decimal sums; the hash evaluator keeps
    them (the concrete row that motivated the round-7 re-basing)."""
    df = catalog.QUERIES["q1_pricing_summary"](spark, sf_dir)
    _, _, s_full = _shape(df)
    _, _, s_cnt = _shape(df.groupBy().count())
    _, _, s_hash = _shape(harness.hash_frame(df))
    assert s_cnt < s_full <= s_hash


def test_hash_evaluator_preserves_every_headline_plan(spark, sf_dir):
    """Sweep all headline rows: the hash evaluation keeps every join
    and window of the full plan — no row can be silently under-timed
    again, no matter what shape a future query takes."""
    extra = bench._extra_queries()
    offenders = []
    for name in bench.HEADLINE:
        fn = extra.get(name) or catalog.QUERIES.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        jf, wf, _ = _shape(df)
        jh, wh, _ = _shape(harness.hash_frame(df))
        if jh < jf or wh < wf:
            offenders.append(name)
        spark.catalog.clearCache()
    assert offenders == [], offenders


def test_compact_line_bounded_under_mass_regression():
    """The printed artifact line must fit the driver's ~2000-char
    stdout capture EVEN when the regressions array is huge — the
    heavily-regressed run is exactly the one whose artifact matters
    most (round-7 advice: the old shrink loop only trimmed queries,
    so 13+ regression entries overflowed and printed an over-budget
    line anyway)."""
    import json as _json

    timings = {f"query_{i:03d}": round(0.1 * i, 3) for i in range(120)}
    regs = [{"query": f"query_{i:03d}", "sec": 9.9, "normalized_sec": 6.9,
             "record_sec": 1.0, "rule": "normalized > 2x record"}
            for i in range(40)]
    artifact = {
        "metric": "headline_queries_total", "value": 123.456,
        "unit": "sec", "n_queries": len(timings), "queries": timings,
        "controls": {"q1": 1.24}, "control_factor": 1.44,
        "regressions": regs, "sf": 0.1,
    }
    line = bench.compact_line(artifact)
    assert len(line) <= 1900
    parsed = _json.loads(line)
    # envelope survives; truncations are recorded, not silent
    assert parsed["value"] == 123.456
    assert parsed["control_factor"] == 1.44
    assert parsed["regressions_truncated"] + len(parsed["regressions"]) \
        == len(regs)
    # worst-first means what remains is the most useful subset
    if parsed["regressions"]:
        assert parsed["regressions"][0]["sec"] == 9.9


def test_compact_line_empty_timings_no_crash():
    """Zero queries (a catastrophically failed run) must still print a
    parseable line, not raise UnboundLocalError."""
    import json as _json

    artifact = {"metric": "headline_queries_total", "value": 0.0,
                "unit": "sec", "n_queries": 0, "queries": {},
                "controls": {}, "control_factor": 1.0,
                "regressions": [], "sf": 0.1}
    parsed = _json.loads(bench.compact_line(artifact))
    assert parsed["n_queries"] == 0


def test_compact_line_oversized_envelope_falls_back_to_summary():
    """When the envelope alone (a pathological controls dict) exceeds
    the budget, the shrink loop used to exit at n=-1 with the last
    over-budget line — reproducing the parsed:null failure it exists
    to prevent (round-8 ADVICE). The last-resort branch must emit a
    minimal summary envelope that parses and fits."""
    import json as _json

    artifact = {
        "metric": "headline_queries_total", "value": 9.0, "unit": "sec",
        "n_queries": 1, "queries": {"q": 9.0},
        # a controls dict big enough that no amount of query/regression
        # trimming can save the line
        "controls": {f"ctl_{i:04d}": {"sec": 1.0, "record": 1.0,
                                      "factor": 1.0} for i in range(100)},
        "control_factor": 1.5,
        "regressions": [{"query": "q", "sec": 9.0,
                         "rule": "normalized > 2x record"}],
        "sf": 0.1,
    }
    line = bench.compact_line(artifact, line_budget=400)
    assert len(line) <= 400
    parsed = _json.loads(line)
    assert parsed["value"] == 9.0
    assert parsed["control_factor"] == 1.5
    assert parsed["n_regressions"] == 1


def test_regression_slack_gated_to_noise_floor_records():
    """The +0.25s absolute slack applies ONLY below 0.2s records: a
    blanket slack let a 0.07s record tolerate ~5.6x before flagging
    (round-8 ADVICE); multi-second and mid-range rows keep the honest
    bare-2x gate. Pinned against the source, not a run: the rule is
    a one-line expression and this is its truth table."""
    import re

    src = open(bench.__file__).read()
    # the gate constant and threshold are present as written
    assert re.search(r'slack = 0\.25 if rec\["record_sec"\] < 0\.2'
                     r' else 0\.0', src)
    # truth table of the rule as implemented
    def flags(record, normalized):
        slack = 0.25 if record < 0.2 else 0.0
        return normalized > 2 * record + slack
    assert not flags(0.07, 0.38)   # noise-floor row keeps its slack
    assert flags(0.07, 0.40)       # ...but the slack is bounded
    assert flags(0.30, 0.61)       # mid-range row: bare 2x gate
    assert not flags(0.30, 0.59)
    assert flags(1.00, 2.01)       # multi-second row: bare 2x gate


def test_every_headline_row_has_a_baseline_record():
    """Round 7 found 2 headline rows with no BASELINE_RECORDS entry —
    rows the regression emitter silently never checks. Pin the
    coverage: every HEADLINE query (and bench-only twin) has a
    record, every record names a real row, and the pinned controls
    agree with the record map (a control whose record drifts from the
    map normalizes every other row wrong)."""
    import json as _json

    records = _json.load(open(os.path.join(
        os.path.dirname(bench.__file__), "BASELINE_RECORDS.json")))
    rows = set(bench.HEADLINE) | set(bench._extra_queries())
    assert [n for n in rows if n not in records["records"]] == []
    from twitter_analysis_spark import catalog
    stale = [n for n in records["records"]
             if n not in rows and n not in catalog.QUERIES]
    assert stale == [], stale
    for name, rec in bench.CONTROL_RECORDS.items():
        assert records["records"][name]["record_sec"] == rec, name


def test_every_streaming_shape_has_a_streaming_record():
    """Same coverage pin for bench_streaming.py: every shape and
    steady-state drain row it emits has a streaming_record, so a new
    pipeline can't ship unrecorded."""
    import json as _json
    import re as _re

    src = open(os.path.join(os.path.dirname(bench.__file__),
                            "bench_streaming.py")).read()
    emitted = set(_re.findall(r'"(stream_\w+)"', src))
    # f-string drain rows: expand the {n_drain} templates
    for tpl in _re.findall(r'f"(stream_\w+_drain)\{n_drain\}"', src):
        emitted |= {f"{tpl}{i}" for i in (1, 2, 3)}
    emitted = {n for n in emitted if not n.endswith("_drain")}
    records = _json.load(open(os.path.join(
        os.path.dirname(bench.__file__),
        "BASELINE_RECORDS.json")))["streaming_records"]
    assert sorted(emitted - set(records)) == []
    assert sorted(set(records) - emitted) == []


def test_timing_scripts_share_one_harness():
    """The session conf and the evaluator exist once, in harness.py:
    no timing script re-types the retention conf or the hash
    evaluator, so no two timing scripts can drift into measuring
    different things."""
    root = os.path.dirname(bench.__file__)
    paths = [os.path.join(root, "bench.py"),
             os.path.join(root, "bench_streaming.py"),
             *glob.glob(os.path.join(root, "tools", "*.py"))]
    copies = [(os.path.relpath(p, root), needle)
              for p in paths for needle in ("spark.ui.retainedTasks",
                                            "bit_xor(")
              if needle in open(p).read()]
    assert copies == [], copies
    src = open(harness.__file__).read()
    assert src.count("spark.ui.retainedTasks") == 1
    assert src.count("bit_xor(") == 1


def test_env_conf_does_not_override_explicit(monkeypatch):
    """An ambient SPARK_GRAFT_EXTRA_CONF must not override the caller's
    explicit extra_conf — harness.session passes its retention conf
    that way (r15 ADVICE)."""
    from twitter_analysis_spark import session as sess

    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF",
                       '{"spark.sql.shuffle.partitions": "7"}')
    # getOrCreate returns the live session; conf application order is
    # what we pin, via the builder's options rather than a new JVM.
    with pytest.warns(UserWarning, match="caller wins"):
        sp = sess.get_spark(
            "conf_order_test",
            extra_conf={"spark.sql.shuffle.partitions": "8"})
    # session already exists (tests fixture) -> builder applies conf
    # onto it; explicit caller value must win over the env JSON
    assert sp.conf.get("spark.sql.shuffle.partitions") == "8"


def test_env_conf_bad_json_names_the_var(monkeypatch):
    from twitter_analysis_spark import session as sess

    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "{not json")
    with pytest.raises(ValueError, match="SPARK_GRAFT_EXTRA_CONF"):
        sess.get_spark("conf_bad_json_test")
