"""Per-layer metrics of a traced run, from its spans and event log.

Jobs and task metrics belong to the job group of the innermost span
open when the job started; a span's totals include its descendants.
Counts are per operation means (they repeat exactly across runs of one
seed); times are medians over spans unless named as per-op sums.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from workloads import CORPUS_ROWS

_PHASES_PLAN = ("optimization", "planning")
_TASK_KEYS = ("tasks", "task_run_ms", "task_deser_ms", "gc_ms",
              "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "output_bytes", "json_scans", "jobs")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


class SpanTotals:
    def __init__(self, spans: list[dict], groups: dict[str, dict]):
        self.spans = spans
        kids = defaultdict(list)
        for s in spans:
            kids[s["parent"]].append(s)
        self._kids = kids
        self._groups = groups
        self._memo: dict[str, dict] = {}

    def total(self, s: dict) -> dict:
        g = s["group"]
        if g not in self._memo:
            out = {k: self._groups.get(g, {}).get(k, 0.0) for k in _TASK_KEYS}
            for c in self._kids[g]:
                for k, v in self.total(c).items():
                    out[k] += v
            self._memo[g] = out
        return self._memo[g]

    def named(self, name: str, phases=("window", "probe")) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["phase"] in phases and s["traced"]]


def _ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


def _plan_ms(s: dict) -> float:
    return sum(s.get("phases", {}).values())


def per_layer(run: dict, groups: dict, overhead: dict) -> dict:
    t = SpanTotals(run["tracer"].spans, groups)
    m: dict[str, tuple[float, str]] = {}

    m["session.start_ms"] = (run["session_starts_ms"][0], "ms")     # the cold start

    # ETL: the loads that fill the search stores (set-up or probe).
    loads = t.named("etl.pipeline.run_etl", phases=("setup", "probe"))
    lt = [t.total(s) for s in loads]
    raw = [s["raw_bytes"] for s in loads]
    m["sources.tweets_raw.scans_per_load"] = (_mean([x["json_scans"] for x in lt]), "count")
    m["sources.tweets_raw.input_bytes_per_raw_byte"] = (
        _mean([x["input_bytes"] / b for x, b in zip(lt, raw)]), "ratio")
    for k, unit in (("jobs", "count"), ("tasks", "count")):
        m[f"etl.pipeline.{k}_per_load"] = (_mean([x[k] for x in lt]), unit)
    for k, unit in (("task_run_ms", "ms"), ("task_deser_ms", "ms"), ("gc_ms", "ms"),
                    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
        m[f"etl.pipeline.{k}"] = (_mean([x[k] for x in lt]), unit)
    m["etl.pipeline.output_bytes_per_raw_byte"] = (
        _mean([x["output_bytes"] / b for x, b in zip(lt, raw)]), "ratio")

    # search operators, per request
    reqs = [t.total(s) for s in t.named("request")]
    execs = t.named("operators.search.exec")
    m["operators.search.build_ms"] = (_median([_ms(s) for s in t.named("operators.search.build")]), "ms")
    m["operators.search.plan_ms"] = (_median([_plan_ms(s) for s in execs]), "ms")
    m["operators.search.exec_ms"] = (_median(
        [_ms(s) - sum(s.get("phases", {}).get(p, 0.0) for p in _PHASES_PLAN) for s in execs]), "ms")
    m["operators.search.jobs_per_req"] = (_mean([x["jobs"] for x in reqs]), "count")
    m["operators.search.tasks_per_req"] = (_mean([x["tasks"] for x in reqs]), "count")
    m["operators.search.task_deser_ms_per_req"] = (_mean([x["task_deser_ms"] for x in reqs]), "ms")
    m["operators.search.input_bytes_per_req"] = (_mean([x["input_bytes"] for x in reqs]), "bytes")

    # memo
    memo = t.named("plans.memo.get_or_compute")
    hits = [s for s in memo if s["hit"]]
    misses = [s for s in memo if not s["hit"]]
    m["plans.memo.hit_ratio"] = (len(hits) / len(memo) if memo else 0.0, "ratio")
    m["plans.memo.hit_ms"] = (_median([_ms(s) for s in hits]), "ms")
    m["plans.memo.jobs_per_hit"] = (_mean([t.total(s)["jobs"] for s in hits]), "count")
    m["plans.memo.miss_ms"] = (_median([_ms(s) for s in misses]), "ms")
    m["plans.memo.bytes_written_per_miss"] = (
        _mean([t.total(s)["output_bytes"] for s in misses]), "bytes")
    search = run["driver"] if hasattr(run["driver"], "memo") else run["probe"]
    m["plans.memo.evictions"] = (search.memo_stats()["evictions"], "count")

    # corpus rows, per pass
    for row in CORPUS_ROWS:
        p = f"catalog.{row}"
        runs = [t.total(s) for s in t.named(p)]
        cons = t.named(f"{p}.construct")
        acts = t.named(f"{p}.action")
        m[f"{p}.construct_ms"] = (_median([_ms(s) for s in cons]), "ms")
        m[f"{p}.construct_jobs"] = (_mean([t.total(s)["jobs"] for s in cons]), "count")
        m[f"{p}.action_ms"] = (_median([_ms(s) for s in acts]), "ms")
        m[f"{p}.action_jobs"] = (_mean([t.total(s)["jobs"] for s in acts]), "count")
        m[f"{p}.plan_ms"] = (_median([_plan_ms(s) for s in acts]), "ms")
        for k, unit in (("tasks", "count"), ("task_run_ms", "ms"), ("task_deser_ms", "ms"),
                        ("gc_ms", "ms"), ("shuffle_write_bytes", "bytes"),
                        ("spill_bytes", "bytes")):
            m[f"{p}.{k}"] = (_mean([x[k] for x in runs]), unit)

    cap = run.get("cap_report") or {}
    m["operators.dedup.cap_pruned_share"] = (
        cap.get("dropped_rows", 0) / cap["total_rows"] if cap.get("total_rows") else 0.0, "ratio")
    m["trace.overhead_op_p50_ms"] = (overhead["op_p50_ms"], "ms")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
