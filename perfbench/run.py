"""Benchmark of the engine's tiers, one workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (one process, one closed-loop client, ``local[<nproc>]``):

- ``search_session``: the search app's request mix over the curated
  stores that ``etl.pipeline.run_etl`` fills from a seeded raw capture
  during set-up; one op is one request.
- ``corpus_curation``: passes over the five corpus catalog rows on a
  seeded ``documents`` table; one op is one whole pass.

Inputs are generated from ``--seed`` (``perfbench/gen.py``) into a
scratch directory under ``.perfbench/`` in the checkout, removed at
exit. Every output is checked (``perfbench/workloads.py``); a wrong
output exits non-zero without a result line.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (the cold
start of the session and its JVM, plus the median of three runs of the
workload's set-up calls, each on a restarted session, plus the program
time of a fixed warm-up), ``peak_rss_mb`` (Python driver plus JVM, sampled from
``/proc``), and ``op_p50_ms``, ``op_p90_ms`` over the measured
window's ops and ``ops_per_s``, the median over its steps (request
blocks / passes) of the step's ops per second of op time, so one slow
step does not move it.

``--trace 1`` runs the same workload with spans around every layer
call (each span its own Spark job group), the Catalyst phases of each
executed frame and an uncompressed Spark event log; it probes the
layers of the other workload briefly, so every per-layer metric is
measured, and prints the per-layer metrics (``perfbench/layers.py``).
Spans, metrics and the tracing overhead go to
``.perfbench/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[1:1] = [ROOT, os.path.join(ROOT, "tests", "fixtures")]

WORKLOADS = ("search_session", "corpus_curation")
#: Input sizes: raw capture lines behind the search stores, documents
#: behind the corpus rows.
SIZES = {"search_capture": 4000, "documents": 480}
#: Set-up repetitions; ``setup_s`` takes the median of their set-up calls.
SETUP_REPS = 3
#: Fixed warm-up in steps (search request blocks / corpus passes), sized
#: from probes where per-step times level off.
WARMUP_STEPS = {"search_session": 2, "corpus_curation": 2}
#: Window segments of a traced run, True = traced. Traced and untraced
#: segments alternate so the JVM's warming falls on both sides of the
#: overhead; the corpus run, whose pass takes seconds, keeps to two.
SEGMENTS = {"search_session": (True, False, False, True),
            "corpus_curation": (True, False)}
NPROC = os.cpu_count() or 1


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    """90th percentile: the highest with about ten samples beyond it in
    a search window (about 100 requests). A corpus window holds only a
    few passes, so there it reads as the slower pass."""
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else _median(xs)


# -- session --------------------------------------------------------------

def session_conf(work: str, traced: bool) -> dict[str, str]:
    """The engine's ``get_spark`` defaults, sized for a small box: a
    fixed 2 GB driver heap (a heap that grows on demand made peak RSS
    swing by 20% between runs of one seed), shuffle parallelism at
    2 x cores (what ``session.py`` says a submitter sets), status-store
    retention trimmed as ``bench.py`` does, all scratch space inside
    the work dir."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(2 * NPROC),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.ui.retainedExecutions": "2",
        "spark.ui.retainedJobs": "20",
        "spark.ui.retainedStages": "50",
        "spark.ui.retainedTasks": "500",
        "spark.ui.dagGraph.retainedRootRDDs": "10",
        "spark.cleaner.periodicGC.interval": "30s",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog")})
    return conf


class Session:
    """Starts and restarts the engine's session (``session.get_spark``)."""

    def __init__(self, work: str, tracer):
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.traced = False
        self.starts_ms: list[float] = []

    def start(self, traced: bool):
        """(Re)start the session; ``traced`` turns on the event log and
        job-group spans. The first start is cold: it launches the JVM."""
        from twitter_analysis_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{NPROC}]",
                               extra_conf=session_conf(self.work, traced))
        self.starts_ms.append((time.perf_counter() - t0) * 1000.0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.traced = traced
        self.tracer.sc = self.spark.sparkContext if traced else None
        return self.spark

    def close(self):
        """Stop the session and the JVM it runs in, and wait for it."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


# -- inputs ---------------------------------------------------------------

def generate(kind: str, seed: int, size: int, out: str) -> dict:
    """Run the generator in a child process (its memory stays out of
    ``peak_rss_mb``); returns its manifest."""
    res = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), kind,
                          "--seed", str(seed), "--size", str(size), "--out", out],
                         check=True, capture_output=True, text=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def make_driver(name: str, tracer, work: str, seed: int, scale: float):
    import workloads as W
    if name == "corpus_curation":
        out = os.path.join(work, "docs")
        man = generate("documents", seed, max(40, int(SIZES["documents"] * scale)), out)
        return W.Corpus(None, tracer, work, out, man), man
    out = os.path.join(work, "capture")
    man = generate("capture", seed, max(200, int(SIZES["search_capture"] * scale)), out)
    path = os.path.join(out, "capture.jsonl")
    return W.Search(None, tracer, work, path, man, seed), man


# -- one measured run -----------------------------------------------------

def _stats(ms: list[float], steps: list[int]) -> dict:
    """Latency percentiles over ``ms``; ops per second per step, the
    steps holding ``steps[i]`` consecutive samples each."""
    rates, i = [], 0
    for n in steps:
        if n:
            rates.append(1000.0 * n / sum(ms[i:i + n]))
        i += n
    return {"op_p50_ms": _median(ms), "op_p90_ms": _p90(ms), "ops_per_s": _median(rates)}


def measure(args, work: str, traced: bool) -> dict:
    """Set up ``SETUP_REPS`` times, warm up, measure for ``args.seconds``.

    A traced run measures ``SEGMENTS`` traced and untraced, each on a
    freshly started session, so the tracing overhead is measured in one
    process; it then probes the layers its workload does not load."""
    from spans import RssSampler, Tracer
    tracer = Tracer()
    session = Session(work, tracer)
    drv, manifest = make_driver(args.workload, tracer, work, args.seed, args.scale)
    if args.corrupt_expected and args.workload == "search_session":
        drv.golden = dict(drv.golden, n_unique_originals=drv.golden["n_unique_originals"] + 1)
    probe = None
    if traced:
        other = WORKLOADS[1 - WORKLOADS.index(args.workload)]
        probe, probe_manifest = make_driver(other, tracer, work, args.seed, args.scale)
    r = {"manifest": manifest, "tracer": tracer, "driver": drv, "probe": probe,
         "probe_manifest": probe_manifest if probe else None}
    with RssSampler() as rss:
        try:
            _phases(args, traced, session, tracer, drv, probe, r)
        finally:
            session.close()
    ms, steps = r["side"][traced]
    r.update({
        "e2e": {"setup_s": session.starts_ms[0] / 1000.0 + _median(r["setup_calls_s"])
                           + r["warmup_s"],
                "peak_rss_mb": rss.peak_mb, **_stats(ms, steps)},
        "untraced_window": _stats(*r["side"][False]) if traced else None,
        "samples": len(ms), "window_s": sum(ms) / 1000.0,
        "attempted": drv.attempted + (probe.attempted if probe else 0),
        "failed": drv.failed + (probe.failed if probe else 0),
        "session_starts_ms": session.starts_ms,
    })
    return r


def _phases(args, traced: bool, session, tracer, drv, probe, r: dict) -> None:
    # The JVM starts once per process, so the cold start is measured
    # once; the set-up calls run on each of ``SETUP_REPS`` sessions.
    calls = r["setup_calls_s"] = []
    for _ in range(SETUP_REPS):
        with tracer.span("session.start"):
            drv.rebind(session.start(traced))
        t0 = time.perf_counter()
        drv.setup()
        calls.append(time.perf_counter() - t0)

    # Untimed: the expectations the warm-up and window are checked
    # against (DuckDB oracles, the shingle-cap count).
    tracer.phase = "untimed"
    if args.workload == "corpus_curation":
        r["cap_report"] = drv.cap_report()
        drv.oracle_digests()
        if args.corrupt_expected:
            drv.expected = {k: "corrupted" for k in drv.expected}
    else:
        drv.prepare()

    # The warm-up counts into ``setup_s`` by the program time of its
    # ops, not by the checks between them.
    tracer.phase = "warmup"
    drv.run(n=WARMUP_STEPS[args.workload])
    r["warmup_ms"] = [m for _, m in drv.samples]
    r["warmup_s"] = sum(r["warmup_ms"]) / 1000.0

    # Untraced: whole steps (request blocks or passes) for
    # ``args.seconds``. Traced: ``SEGMENTS`` of one step each, so the
    # traced work, and with it every job and task count, repeats exactly
    # for a seed.
    tracer.phase = "window"
    side = r["side"] = {True: ([], []), False: ([], [])}
    for seg in (SEGMENTS[args.workload] if traced else [False]):
        if traced:      # every segment starts on a fresh session
            drv.rebind(session.start(seg))
            drv.reopen()
        drv.samples.clear()
        drv.steps.clear()
        if traced:
            drv.run(n=1)
        else:
            drv.run(seconds=args.seconds)
        side[seg][0].extend(m for _, m in drv.samples)
        side[seg][1].extend(drv.steps)
    drv.check()

    if probe is not None:
        tracer.phase = "probe"
        probe.rebind(session.start(True))
        probe.setup()
        if args.workload == "search_session":
            r["cap_report"] = probe.cap_report()
            probe.oracle_digests()
            probe.run(n=1)
        else:
            probe.prepare()
            probe.run(n=2)      # two blocks: hits as well as misses
        probe.check()


E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms",
             "op_p90_ms": "ms", "ops_per_s": "1/s"}


def untraced(args, work: str) -> dict:
    r = measure(args, work, traced=False)
    print(f"{args.workload}: {r['samples']} ops taking {r['window_s']:.2f} s "
          f"({r['samples'] - int(0.9 * r['samples'])} beyond p90), "
          f"cold start {r['session_starts_ms'][0] / 1000:.2f} s, "
          f"set-up calls {[round(x, 2) for x in r['setup_calls_s']]} s, "
          f"warm-up {r['warmup_s']:.2f} s", file=sys.stderr)
    ms = r["warmup_ms"] + [m for _, m in r["driver"].samples]
    step = len(r["driver"].BLOCK) if args.workload == "search_session" else 1
    print("p50 per step, warm-up first: " + ", ".join(
        f"{_median(ms[i:i + step]):.0f}" for i in range(0, len(ms), step)), file=sys.stderr)
    return {"correct": True, "attempted": r["attempted"], "failed": r["failed"],
            "metrics": {k: {"value": v, "unit": E2E_UNITS[k]}
                        for k, v in r["e2e"].items()}}


def traced(args, work: str) -> dict:
    from layers import per_layer
    from spans import read_event_log
    r = measure(args, work, traced=True)
    groups = read_event_log(os.path.join(work, "eventlog"))
    overhead = {k: r["e2e"][k] - v for k, v in r["untraced_window"].items()}
    metrics = per_layer(r, groups, overhead)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced_e2e": r["e2e"], "untraced_window": r["untraced_window"],
        "overhead": overhead, "samples": r["samples"],
        "setup_calls_s": r["setup_calls_s"], "warmup_s": r["warmup_s"],
        "session_starts_ms": r["session_starts_ms"], "manifest": r["manifest"],
        "probe_manifest": r["probe_manifest"], "cap_report": r.get("cap_report"),
        "per_layer": metrics, "spans": r["tracer"].spans,
    }
    path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(f"trace artifact: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    return {"correct": True, "attempted": r["attempted"], "failed": r["failed"],
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="engine benchmark (see module doc)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the smoke test uses a tiny one)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: corrupt one expected result; the run must fail")
    args = ap.parse_args(argv)

    # The program must be importable from the checkout; without it the
    # run fails here, before any result is printed.
    import tests.parity  # noqa: F401
    import twitter_analysis_spark.session  # noqa: F401

    # Collected timestamps compare with DuckDB's as UTC wall times.
    os.environ["TZ"] = "UTC"
    time.tzset()
    # All scratch space stays inside the checkout: Python's and the
    # JVMs' temp dirs, and no JVM (the spark-submit launcher included)
    # writes its perf-data file under /tmp.
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        result = traced(args, work) if args.trace else untraced(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
