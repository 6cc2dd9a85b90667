"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke          # every workload at toy size, traced

Run from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics from a traced run with ``--trace 1``.
Lines before it (prefixed ``#``) give the pinned session, the raw
samples and the output's counts and digests. ``--record`` stores the run's
counts and digests in ``expected.json`` as the values later runs of that
seed must reproduce.

Exits non-zero without a result when the library source is missing or the
run cannot start; a run whose output check fails prints ``correct: false``.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()

import sparkenv  # noqa: E402  (no pyspark import at module level)

HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected.json"
DEADLINE_S = 170  # every run must end within 180 s
#: least share of a traced repetition's wall the layer windows must cover
MIN_COVERAGE = 0.95


def info(tag: str, obj) -> None:
    print(f"# {tag} {json.dumps(obj, sort_keys=True)}", flush=True)


def start_watchdog() -> None:
    """Kill the process tree and exit with code 3 if the run overstays."""
    def _expire():
        print(f"run exceeded {DEADLINE_S} s; aborting", file=sys.stderr, flush=True)
        from proctree import tree_pids

        for pid in tree_pids():
            if pid != os.getpid():
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        os._exit(3)

    t = threading.Timer(DEADLINE_S - (time.perf_counter() - T_START), _expire)
    t.daemon = True
    t.start()


def _expected_key(wl) -> str:
    return f"{wl.name}@{wl.size}"


def load_expected(wl, seed: int) -> dict | None:
    """Recorded counts and digests for this workload, input size and seed."""
    if not EXPECTED.exists():
        return None
    return json.loads(EXPECTED.read_text()).get(_expected_key(wl), {}).get(str(seed))


def record_expected(wl, seed: int, observed: dict) -> None:
    data = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    data.setdefault(_expected_key(wl), {}).setdefault(str(seed), {}).update(observed)
    EXPECTED.write_text(json.dumps(data, indent=2, sort_keys=True) + "\n")


class Run:
    """One benchmark run: a session, a workload, its inputs and samples."""

    def __init__(self, spec, wl, seed: int):
        self.spec, self.wl, self.seed = spec, wl, seed
        self.spark = None
        self.main = sparkenv.WORK / "input" / "main"
        self.warm = sparkenv.WORK / "input" / "warmup"
        self.truth = self.expected = None
        self.observed: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list] = {
            "wall_s": [], "cpu_s": [], "peak_rss_mb": [], "f1": []}

    def setup(self, warm_up: bool = True) -> None:
        """Session start, input generation and an untimed warm-up run."""
        self.spark = sparkenv.build(self.spec)
        if warm_up:
            # the warm-up input has the timed input's size but another seed,
            # so nothing it leaves behind can serve the timed run
            self.wl.generate(self.spark, self.seed + 1, self.warm, self.wl.size)
            for _ in range(self.wl.warmup_runs):
                _, release = self.wl.run(self.spark, self.warm)
                release()
        self.wl.generate(self.spark, self.seed, self.main, self.wl.size)

    def prepare_check(self) -> None:
        """Truth for the output check, from the generated input (untimed)."""
        self.truth = self.wl.truth(self.main)
        self.expected = load_expected(self.wl, self.seed)

    def attempt(self, fn):
        """Run one checked execution; returns its result or None on failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failed run is counted, not fatal
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None

    def untraced_rep(self, sample_rss: bool = False) -> bool:
        """One timed call of the workload, then its output check. With
        ``sample_rss`` a thread samples the tree's RSS during the call; the
        end-to-end repetitions run without it, so no harness thread shares
        their CPU time."""
        from proctree import PeakRss, tree_cpu_s

        cpu0 = tree_cpu_s()
        with PeakRss() if sample_rss else contextlib.nullcontext() as rss:
            s = time.perf_counter()
            table, release = self.wl.run(self.spark, self.main)
            wall = time.perf_counter() - s
        cpu = tree_cpu_s() - cpu0
        release()
        self.samples["wall_s"].append(wall)
        self.samples["cpu_s"].append(cpu)
        if rss is not None:
            self.samples["peak_rss_mb"].append(rss.peak_mb)
        f1, self.observed = self.wl.check(table, self.truth, self.expected)
        self.samples["f1"].append(f1)
        return True


def timed_reps(count: int, rep) -> None:
    """Call ``rep()`` ``count`` times, stopping at the first failed call."""
    for _ in range(count):
        if rep() is None:
            return


def run_untraced(run: Run, seconds: float) -> dict:
    run.setup()
    # timed from process start: interpreter, JVM launch, session, inputs
    # and warm-up
    setup_s = time.perf_counter() - T_START
    run.prepare_check()
    probe = sparkenv.host_probe(run.spark)
    timed_reps(run.wl.reps(seconds), lambda: run.attempt(run.untraced_rep))
    info("samples", {"setup_s": setup_s, "host.probe_s": probe, **run.samples})
    info("observed", run.observed)
    if not run.samples["wall_s"]:
        return {}
    units = {"wall_s": "s", "cpu_s": "s", "f1": "ratio"}
    metrics = {k: {"value": statistics.median(run.samples[k]), "unit": u}
               for k, u in units.items() if run.samples[k]}
    metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    return metrics


def run_traced(run: Run, seconds: float, record: bool = False,
               smoke: bool = False) -> dict:
    """One untraced repetition (the base of ``trace.overhead``), then traced
    repetitions; per-layer numbers come from the session's event log. A
    smoke run skips the warm-up and the untraced repetition."""
    import eventlog
    from workloads import Tracer

    run.setup(warm_up=not smoke)
    run.prepare_check()
    if not smoke:
        run.attempt(lambda: run.untraced_rep(sample_rss=True))
    tracers = []

    def rep():
        tracer = Tracer(run.spark, len(tracers))
        t0 = time.time() * 1e3
        table, release = run.wl.run_traced(run.spark, run.main, tracer)
        tracer.wall_ms = (t0, time.time() * 1e3)
        tracers.append(tracer)
        try:
            _, observed = run.wl.check(
                table, run.truth, None if record else run.expected, tracer=tracer)
        finally:
            release()
        if record:
            record_expected(run.wl, run.seed, observed)
        return True

    timed_reps(run.wl.reps(seconds), lambda: run.attempt(rep))
    probe = sparkenv.host_probe(run.spark)
    app_id = run.spark.sparkContext.applicationId
    run.spark.stop()
    run.spark = None
    groups = eventlog.parse_file(sparkenv.event_log_file(app_id))
    metrics, per_rep = layer_report(tracers, groups, probe, run.samples)
    # a trace whose layers miss part of the wall is not a valid split
    for i, rep_metrics in enumerate(per_rep):
        if rep_metrics["trace.coverage"] < MIN_COVERAGE:
            run.failed += 1
            run.errors.append(f"traced repetition {i}: layers cover "
                              f"{rep_metrics['trace.coverage']:.3f} of its wall")
    return metrics


def layer_report(tracers, groups, probe: float, untraced: dict):
    """-> (per-layer medians over the traced repetitions, each repetition's
    metrics); ``untraced`` holds the samples of the untraced repetitions of
    the same run."""
    import eventlog
    from workloads import ALL_LAYERS, per_layer_units

    per_rep = []
    for tr in tracers:
        rep_metrics = {}
        covered = 0.0
        for layer in ALL_LAYERS:
            spans = [s for s in tr.spans if s.layer == layer]
            if not spans:
                continue
            m = eventlog.layer_metrics(groups.get(tr.group(layer)),
                                       [(s.start_ms, s.end_ms) for s in spans])
            m["rows_out"] = tr.rows(layer)
            covered += m["wall_s"]
            rep_metrics.update({f"{layer}.{k}": v for k, v in m.items()})
        rep_wall = (tr.wall_ms[1] - tr.wall_ms[0]) / 1e3
        rep_metrics["trace.wall_s"] = rep_wall
        rep_metrics["trace.coverage"] = covered / rep_wall
        fps_rows, match_rows = tr.rows("blocking.fps"), tr.rows("matching")
        if fps_rows:
            rep_metrics["blocking.fps.match_yield"] = match_rows / fps_rows
        if untraced["wall_s"]:
            rep_metrics["trace.overhead"] = rep_wall / statistics.median(untraced["wall_s"])
        per_rep.append(rep_metrics)
    if not per_rep:
        return {}, []
    per_rep[0]["host.probe_s"] = probe
    # peak RSS does not repeat within a tenth between runs, so it is
    # reported here, from the untraced repetitions, and not end to end
    if untraced["peak_rss_mb"]:
        per_rep[0]["host.peak_rss_mb"] = statistics.median(untraced["peak_rss_mb"])
    out = {}
    for name, unit in per_layer_units().items():
        vals = [r[name] for r in per_rep if r.get(name) is not None]
        # a layer the workload does not run reports 0
        out[name] = {"value": statistics.median(vals) if vals else 0, "unit": unit}
    return out, per_rep


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    try:
        spec = sparkenv.prepare_env(event_log=bool(args.trace or args.smoke))
    except (FileNotFoundError, RuntimeError) as e:
        print(f"cannot start: {e}", file=sys.stderr)
        return 2
    start_watchdog()
    import workloads  # needs the package on sys.path

    info("session", dataclasses.asdict(spec))
    if args.smoke:
        return smoke(spec)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    run = Run(spec, workloads.make(args.workload), args.seed)
    try:
        if args.trace:
            metrics = run_traced(run, args.seconds, record=args.record)
        else:
            metrics = run_untraced(run, args.seconds)
    finally:
        sparkenv.shutdown(run.spark)
    return print_result(run, metrics)


def print_result(run: Run, metrics: dict) -> int:
    if run.errors:
        info("errors", run.errors)
    if not metrics:
        print("no run completed", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def smoke(spec) -> int:
    """Every workload once, traced, at toy size."""
    import workloads

    runs = []
    try:
        for name in workloads.WORKLOADS:
            runs.append(Run(spec, workloads.make(name, smoke=True), seed=42))
            metrics = run_traced(runs[-1], 0, smoke=True)
            info(f"smoke {name}", {"attempted": runs[-1].attempted,
                                   "failed": runs[-1].failed,
                                   "errors": runs[-1].errors,
                                   "metrics": {k: v["value"] for k, v in metrics.items()}})
    finally:
        sparkenv.shutdown(runs[-1].spark if runs else None)
    ok = all(r.failed == 0 for r in runs)
    print(json.dumps({"correct": ok, "attempted": sum(r.attempted for r in runs),
                      "failed": sum(r.failed for r in runs), "metrics": {}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
