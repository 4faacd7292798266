"""Benchmark entry point.

    python3 perfbench/run.py --workload pages_pip --seed 0 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: ``pages_pip`` and
``query_suite`` (see perfbench/README.md). Every run builds
its inputs from ``--seed``, sets up, measures for ``--seconds`` in a closed
loop with one client, checks the outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` they
are the per-layer ones, and the spans go to
``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import uuid
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

# Set-up starts the session this many times and keeps the median.
SESSION_STARTS = 3


class Bench:
    """What one run shares with its workload: arguments, spans, session."""

    def __init__(self, args):
        from harness import Sessions, Tracer, WorkDir

        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = Tracer(args.trace == 1, uuid.uuid4().hex[:12])
        self.work = WorkDir(ROOT)
        self.sessions = Sessions(self.work, self.tracer)
        self.session_starts: list[float] = []
        self.setup_phases: dict[str, float] = {}
        self.setup_trace_s = 0.0  # span bookkeeping inside set-up
        self.rss_after: dict[bool, float] = {}

    def start_sessions(self, app: str):
        from harness import timed_setups

        own0 = self.tracer.own_s
        self.session_starts = timed_setups(self.sessions, app, SESSION_STARTS)
        self.setup_trace_s += self.tracer.own_s - own0
        return self.sessions.spark

    @contextmanager
    def phase(self, name: str):
        """A timed set-up phase; its seconds count toward ``setup_s``."""
        t0, own0 = time.perf_counter(), self.tracer.own_s
        with self.tracer.span(name):
            yield
        self.setup_phases[name] = (self.setup_phases.get(name, 0.0)
                                   + time.perf_counter() - t0)
        self.setup_trace_s += self.tracer.own_s - own0

    def setup_s(self) -> float:
        from harness import median

        return median(self.session_starts) + sum(self.setup_phases.values())

    def closed_loop(self, name: str, op) -> list[dict]:
        """Run ``op(i)`` back to back for ``--seconds``, at least once.

        Traced, the first half of the window runs plain and the second
        half runs each op under its own job group and harvests the status
        stores after it; the two halves give the tracing overhead.
        ``rss_after`` keeps each half's memory high-water mark.
        """
        from harness import StatusProbe, counters, peak_rss_mib, reset_peak_rss

        traced = self.tracer.enabled
        probe = StatusProbe(self.sessions.spark) if traced else None
        start = time.perf_counter()
        halves = ([(False, start + self.seconds / 2), (True, start + self.seconds)]
                  if traced else [(False, start + self.seconds)])
        samples: list[dict] = []
        for harvest, until in halves:
            reset_peak_rss()
            first = True
            while first or time.perf_counter() < until:
                first = False
                i = len(samples)
                group = f"{name}-{i}"
                if harvest:
                    probe.begin(group)
                with self.tracer.span(name, index=i, harvested=harvest) as rec:
                    t0 = time.perf_counter()
                    result = op(i)
                    dt = time.perf_counter() - t0
                sample = {"s": dt, "result": result, "traced": harvest}
                if harvest:
                    probe.end()
                    with self.tracer.span("trace.harvest"):
                        sample["harvest"] = probe.harvest(group)
                    rec["counters"].update(counters(sample["harvest"]))
                samples.append(sample)
            self.rss_after[harvest] = peak_rss_mib()
        return samples

    def close(self) -> None:
        try:
            self.sessions.stop()
        finally:
            self.work.close()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


WORKLOADS = ("pages_pip", "query_suite")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    # Fails here, before any output, when the engine is not in the checkout.
    import importlib

    workload = importlib.import_module(args.workload)
    # Functions this benchmark hands to mapInPandas travel by value: its
    # modules are not importable inside Spark's Python workers.
    from pyspark import cloudpickle

    for mod in list(sys.modules.values()):
        if os.path.dirname(getattr(mod, "__file__", None) or "") == HERE:
            cloudpickle.register_pickle_by_value(mod)

    # A terminated run still leaves through ``finally``, which ends the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args)
    try:
        res = workload.run(bench)
        traced = bench.tracer.enabled
        info = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "conf": bench.sessions.effective_conf() if bench.sessions.spark else {},
            "setup_phases_s": bench.setup_phases,
            "session_starts_s": bench.session_starts,
            **res.get("info", {}),
        }
        if traced:
            path = os.path.join(ROOT, ".perfbench", "traces",
                                f"{args.workload}-seed{args.seed}.json")
            bench.tracer.write(path, {"info": info, "records": res.get("records", [])})
            info["trace_file"] = os.path.relpath(path, ROOT)
    finally:
        bench.close()

    key, values = (("per_layer", res["layers"]) if traced
                   else ("end_to_end", res["e2e"]))
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec[key]}
    print(json.dumps({"perfbench": info}), flush=True)
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
