#!/usr/bin/env python3
"""kmcp_spark benchmark.

    python3 perfbench/run.py --workload dedup_corpus --seed 1 --seconds 10 --trace 0

Runs one workload (see perfbench/README.md) against the kmcp_spark
sources in the same checkout, checks its outputs, and prints a summary
followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` records spans and Spark's event log
and reports the per-layer metrics.  Scratch files live under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dedup_corpus", "dedup_hotclass")


class Ctx:
    """The session a workload runs in, its tracer and its scratch dir."""

    def __init__(self, work: str, trace: bool):
        import host
        from tracing import Tracer

        self.work, self.trace = work, trace
        self.event_dir = os.path.join(work, "eventlog")
        self.settings = host.size_session(ROOT, work, cores=4)
        self.event_log = None
        t = time.perf_counter()
        self.spark = self._session(4)
        self.session_s = time.perf_counter() - t
        self.tracer = Tracer(trace, self.spark if trace else None)

    def _session(self, cores: int):
        from kmcp_spark.config import get_spark

        conf = None
        if self.trace and self.event_log is None:
            os.makedirs(self.event_dir, exist_ok=True)
            conf = {"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false"}
        return get_spark(app="perfbench", cores=cores, extra_conf=conf)

    def finish_event_log(self) -> None:
        """Stop the session, which flushes the event log, and read it."""
        from tracing import read_event_log

        self.spark.stop()
        self.event_log = read_event_log(self.event_dir)
        self.tracer.spark = None

    def restart(self, cores: int):
        self.settings.setdefault("later_sessions_cores", []).append(cores)
        self.spark = self._session(cores)
        return self.spark

    def close(self) -> None:
        import host

        host.stop_spark(self.spark)


def _records(workload: str) -> str:
    return os.path.join(ROOT, ".perfbench_work", "records", f"{workload}.json")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kmcp_spark", "__init__.py")):
        print(f"perfbench: no kmcp_spark sources in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import host
    import names
    import workloads
    from tracing import self_time

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)
    context = {"start": host.host_context()}
    with host.PssSampler() as rss:
        ctx = Ctx(work, trace)
        try:
            out = workloads.pipeline(ctx, args.seed, args.seconds, args.workload)
        finally:
            ctx.close()
    context["end"] = host.host_context()
    context["spark"] = ctx.settings
    context["rss_samples"] = rss.samples
    context["staging_s"] = out.setup_s
    context["session_start_s"] = ctx.session_s
    context["first_s"] = out.first_s
    context["warm_s"] = out.warm_s

    p50 = statistics.median(out.warm_s) if out.warm_s else 0.0
    e2e = {
        "setup_s": ctx.session_s + out.setup_s,
        "first_pass_s": out.first_s,
        "latency_p50_s": p50,
        "items_per_s": out.warm_items / sum(out.warm_s) if out.warm_s else 0.0,
        "peak_rss_mb": rss.peak_mb,
    }
    rec_path = _records(args.workload)
    os.makedirs(os.path.dirname(rec_path), exist_ok=True)
    try:
        with open(rec_path) as f:
            untraced = json.load(f)
    except (OSError, ValueError):
        untraced = {}
    if trace:
        base = untraced.get(str(args.seed)) or (
            statistics.median(untraced.values()) if untraced else None)
        out.layer["trace.latency_p50_s"] = p50
        out.layer["trace.overhead_frac"] = p50 / base - 1 if base else 0.0
        context["tracing_overhead_base_s"] = base
        spans = ctx.tracer.spans
        for sp in spans:
            sp["self_s"] = self_time(spans, sp["id"])
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(spans, f)
    elif out.warm_s:
        untraced[str(args.seed)] = p50
        with open(rec_path, "w") as f:
            json.dump(untraced, f)

    failed = out.failed + sum(1 for _n, ok, _d in out.checks if not ok)
    attempted = out.attempted + len(out.checks)
    error_rate = failed / max(attempted, 1)
    with open(os.path.join(work, "context.json"), "w") as f:
        json.dump(context, f)
    print(f"# host {json.dumps(context)}")
    for name, ok, detail in out.checks:
        print(f"# check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    for name, (unit, _b, _bd) in names.END_TO_END.items():
        n = 1 if name in ("setup_s", "first_pass_s") else len(out.warm_s)
        print(f"# {name} = {e2e[name]:.6g} {unit} (n={n})")
    for name, value, unit, n in out.report + [("error_rate", error_rate, "ratio", attempted)]:
        print(f"# {name} = {value:.6g} {unit} (n={n})")
    if trace:
        for name in sorted(out.layer):
            print(f"# {name} = {out.layer[name]:.6g} {names.PER_LAYER[name]}")
    # scratch outputs are large; keep only the records
    for entry in os.listdir(work):
        if entry not in ("spans.json", "context.json"):
            path = os.path.join(work, entry)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": names.metrics_json(out.layer if trace else e2e, trace),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
