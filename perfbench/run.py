"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_backfill --seed 1 \
        --seconds 10 --trace 0

Runs one workload from the checkout root, checks its outputs and
prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries the workload's own metric names, the host details
and the tracing overhead. Exits non-zero, printing no result, when
the program under test cannot be imported."""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

WORKLOADS = ("cdc_backfill", "cdc_tail")

#: the gated end-to-end metrics; latency is printed in the detail record
#: and reported per layer, as its run-to-run spread on a shared 4-core
#: host (0.14-0.26 IQR/median over 10 runs on cdc_tail) is too wide to
#: gate on
END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}


class NullTracer:
    """Untraced runs: no wrappers, no spans, no replays."""

    enabled = False

    def span(self, name, run_id=None):
        return contextlib.nullcontext()

    def __getattr__(self, name):
        return lambda *a, **k: None


class Context:
    def __init__(self, args, tmp: str, tracer) -> None:
        self.seed, self.seconds = args.seed, args.seconds
        self.tmp, self.tracer = tmp, tracer
        self.session_start_s = 0.0
        self.host: dict = {}
        self.spark = None
        self.untraced: dict | None = None

    def session(self):
        t0 = time.perf_counter()
        self.spark = common.start_spark(self.tmp)
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def measure(self, fn) -> dict:
        """Run the workload's measuring phase ``fn``. A traced run
        measures twice, untraced and then traced, so the difference
        gives the tracing overhead."""
        self.host = common.host_info(self.spark)
        if not self.tracer.enabled:
            return fn()
        self.untraced = fn()
        self.tracer.install(self.spark)
        res = fn()
        res["attempted"] += self.untraced["attempted"]
        res["failed"] += self.untraced["failed"]
        return res


def _summary(res: dict, setups: list[float]) -> dict:
    """``setup_s`` is the median task set-up; the session start, which
    moves with the host far more, is reported per layer only."""
    return {"setup_s": common.median(setups),
            "items_per_s": res["items_per_s"],
            "lat_p50_ms": common.pct(res["lat"], 50),
            "lat_p99_ms": common.pct(res["lat"], 99)}


def _run(workload: str, ctx: Context) -> dict:
    from perfbench import cdc
    return (cdc.backfill if workload == "cdc_backfill" else cdc.tail)(ctx)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "galaxy_spark")):
        print(f"galaxy_spark not found under {ROOT}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp",
                       f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    common.prepare_env(tmp)
    tracer = NullTracer()
    if args.trace:
        from perfbench.trace import Tracer
        tracer = Tracer(args.workload, args.seed)
    ctx = Context(args, tmp, tracer)
    try:
        res = _run(args.workload, ctx)
        summary = _summary(res, res["setups"])
        failed = min(res["failed"], res["attempted"])
        detail = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "summary": summary,
                  "named": res["named"], "samples": len(res["lat"]),
                  "session_start_s": ctx.session_start_s,
                  "setups_s": res["setups"],
                  "fail_share": failed / res["attempted"],
                  "host": ctx.host}
        if args.trace:
            untraced = _summary(ctx.untraced, res["setups"])
            layers = tracer.finish({
                "session.start_s": ctx.session_start_s,
                "rss_peak_mb": common.rss_peak_mb(ctx.spark),
                **res.get("layers", {})}, summary, untraced)
            detail["untraced"] = untraced
            metrics, units = layers, tracer.units
        else:
            metrics = {k: summary[k] for k in END_TO_END}
            units = END_TO_END
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": failed == 0, "attempted": int(res["attempted"]),
            "failed": int(failed),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}))
        return 0
    finally:
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(tmp))      # only when no run is left


if __name__ == "__main__":
    sys.exit(main())
