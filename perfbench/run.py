"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed, measures for the given seconds, checks the outputs, and
prints one JSON object as the last line of stdout: end-to-end metrics
with ``--trace 0``, per-layer metrics (from spans and Spark job
groups) with ``--trace 1``. Everything the run writes stays under the
checkout: ``.perfbench_work`` (removed at exit), ``.perfbench_cache``
(the trained-model cache) and ``.perfbench_out`` (span dumps).

The line before the result carries the figures behind the metrics: the
pinned session, per-operation-class counts and the workload's own
figures (freshness, upsert latency, space amplification, cold and warm
pass times, peak RSS). ``layer_map.json`` names, for each per-layer
metric, the workload that exercises it and the end-to-end metrics (and
detail figures) it should move. ``bench.py`` at the repository root is
the older one-pass registry sweep, not this benchmark.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys
import time
import traceback
from statistics import median
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("predict_serving", "analytics_mix")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("soccerpredictor_spark/__init__.py", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layer_map.json")) as f:
        layer_map = json.load(f)
    if sorted(layer_map) != sorted(m["name"] for m in spec["per_layer"]):
        _fail("perfbench/layer_map.json and BENCHMARK.json list different per-layer metrics")
    sys.path.insert(0, ROOT)

    from harness import JobCounter, Session, Tracer, pin_environment, vm_hwm_mb

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pinned = pin_environment(work_dir)
    tracer = Tracer(bool(args.trace))
    session = Session(tracer)
    ctx = SimpleNamespace(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        tracer=tracer, session=session, jobs=JobCounter(session),
        root=ROOT, work_dir=work_dir, cache_dir=os.path.join(ROOT, ".perfbench_cache"),
        stack=contextlib.ExitStack(),
    )
    t_run = time.perf_counter()
    workload = __import__(args.workload)
    try:
        # one-off per-checkout builds run in a JVM of their own
        if hasattr(workload, "prepare"):
            workload.prepare(ctx)
        # launch the JVM once, untimed by set-up: every timed set-up is a
        # fresh SparkContext in the running JVM
        t0 = time.perf_counter()
        session.start()
        launch_s = time.perf_counter() - t0
        with ctx.stack:
            res = workload.run(ctx)
        jvm = session.jvm_pid()
        peak = vm_hwm_mb("self") + (vm_hwm_mb(jvm) if jvm else 0.0)
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        session.close()
        shutil.rmtree(work_dir, ignore_errors=True)
        sys.exit(1)
    session.close()
    shutil.rmtree(work_dir, ignore_errors=True)

    e2e = res["e2e"]
    if not all(math.isfinite(v) for v in e2e.values()):
        _fail(f"no operation completed, nothing to report: {res['errors']}")
    layers = dict(res["layers"])
    samples = res.pop("overhead_samples", {})
    if samples.get("traced") and samples.get("untraced"):
        layers["trace.overhead_ratio"] = (
            median(samples["traced"]) / median(samples["untraced"]) - 1.0)
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "session": pinned, "e2e": e2e, "layers": layers,
        "session_launch_s": launch_s, "run_s": time.perf_counter() - t_run, "peak_rss_mb": peak,
        "setup_runs_s": res["setup_runs_s"], "errors": res["errors"], **res["detail"],
    }, default=str))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
