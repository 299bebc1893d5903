"""Run one benchmark workload of the oscar_spark engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout.  Workloads, metrics and bounds are
declared in BENCHMARK.json.  Standard output ends with one JSON line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.  The lines before
it name each metric with its unit and the sample count behind each
percentile.  Each run also writes its result, and a traced run its
spans, under .bench_out/ in the checkout; a traced run reports its
overhead against the untraced result of the same workload and seed
when that result is there.  Spark scratch space lives under .bench_work/
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "oscar_spark", "__init__.py")):
        print("perfbench: no oscar_spark package in this checkout",
              file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import harness
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.configure_env(work, bool(args.trace))
    host = {"start": harness.host_context()}
    r = harness.Run(args.workload, args.seed, args.seconds,
                    bool(args.trace), work)
    try:
        importlib.import_module(f"perfbench.{args.workload}").run(r)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["end"] = harness.host_context()

    kind = "per_layer" if args.trace else "end_to_end"
    if args.trace:
        r.layer.update({f"traced.{k}": v for k, v in r.metrics.items()})
    values = r.layer if args.trace else r.metrics
    missing = [m["name"] for m in spec[kind] if m["name"] not in values]
    if missing:
        print(f"perfbench: {args.workload} measured no {missing}",
              file=sys.stderr)
        return 1
    result = {"correct": r.failed == 0, "attempted": r.attempted,
              "failed": r.failed,
              "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                      "unit": m["unit"]}
                          for m in spec[kind]}}

    os.makedirs(harness.OUT_DIR, exist_ok=True)
    stem = os.path.join(harness.OUT_DIR, f"{args.workload}-seed{args.seed}")
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump({**result, "samples": r.samples, "sizes": r.sizes,
                   "host": host, "end_to_end": r.metrics}, f, indent=1)
    overhead = {}
    if args.trace and os.path.exists(f"{stem}-trace0.json"):
        with open(f"{stem}-trace0.json") as f:
            base = json.load(f)["metrics"]
        overhead = {k: 100.0 * (v - base[k]["value"]) / base[k]["value"]
                    for k, v in r.metrics.items() if k in base}
    if r.tracer:
        r.tracer.dump(f"{stem}-spans.json",
                      {"layer": r.layer, "overhead_pct": overhead,
                       "sizes": r.sizes, "host": host})

    for m in spec["end_to_end"]:
        n = r.samples.get(m["name"])
        print(f"{m['name']} {r.metrics[m['name']]:.6g} {m['unit']}"
              + (f" (n={n})" if n is not None else ""))
    for k, n in r.samples.items():
        if k in r.layer:
            print(f"{k} {r.layer[k]:.6g} (n={n})")
    for k, v in overhead.items():
        print(f"trace_overhead {k} {v:+.1f}%")
    print("layers " + " ".join(f"{k}={v:.4g}" for k, v in r.layer.items()
                               if k.startswith(("setup.", "mem."))))
    print("timeline " + " ".join(f"{k}@{v:.1f}" for k, v in r.timeline))
    print(f"operations failed/attempted {r.failed}/{r.attempted}")
    print(f"sizes {json.dumps(r.sizes)}")
    print(f"host {json.dumps(host)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
