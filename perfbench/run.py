"""Benchmark for mlvectordb_spark.

    python3 perfbench/run.py --workload serve_mixed|analytics --seed N \
        --seconds S --trace 0|1

Run from the repository root. One process, one closed-loop client. The
workload's inputs come from the seed; it measures for about `--seconds`
seconds of request time (whole rounds for `serve_mixed`, whole passes for
`analytics`, at least one). Every result is checked for correctness outside
the timed region.

The gated figure of a round or pass, `pass_cpu_s`, is the CPU time (user +
system) that this Python driver, the JVM and the JVM's Python workers spend
inside its timed requests. Its wall time, `pass_s`, is printed beside it but
not gated: on a shared virtual machine the hypervisor's CPU steal (printed
on the `HOST` line) moves wall times far more than CPU times.

Output: `METRIC <name> <value> <unit>` lines for the per-request-type
figures, then, as the last line, one JSON object
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the `end_to_end` list of BENCHMARK.json; with `--trace 1` the
`per_layer` list, from a run that wraps each layer's public methods in
spans, runs each request under its own Spark job group and reads the job
and stage metrics afterwards; its spans are written to
`.perfbench_out/spans_<workload>_seed<seed>.json`. Exit code 0 when every
check passed, 1 when one failed, 2 when the package is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    ROOT,
    Tracer,
    host_cpu_ticks,
    pin_environment,
    start_spark,
    stop_spark,
)

LAYERS = ("api", "store", "ann", "graph_ann", "knn", "analytics")


def _workload(name: str):
    if name == "serve_mixed":
        from serve import ServeMixed

        return ServeMixed
    from analytics import Analytics

    return Analytics


def _trace_metrics(wl, tracer: Tracer, res: dict, setup: dict) -> dict:
    out = dict(wl.per_layer(res))
    n_req = max(1, res["attempted"])
    self_ms = tracer.self_ms_by_layer()
    through = tracer.requests_by_layer()
    if wl.name == "analytics":
        # an entry's request span holds the registry query itself
        self_ms["analytics"] = self_ms.pop("request", 0.0)
        through["analytics"] = through.pop("request", 0)
    for layer in LAYERS:
        # per request that passed through the layer
        out[f"{layer}.self_ms_per_request"] = (
            self_ms.get(layer, 0.0) / max(1, through.get(layer, 0)))
    out.update({f"setup.{k}": v for k, v in setup.items()})
    out["trace.pass_s"] = res["figures"]["pass_s"][0]
    out["trace.pass_cpu_s"] = res["end_to_end"]["pass_cpu_s"]
    out["trace.self_ms_per_request"] = tracer.self_s * 1000.0 / n_req
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve_mixed", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "mlvectordb_spark")):
        print(f"mlvectordb_spark not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    pin_environment(work)
    t0 = time.perf_counter()
    spark = start_spark()
    try:
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, args.trace == 1)
        wl = _workload(args.workload)(spark, tracer, args.seed, work)
        wl.setup()
        setup_s = time.perf_counter() - t0
        setup = {"session_s": session_s, "load_s": 0.0, "index_build_s": 0.0,
                 "calibration_s": 0.0, **wl.setup_s}
        steal0, total0 = host_cpu_ticks()
        wl.run(args.seconds)
        steal1, total1 = host_cpu_ticks()
        res = wl.results()
        if args.trace:
            values = _trace_metrics(wl, tracer, res, setup)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out",
                f"spans_{args.workload}_seed{args.seed}.json"))
        else:
            values = dict(res["end_to_end"], setup_s=setup_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in res["figures"].items():
        print(f"METRIC {name} {value:.6g} {unit}")
    for name, value in res["end_to_end"].items():
        print(f"METRIC {name} {value:.6g} s")
    print(f"METRIC setup_s {setup_s:.6g} s")
    print("SETUP " + " ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    print(f"HOST steal_pct={steal_pct:.2f} (share of host CPU time stolen "
          "by the hypervisor while measuring)")
    print(f"SAMPLES rounds={res['rounds']} "
          + " ".join(f"{k}={v}" for k, v in res["samples"].items()))
    for what in res["failures"]:
        print(f"FAILED {what}", file=sys.stderr)
    # a layer a workload does not exercise reports 0; every end-to-end
    # metric must have been measured
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0) if args.trace
                                   else values[m["name"]]),
                    "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
