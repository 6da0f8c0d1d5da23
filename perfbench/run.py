"""Benchmark entry point: one workload, one seed, one fresh Spark JVM.

    python3 perfbench/run.py --workload crawl_payload --seed 1 --seconds 20 --trace 0

Workloads and metrics are declared in ``BENCHMARK.json`` at the root of
the checkout. The run drives the public API of ``crawler_tjce_spark``
from this single process on ``local[k]``, k = min(4, usable CPUs), one
closed-loop client. ``--seconds`` bounds the timed window; the operation
in flight when it ends completes and counts.

Stdout: one ``name = value unit`` line per metric, a ``# detail`` JSON
line, and as the last line the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics with no spans installed; ``--trace 1`` installs
span wrappers around the library's public functions, reads per-job-group
executor totals from the Spark status store, writes the spans to
``.perfbench/spans/`` and reports the per-layer metrics. Exit status is
0 when every answer was correct, 1 on a wrong answer and 2 when the run
could not complete.

``setup_s`` runs from just after the opening host probe to the first
timed operation: JVM launch, input generation, store preparation and an
untimed warm-up whose answers are checked too.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import harness as H  # noqa: E402

DRIVER_MEM = "2g"
MAX_CORES = 4


def _workload_module(name: str):
    import crawl
    import serve

    if name in crawl.WORKLOADS:
        return crawl
    if name == "serve_mix":
        return serve
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, H.ROOT)
    import crawler_tjce_spark  # noqa: F401  (fail before any set-up if absent)

    mod = _workload_module(args.workload)
    probe0 = H.host_probe_s()
    t_setup = time.perf_counter()
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    sr = H.SparkRun(args.workload, cores, DRIVER_MEM)
    tr = H.Tracer() if args.trace else H.NullTracer()
    try:
        sr.start()
        jvm_start_s = time.perf_counter() - t_setup
        res = mod.run(args.workload, args.seed, args.seconds, sr, tr, t_setup)
        rss_mb = H.vm_hwm_mb(sr.jvm_pid)
        if args.trace:
            tr.dump(os.path.join(H.OUT_DIR, "spans", f"{args.workload}-s{args.seed}.jsonl"))
    finally:
        tr.unwrap_all()
        sr.stop()
    probe1 = H.host_probe_s()

    if args.trace:
        values = dict.fromkeys((m["name"] for m in bench["per_layer"]), 0.0)
        values.update(res["layer"])
        values.update({
            "session.jvm_start_s": jvm_start_s,
            "host.probe_s": (probe0 + probe1) / 2,
            "jvm.rss_peak_mb": rss_mb,
            "trace.spans": float(len(tr.spans)),
        })
        declared = bench["per_layer"]
    else:
        values = res["end_to_end"]
        declared = bench["end_to_end"]
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"ops_attempted = {res['attempted']}")
    print(f"ops_failed = {res['failed']}")
    if "op_p90_s" in res["detail"]:
        print(f"op_p90_s = {res['detail']['op_p90_s']:.6g} s "
              f"(n={res['detail']['op_p90_samples']})")
    detail = dict(res["detail"], workload=args.workload, seed=args.seed, trace=args.trace,
                  cores=cores, driver_mem=DRIVER_MEM, host_probe_s=[probe0, probe1],
                  wall_s=time.perf_counter() - T_START)
    print("# detail " + json.dumps(detail, default=str))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(2)
