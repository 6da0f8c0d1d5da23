"""Run workloads over several seeds and report how steady each metric is.

    python3 perfbench/steady.py                      # every workload, seed 1
    python3 perfbench/steady.py --seeds 1-10         # the ten-seed check
    python3 perfbench/steady.py --workloads serve_mix --seeds 1-5 --trace both

Each run is ``perfbench/run.py`` in its own process (one JVM at a time).
For every end-to-end metric the report gives the median and the
quartile spread, (Q3 - Q1) / median with ``statistics.quantiles(n=4)``,
next to the metric's bound and to the spread of ``host.probe_s``, an
engine-free CPU loop timed in the same runs: a metric that spreads no
more than the host probe is noisy because of the host, not the program.
With ``--trace both`` each seed also gets a traced run, and the report
adds the tracing overhead (traced minus untraced median op latency).
Exits non-zero if any run fails or gives a wrong answer.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    res = {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
           "wall_s": time.time() - t0}
    try:
        res.update(json.loads(lines[-1]))
        res["detail"] = json.loads(next(ln for ln in lines if ln.startswith("# detail "))[9:])
    except (IndexError, StopIteration, json.JSONDecodeError):
        res["stderr_tail"] = p.stderr.strip().splitlines()[-15:]
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()
    traces = [0, 1] if args.trace == "both" else [int(args.trace)]

    runs, ok = [], True
    for wl in args.workloads.split(","):
        for seed in _seeds(args.seeds):
            for trace in traces:
                r = run_once(wl, seed, args.seconds, trace)
                runs.append(r)
                good = r["exit"] == 0 and r.get("correct") and r.get("failed") == 0
                ok &= bool(good)
                vals = " ".join(f"{k}={v['value']:.4g}{v['unit']}"
                                for k, v in r.get("metrics", {}).items()
                                if trace == 0 or k in ("trace.op_p50_s", "host.probe_s"))
                print(f"{wl} seed={seed} trace={trace} exit={r['exit']} correct={r.get('correct')} "
                      f"ops_attempted={r.get('attempted')} ops_failed={r.get('failed')} "
                      f"wall={r['wall_s']:.1f}s {vals}", flush=True)
                if "stderr_tail" in r:
                    print("\n".join(r["stderr_tail"]), flush=True)

    print("\nsteadiness (spread = (Q3-Q1)/median over seeds)")
    for wl in args.workloads.split(","):
        plain = [r for r in runs if r["workload"] == wl and r["trace"] == 0 and "metrics" in r]
        traced = [r for r in runs if r["workload"] == wl and r["trace"] == 1 and "metrics" in r]
        probes = [statistics.mean(r["detail"]["host_probe_s"]) for r in plain + traced]
        print(f"{wl}: runs={len(plain)}+{len(traced)} traced, host.probe_s "
              f"median={statistics.median(probes) if probes else 0:.4f} spread={spread(probes):.3f}")
        for m in bench["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in plain]
            if xs:
                s = spread(xs)
                flag = "ok" if s < m["bound"] / 3 else ("within bound" if s <= m["bound"] else "TOO NOISY")
                print(f"  {m['name']:<18} median={statistics.median(xs):.4g} {m['unit']:<4} "
                      f"spread={s:.3f} bound={m['bound']} [{flag}]")
        if plain and traced:
            a = statistics.median(r["metrics"]["op_p50_s"]["value"] for r in plain)
            b = statistics.median(r["metrics"]["trace.op_p50_s"]["value"] for r in traced)
            print(f"  tracing overhead on op_p50_s: {b - a:+.4f} s ({(b - a) / a:+.1%})")
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    out = os.path.join(ROOT, ".perfbench", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(out, "w") as f:
        json.dump(runs, f, indent=1)
    print(f"runs written to {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
