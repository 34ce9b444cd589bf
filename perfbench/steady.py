"""Steadiness self-check: run the benchmark command from BENCHMARK.json
as two alternating sets of runs (set A takes odd seeds, set B even ones)
and print, per workload and end-to-end metric, both medians, the
quartile spread of all runs as a share of their median, and whether the
two medians agree within the metric's bound.

    python3 perfbench/steady.py [--runs-per-set 5] [--workloads a,b]

It also checks that the pooled percentiles do not sit in a gap between
two request types' latency bands: for every run it names the request
types whose band (lowest to highest latency of that type over all runs)
contains ``req_p50_s`` and ``req_tail_s``.  A value outside every band
can only come from interpolating between two types, so it is a ``GAP``
and fails the check.

``--traced`` adds one ``--trace 1`` run per workload, prints its
per-layer metrics and the tracing overhead: the traced run's median
pass wall, probes included, against the untraced median ``pass_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited {out.returncode}:\n"
                 f"{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    spans_path = os.path.join(ROOT, ".perfbench", "spans",
                              f"{workload}-seed{seed}-trace{trace}.json")
    with open(spans_path) as f:
        result["latencies"] = request_latencies(json.load(f))
    return result


def request_latencies(spans: list[dict]) -> list[tuple[str, float]]:
    """(request type, build + collect seconds) of every timed request."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != "request" or by_id[s["parent"]]["n"] < 0:
            continue
        kids = [c for c in spans if c["parent"] == s["id"]
                and c["name"] in ("build", "collect")]
        out.append((s["request"], sum(c["end"] - c["start"] for c in kids)))
    return out


def quartile_spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def band_of(value: float, bands: dict[str, tuple[float, float]]) -> str:
    inside = [n for n, (lo, hi) in bands.items() if lo <= value <= hi]
    return ",".join(inside) if inside else "GAP"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs-per-set", type=int, default=5)
    ap.add_argument("--workloads")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for wl in names:
        sets: dict[str, list[dict]] = {"A": [], "B": []}
        for i in range(2 * args.runs_per_set):
            seed = args.first_seed + i
            res = run_once(spec, wl, seed)
            sets["AB"[i % 2]].append(res)
            print(f"# {wl} seed={seed} set={'AB'[i % 2]} "
                  f"correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} " + " ".join(
                      f"{k}={v['value']:.4f}"
                      for k, v in res["metrics"].items()), flush=True)
        runs = sets["A"] + sets["B"]
        ok &= all(r["correct"] and r["failed"] == 0 for r in runs)
        for metric, bound in bounds.items():
            a = [r["metrics"][metric]["value"] for r in sets["A"]]
            b = [r["metrics"][metric]["value"] for r in sets["B"]]
            med_a, med_b = statistics.median(a), statistics.median(b)
            spread = quartile_spread(a + b)
            shift = (med_b - med_a) / med_a
            agree = abs(shift) <= bound and spread <= bound
            ok &= agree
            print(f"{wl:13s} {metric:10s} A={med_a:.4f} B={med_b:.4f} "
                  f"shift={100 * shift:+.1f}% spread={100 * spread:.1f}% "
                  f"bound={100 * bound:.0f}% "
                  f"{'agree' if agree else 'DISAGREE'}")
        per_type: dict[str, list[float]] = {}
        for r in runs:
            for name, lat in r["latencies"]:
                per_type.setdefault(name, []).append(lat)
        bands = {}
        for name, lats in sorted(per_type.items(),
                                 key=lambda kv: statistics.median(kv[1])):
            bands[name] = (min(lats), max(lats))
            print(f"{wl:13s} band {name:24s} "
                  f"{min(lats):.3f}-{max(lats):.3f} s")
        for metric in ("req_p50_s", "req_tail_s"):
            hits = [band_of(r["metrics"][metric]["value"], bands)
                    for r in runs]
            ok &= "GAP" not in hits
            print(f"{wl:13s} {metric} falls in: "
                  + "; ".join(f"{h} x{hits.count(h)}" for h in
                              sorted(set(hits), key=hits.count)))
        if args.traced:
            traced = run_once(spec, wl, args.first_seed + len(runs), trace=1)
            ok &= traced["correct"] and traced["failed"] == 0 and \
                traced["metrics"]["trace.truncated_requests"]["value"] == 0
            for k, v in traced["metrics"].items():
                print(f"{wl:13s} {k:24s} {v['value']:.4f} {v['unit']}")
            untraced = statistics.median(r["metrics"]["pass_s"]["value"]
                                         for r in runs)
            overhead = traced["metrics"]["trace.pass_s"]["value"] / untraced
            print(f"{wl:13s} tracing overhead {100 * (overhead - 1):+.1f}% "
                  f"of pass_s")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
