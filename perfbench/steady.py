#!/usr/bin/env python3
"""Repeat run.py over seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads W1,W2 --seeds 1-10 [--trace 0]
    python3 perfbench/steady.py --compare FIRST.json SECOND.json

The first form runs every (workload, seed) pair, prints per metric the
median and the quartile spread (Q3 - Q1 over the median) beside its
bound from BENCHMARK.json (and, ungated, the query latency percentiles
each run records), and writes all values to
.bench_build/perfbench/steady-<time>.json. The second form checks that
the second set's medians are not worse than the first's by more than
the bounds. Exits 1 when a spread reaches its bound, a run fails, or a
compared median moved beyond its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(workloads, seed_list, trace, seconds):
    values = {}
    ok = True
    for w in workloads:
        for s in seed_list:
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            if p.returncode != 0 or not res or not res["correct"]:
                ok = False
                print(f"{w} seed {s}: FAILED rc={p.returncode}\n{p.stderr[-2000:]}")
                continue
            for m, v in res["metrics"].items():
                values.setdefault(w, {}).setdefault(m, []).append(v["value"])
            if not trace:
                # the ungated query latency percentiles, from the run's
                # full record
                with open(os.path.join(ROOT, ".bench_build", "perfbench",
                                       f"{w}-s{s}-t0.json")) as f:
                    t = json.load(f)["timings"]
                for m in ("p50_s", "p90_s"):
                    values[w].setdefault(f"query_{m}", []).append(t[m])
            print(f"{w} seed {s}: {time.monotonic() - t0:.1f}s "
                  + " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()),
                  flush=True)
    return values, ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    ok = True

    if args.compare:
        first, second = (json.load(open(p)) for p in args.compare)
        for w in first:
            for m, vs in first[w].items():
                if m not in bounds or m not in second.get(w, {}):
                    continue
                a, b = statistics.median(vs), statistics.median(second[w][m])
                better, bound = bounds[m]["better"], bounds[m]["bound"]
                worse = stats.worse_by(a, b, better)
                flag = "ok" if stats.within_bound(a, b, better, bound) else "WORSE"
                ok &= flag == "ok"
                print(f"{w:18} {m:22} {a:10.4g} -> {b:10.4g} worse {worse:+.3f} "
                      f"bound {bound} {flag}")
        sys.exit(0 if ok else 1)

    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]
    values, ok = collect(workloads, seeds(args.seeds), args.trace, spec["run_seconds"])
    os.makedirs(os.path.join(ROOT, ".bench_build", "perfbench"), exist_ok=True)
    out = os.path.join(ROOT, ".bench_build", "perfbench",
                       f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(out, "w") as f:
        json.dump(values, f, indent=1)
    for w, ms in values.items():
        for m, vs in ms.items():
            if len(vs) < 2:
                continue
            line = f"{w:18} {m:30} median {statistics.median(vs):10.4g}"
            if len(vs) >= 4:
                line += f" spread {stats.spread(vs):.3f}"
            if m in bounds and len(vs) >= 4:
                sp = stats.spread(vs)
                b = bounds[m]["bound"]
                flag = "ok" if sp < b / 3 else ("within" if sp < b else "OVER")
                ok &= sp < b
                line += f" bound {b} {flag}"
            elif len(vs) >= 4:
                line += " (ungated)"
            print(line)
    print(f"values in {out}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
