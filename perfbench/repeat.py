"""Repeat the benchmark over several seeds and report each end-to-end
metric's spread against its bound in BENCHMARK.json.

Spread = (third quartile - first quartile) / median, with the quartiles of
`statistics.quantiles(values, n=4)`. Every metric but setup_s must stay
within its bound; the record also keeps each metric's median, so two sets
can be compared (a set's median may not be worse than the other's by more
than the bound).

Usage: python3 perfbench/repeat.py --seeds 1-10 [--workloads a,b] [--out results/x.json]
                                   [--compare results/a.json results/b.json]
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


def spread(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def compare(a, b, bench):
    """Median drift of set b against set a, per workload and metric."""
    ok = True
    for wl in a["workloads"]:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            ma = a["workloads"][wl]["metrics"][name]["median"]
            mb = b["workloads"][wl]["metrics"][name]["median"]
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            flag = "ok" if worse <= bound else "WORSE"
            ok &= worse <= bound
            print(f"{wl:15s} {name:18s} {ma:12.5g} {mb:12.5g} {worse:+8.3f} "
                  f"(bound {bound}) {flag}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--compare", nargs=2, default=None)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.compare:
        sets = [json.load(open(p)) for p in a.compare]
        sys.exit(0 if compare(sets[0], sets[1], bench) else 1)
    wls = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    record = {"seconds": bench["run_seconds"], "seeds": seeds_of(a.seeds),
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workloads": {}}
    for wl in wls:
        runs = []
        for seed in record["seeds"]:
            t0 = time.time()
            cmd = ["python3", "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{wl} seed {seed} failed:\n{p.stderr[-2000:]}")
            line = json.loads(p.stdout.strip().splitlines()[-1])
            line["wall_s"] = time.time() - t0
            runs.append(line)
            print(f"{wl} seed {seed}: {time.time() - t0:.0f} s, failed {line['failed']}/"
                  f"{line['attempted']}", file=sys.stderr, flush=True)
        summary = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            sp = spread(vals)
            summary[m["name"]] = {"median": statistics.median(vals), "spread": sp,
                                  "bound": m["bound"],
                                  "within": m["name"] == "setup_s" or sp <= m["bound"],
                                  "values": vals}
        record["workloads"][wl] = {
            "metrics": summary, "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs]}
        for k, v in summary.items():
            print(f"{wl:15s} {k:18s} median {v['median']:12.5g} spread {v['spread']:.3f} "
                  f"bound {v['bound']} {'ok' if v['within'] else 'OVER'}")
    if a.out:
        with open(os.path.join(ROOT, a.out) if not os.path.isabs(a.out) else a.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
