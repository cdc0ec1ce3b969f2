"""The benchmark's own test: a tiny-scale (sf0.001) run of every workload,
untraced and traced, asserting that every metric of BENCHMARK.json is
printed by name with its unit, that the result line is well formed, and
that no op failed its output check (fail_ratio 0).

Usage: python3 perfbench/test_smoke.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def smoke(workload, trace, bench):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    assert p.returncode == 0, f"{workload} trace {trace} exited {p.returncode}:\n{p.stderr[-2000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], result.keys()
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True, \
        f"{workload}: {result['failed']}/{result['attempted']} ops failed their check"
    want = bench["per_layer"] if trace else bench["end_to_end"]
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in want), sorted(set(got) ^ {m["name"] for m in want})
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], m
        assert isinstance(got[m["name"]]["value"], float), m
        printed = [l for l in lines[:-1] if l.split()[:1] == [m["name"]]]
        assert printed and printed[0].split()[2] == m["unit"], (m, printed)
    if not trace:
        for m in want:
            assert got[m["name"]]["value"] > 0, f"{workload}: {m['name']} is 0"
    assert any(l.startswith("fail_ratio") and l.split()[1] == "0" for l in lines), lines


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = sys.argv[1:] or list(run.WORKLOADS)
    for wl in workloads:
        for trace in (0, 1):
            smoke(wl, trace, bench)
            print(f"ok {wl} trace {trace}", flush=True)
    print(f"smoke: {len(workloads) * 2} runs passed")


if __name__ == "__main__":
    main()
