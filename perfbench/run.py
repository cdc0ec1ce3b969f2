"""Benchmark entry point.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program if needed, generates the workload's inputs from the seed,
runs them through the program in one JVM (perfbench.Harness), checks every
op's output after the timed window, and prints as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics. Everything the run writes stays under `.perfbench/` of the
checkout; the artifact of each run is kept in `.perfbench/artifacts/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("search_point", "search_bulk", "ingest_cycle", "curation_batch")
# catalog scale factor per workload (TPC-H sf: 150k orders per 0.1)
SCALE = {"search_point": 0.01, "search_bulk": 0.02, "ingest_cycle": 0.01,
         "curation_batch": 0.01}
# store builds per run (the first one cold); curation's stores take ~10 s
# even warm, so it builds them once
SETUP_REPS = {"search_point": 2, "search_bulk": 2, "ingest_cycle": 2,
              "curation_batch": 1}
# the catalog is the same for every seed (as a fixed testdata scale would
# be); the seed drives the statements, TSV generations and call parameters
DATA_SEED = 0
JVM_HEAP = "3g"
DEADLINE_S = 170.0


def cores():
    return len(os.sched_getaffinity(0))


def stamp():
    """The code a run measured: the git commit (dirty over the code paths)
    when the checkout is a repository, else a hash of those paths."""
    paths = ["src", "build.sbt", "project", "scripts", "perfbench"]
    try:
        head = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, check=True).stdout.strip()
        st = subprocess.run(["git", "status", "--porcelain", "--"] + paths, cwd=ROOT,
                            capture_output=True, text=True, check=True).stdout
        return head + ("-dirty" if st.strip() else "")
    except (OSError, subprocess.CalledProcessError):
        h = hashlib.sha256()
        for p in paths:
            full = os.path.join(ROOT, p)
            files = [full] if os.path.isfile(full) else sorted(
                os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
            for f in files:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
        return "tree-" + h.hexdigest()[:12]


def psi():
    out = {}
    for res in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                line = next(l for l in f if l.startswith("some"))
            out[res] = float(line.split("total=")[1]) / 1000.0
        except (OSError, StopIteration, IndexError):
            out[res] = None
    return out


def make_work(name):
    work = os.path.join(ROOT, ".perfbench", "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "out/outputs", "tmp", "spark-local", "inputs"):
        os.makedirs(os.path.join(work, d))
    return work


def make_spec(gen, wl, seed, seconds, trace, sf, work, setup_reps):
    """Generate the run's inputs under `work` and write its spec."""
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    info = gen.catalog(data, DATA_SEED, sf)
    spec = {"workload": wl, "seconds": seconds, "trace": trace,
            "cores": cores(), "setup_reps": setup_reps,
            "data_dir": data, "work_dir": work, "out_dir": out}
    # a pass is one op of each kind the workload has, or one ingest epoch
    # (its generations, each cycle with its reads, whose sizes grow over the
    # epoch); the window continues the warm-up's stream in whole passes
    if wl in ("search_point", "search_bulk"):
        spec["ops"] = gen.statements(seed, info, wl, 3)
        spec["pass_steps"] = spec["warmup_steps"] = len(spec["ops"]) // 3
    elif wl == "ingest_cycle":
        spec["ingest"] = gen.ingest_generations(
            os.path.join(work, "inputs"), seed, info, n_gens=4,
            rows=max(2000, int(info["orders"] * 0.5)))
        spec["pass_steps"], spec["warmup_steps"] = 4, 1
    else:
        spec["ops"] = gen.curation_calls(seed, info, 1)
        spec["pass_steps"] = spec["warmup_steps"] = len(spec["ops"])
    if trace:
        # a traced run compares its untraced and traced halves: a second
        # warm-up pass keeps JIT warming out of that difference
        spec["warmup_steps"] *= 2
    path = os.path.join(work, "spec.json")
    gen.write_json(path, spec)
    return spec, path


def run_jvm(args, work, timeout, flags=()):
    """Run the harness in a fresh JVM whose scratch space is `work`."""
    import build
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", *flags]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "perfbench.Harness", *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               GRAFT_CACHE=os.path.join(work, "cache"), CLASSPATH=build.classpath(),
               SPARK_GRAFT_CPUS=str(cores()))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("harness exceeded the run deadline")
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise RuntimeError(f"harness exited with {p.returncode}")


def ensure_cds(gen, build_stamp):
    """Class-data-sharing archive of the classes a run loads, made once per
    build by tiny runs of two workloads in a single JVM (they load nearly
    every class the others do). It cuts JVM and Spark start-up by half; a
    run without it is slower but correct."""
    jsa = os.path.join(ROOT, ".perfbench", "build", "app.jsa")
    stamp_file = jsa + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == build_stamp:
        return jsa
    work = make_work("cds-training")
    try:
        specs = []
        for wl in ("search_point", "ingest_cycle"):
            w = os.path.join(work, wl)
            for d in ("data", "out/outputs", "inputs"):
                os.makedirs(os.path.join(w, d))
            spec, path = make_spec(gen, wl, 0, 0.3, 1, 0.001, w, 1)
            spec["warmup_steps"] = 1
            gen.write_json(path, spec)
            specs.append(path)
        print("[perfbench] recording the class-data-sharing archive",
              file=sys.stderr, flush=True)
        run_jvm(["--train"] + specs, work, 600,
                [f"-XX:ArchiveClassesAtExit={jsa}"])
        with open(stamp_file, "w") as f:
            f.write(build_stamp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return jsa


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="catalog scale factor (default: the workload's)")
    a = ap.parse_args()
    t_start = time.time()

    import build
    import gen
    import oracle
    import metrics
    jsa = ensure_cds(gen, build.build())
    t_start = time.time()

    wl, seed = a.workload, a.seed
    sf = a.scale if a.scale is not None else SCALE[wl]
    work = make_work(f"{wl}-s{seed}-t{a.trace}-{os.getpid()}")
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    try:
        spec, spec_path = make_spec(gen, wl, seed, a.seconds, a.trace, sf, work,
                                    SETUP_REPS[wl])
        t_gen = time.time() - t_start
        psi0 = psi()
        run_jvm([spec_path], work, max(10.0, DEADLINE_S - (time.time() - t_start)),
                [f"-XX:SharedArchiveFile={jsa}"])
        psi1 = psi()
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)

        t_jvm = time.time() - t_start - t_gen
        checked = metrics.check_outputs(wl, spec, res, out, data, oracle, os.path.join(
            ROOT, ".perfbench", "oracle-cache"))
        t_check = time.time() - t_start - t_gen - t_jvm
        m, report = metrics.compute(wl, spec, res, checked, out, a.trace)
        art_dir = os.path.join(ROOT, ".perfbench", "artifacts")
        os.makedirs(art_dir, exist_ok=True)
        name = f"{wl}-s{seed}-t{a.trace}"
        artifact = {
            "workload": wl, "seed": seed, "trace": a.trace, "seconds": a.seconds,
            "scale": sf, "stamp": stamp(), "cores": cores(),
            "load1": res.get("load1"),
            "psi_delta_ms": {k: (None if psi0[k] is None else psi1[k] - psi0[k])
                             for k in psi0},
            "attempted": checked["attempted"], "failed": checked["failed"],
            "fail_ratio": checked["failed"] / max(1, checked["attempted"]),
            "failures": checked["failures"][:20], "errors": res.get("errors"),
            "metrics": m, "layers": report,
            "wall_s": time.time() - t_start,
            "phase_s": {"generate": t_gen, "jvm": t_jvm, "check": t_check},
        }
        with open(os.path.join(art_dir, name + ".json"), "w") as f:
            json.dump(artifact, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(art_dir, name + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in m.items():
        extra = ""
        if k in ("query_p50_ms", "query_p90_ms"):
            extra = f"  (n={report['samples']})"
        print(f"{k:34s} {v['value']:.6g} {v['unit']}{extra}")
    fr = checked["failed"] / max(1, checked["attempted"])
    print(f"{'fail_ratio':34s} {fr:.6g} ratio  ({checked['failed']}/{checked['attempted']})")
    print(f"stamp {artifact['stamp']} cores {artifact['cores']} load1 {artifact['load1']}")
    print(json.dumps({"correct": checked["failed"] == 0,
                      "attempted": checked["attempted"],
                      "failed": checked["failed"], "metrics": m}))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # any failure: no result line, non-zero exit
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(1)
