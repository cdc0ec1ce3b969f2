"""Print, per workload, the layer self-time table of the traced runs kept in
`.perfbench/artifacts/`, with the tracing overhead, every ratio's base, and
the layer -> end-to-end map the benchmark's per-layer metrics follow.

Usage: python3 perfbench/report.py [artifact dir]
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from metrics import SELF_LAYERS  # noqa: E402

# per-layer metric -> (end-to-end metric it should move, workloads)
LAYER_MAP = [
    ("parser.parse_ms", "query_p50_ms", "search_point (control: expected tiny)"),
    ("compiler.compile_ms", "query_p50_ms", "search_point"),
    ("spark.analyze_ms / optimize_ms / plan_ms", "query_p50_ms", "search_point"),
    ("spark.first_job_wait_ms", "query_p50_ms", "search_point"),
    ("spark.jobs_per_op / stages_per_op / tasks_per_op",
     "query_p50_ms, query_p90_ms", "search_point"),
    ("spark.job_span_ms / task_ms / executor_busy_ratio", "query_per_s",
     "search_bulk, curation_batch"),
    ("spark.shuffle_bytes / spill_bytes", "query_p90_ms", "search_bulk, curation_batch"),
    ("spark.failed_tasks", "attempted/failed", "all"),
    ("scan.files_read_per_op / rows_read_per_result_row", "query_p50_ms",
     "search_point, ingest_cycle"),
    ("exec.action_ms / present_ms / result_rows / result_bytes", "result_mb_per_s",
     "search_bulk"),
    ("model.build_s, model.<store>_build_s", "setup_s", "all"),
    ("ingest.load_ms / compact_ms / bytes_written / files_per_generation",
     "query_per_s (the window includes every cycle), ingest.cycle_p50_ms",
     "ingest_cycle"),
    ("ingest.files_per_generation", "query_p50_ms (read-back)", "ingest_cycle"),
    ("sources.dump_ms", "query_p50_ms", "ingest_cycle"),
    ("ml.dedup_ms / bm25_ms / ann_ms / bpe_ms", "query_p50_ms, query_per_s",
     "curation_batch"),
    ("jvm.gc_ms / heap_peak_mb", "query_p90_ms, peak_rss_mb",
     "search_bulk, curation_batch"),
    ("host.cpu_stall_ms / io_stall_ms / load1", "(context: tag a slow run ambient)",
     "all"),
]

RATIO_BASES = [
    ("spark.executor_busy_ratio", "sum of task run ms / (union of job spans ms x cores)"),
    ("scan.rows_read_per_result_row", "scan-node output rows / rows presented or materialized"),
    ("ingest.write_bytes_per_input_byte", "delta + generation bytes written / TSV bytes loaded"),
    ("ingest.stored_bytes_per_input_byte", "live generation bytes / TSV bytes of its epoch"),
    ("per-op means", "traced ops of the run (count shown per table)"),
]


def main():
    art = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(HERE), ".perfbench", "artifacts")
    runs = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(art, "*-t1.json")))]
    if not runs:
        sys.exit(f"no traced artifacts in {art}: run "
                 "`python3 perfbench/run.py --workload <w> --seed <n> --seconds <s> --trace 1`")
    for r in runs:
        lay = r["layers"]
        print(f"== {r['workload']}  seed {r['seed']}  stamp {r['stamp']}  "
              f"cores {r['cores']}  load1 {r['load1']}  psi {r['psi_delta_ms']}")
        print(f"   traced ops {lay['traced_ops']}; read-op p50 untraced "
              f"{lay['p50_untraced_ms']:.1f} ms, traced {lay['p50_traced_ms']:.1f} ms, "
              f"overhead {lay['p50_traced_ms'] - lay['p50_untraced_ms']:+.1f} ms; "
              f"layer sums match op walls within {lay['self_sum_max_err_ms']:.3f} ms")
        for kind, t in sorted(lay["table"].items()):
            wall = t["wall"] / t["ops"]
            print(f"   op kind {kind}: {t['ops']} ops, mean wall {wall:.1f} ms")
            print(f"     {'layer':16s} {'self ms/op':>11s} {'share':>7s}")
            for l in SELF_LAYERS:
                v = t["self"].get(l, 0.0) / t["ops"]
                if v > 0:
                    print(f"     {l:16s} {v:11.2f} {v / wall:7.1%}")
        if lay["inclusive"]:
            print("   inclusive harness spans (mean ms per call):")
            for k, v in sorted(lay["inclusive"].items()):
                print(f"     {k:16s} {v['mean_ms']:11.2f}  (n={v['ops']})")
        m = r["metrics"]
        print(f"   spark.executor_busy_ratio {m['spark.executor_busy_ratio']['value']:.3f}"
              f"  jobs/op {m['spark.jobs_per_op']['value']:.2f}"
              f"  first-job wait {m['spark.first_job_wait_ms']['value']:.1f} ms")
        print()
    print("== layer -> end-to-end map")
    for layer, e2e, wl in LAYER_MAP:
        print(f"   {layer:60s} -> {e2e}  on {wl}")
    print("== ratio bases")
    for k, b in RATIO_BASES:
        print(f"   {k:36s} {b}")


if __name__ == "__main__":
    main()
