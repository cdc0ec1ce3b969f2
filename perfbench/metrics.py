"""Output checking and metric computation for one run.

End-to-end metrics come from the untraced window; per-layer metrics from the
traced half of a --trace 1 run (its first half runs untraced, which gives the
tracing overhead on the same op sequence).
"""
import json
import os
import statistics

END_TO_END = [("setup_s", "s"), ("query_p50_ms", "ms"), ("query_p90_ms", "ms"),
              ("query_per_s", "1/s"), ("result_mb_per_s", "MB/s"),
              ("peak_rss_mb", "MB")]

STORES = ["index", "summaries", "documents", "lex_stats", "pq_ivf_store",
          "bpe_merges"]
SELF_LAYERS = ["parser", "compiler", "spark.analyze", "spark.optimize",
               "spark.plan", "spark.jobs", "spark.driver", "exec",
               "ingest.load", "ingest.compact", "ingest.lookup", "sources.dump",
               "ml.dedup", "ml.bm25", "ml.ann", "ml.bpe", "other"]

PER_LAYER = (
    [("parser.parse_ms", "ms"), ("compiler.compile_ms", "ms"),
     ("spark.analyze_ms", "ms"), ("spark.optimize_ms", "ms"),
     ("spark.plan_ms", "ms"), ("spark.first_job_wait_ms", "ms"),
     ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
     ("spark.tasks_per_op", "count"), ("spark.job_span_ms", "ms"),
     ("spark.task_ms", "ms"), ("spark.executor_busy_ratio", "ratio"),
     ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
     ("spark.failed_tasks", "count"), ("scan.files_read_per_op", "count"),
     ("scan.rows_read_per_result_row", "ratio"), ("exec.action_ms", "ms"),
     ("exec.present_ms", "ms"), ("exec.result_rows", "count"),
     ("exec.result_bytes", "bytes"), ("model.build_s", "s"),
     ("model.session_start_s", "s")]
    + [(f"model.{s}_build_s", "s") for s in STORES]
    + [("ingest.load_ms", "ms"), ("ingest.compact_ms", "ms"),
       ("ingest.bytes_written", "bytes"), ("ingest.files_per_generation", "count"),
       ("ingest.cycle_p50_ms", "ms"), ("ingest.rows_per_s", "1/s"),
       ("ingest.write_bytes_per_input_byte", "ratio"),
       ("ingest.stored_bytes_per_input_byte", "ratio"),
       ("sources.dump_ms", "ms"), ("ml.dedup_ms", "ms"), ("ml.bm25_ms", "ms"),
       ("ml.ann_ms", "ms"), ("ml.bpe_ms", "ms"), ("jvm.gc_ms", "ms"),
       ("jvm.heap_peak_mb", "MB"), ("host.cpu_stall_ms", "ms"),
       ("host.io_stall_ms", "ms"), ("host.load1", "load"),
       ("trace.overhead_ms", "ms")]
    + [("self." + l.replace(".", "_") + "_ms", "ms") for l in SELF_LAYERS])

READ_KINDS = {"search_point": {"query"}, "search_bulk": {"query"},
              "ingest_cycle": {"read"},
              "curation_batch": {"dedup", "bm25", "ann", "bpe"}}


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ---- checking -----------------------------------------------------------------

def check_outputs(wl, spec, res, out_dir, data_dir, oracle, cache_dir):
    """Check every op's output; returns attempted/failed counts and, per op
    id, (ok, result rows, result bytes)."""
    con = oracle.connect(data_dir, res["cores"])
    per_op, failures = {}, []
    errors = {int(k) for k in res["errors"]}
    mismatched = set(res["mismatched"])
    if wl in ("search_point", "search_bulk"):
        sql = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
        chk = oracle.SearchChecker(con, sql)
        for op in spec["ops"]:
            path = os.path.join(out_dir, "outputs", f"{op['id']}.txt")
            if not os.path.exists(path):
                continue
            out = open(path, encoding="utf-8").read()
            per_op[op["id"]] = chk.check(op, out, sql["correlate"].get(str(op["id"])))
    elif wl == "curation_batch":
        sql = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
        chk = oracle.CurationChecker(con, sql, data_dir, cache_dir)
        for op in spec["ops"]:
            if op["id"] not in errors:
                per_op[op["id"]] = chk.check(op, out_dir)
    attempted = failed = 0
    expect = spec.get("ingest", {}).get("expect")
    reads = spec.get("ingest", {}).get("reads", {})
    for e in res["execs"]:
        attempted += 1
        ok = e["ok"] and e["op"] not in mismatched
        if ok and wl == "ingest_cycle" and e["kind"] == "read":
            if e["op"] == 1:
                ok = oracle.check_ingest_read(e["extra"], expect, regex=reads["dump_regex"])
            else:
                ok = oracle.check_ingest_read(e["extra"], expect,
                                              key=reads["leaf_keys"][e["op"] - 2])
        elif ok and e["op"] in per_op and e["kind"] != "cycle":
            ok = per_op[e["op"]][0]
        if not ok:
            failed += 1
            failures.append(e["op"])
    if wl == "ingest_cycle":
        live = json.load(open(os.path.join(out_dir, "live.json")))
        attempted += 1
        if not oracle.check_ingest_read({"gen": live["gen"], "keys": live["keys"]},
                                        expect, regex=".*"):
            failed += 1
            failures.append("live")
    return {"attempted": attempted, "failed": failed, "failures": failures,
            "per_op": per_op}


# ---- metrics ------------------------------------------------------------------

def _bytes_rows(wl, e, per_op):
    if wl == "ingest_cycle":
        x = e.get("extra") or {}
        return x.get("bytes", 0), x.get("rows", 0)
    ok, rows, nbytes = per_op.get(e["op"], (False, 0, 0))
    return nbytes, rows


def _setup(res):
    tot = statistics.median(s["total_s"] for s in res["setup"])
    stores = {k: statistics.median(s["stores"].get(k, 0.0) for s in res["setup"])
              for k in STORES}
    return tot, stores


def end_to_end(wl, res, checked):
    execs = [e for e in res["execs"] if e["half"] == 0]
    win = res["window"]["0"]["seconds"]
    reads = [e for e in execs if e["kind"] in READ_KINDS[wl]]
    lat = [e["ms"] for e in reads]
    nbytes = sum(_bytes_rows(wl, e, checked["per_op"])[0] for e in reads)
    setup, _ = _setup(res)
    vals = {"setup_s": res["session_start_s"] + setup,
            "query_p50_ms": pct(lat, 0.5), "query_p90_ms": pct(lat, 0.9),
            "query_per_s": len(reads) / win,
            "result_mb_per_s": nbytes / win / 1e6,
            "peak_rss_mb": res["peak_rss_mb"]}
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}, len(lat)


LAYER_OF = {"spark.job": ("spark.jobs", 6), "spark.analyze": ("spark.analyze", 5),
            "spark.optimize": ("spark.optimize", 5), "spark.plan": ("spark.plan", 5),
            "spark.action": ("spark.driver", 4), "parser.parse": ("parser", 3),
            "exec.execute": ("exec", 3), "ingest.load": ("ingest.load", 3),
            "ingest.compact": ("ingest.compact", 3),
            "ingest.lookup": ("ingest.lookup", 3),
            "sources.dump": ("sources.dump", 3)}


def layer_of(name):
    if name.startswith("ml."):
        return name, 3
    if name.startswith("op."):
        return "other", 1
    return LAYER_OF[name]


def self_times(spans, start, end):
    """Self time per layer over [start, end]: each instant goes to the
    highest-priority (then innermost) span covering it, so the layers of
    one op sum to its wall time."""
    cuts = sorted({start, end} | {min(max(t, start), end)
                                  for s in spans for t in (s["start"], s["end"])})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        best = None
        for s in spans:
            if s["start"] <= a and s["end"] >= b:
                name, prio = layer_of(s["name"])
                key = (prio, -(s["end"] - s["start"]))
                if best is None or key > best[0]:
                    best = (key, name)
        name = best[1] if best else "other"
        out[name] = out.get(name, 0.0) + (b - a)
    return out


def union_ms(spans):
    iv = sorted((s["start"], s["end"]) for s in spans)
    tot, cur = 0.0, None
    for a, b in iv:
        if cur is None or a > cur[1]:
            if cur:
                tot += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return tot + (cur[1] - cur[0] if cur else 0.0)


def per_layer(wl, spec, res, checked, out_dir):
    cores = res["cores"]
    spans = [json.loads(l) for l in open(os.path.join(out_dir, "spans.jsonl"))]
    by_op = {}
    tops = []
    for s in spans:
        if s["name"].startswith("op."):
            tops.append(s)
    # op ids repeat; group spans by the op span that contains them
    tops.sort(key=lambda s: s["start"])
    for i, t in enumerate(tops):
        by_op[i] = {"top": t, "spans": []}
    starts = [t["start"] for t in tops]
    import bisect
    for s in spans:
        if s["name"].startswith("op."):
            continue
        i = bisect.bisect_right(starts, (s["start"] + s["end"]) / 2) - 1
        if i >= 0 and tops[i]["op"] == s["op"]:
            by_op[i]["spans"].append(s)
    counters = {int(k): v for k, v in res.get("op_counters", {}).items()}
    compile_ms = {int(k): v for k, v in res.get("compile_ms", {}).items()}
    execs1 = [e for e in res["execs"] if e["half"] == 1]
    reads1 = [e for e in execs1 if e["kind"] in READ_KINDS[wl]]

    selfs, phase, first_wait, job_span, action, present = [], {}, [], [], [], []
    inclusive = {}
    for i, o in by_op.items():
        top, ss = o["top"], o["spans"]
        st = self_times(ss + [top], top["start"], top["end"])
        if top["op"] in compile_ms and "exec" in st:
            c = min(compile_ms[top["op"]], st["exec"])
            st["exec"] -= c
            st["compiler"] = c
        st["_wall"] = top["end"] - top["start"]
        st["_kind"] = top["name"][3:]
        selfs.append(st)
        for n in ("spark.analyze", "spark.optimize", "spark.plan"):
            phase.setdefault(n, []).append(sum(s["end"] - s["start"]
                                               for s in ss if s["name"] == n))
        jobs = [s for s in ss if s["name"] == "spark.job"]
        if jobs:
            first_wait.append(min(s["start"] for s in jobs) - top["start"])
        job_span.append(union_ms(jobs))
        acts = [s for s in ss if s["name"] == "spark.action"]
        action.append(union_ms(acts))
        for s in ss:
            if s["name"] == "exec.execute":
                inside = [x for x in acts if x["start"] >= s["start"] - 1
                          and x["end"] <= s["end"] + 1]
                present.append(max(0.0, (s["end"] - s["start"]) - union_ms(inside)))
            if s["parent"] == top["id"]:
                inclusive.setdefault(s["name"], []).append(s["end"] - s["start"])
    n_ops = max(1, len(by_op))
    cs = list(counters.values())

    def tot(k):
        return sum(c[k] for c in cs)

    rows = [_bytes_rows(wl, e, checked["per_op"])[1] for e in reads1]
    nbytes = [_bytes_rows(wl, e, checked["per_op"])[0] for e in reads1]
    setup, stores = _setup(res)
    w1 = res["window"]["1"]
    cycles = [e for e in execs1 if e["kind"] == "cycle"]
    tsv_rows = {i + 1: g["rows"] for i, g in enumerate(spec.get("ingest", {}).get("generations", []))}
    tsv_bytes = {i + 1: g["bytes"] for i, g in enumerate(spec.get("ingest", {}).get("generations", []))}
    cx = [e["extra"] for e in cycles if e.get("extra")]
    in_bytes = sum(tsv_bytes[x["gen"]] for x in cx)
    stored = [x["live_bytes"] / sum(tsv_bytes[g] for g in range(1, x["gen"] + 1)) for x in cx]
    p50 = lambda h: pct([e["ms"] for e in res["execs"]
                         if e["half"] == h and e["kind"] in READ_KINDS[wl]], 0.5)
    v = {
        "parser.parse_ms": mean(s.get("parser", 0) for s in selfs),
        "compiler.compile_ms": mean(compile_ms.values()) if compile_ms else 0.0,
        "spark.analyze_ms": mean(phase.get("spark.analyze", [])),
        "spark.optimize_ms": mean(phase.get("spark.optimize", [])),
        "spark.plan_ms": mean(phase.get("spark.plan", [])),
        "spark.first_job_wait_ms": mean(first_wait),
        "spark.jobs_per_op": tot("jobs") / n_ops,
        "spark.stages_per_op": tot("stages") / n_ops,
        "spark.tasks_per_op": tot("tasks") / n_ops,
        "spark.job_span_ms": mean(job_span),
        "spark.task_ms": tot("task_ms") / n_ops,
        "spark.executor_busy_ratio": tot("task_ms") / max(1e-9, sum(job_span) * cores),
        "spark.shuffle_bytes": tot("shuffle_bytes") / n_ops,
        "spark.spill_bytes": tot("spill_bytes") / n_ops,
        "spark.failed_tasks": tot("failed_tasks"),
        "scan.files_read_per_op": tot("files_read") / n_ops,
        "scan.rows_read_per_result_row": tot("scan_rows") / max(1, sum(rows)),
        "exec.action_ms": mean(action),
        "exec.present_ms": mean(present),
        "exec.result_rows": mean(rows),
        "exec.result_bytes": mean(nbytes),
        "model.build_s": setup,
        "model.session_start_s": res["session_start_s"],
        "ingest.load_ms": mean(inclusive.get("ingest.load", [])),
        "ingest.compact_ms": mean(inclusive.get("ingest.compact", [])),
        "ingest.bytes_written": mean(x["delta_bytes"] + x["live_bytes"] for x in cx),
        "ingest.files_per_generation": mean(x["files"] for x in cx),
        "ingest.cycle_p50_ms": pct([e["ms"] for e in cycles], 0.5),
        "ingest.rows_per_s": sum(tsv_rows[x["gen"]] for x in cx) / w1["seconds"],
        "ingest.write_bytes_per_input_byte":
            sum(x["delta_bytes"] + x["live_bytes"] for x in cx) / max(1, in_bytes),
        "ingest.stored_bytes_per_input_byte": pct(stored, 0.5),
        "sources.dump_ms": mean(inclusive.get("sources.dump", [])),
        "ml.dedup_ms": mean(inclusive.get("ml.dedup", [])),
        "ml.bm25_ms": mean(inclusive.get("ml.bm25", [])),
        "ml.ann_ms": mean(inclusive.get("ml.ann", [])),
        "ml.bpe_ms": mean(inclusive.get("ml.bpe", [])),
        "jvm.gc_ms": w1["gc_ms"] / n_ops,
        "jvm.heap_peak_mb": res.get("heap_peak_mb", 0.0),
        "host.cpu_stall_ms": w1["cpu_stall_ms"],
        "host.io_stall_ms": w1["io_stall_ms"],
        "host.load1": res["load1"],
        "trace.overhead_ms": p50(1) - p50(0),
    }
    for s in STORES:
        v[f"model.{s}_build_s"] = stores[s]
    for l in SELF_LAYERS:
        v["self." + l.replace(".", "_") + "_ms"] = mean(s.get(l, 0.0) for s in selfs)
    m = {k: {"value": float(v[k]), "unit": u} for k, u in PER_LAYER}
    # the layer table the report prints: mean self ms per op kind
    table = {}
    for s in selfs:
        t = table.setdefault(s["_kind"], {"ops": 0, "wall": 0.0, "self": {}})
        t["ops"] += 1
        t["wall"] += s["_wall"]
        for l in SELF_LAYERS:
            t["self"][l] = t["self"].get(l, 0.0) + s.get(l, 0.0)
    sum_err = max((abs(sum(x for k, x in s.items() if not k.startswith("_"))
                       - s["_wall"]) for s in selfs), default=0.0)
    incl = {k: {"ops": len(x), "mean_ms": mean(x)} for k, x in inclusive.items()}
    return m, {"table": table, "inclusive": incl, "self_sum_max_err_ms": sum_err,
               "traced_ops": len(by_op), "p50_untraced_ms": p50(0),
               "p50_traced_ms": p50(1), "samples": len(reads1)}


def compute(wl, spec, res, checked, out_dir, trace):
    if not trace:
        m, n = end_to_end(wl, res, checked)
        return m, {"samples": n, "setup_reps": res["setup"],
                   "session_start_s": res["session_start_s"],
                   "warmup_s": res["warmup_s"],
                   "save_outputs_s": res["save_outputs_s"]}
    return per_layer(wl, spec, res, checked, out_dir)
