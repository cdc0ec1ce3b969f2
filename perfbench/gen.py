"""Seeded input generators for the benchmark.

Everything the program sees is made here from the run's seed: the catalog
tables (TPC-H-shaped orders/lineitem/customer plus the documents and
embeddings corpora), the statement streams of the two search workloads, the
TSV index generations of `ingest_cycle`, and the call parameters of
`curation_batch`. The same seed gives byte-identical inputs.

Each generated search statement carries the DuckDB SQL of its posting bag
(`res`), so oracle.py can check the presented output without parsing the
statement language itself.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EPOCH = datetime.datetime(1970, 1, 1)
DAY0 = (datetime.datetime(1995, 1, 1) - EPOCH).days


def _days(rng, n, lo_day, span):
    return lo_day + rng.integers(0, span, n)


def _ts(days):
    return pa.array(days.astype("int64") * 86400 * 1_000_000,
                    type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def catalog(out_dir, seed, sf):
    """Write the catalog tables for scale factor `sf` and return their sizes."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_ord = max(1500, int(150_000 * sf))
    n_cust = max(150, int(15_000 * sf))
    n_line = 4 * n_ord
    okey = np.arange(n_ord, dtype=np.int64)
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": rng.integers(101_370, 49_997_859, n_ord) / 100.0,
        "o_orderdate": _ts(_days(rng, n_ord, DAY0, 2404)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": rng.integers(0, 20_000, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": rng.integers(90_182, 10_499_788, n_line) / 100.0,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, n_line, DAY0 + 1, 2499)),
    })
    ckey = np.arange(n_cust, dtype=np.int64)
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": ckey,
        "c_name": [f"Customer#{k:09d}" for k in ckey],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": rng.integers(-99_428, 999_741, n_cust) / 100.0,
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    n_docs = max(500, int(20_000 * sf))
    texts = []
    for d in range(n_docs):
        if d > 20 and rng.random() < 0.15:
            # planted near-duplicate: an earlier document with a few words
            # swapped, so the n-gram dedup has pairs to find
            words = texts[int(rng.integers(0, d))].split(" ")
            for i in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[i] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[i] for i in
                     rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_emb = max(500, int(8_000 * sf))
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + 0.8 * rng.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return {"orders": n_ord, "customers": n_cust, "lineitems": n_line,
            "documents": n_docs, "embeddings": n_emb}


# ---- search statements -------------------------------------------------------
# A posting expression is (text, sql, has_bands): the statement-language text
# and the DuckDB SQL of the bag of (off, score) postings it denotes, over the
# `idx` and `summ` CTEs of Catalog.indexSql / summariesSql.

def _q(s):
    return "'" + s.replace("'", "''") + "'"


def leaf(key):
    return (_q(key), f"SELECT off, score FROM idx WHERE key = {_q(key)}")


def band_leaf():
    return ("'priceband'", "SELECT off, score, pct5, pct25, pct75, pct95 "
            "FROM idx WHERE key = 'priceband'")


def _wrap(e):
    return e[0] if e[0].startswith("'") else f"({e[0]})"


def and_(a, b):
    return (f"{_wrap(a)} AND {_wrap(b)}",
            f"SELECT * FROM ({a[1]}) WHERE off IN (SELECT off FROM ({b[1]}))")


def sub(a, b):
    return (f"{_wrap(a)} - {_wrap(b)}",
            f"SELECT * FROM ({a[1]}) WHERE off NOT IN (SELECT off FROM ({b[1]}))")


def or_(a, b):
    return (f"{_wrap(a)} OR {_wrap(b)}", f"({a[1]}) UNION ALL ({b[1]})")


def order_by(a, b):
    return (f"{_wrap(a)} ORDER BY {_wrap(b)}",
            f"SELECT l.off AS off, COALESCE(r.s, CAST('-infinity' AS DOUBLE)) "
            f"AS score FROM ({a[1]}) l LEFT JOIN (SELECT off, max(score) AS s "
            f"FROM ({b[1]}) GROUP BY off) r ON l.off = r.off")


def cmp(a, op, v):
    return (f"{_wrap(a)} {op} {v}", f"SELECT * FROM ({a[1]}) WHERE score {op} {v}")


def rng_(a, lo, hi):
    return (f"{_wrap(a)} [{lo}, {hi}]",
            f"SELECT * FROM ({a[1]}) WHERE score BETWEEN {min(lo, hi)} AND {max(lo, hi)}")


def agg(fn, a):
    return (f"{fn.upper()}({a[0]})",
            f"SELECT off, {fn}(score) AS score FROM ({a[1]}) GROUP BY off")


def theta(a, op, b):
    return (f"{_wrap(a)} {op} {_wrap(b)}",
            f"SELECT l.* FROM ({a[1]}) l JOIN (SELECT off, max(score) AS s "
            f"FROM ({b[1]}) GROUP BY off) r ON l.off = r.off WHERE l.score {op} r.s")


def dockey(k):
    return (f"KEY={_q(k)}", f"SELECT off, 0.0 AS score FROM summ WHERE key = {_q(k)}")


def prefix(field, param):
    return (_q(f"in-{field}:{param}"),
            f"SELECT DISTINCT off, 0.0 AS score FROM idx WHERE starts_with(key, "
            f"{_q(field)}) AND contains(lower(key), {_q(param.lower())})")


# names the fixed CAS blob (Catalog.blobs) expands to, with their headers
CAS_NAMES = [("order7.com", None), ("order32.com", None),
             ("order33.com", ("Archived Orders", "000000")),
             ("order129.com", ("Archived Orders", "000000")),
             ("order9999999.com", ("Archived Orders", "000000"))]


def cas():
    keys = ", ".join(_q("name:" + n) for n, _ in CAS_NAMES)
    return ("'name-in:b1'",
            f"SELECT DISTINCT off, 0.0 AS score FROM idx WHERE key IN ({keys})")


def _pick(rng, xs):
    return xs[int(rng.integers(0, len(xs)))]


def _price(rng):
    return int(rng.integers(20, 480)) * 1000


def query_stmt(expr, limit, keys_only=False, thresholds=None, bands=False,
               headers=None):
    th = ""
    if thresholds:
        th = (" THRESHOLDS " + ", ".join(str(v) for v in thresholds[1])
              + f" FOR KEY {_q(thresholds[0])}")
    text = (f"QUERY {'KEYS FOR ' if keys_only else ''}{expr[0]}{th} "
            f"LIMIT {limit};")
    return {"kind": "query", "text": text, "res": expr[1], "limit": limit,
            "keys_only": keys_only, "thresholds": thresholds,
            "bands": bands, "cas_headers": headers}


POINT_TEMPLATES = 11


def point_statement(rng, n_ord, t):
    """Template `t` of the point stream with seeded keys and values. The
    LIMIT is fixed per template, so every seed presents a similar volume."""
    lim = 8 + 4 * t
    st = lambda: leaf("status:" + _pick(rng, STATUSES))
    pr = lambda: leaf("priority:" + _pick(rng, PRIORITIES))
    if t == 0:
        n = int(rng.integers(0, n_ord))
        return query_stmt(_pick(rng, [st, pr, lambda: leaf(
            "custseg:" + _pick(rng, SEGMENTS)), lambda: leaf(
            f"name:order{n}.com")])(), lim)
    if t == 1:
        d = DAY0 + int(rng.integers(0, 2000))
        return query_stmt(_pick(rng, [
            lambda: and_(pr(), cmp(leaf("price"), ">", _price(rng))),
            lambda: and_(st(), rng_(leaf("orderdate"), d, d + 200))])(), lim)
    if t == 2:
        p = _price(rng)
        return query_stmt(or_(st(), rng_(leaf("price"), p, p + 20000)), lim)
    if t == 3:
        p = _price(rng)
        return query_stmt(sub(rng_(leaf("price"), p, p + 50000), st()), lim)
    if t == 4:
        return query_stmt(order_by(pr(), leaf(_pick(rng, ["price", "orderdate"]))), lim)
    if t == 5:
        if rng.integers(0, 2):
            p = _price(rng)
            return query_stmt(rng_(band_leaf(), p, p + 30000), lim, bands=True)
        p = int(rng.integers(1000, 90000))
        return query_stmt(rng_(leaf("lineprice"), p, p + 2000), lim)
    if t == 6:
        vs = sorted(int(v) * 1000 for v in rng.choice(np.arange(10, 500), 3, replace=False))
        key = _pick(rng, ["price", "~price"])
        return query_stmt(st(), lim, thresholds=(key, vs))
    if t == 7:
        return query_stmt(order_by(st(), leaf("price")), lim, keys_only=True)
    if t == 8:
        a, b = (int(x) for x in rng.integers(0, n_ord, 2))
        return query_stmt(or_(dockey(f"order:{a}"), dockey(f"order:{b}")), lim)
    if t == 9:
        w = _pick(rng, ["urgent", "high", "medium", "low", "specified"])
        return query_stmt(order_by(prefix("priority", w), leaf("price")), lim)
    headers = {int(n[5:-4]): h for n, h in CAS_NAMES if h}
    return query_stmt(cas(), lim, headers=headers)


FIELDS = ["price", "qty", "orderdate", "lineprice", "shipdate",
          "status:F", "status:O", "priority:1-URGENT", "priority:5-LOW"]


BULK_TEMPLATES = 6


def bulk_statement(rng, n_ord, t):
    st = lambda: "status:" + _pick(rng, STATUSES)
    pr = lambda: "priority:" + _pick(rng, PRIORITIES)
    if t == 0:
        fields = [str(f) for f in rng.choice(FIELDS, int(rng.integers(2, 5)),
                                             replace=False)]
        frm = _pick(rng, [leaf(st()), or_(leaf(st()), leaf(pr()))])
        summ = bool(rng.integers(0, 2))
        text = ("SELECT " + ", ".join(_q(f) for f in fields) + f" FROM {frm[0]}"
                + (" WITH SUMMARIES" if summ else "") + ";")
        return {"kind": "select", "text": text, "fields": fields,
                "from": frm[1], "summaries": summ}
    if t == 1:
        a = st()
        b = _pick(rng, [s for s in ["status:" + x for x in STATUSES] if s != a]
                  + [pr()])
        return {"kind": "correlate", "text": f"CORRELATE QUERY {_q(a)}, {_q(b)};",
                "a": a, "b": b}
    if t == 2:
        e = theta(agg("max", leaf("lineprice")), ">", agg("max", leaf("price")))
        return query_stmt(sub(e, leaf(st())), -1)
    if t == 3:
        return query_stmt(order_by(leaf(st()), leaf("price")), -1)
    if t == 4:
        return query_stmt(or_(leaf(pr()), leaf(st())), -1)
    lo = int(rng.integers(1, 30))
    return query_stmt(rng_(agg("max", leaf("qty")), lo, lo + 20), -1)


def statements(seed, info, workload, passes):
    """`passes` rounds over every template of the workload, in template
    order, each statement with its own seeded parameters."""
    rng = np.random.default_rng([seed, 2])
    if workload == "search_point":
        make, n_t = point_statement, POINT_TEMPLATES
    else:
        make, n_t = bulk_statement, BULK_TEMPLATES
    ops = [make(rng, info["orders"], int(t))
           for _ in range(passes) for t in range(n_t)]
    for i, op in enumerate(ops):
        op["id"] = i
    return ops


# ---- ingest generations ------------------------------------------------------

def ingest_generations(out_dir, seed, info, n_gens, rows):
    """Write `n_gens` TSV index generations (`key TAB dockey TAB value`).

    Keys mix existing keyword families with new ones; document keys are
    `order:<N>` and `cust:<N>`, all resolvable against the summaries. Returns
    the generation paths, the read-back plan, and per generation the
    cumulative expected (rows, score sum) per key."""
    rng = np.random.default_rng([seed, 3])
    new_keys = [f"tag:{w}" for w in WORDS[:12]]
    old_keys = ["price", "qty", "status:F", "priority:2-HIGH", "lineprice"]
    keys = np.array(new_keys + old_keys)
    gens, expect, total = [], [], {}
    total_bytes = 0
    for g in range(n_gens):
        k = keys[rng.integers(0, len(keys), rows)]
        cust = rng.random(rows) < 0.1
        doc = np.where(cust, rng.integers(0, info["customers"], rows),
                       rng.integers(0, info["orders"], rows))
        score = rng.integers(0, 1_000_000, rows) / 100.0
        lines = [f"{kk}\t{'cust' if c else 'order'}:{d}\t{s:.2f}"
                 for kk, c, d, s in zip(k, cust, doc, score)]
        path = os.path.join(out_dir, f"gen-{g:03d}")
        os.makedirs(path, exist_ok=True)
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(path, "part-0.tsv"), "wb") as f:
            f.write(data)
        total_bytes += len(data)
        for kk, s in zip(k, score):
            n, t = total.get(kk, (0, 0.0))
            total[kk] = (n + 1, t + float(s))
        gens.append({"path": path, "bytes": len(data), "rows": rows})
        expect.append({kk: list(v) for kk, v in sorted(total.items())})
    reads = {"dump_regex": "^tag:[a-f].*",
             "leaf_keys": [str(x) for x in rng.choice(keys, 4, replace=False)]}
    return {"generations": gens, "expect": expect, "reads": reads,
            "tsv_bytes": total_bytes}


# ---- curation calls ----------------------------------------------------------

def curation_calls(seed, info, passes):
    """One call of each kind per pass. The seed picks parameters from small
    grids whose results are of similar size, so every seed materializes a
    similar volume (and identical oracle queries recur across runs)."""
    rng = np.random.default_rng([seed, 4])
    n_docs = info["documents"]
    calls = []
    for _ in range(passes):
        calls.append({"call": "dedup", "min_jaccard": 0.6,
                      "max_df": int(rng.choice([30, 40, 50]))})
        qs = [[q, sorted(set(str(w) for w in rng.choice(WORDS, 3)))]
              for q in range(6)]
        calls.append({"call": "bm25", "queries": qs, "k": 8})
        q, k = [(8, 12), (10, 10), (12, 8)][int(rng.integers(0, 3))]
        calls.append({"call": "ann", "max_qid": q, "k": k})
        lo = int(rng.integers(0, n_docs // 2))
        calls.append({"call": "bpe", "lo": lo, "hi": lo + n_docs // 4})
    for i, c in enumerate(calls):
        c["id"] = i
    return calls


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
