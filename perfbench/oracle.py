"""Output checks, run after the timed window.

Search ops: every presented result is compared with DuckDB run on the
statement's posting SQL over the program's own `idx` / `summ` / `ovr` oracle
CTEs (Catalog.indexSql, summariesSql, overridesSql), rendered the way the
Presenter renders it. CORRELATE uses CorrelateExec.fullOracleSql.
Ingest ops: every read is compared with the generator's per-key row counts and
score sums for the generation it ran against. Curation ops: every result is
compared with the library's exported oracle SQL, the way scripts/check.py
compares the oracle entries.

Each check returns (ok, result_rows, result_bytes).
"""
import hashlib
import json
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal, localcontext

import duckdb
import numpy as np
import pandas as pd


def connect(data_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{os.path.dirname(data_dir)}/tmp'")
    for name in ("orders", "lineitem", "customer", "documents", "embeddings"):
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def g9(d):
    """Printer.g9: 9 significant digits, half-up, trailing zeros stripped."""
    if d is None or (isinstance(d, float) and math.isnan(d)):
        return "nan"
    if math.isinf(d):
        return "inf" if d > 0 else "-inf"
    if d == 0:
        return "0"
    with localcontext() as c:
        c.prec = 9
        c.rounding = ROUND_HALF_UP
        x = (+Decimal(d)).normalize()
    if not 1e-5 <= abs(d) < 1e9:
        raise ValueError(f"g9 exponent form not mirrored: {d}")
    return format(x, "f")


def fixed3(d):
    """Java's %.3f: half-up on the shortest decimal form of the double."""
    return str(Decimal(repr(float(d))).quantize(Decimal("0.001"), ROUND_HALF_UP))


def base26(k):
    return "".join(chr(ord("A") + (k // 26 ** p) % 26) for p in range(4, -1, -1))


class SearchChecker:
    def __init__(self, con, sql):
        self.con = con
        summ = sql["summaries"].strip()
        assert summ.upper().startswith("WITH ")
        self.ctes = f"{sql['index']}, {summ[5:]}, {sql['overrides']}"

    def rows(self, body):
        return self.con.execute(f"{self.ctes} {body}").fetchall()

    def check(self, op, out, correlate_sql=None):
        kind = op["kind"]
        if kind == "query":
            return self.query(op, out)
        if kind == "select":
            return self.select(op, out)
        return self.correlate(op, out, correlate_sql)

    def query(self, op, out):
        bands = op["bands"]
        if bands:
            dedup = ("SELECT off, max(score) AS score, arg_max(pct5, score) AS pct5, "
                     "arg_max(pct25, score) AS pct25, arg_max(pct75, score) AS pct75, "
                     f"arg_max(pct95, score) AS pct95 FROM ({op['res']}) GROUP BY off")
        else:
            dedup = f"SELECT off, max(score) AS score FROM ({op['res']}) GROUP BY off"
        th = op["thresholds"]
        buckets = []
        if th:
            key, vals = th[0], sorted(float(v) for v in th[1])
            rev = key.startswith("~")
            key = key.lstrip("~")
            for j, (lo, hi) in enumerate(zip(vals, vals[1:])):
                k = len(vals) - (j + 1) if rev else j + 1
                buckets.append((lo, hi, f"{g9(lo)}–{g9(hi)}", base26(k)))
            if not buckets:
                dedup = f"SELECT * FROM ({dedup}) WHERE false"
            else:
                dedup = (f"SELECT d.off AS off, t.s AS score FROM ({dedup}) d JOIN "
                         f"(SELECT off, max(score) AS s FROM idx WHERE key = '{key}' "
                         f"GROUP BY off) t ON d.off = t.off WHERE t.s >= {buckets[0][0]!r} "
                         f"AND t.s < {buckets[-1][1]!r}")
        lim = op["limit"]
        page = (f"SELECT * FROM ({dedup}) ORDER BY score DESC, off ASC"
                + (f" LIMIT {lim}" if lim >= 0 else ""))
        if op["keys_only"]:
            keys = self.rows(f"SELECT s.key FROM ({page}) p JOIN summ s ON s.off = p.off "
                             "ORDER BY p.score DESC, p.off ASC")
            want = "\n".join(k for (k,) in keys)
            return out == want, len(keys), len(out.encode())
        total = self.rows(f"SELECT count(*) FROM ({dedup})")[0][0]
        pct = ", p.pct5, p.pct25, p.pct75, p.pct95" if bands else ""
        rows = self.rows(
            f"SELECT p.off, p.score, s.key, s.json, o.json{pct} FROM ({page}) p "
            "JOIN summ s ON s.off = p.off LEFT JOIN ovr o ON o.key = s.key "
            "ORDER BY p.score DESC, p.off ASC")
        cas = {int(k): v for k, v in (op.get("cas_headers") or {}).items()}
        items = []
        for r in rows:
            off, score, key, js, ojs = r[:5]
            item = {"_key": key}
            item.update(json.loads(js))
            if ojs is not None:
                item.update(json.loads(ojs))
            if bands and r[5] is not None:
                item["_score"] = " ".join(g9(x) for x in (score,) + tuple(r[5:9]))
            if buckets:
                for lo, hi, h, hk in buckets:
                    if score < hi:
                        item["_header"], item["_header_key"] = h, hk
                        break
            if off in cas:
                item["_header"], item["_header_key"] = cas[off]
            items.append(item)
        want = {"result-count": total, "result": items or [{}]}
        try:
            got = json.loads(out)
        except ValueError:
            return False, len(rows), len(out.encode())
        return got == want, len(rows), len(out.encode())

    def select(self, op, out):
        fields = op["fields"]
        cols, joins = [], []
        for i, f in enumerate(fields):
            cols.append(f"CASE WHEN f{i}.nz = 0 THEN 1.0 ELSE f{i}.s END")
            joins.append(
                f"LEFT JOIN (SELECT off, min(score) AS s, (SELECT max(CASE WHEN "
                f"score <> 0 THEN 1 ELSE 0 END) FROM idx WHERE key = '{f}') AS nz "
                f"FROM idx WHERE key = '{f}' GROUP BY off) f{i} ON f{i}.off = sel.off")
        body = (f"SELECT s.key, {', '.join(cols)}, s.json FROM "
                f"(SELECT DISTINCT off FROM ({op['from']})) sel "
                f"JOIN summ s ON s.off = sel.off {' '.join(joins)} ORDER BY sel.off")
        rows = self.rows(body)
        want = []
        for r in rows:
            line = r[0] + "".join("," + g9(v) for v in r[1:1 + len(fields)])
            if op["summaries"]:
                line += ',"' + r[-1].replace('"', '""') + '"'
            want.append(line)
        got = out.split("\n") if out else []
        ok = len(got) == len(want)
        if ok and op["summaries"]:
            # summary JSON is compared parsed, the key and values as text
            for g, w in zip(got, want):
                gh, gj = g.split(',"', 1)
                wh, wj = w.split(',"', 1)
                if gh != wh or json.loads(gj[:-1].replace('""', '"')) != \
                        json.loads(wj[:-1].replace('""', '"')):
                    ok = False
                    break
        elif ok:
            ok = got == want
        return ok, len(rows), len(out.encode())

    def correlate(self, op, out, sql):
        rows = self.con.execute(
            f"SELECT * FROM ({sql}) ORDER BY key ASC, min_score ASC NULLS FIRST"
        ).df()
        want = []
        for r in rows.itertuples(index=False):
            lo = None if pd.isna(r.min_score) else float(r.min_score)
            hi = None if pd.isna(r.max_score) else float(r.max_score)
            rng = ""
            if lo is not None or hi is not None:
                rng = ("\t" + (g9(lo) if lo is not None else "-inf")
                       + "\t" + (g9(hi) if hi is not None else "inf"))
            want.append(f"{fixed3(r.log_odds)}\t{int(r.cnt_a)}\t{int(r.cnt_b)}\t"
                        f"{r.key}{rng}")
        got = out.split("\n") if out else []
        return got == want, len(want), len(out.encode())


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint")):
            df[c] = df[c].astype(np.int64)
        elif df[c].dtype == np.float32:
            df[c] = df[c].astype(np.float64)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_equal(got, want, atol):
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        g, w = got[c].values, want[c].values
        if g.dtype == np.float64:
            if not np.allclose(g, w, rtol=1e-12, atol=atol, equal_nan=True):
                return False
        elif not (g == w).all():
            return False
    return True


class CurationChecker:
    """Oracle answers are cached on disk by (SQL, input bytes): the corpus
    is the same for every seed, and parameters come from small grids, so
    runs of one checkout often repeat an oracle query."""

    def __init__(self, con, sql, data_dir, cache_dir):
        self.con, self.sql, self.cache_dir = con, sql, cache_dir
        h = hashlib.sha256()
        for name in ("documents", "embeddings"):
            with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
                h.update(f.read())
        self.data_hash = h.hexdigest()

    def oracle(self, sql):
        key = hashlib.sha256((self.data_hash + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        df = self.con.execute(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        df.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def check(self, op, out_dir):
        got = pd.read_parquet(os.path.join(out_dir, "outputs", str(op["id"])))
        want = self.oracle(self.sql[str(op["id"])])
        if op["call"] == "bpe":
            want = want[(want.doc_id >= op["lo"]) & (want.doc_id < op["hi"])]
        ok = frames_equal(got, want, atol=0.0)
        nbytes = len(got.to_csv(index=False, header=False).encode())
        return ok, len(got), nbytes


def check_ingest_read(extra, expect, regex=None, key=None):
    """A read after generation `gen` must see the generator's (rows, sum) for
    every key it selects."""
    exp = expect[extra["gen"] - 1]
    if regex is not None:
        want = {k: v for k, v in exp.items() if re.match(regex, k)}
    else:
        want = {key: exp[key]} if key in exp else {}
    got = extra["keys"]
    if set(got) != set(want):
        return False
    return all(got[k][0] == want[k][0] and
               math.isclose(got[k][1], want[k][1], rel_tol=1e-9, abs_tol=1e-6)
               for k in want)
