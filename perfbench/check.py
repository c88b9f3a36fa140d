"""Independent output checks, run untimed after the timed region.

Each check recomputes the workload's results apart from graft, from the
generated inputs and the request or op parameters, and compares them with
what the benchmark JVM collected:

  tsdb_read    DuckDB SQL built from each distinct request's parameters,
               compared under the engine's 4-dp decimal rule (D3)
  corpus       word-set Jaccard recomputed for every reported pair; every
               planted pair whose LSH miss chance is negligible is found;
               IVF probes against numpy brute-force cosine (recall@k)
  graph        graft's own oracle SQL (SparkEntry.oracleSql) in DuckDB

Each check returns {"ok", "recall", "details"}. `recall` is the share of
the reference results the engine returned: below 1 only for the
approximate IVF probe.
"""
import json
import math
import os
import sys
import tempfile
from collections import Counter

import duckdb
import numpy as np

import gen

MAX_REPORTED = 5


def q4(v):
    """A value at the engine's 4-dp resolution (None stays None)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return int(round(float(v) * 10000.0))


def r4(x):
    """graft's D.r4s on a Python double: round half away from zero at 4 dp."""
    y = x * 10000.0
    return (math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5)) / 10000.0 + 0.0


class Verdict:
    def __init__(self):
        self.problems = []
        self.checked = 0
        self.ref_rows = 0
        self.hit_rows = 0

    def fail(self, msg):
        self.problems.append(msg)

    def result(self, recall=None, **extra):
        if recall is None:
            recall = self.hit_rows / self.ref_rows if self.ref_rows else 0.0
        details = {"checked": self.checked, "problems": len(self.problems),
                   "first_problems": self.problems[:MAX_REPORTED]}
        details.update(extra)
        return {"ok": not self.problems and self.checked > 0, "recall": recall,
                "details": details}


def compare_multisets(v, what, got, want):
    """Counts matched reference rows; records the first differences."""
    g, w = Counter(got), Counter(want)
    v.ref_rows += len(want)
    v.hit_rows += sum((g & w).values())
    if g != w:
        miss, extra = list((w - g).elements()), list((g - w).elements())
        v.fail("%s: %d reference rows missing, %d unexpected; e.g. missing %s, unexpected %s"
               % (what, len(miss), len(extra), sorted(miss, key=str)[:3],
                  sorted(extra, key=str)[:3]))


# ---------------------------------------------------------------- tsdb SQL

def _agg_sql(agg, v="value"):
    dec = "CAST(SUM(CAST(%s AS DECIMAL(18,4))) AS DOUBLE)" % v
    return {"sum": dec,
            "avg": "ROUND((%s / COUNT(%s)) * 10000.0, 0) / 10000.0 + 0.0" % (dec, v),
            "min": "MIN(%s)" % v, "max": "MAX(%s)" % v,
            "count": "COUNT(%s)" % v}[agg]


def _filter_sql(f):
    if f["type"] == "literal_or":
        return "u IN (%s)" % ", ".join("'%s'" % x for x in f["filter"].split("|"))
    if f["type"] == "wildcard":
        return "u LIKE '%s'" % f["filter"].replace("*", "%")
    raise ValueError("filter type %s is not generated" % f["type"])


def _where(sub, start, end):
    w = ["metric = '%s'" % sub["metric"], "ts_ms >= %d" % start, "ts_ms < %d" % end]
    return " AND ".join(w + [_filter_sql(f) for f in sub["filters"]])


def pipeline_sql(sub, start, end, interval=None):
    """graft's Pipeline.run stages over the `pts` view: filter, per-series
    downsample, fill, cross-series merge, rate. Rows: (gu, b, value)."""
    ds = sub["ds"]
    iv = interval or ds["iv"]
    group = any(f["groupBy"] for f in sub["filters"])
    sql = ("WITH f AS (SELECT u, ts_ms, value FROM pts WHERE %s), "
           "d AS (SELECT u, ts_ms - (ts_ms %% %d) AS b, %s AS value FROM f GROUP BY 1, 2)"
           % (_where(sub, start, end), iv, _agg_sql(ds["agg"])))
    if ds["fill"] in ("zero", "null"):
        a0 = (start // iv) * iv
        val = "COALESCE(d.value, 0.0)" if ds["fill"] == "zero" else "d.value"
        sql += (", g AS (SELECT s.u, r.range AS b FROM (SELECT DISTINCT u FROM d) s "
                "CROSS JOIN range(%d, %d, %d) r), "
                "d2 AS (SELECT g.u, g.b, %s AS value FROM g LEFT JOIN d "
                "ON d.u = g.u AND d.b = g.b)" % (a0, end, iv, val))
    else:
        sql += ", d2 AS (SELECT * FROM d)"
    sql += (", m AS (SELECT %s AS gu, b, %s AS value FROM d2 "
            "WHERE value IS NULL OR NOT isnan(value) GROUP BY ALL)"
            % ("u" if group else "CAST(NULL AS VARCHAR)", _agg_sql(sub["agg"])))
    if not sub["rate"]:
        return sql + " SELECT gu, b, value FROM m"
    delta = "value - LAG(value) OVER w"
    if sub["counter"]:
        delta = "CASE WHEN %s < 0 THEN NULL ELSE %s END" % (delta, delta)
    return sql + (
        ", r AS (SELECT gu, b, LAG(b) OVER w AS pb, "
        "ROUND(((%s) / ((b - LAG(b) OVER w) / 1000.0)) * 10000.0, 0) / 10000.0 + 0.0 AS value "
        "FROM m WINDOW w AS (PARTITION BY gu ORDER BY b)) "
        "SELECT gu, b, value FROM r WHERE pb IS NOT NULL AND value IS NOT NULL" % delta)


def coarsened(con, sub, start, end, cap):
    """graft's runCapped interval choice, recomputed: the smallest factor
    of the interval whose series x buckets grid fits under the cap."""
    n = con.execute("SELECT COUNT(DISTINCT u) FROM pts WHERE %s"
                    % _where(sub, start, end)).fetchone()[0]
    rng, iv = end - start, sub["ds"]["iv"]
    buckets = lambda i: 1 if rng <= 0 else -(-rng // i)
    while n * buckets(iv) > cap and buckets(iv) > 1:
        iv *= max(2, -(-(n * buckets(iv)) // cap))
    return iv


def expr_sql(t):
    """Rows (gu, b, value) of an expression tree, as Pipeline.runExpr
    evaluates it."""
    op = t["op"]
    if op == "leaf":
        return pipeline_sql(t["sub"], t["start"], t["end"])
    if op == "shift":
        inner = shift_leaves(t["e"], t["d"])
        return "SELECT gu, b + %d AS b, value FROM (%s)" % (t["d"], expr_sql(inner))
    l = expr_sql(t["l"])
    if t["r"]["op"] == "scalar":
        rv = "%r" % float(t["r"]["v"])
        return ("SELECT gu, b, ROUND((%s) * 10000.0, 0) / 10000.0 + 0.0 AS value FROM (%s)"
                % (_binop(op, "value", rv), l))
    return ("SELECT l.gu, l.b, ROUND((%s) * 10000.0, 0) / 10000.0 + 0.0 AS value "
            "FROM (%s) l JOIN (%s) r ON l.b = r.b AND l.gu IS NOT DISTINCT FROM r.gu"
            % (_binop(op, "l.value", "r.value"), l, expr_sql(t["r"])))


def _binop(op, a, b):
    return {"add": "%s + %s" % (a, b), "sub": "%s - %s" % (a, b),
            "mul": "%s * %s" % (a, b),
            "div": "%s / (CASE WHEN %s = 0.0 THEN NULL ELSE %s END)" % (a, b, b)}[op]


def shift_leaves(t, d):
    t = dict(t)
    if t["op"] == "leaf":
        t["start"] -= d
        t["end"] -= d
    for k in ("l", "r", "e"):
        if k in t:
            t[k] = shift_leaves(t[k], d)
    return t


def wire_rows(v, what, json_rows, metric, grouped):
    """(gu, ts, value@4dp) of OpenTSDB response rows, checking their
    metric, tags and aggregateTags on the way."""
    out = []
    for js in json_rows:
        r = json.loads(js)
        tags = r.get("tags") or {}
        if r.get("metric") != metric:
            v.fail("%s: metric %r, expected %r" % (what, r.get("metric"), metric))
        if (r.get("aggregateTags") or []) != ([] if grouped else ["user"]):
            v.fail("%s: aggregateTags %r" % (what, r.get("aggregateTags")))
        gu = tags.get("user") if grouped else None
        if grouped and gu is None:
            v.fail("%s: grouped row without a user tag" % what)
        for ts, val in (r.get("dps") or {}).items():
            out.append((gu, int(ts), q4(val)))
    return out


def pts_view(con, files):
    con.execute("CREATE OR REPLACE VIEW pts AS SELECT event_type AS metric, "
                "CAST(user_id AS VARCHAR) AS u, epoch_ms(ts) AS ts_ms, value "
                "FROM read_parquet([%s])" % ", ".join("'%s'" % f for f in files))


def check_tsdb_read(spec, plan, outs):
    v = Verdict()
    con = duckdb.connect()
    pts_view(con, spec["events"])
    resp = outs.get("responses", {})
    for r in spec["requests"]:
        got = resp.get(r["id"])
        what = "%s (%s)" % (r["id"], r["tpl"])
        if got is None:
            v.fail("%s: no response collected" % what)
            continue
        v.checked += 1
        sp = r["spec"]
        if sp["kind"] == "expr":
            grouped = _expr_grouped(sp["tree"])
            want = [(gu, b, q4(x)) for gu, b, x in con.execute(expr_sql(sp["tree"])).fetchall()]
            compare_multisets(v, what, wire_rows(v, what, got[0], "expr", grouped), want)
            continue
        if len(got) != len(sp["subs"]):
            v.fail("%s: %d result sets for %d subqueries" % (what, len(got), len(sp["subs"])))
            continue
        for i, sub in enumerate(sp["subs"]):
            iv = coarsened(con, sub, sp["start"], sp["end"], r["cap"]) if r["cap"] else None
            sql = pipeline_sql(sub, sp["start"], sp["end"], iv)
            want = [(gu, b, q4(x)) for gu, b, x in con.execute(sql).fetchall()]
            grouped = any(f["groupBy"] for f in sub["filters"])
            compare_multisets(v, "%s sub %d" % (what, i),
                              wire_rows(v, what, got[i], sub["metric"], grouped), want)
    if outs.get("repeat_mismatches"):
        v.fail("%d repeated requests answered differently" % outs["repeat_mismatches"])
    return v.result(reference_points=v.ref_rows)


def _expr_grouped(t):
    if t["op"] == "leaf":
        return any(f["groupBy"] for f in t["sub"]["filters"])
    return _expr_grouped(t.get("l") or t.get("e"))


# ------------------------------------------------------------------ corpus

def _shingles(words, n=3):
    return {" ".join(words[j:j + n]) for j in range(len(words) - n + 1)}


def _unit(xs):
    x = np.asarray(xs, dtype=np.float64)
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _engine_cosine(a, b):
    """graft's cosine: each product quantized to 4 dp before the sum,
    norms likewise, the ratio rounded to 4 dp."""
    def dot(x, y):
        p = np.asarray(x, np.float64) * np.asarray(y, np.float64) * 10000.0
        return float(np.sum(np.where(p >= 0, np.floor(p + 0.5), np.ceil(p - 0.5)))) / 10000.0
    return r4(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))


def check_corpus(spec, plan, outs):
    v = Verdict()
    docs, vecs, batches = spec["docs"], spec["vecs"], spec["batches"]
    ops = outs.get("ops", [])
    if len(ops) != len(batches):
        v.fail("%d ops collected for %d batches" % (len(ops), len(batches)))
    words = {i: set(t.split(" ")) for i, t in docs.items()}
    stored = list(range(1, gen.BASE_DOCS + 1))
    trained, appended = gen.BASE_DOCS, 0
    recalls, found_planted, must_find = [], 0, 0
    k = spec["top_k"]
    for i, (op, ids) in enumerate(zip(ops, batches)):
        v.checked += 1
        in_batch, in_store = set(ids), set(stored)
        reported = set()
        for new_id, corpus_id, jac in op["pairs"]:
            reported.add((new_id, corpus_id))
            if new_id not in in_batch or corpus_id not in in_store:
                v.fail("batch %d: pair (%d, %d) outside batch or store" % (i, new_id, corpus_id))
                continue
            a, b = words[new_id], words[corpus_id]
            want = r4(len(a & b) / len(a | b))
            if q4(want) != q4(jac) or jac < 0.5:
                v.fail("batch %d: pair (%d, %d) jaccard %s, recomputed %s"
                       % (i, new_id, corpus_id, jac, want))
        for p in spec["planted"]:
            if p["new"] not in in_batch:
                continue
            a, b = docs[p["new"]].split(" "), docs[p["src"]].split(" ")
            sa, sb = _shingles(a), _shingles(b)
            s = len(sa & sb) / len(sa | sb)
            miss = (1.0 - s ** 4) ** 8
            wj = len(set(a) & set(b)) / len(set(a) | set(b))
            if miss < 1e-6 and wj >= 0.5:
                must_find += 1
                if (p["new"], p["src"]) in reported:
                    found_planted += 1
                else:
                    v.fail("batch %d: planted pair (%d, %d) not found (miss chance %.1e)"
                           % (i, p["new"], p["src"], miss))
        stored += ids
        appended += len(ids)
        expect_retrain = appended / trained >= 0.30
        if expect_retrain:
            trained, appended = len(stored), 0
        if bool(op["retrained"]) != expect_retrain:
            v.fail("batch %d: retrained=%s, drift rule says %s" % (i, op["retrained"], expect_retrain))
        # the probe after the batch: brute force over every stored vector
        qids = [q for sl in spec["reads"][i] for q in range(sl["lo"], sl["hi"] + 1)]
        corpus = np.stack([vecs[j] for j in stored])
        ids_arr = np.asarray(stored)
        qs = spec["queries"][qids]
        sims = _unit(qs) @ _unit(corpus).T
        by_q = {}
        for qid, rn, vid, sim in op["probe"]:
            by_q.setdefault(qid, []).append((rn, vid, sim))
        for n, q in enumerate(qids):
            order = np.lexsort((ids_arr, -sims[n]))[:k]
            ref = set(ids_arr[order].tolist())
            got = sorted(by_q.get(q, []))
            if [r[0] for r in got] != list(range(1, k + 1)):
                v.fail("probe %d query %d: ranks %s" % (i, q, [r[0] for r in got]))
            recalls.append(len(ref & {r[1] for r in got}) / k)
            for rn, vid, sim in got[:3]:
                want = _engine_cosine(qs[n], vecs[vid])
                if abs(want - sim) > 1e-4 + 1e-9:
                    v.fail("probe %d query %d: sim of %d is %s, recomputed %s"
                           % (i, q, vid, sim, want))
    if outs.get("repeat_mismatches"):
        v.fail("%d repeated ops answered differently" % outs["repeat_mismatches"])
    return v.result(recall=float(np.mean(recalls)) if recalls else 0.0,
                    planted_found=found_planted, planted_required=must_find)


# ------------------------------------------------------------------- graph

def _cell(x):
    if isinstance(x, float):
        return q4(x)
    if isinstance(x, (list, tuple)):
        return tuple(_cell(y) for y in x)
    if hasattr(x, "as_integer_ratio") and not isinstance(x, int):   # Decimal
        return q4(float(x))
    return x


def check_graph(spec, plan, outs):
    v = Verdict()
    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet('%s')" % spec["lineitem"])
    results = outs.get("results", {})
    for name in plan["analyses"]:
        r = results.get(name)
        if r is None:
            v.fail("%s: no result collected" % name)
            continue
        v.checked += 1
        want = [tuple(_cell(x) for x in row) for row in con.execute(r["oracle"]).fetchall()]
        got = [tuple(_cell(x) for x in row) for row in r["rows"]]
        v.ref_rows += len(want)
        v.hit_rows += sum(1 for a, b in zip(got, want) if a == b)
        if got != want:
            bad = [(j, a, b) for j, (a, b) in enumerate(zip(got, want)) if a != b][:2]
            v.fail("%s: %d rows vs %d reference rows; first differences %s"
                   % (name, len(got), len(want), bad))
    return v.result()


CHECKS = {"tsdb_read": check_tsdb_read, "corpus": check_corpus, "graph": check_graph}


# --------------------------------------------------------------- self-test

def perturb(wl, outs):
    """Changes one collected result by the smallest step its check
    resolves, so that the check must fail."""
    if wl == "tsdb_read":
        rid = sorted(outs["responses"])[0]
        row = json.loads(outs["responses"][rid][0][0])
        ts = sorted(row["dps"])[0]
        row["dps"][ts] = (row["dps"][ts] or 0.0) + 0.0001
        outs["responses"][rid][0][0] = json.dumps(row)
        return "response %s: first value + 0.0001" % rid
    if wl == "corpus":
        op = next(o for o in outs["ops"] if o["pairs"])
        op["pairs"][0][2] += 0.0001
        return "first reported near-duplicate pair: jaccard + 0.0001"
    if wl == "graph":
        name = sorted(outs["results"])[0]
        row = outs["results"][name]["rows"][0]
        row[-1] = row[-1] + 1
        return "%s: last cell of the first row + 1" % name
    raise ValueError(wl)


def main():
    """Re-checks a run root kept with `run.py --keep`:

        python3 perfbench/check.py <run root> [--perturb]

    --perturb changes one collected result first; the check must then
    report a problem and exit with 1."""
    root = sys.argv[1]
    with open(os.path.join(root, "plan.json")) as f:
        plan = json.load(f)
    with open(os.path.join(root, "out", "outputs.json")) as f:
        outs = json.load(f)
    wl = plan["workload"]
    with tempfile.TemporaryDirectory(dir=root) as d:
        _, spec, _ = gen.GENERATORS[wl](plan["seed"], d)
        note = perturb(wl, outs) if "--perturb" in sys.argv[2:] else "none"
        verdict = CHECKS[wl](spec, plan, outs)
    print(json.dumps({"workload": wl, "perturbed": note, "ok": verdict["ok"],
                      "details": verdict["details"]}))
    return 0 if verdict["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
