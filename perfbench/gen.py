"""Seeded input generators, one per workload.

Each generator takes the seed and a directory, writes the workload's
inputs there with pyarrow, and returns the workload part of the plan the
benchmark JVM reads, plus the request and data specs the checks need.
The same seed always gives the same inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NOW_MS = 1706659200000          # graft.core.Tables.NowMs, 2024-01-31T00:00:00Z
MIN_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000
METRICS = ["click", "error", "purchase", "signup", "view"]
METRIC_P = [0.30, 0.05, 0.10, 0.05, 0.50]

# tsdb_read store
READ_USERS = 1000
READ_POINTS = 400_000          # four times sf0.1's 100,000
READ_RECENT_SHARE = 0.25        # share of points in the last day
READ_FILES = 8

# corpus
VOCAB = 3000
BASE_DOCS = 400
BATCH_DOCS = 100
CORPUS_BATCHES = 3              # batches per round; the second trips the retrain
DIM = 64
CLUSTERS = 16
SPREAD = 1.2                    # cluster noise; the IVF lists overlap
QUERIES_PER_READ = 50
READS_PER_BATCH = 1

# graph: a third of sf0.1's 150,000 orders and 20,000 parts
GRAPH_PARTS = 7000
GRAPH_ORDERS = 50000
GRAPH_ZIPF = 0.5
# graph_pagerank is left out, its result differs from its own oracle on
# these graphs; graph_triangles and graph_bfs_hops are left out to fit
# the run budget (see the benchmark README)
GRAPH_ANALYSES = ["graph_kcore", "graph_label_propagation", "graph_adamic_adar"]


def _events_table(event_id, ts_ms, user_id, metric_idx, value):
    n = len(event_id)
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_ms.astype("int64") * 1000, pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array([METRICS[i] for i in metric_idx], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(['{"k": %d}' % (i % 100) for i in range(n)], pa.string()),
    })


def _values(rng, n):
    """Two-decimal values, so decimal sums are exact on both engines."""
    return np.round(rng.gamma(2.0, 10.0, n), 2)


def _zipf_weights(n, a):
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


# ---------------------------------------------------------------- tsdb_read

def _qs(start, m):
    return "start=%s&m=%s" % (start, m.replace("{", "%7B").replace("}", "%7D"))


def _sub(metric, agg, ds=None, filters=(), rate=False, counter=False):
    return {"metric": metric, "agg": agg, "ds": ds, "filters": list(filters),
            "rate": rate, "counter": counter}


def _ds(iv, agg, fill="none"):
    units = {"m": MIN_MS, "h": HOUR_MS, "d": DAY_MS}
    return {"iv": int(iv[:-1]) * units[iv[-1]], "agg": agg, "fill": fill,
            "text": "%s-%s%s" % (iv, agg, "" if fill == "none" else "-" + fill)}


def _flt(ftype, filt, group):
    return {"type": ftype, "tagk": "user", "filter": filt, "groupBy": group}


def _post(start, subs):
    qs = []
    for s in subs:
        q = {"metric": s["metric"], "aggregator": s["agg"],
             "filters": [dict(f) for f in s["filters"]]}
        if s["ds"]:
            q["downsample"] = s["ds"]["text"]
        if s["rate"]:
            q["rate"] = True
            q["rateOptions"] = {"counter": s["counter"]}
        qs.append(q)
    return json.dumps({"start": start, "queries": qs})


def _ago(spec):
    units = {"h": HOUR_MS, "d": DAY_MS}
    return NOW_MS - int(spec[:-1]) * units[spec[-1]]


def read_requests(rng):
    """The request slots of one round. Each slot has a fixed shape and
    metric, so every seed offers the same mix of work; the seed picks the
    users and the filter prefixes. Each request keeps its structured
    spec for the independent check."""
    hot = [str(u) for u in range(1, 21)]
    some = lambda xs, k: "|".join(sorted(rng.choice(xs, k, replace=False), key=int))
    anyu = [str(u) for u in range(1, READ_USERS + 1)]
    digit = lambda: str(int(rng.integers(1, 10)))
    reqs = []

    def q(tpl, form, start, subs, text, cap=0):
        reqs.append({"tpl": tpl, "form": form, "cap": cap, "text": text,
                     "spec": {"kind": "q", "start": _ago(start), "end": NOW_MS,
                              "subs": subs}})

    # one series, the shortest range and finest downsample
    s = [_sub("view", "sum", _ds("1m", "avg"), [_flt("literal_or", some(hot, 1), True)])]
    q("post_1h_one_series", "post", "1h", s, _post("1h-ago", s))
    # every series, grouped: the widest scan and response
    s = [_sub("view", "sum", _ds("1d", "count"), [_flt("wildcard", "*", True)])]
    q("post_30d_all_series", "post", "30d", s, _post("30d-ago", s))
    # two subqueries over the shared scan: a null-filled prefix of users
    # and a counter rate over ten users
    s = [_sub("click", "avg", _ds("6h", "avg", "null"),
              [_flt("wildcard", digit() + "*", True)]),
         _sub("purchase", "sum", _ds("1h", "max"),
              [_flt("literal_or", some(anyu, 10), True)], rate=True, counter=True)]
    q("post_7d_multi_rate", "post", "7d", s, _post("7d-ago", s))
    # GET form behind the point cap, which coarsens 1m to a wider interval,
    # zero-filled
    us = some(anyu, 20)
    s = [_sub("click", "sum", _ds("1m", "sum", "zero"), [_flt("literal_or", us, True)])]
    q("qs_1d_capped_zero", "qs", "1d", s,
      _qs("1d-ago", "sum:1m-sum-zero:click{user=literal_or(%s)}" % us), cap=2_000)

    def leaf(metric, tags, iv, agg, fill, rng_spec):
        filt = [] if tags == "" else [_flt("literal_or", tags, False)]
        return ({"op": "leaf", "start": _ago(rng_spec), "end": NOW_MS,
                 "sub": _sub(metric, "sum", _ds(iv, agg, fill), filt)},
                "merge(sum, downsample(%s, %s, %s, query(%s, {%s}, %s)))" % (
                    iv, agg, fill, metric, "" if tags == "" else "user=" + tags, rng_spec))

    # expression: error share of clicks per hour over hot users
    us = some(hot, 5)
    (a, at), (b, bt) = (leaf("error", us, "1h", "sum", "zero", "1d"),
                        leaf("click", us, "1h", "sum", "zero", "1d"))
    reqs.append({"tpl": "expr_ratio", "form": "expr", "cap": 0,
                 "text": "div(%s, %s)" % (at, bt),
                 "spec": {"kind": "expr", "tree": {"op": "div", "l": a, "r": b}}})
    for i, r in enumerate(reqs):
        r["id"] = "r%02d" % i
    return reqs


def gen_tsdb_read(seed, d):
    rng = np.random.default_rng([seed, 1])
    n = READ_POINTS
    recent = rng.random(n) < READ_RECENT_SHARE
    age = np.where(recent, rng.integers(1, DAY_MS, n), rng.integers(1, 30 * DAY_MS, n))
    ts = NOW_MS - age
    user = rng.choice(np.arange(1, READ_USERS + 1), n, p=_zipf_weights(READ_USERS, 0.8))
    metric = rng.choice(len(METRICS), n, p=METRIC_P)
    # the store is a directory of time-ordered files, so scans run in parallel
    path = os.path.join(d, "events.parquet")
    os.makedirs(path)
    order = np.argsort(ts, kind="stable")
    table = _events_table(np.arange(1, n + 1), ts, user, metric, _values(rng, n)).take(order)
    files = []
    for i, part in enumerate(np.array_split(np.arange(n), READ_FILES)):
        files.append(os.path.join(path, "part-%02d.parquet" % i))
        pq.write_table(table.slice(int(part[0]), len(part)), files[-1])
    reqs = read_requests(rng)
    plan = {"requests": [{k: r[k] for k in ("id", "tpl", "form", "text", "cap")} for r in reqs]}
    info = {"points": n, "series": int(len({(a, b) for a, b in zip(user, metric)})),
            "users": READ_USERS, "files": READ_FILES, "requests": len(reqs),
            "bytes": sum(os.path.getsize(f) for f in files)}
    return plan, {"requests": reqs, "events": files}, info


# ------------------------------------------------------------------ corpus

def gen_corpus(seed, d):
    rng = np.random.default_rng([seed, 3])
    vocab = ["w%04d" % i for i in range(VOCAB)]
    wp = _zipf_weights(VOCAB, 1.0)
    centers = rng.normal(0, 1, (CLUSTERS, DIM))
    docs, vecs, planted = {}, {}, []

    def novel(doc_id):
        n = int(rng.integers(60, 200))
        docs[doc_id] = " ".join(vocab[i] for i in rng.choice(VOCAB, n, p=wp))
        vecs[doc_id] = centers[rng.integers(CLUSTERS)] + rng.normal(0, SPREAD, DIM)

    def copy_of(doc_id, src, exact):
        words = docs[src].split(" ")
        if not exact:
            for j in rng.choice(len(words), 2, replace=False):
                words[j] = vocab[int(rng.integers(VOCAB))]
        docs[doc_id] = " ".join(words)
        vecs[doc_id] = vecs[src] + rng.normal(0, 0.05, DIM)
        planted.append({"new": doc_id, "src": src, "exact": exact})

    for i in range(1, BASE_DOCS + 1):
        if i > 20 and rng.random() < 0.05:
            copy_of(i, int(rng.integers(1, i)), bool(rng.random() < 0.5))
        else:
            novel(i)
    batches, next_id = [], BASE_DOCS + 1
    for b in range(CORPUS_BATCHES):
        ids = list(range(next_id, next_id + BATCH_DOCS))
        next_id += BATCH_DOCS
        for i in ids:
            r = rng.random()
            if r < 0.2:
                copy_of(i, int(rng.integers(1, ids[0])), bool(r < 0.1))
            else:
                novel(i)
        batches.append(ids)

    def write(name, ids):
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array([docs[i] for i in ids], pa.string())}),
                       os.path.join(d, name + "_docs.parquet"))
        pq.write_table(pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([vecs[i].astype(np.float32).tolist() for i in ids],
                                  pa.list_(pa.float32()))}),
            os.path.join(d, name + "_vecs.parquet"))
        return {"docs": os.path.join(d, name + "_docs.parquet"),
                "vecs": os.path.join(d, name + "_vecs.parquet")}

    base = write("base", list(range(1, BASE_DOCS + 1)))
    bfiles = [write("batch%d" % b, ids) for b, ids in enumerate(batches)]
    nq = QUERIES_PER_READ * READS_PER_BATCH * CORPUS_BATCHES
    qv = centers[rng.integers(CLUSTERS, size=nq)] + rng.normal(0, SPREAD, (nq, DIM))
    qpath = os.path.join(d, "queries.parquet")
    pq.write_table(pa.table({
        "query_id": pa.array(range(nq), pa.int64()),
        "qv": pa.array([v.astype(np.float32).tolist() for v in qv], pa.list_(pa.float32()))}),
        qpath)
    q = QUERIES_PER_READ
    reads = [[{"lo": (b * READS_PER_BATCH + j) * q, "hi": (b * READS_PER_BATCH + j + 1) * q - 1}
              for j in range(READS_PER_BATCH)] for b in range(CORPUS_BATCHES)]
    plan = {"base_docs": base["docs"], "base_vecs": base["vecs"], "batches": bfiles,
            "queries": qpath, "reads": reads, "top_k": 10, "nprobe": 2,
            "ivf_lists": 8, "ivf_iters": 1, "pq_subspaces": 2,
            "band_compact": 2, "ivf_compact": 2}
    files = [base["docs"], base["vecs"], qpath] + [f for b in bfiles for f in b.values()]
    info = {"base_docs": BASE_DOCS, "batch_docs": BATCH_DOCS,
            "batches_per_round": CORPUS_BATCHES, "vocab": VOCAB, "dim": DIM,
            "clusters": CLUSTERS, "planted_pairs": len(planted),
            "queries_per_read": QUERIES_PER_READ, "reads_per_batch": READS_PER_BATCH,
            "bytes": sum(os.path.getsize(f) for f in files)}
    spec = {"docs": docs, "vecs": {i: v.astype(np.float32) for i, v in vecs.items()},
            "batches": batches, "planted": planted,
            "queries": qv.astype(np.float32), "reads": reads, "top_k": 10}
    return plan, spec, info


# ------------------------------------------------------------------- graph

def gen_graph(seed, d):
    rng = np.random.default_rng([seed, 4])
    w = _zipf_weights(GRAPH_PARTS, GRAPH_ZIPF)
    perm = rng.permutation(GRAPH_PARTS) + 1     # popularity is not id order
    basket = np.minimum(1 + rng.poisson(2.5, GRAPH_ORDERS), 8)
    order = np.repeat(np.arange(1, GRAPH_ORDERS + 1), basket)
    part = perm[rng.choice(GRAPH_PARTS, len(order), p=w)]
    # a basket holds distinct parts: a part drawn twice is one line
    ok, pk = np.unique(np.stack([order, part], axis=1), axis=0).T
    path = os.path.join(d, "lineitem.parquet")
    pq.write_table(pa.table({"l_orderkey": pa.array(ok, pa.int64()),
                             "l_partkey": pa.array(pk, pa.int64())}), path)
    plan = {"analyses": GRAPH_ANALYSES}
    info = {"orders": GRAPH_ORDERS, "parts": GRAPH_PARTS, "lines": len(ok),
            "basket": "1 + Poisson(2.5) draws, at most 8, repeats merged",
            "popularity": "Zipf %.1f" % GRAPH_ZIPF,
            "bytes": os.path.getsize(path)}
    return plan, {"lineitem": path}, info


GENERATORS = {"tsdb_read": gen_tsdb_read, "corpus": gen_corpus, "graph": gen_graph}
