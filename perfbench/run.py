"""graft performance benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload tsdb_read --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark JVM program from source when stale (perfbench/build.py),
generates the workload's inputs from the seed under a fresh run root,
runs the benchmark JVM (one Spark session, one client thread), checks the
outputs against computations made apart from graft (perfbench/check.py),
and prints one JSON object as the last line of stdout. --trace 0 prints
the end-to-end metrics; --trace 1 attaches the listeners and prints the
per-layer metrics. The run root is deleted when the run ends.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("tsdb_read", "corpus", "graph")
PRIMARY = {"tsdb_read": "request", "corpus": "batch", "graph": "analysis"}
# the ops read_p50_ms times: every tsdb_read and graph op is a read
READ = {"tsdb_read": "request", "corpus": "read", "graph": "analysis"}
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


ARCHIVE = os.path.join(build.OUT, "perfbench.jsa")


def record_archive(jar):
    """The last step of the build: one untimed training JVM sets up and
    warms every workload (seed 0) and records a class-data archive of the
    classes it loaded. Every measured run maps that archive instead of
    loading Spark's classes from the jars, which takes seconds off every
    JVM start and warm-up. A rebuild drops the archive, so it always
    matches the jar, and no measured run records one."""
    if os.path.exists(ARCHIVE):
        return
    print("[perfbench] recording the class-data archive", file=sys.stderr)
    root = os.path.join(build.OUT, "runs", "train-%d" % os.getpid())
    try:
        plans = [prepare(wl, 0, 0, 0, os.path.join(root, wl), train=True)[0]
                 for wl in WORKLOADS]
        run_jvm(jar, os.path.join(root, WORKLOADS[0]), plans,
                "-XX:ArchiveClassesAtExit=" + ARCHIVE + ".tmp")
    except Exception as e:  # noqa: BLE001 -- reported as a failed build
        raise build.BuildError("training run failed: %s" % e)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    os.rename(ARCHIVE + ".tmp", ARCHIVE)


def prepare(workload, seed, seconds, trace, root, train=False):
    """Generates the inputs under a fresh `root` and writes the plan the
    benchmark JVM reads. Returns the plan's path, the plan, the check
    spec and the input make-up."""
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("in", "out", "tmp"):
        os.makedirs(os.path.join(root, sub))
    plan, spec, info = gen.GENERATORS[workload](seed, os.path.join(root, "in"))
    plan.update({"workload": workload, "seed": seed, "seconds": seconds,
                 "trace": bool(trace), "train": train, "root": root,
                 "in": os.path.join(root, "in"), "out": os.path.join(root, "out"),
                 "cores": cores()})
    plan_path = os.path.join(root, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    return plan_path, plan, spec, info


def run_jvm(jar, root, plan_paths, cds_flag):
    """Runs the benchmark JVM on prepared plans, with `root`'s tmp as
    java.io.tmpdir and its log under `root`; returns its wall seconds."""
    cmd = (["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.awt.headless=true", cds_flag,
            "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
            "-cp", build.classpath(jar), "perfbench.Main"] + plan_paths)
    log_path = os.path.join(root, "out", "jvm.log")
    t0 = time.monotonic()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("benchmark JVM exceeded its time limit")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("benchmark JVM exited with %d:\n%s" % (rc, tail))
    return time.monotonic() - t0


def drive(jar, workload, seed, seconds, trace, root):
    """Generates the inputs under a fresh `root` and runs the benchmark JVM on
    them. Returns the plan, the check spec, the input make-up, the
    JVM's result, its outputs, and the JVM's wall seconds."""
    plan_path, plan, spec, info = prepare(workload, seed, seconds, trace, root)
    jvm_s = run_jvm(jar, root, [plan_path], "-XX:SharedArchiveFile=" + ARCHIVE)
    with open(os.path.join(root, "out", "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(root, "out", "outputs.json")) as f:
        outs = json.load(f)
    return plan, spec, info, res, outs, jvm_s


def tail_ms(xs):
    """The highest percentile with at least ten samples beyond it, or None
    when the sample is too small for a tail (under forty samples)."""
    n = len(xs)
    if n < 40:
        return None
    s = sorted(xs)
    return {"percentile": round(100.0 * (n - 10) / n, 1), "value": s[n - 11],
            "samples": n, "beyond": 10}


def work_units(wl, ops):
    """Requests, documents ingested, or analyses completed."""
    return sum(gen.BATCH_DOCS if wl == "corpus" else 1
               for o in ops if o["ok"] and o["kind"] == PRIMARY[wl])


def template_p50(ops, kind):
    """The geometric mean over the op templates of `kind` of each
    template's median latency. Every template weighs the same, so halving
    any one of them moves the figure, and none sets it alone."""
    by_tpl = {}
    for o in ops:
        if o["ok"] and o["kind"] == kind:
            by_tpl.setdefault(o["tpl"], []).append(o["ms"])
    p50s = [median(xs) for xs in by_tpl.values()]
    return math.exp(mean([math.log(x) for x in p50s])) if p50s else 0.0


def end_to_end(wl, res, work, recall):
    ops = [o for o in res["ops"] if o["ok"]]
    busy_s = sum(o["ms"] for o in ops) / 1000.0
    st = res["setup"]
    return {
        "setup_s": {"value": st["wall_ms"] / 1000.0, "unit": "s"},
        "op_p50_ms": {"value": template_p50(ops, PRIMARY[wl]), "unit": "ms"},
        "work_per_s": {"value": work / busy_s if busy_s else 0.0, "unit": "1/s"},
        "read_p50_ms": {"value": template_p50(ops, READ[wl]), "unit": "ms"},
        "recall_at_k": {"value": recall, "unit": "ratio"},
        "store_mb": {"value": res["store_bytes"] / 1e6, "unit": "MB"},
        "heap_live_mb": {"value": res["heap_live_mb"], "unit": "MB"},
    }


def per_layer(wl, res, n_cores):
    ops = [o for o in res["ops"] if o["ok"]]
    prim = [o for o in ops if o["kind"] == PRIMARY[wl]]
    sm = res["samples"]
    d = lambda k: [o["d"][k] for o in prim]
    s = lambda k: mean(sm.get(k, []))
    wall_ms = sum(o["ms"] for o in prim)
    m = {
        "spark.jobs_per_op": (mean(d("jobs")), "count"),
        "spark.stages_per_op": (mean(d("stages")), "count"),
        "spark.tasks_per_op": (mean(d("tasks")), "count"),
        "spark.plan_ms": (mean(d("plan_ms")), "ms"),
        "spark.exec_run_ms_per_op": (mean(d("run_ms")), "ms"),
        "spark.exec_cpu_ms_per_op": (mean(d("cpu_ms")), "ms"),
        "spark.busy_frac": (sum(d("run_ms")) / (n_cores * wall_ms) if wall_ms else 0.0, "ratio"),
        "spark.scan_mb_per_op": (mean(d("scan_bytes")) / 1e6, "MB"),
        "spark.scan_rows_per_result_row": (
            sum(d("scan_rows")) / sum(sm["tsdb.response.rows_per_op"])
            if sm.get("tsdb.response.rows_per_op") else 0.0, "ratio"),
        "spark.shuffle_mb_per_op": (mean(d("shuffle_bytes")) / 1e6, "MB"),
        "spark.spill_mb_per_op": (mean(d("spill_bytes")) / 1e6, "MB"),
        "jvm.gc_ms_per_op": (mean(d("gc_ms")), "ms"),
        "tsdb.request.parse_us": (s("tsdb.request.parse_us"), "us"),
        "tsdb.pipeline.build_ms": (s("tsdb.pipeline.build_ms"), "ms"),
        "tsdb.response.rows_per_op": (s("tsdb.response.rows_per_op"), "count"),
        "stream.batches_per_op": (mean(d("stream_batches")), "count"),
        "stream.add_batch_ms": (mean(d("add_batch_ms")), "ms"),
        "stream.query_planning_ms": (mean(d("query_planning_ms")), "ms"),
        "stream.wal_commit_ms": (mean(d("wal_commit_ms")), "ms"),
        "stream.latest_offset_ms": (mean(d("latest_offset_ms")), "ms"),
        "stream.maintain_band_ms": (s("stream.maintain_band_ms"), "ms"),
        "stream.maintain_ivf_ms": (s("stream.maintain_ivf_ms"), "ms"),
        "llm.dedup.probe_ms": (s("llm.dedup.probe_ms"), "ms"),
        "llm.dedup.pairs_per_batch": (s("llm.dedup.pairs_per_batch"), "count"),
        "llm.dedup.band_deltas_live": (s("llm.dedup.band_deltas_live"), "count"),
        "llm.similarity.probe_ms": (s("llm.similarity.probe_ms"), "ms"),
        "llm.similarity.ivf_deltas_live": (s("llm.similarity.ivf_deltas_live"), "count"),
        "llm.similarity.retrains": (sum(sm.get("llm.similarity.retrains", [])) / res["rounds"]
                                    if wl == "corpus" else 0.0, "count"),
        "llm.similarity.retrain_ms": (retrain_ms(sm), "ms"),
        "setup.index_build_ms": (res["setup"]["build_ms"] if wl == "corpus" else 0.0, "ms"),
        "setup.stored_edges_ms": (res["setup"]["build_ms"] if wl == "graph" else 0.0, "ms"),
    }
    for a in gen.GRAPH_ANALYSES:
        mine = [o for o in prim if o["tpl"] == a]
        m["rel.graph.%s_ms" % a] = (median([o["ms"] for o in mine]), "ms")
        m["rel.graph.%s_jobs" % a] = (median([o["d"]["jobs"] for o in mine]), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def retrain_ms(sm):
    """Extra time of the IVF maintainer on ops whose batch tripped the
    drift retrain, over the median of the ops that did not."""
    flags, ms = sm.get("llm.similarity.retrains", []), sm.get("stream.maintain_ivf_ms", [])
    hit = [t for f, t in zip(flags, ms) if f]
    miss = [t for f, t in zip(flags, ms) if not f]
    return max(0.0, mean(hit) - median(miss)) if hit and miss else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run root")
    a = ap.parse_args()

    try:
        jar = build.build()
        record_archive(jar)
    except build.BuildError as e:
        print("[perfbench] %s" % e, file=sys.stderr)
        return 2

    root = os.path.join(build.OUT, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    try:
        plan, spec, info, res, outs, jvm_s = drive(
            jar, a.workload, a.seed, a.seconds, a.trace, root)
        t_check = time.monotonic()
        verdict = check.CHECKS[a.workload](spec, plan, outs)
        check_s = time.monotonic() - t_check

        ops = res["ops"]
        failed = sum(1 for o in ops if not o["ok"])
        work = work_units(a.workload, ops)
        if a.trace:
            metrics = per_layer(a.workload, res, plan["cores"])
        else:
            metrics = end_to_end(a.workload, res, work, verdict["recall"])
        by_type = {}
        for o in ops:
            t = by_type.setdefault("%s/%s" % (o["kind"], o["tpl"]),
                                   {"attempted": 0, "failed": 0, "ms": []})
            t["attempted"] += 1
            t["failed"] += 0 if o["ok"] else 1
            t["ms"].append(o["ms"])
        for t in by_type.values():
            t["p50_ms"] = median(t.pop("ms"))
        summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "rounds": res["rounds"], "cores": plan["cores"],
                   "op_tail_ms": tail_ms([o["ms"] for o in ops
                                          if o["ok"] and o["kind"] == PRIMARY[a.workload]]),
                   "setup": res["setup"], "ops_by_type": by_type, "inputs": info,
                   "run_s": {"jvm": round(jvm_s, 2), "check": round(check_s, 2)},
                   "checks": verdict["details"],
                   "end_to_end": end_to_end(a.workload, res, work, verdict["recall"])}
        print(json.dumps(summary))
        print(json.dumps({"correct": bool(verdict["ok"]), "attempted": len(ops),
                          "failed": failed, "metrics": metrics}))
        return 0
    except Exception as e:  # noqa: BLE001 -- any failure ends the run without a result
        print("[perfbench] run failed: %s: %s" % (type(e).__name__, e), file=sys.stderr)
        return 1
    finally:
        if not a.keep:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
