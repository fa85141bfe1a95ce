#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the harness (perfbench/build.sbt), and so
does any later run whose sources differ from the last build's. Every run
generates its seeded inputs in `.bench_build/` (once per seed), runs the
workload in one JVM, checks the outputs against DuckDB and prints one
JSON object as its last stdout line. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer metrics of a traced run.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_data  # noqa: E402
import metrics as M  # noqa: E402
import templates  # noqa: E402

BUILD_DIR = ".bench_build"
DEADLINE_S = 160
CORES = 4

# Batch item lists; the seed permutes their order. `batch` is the lean mix
# of both layers that fits the benchmark's per-run budget; graph_batch and
# pipeline_batch are the wider single-layer lists.
GRAPH_ITEMS = [
    "q_hop_index", "q_2hop", "q_cycle", "q_optional", "g_pagerank", "g_labelprop", "g_kcore",
    "g_triangles", "g_scc", "g_louvain", "s_cc", "s_pagerank", "s_labelprop", "s_triangles",
    "s_kcore", "s_louvain", "s_degrees", "s_cycle", "s_2hop",
]
PIPELINE_ITEMS = [
    "p_dedup_minhash", "p_dedup_ngram", "p_sft_packed_ids", "p_ann_ivf_persisted", "p_lang_id",
    "p_text_quality", "p_mm_dedup", "p_bpe_persisted", "p_sessionize", "p_dedup_exact",
]
BATCH_ITEMS = {
    "batch": ["q_cycle", "g_kcore", "s_pagerank", "s_cycle", "p_sft_packed_ids"],
    "graph_batch": GRAPH_ITEMS,
    "pipeline_batch": PIPELINE_ITEMS,
}
# persisted corpus artifacts an item reads; built during set-up
ARTIFACTS = {"p_ann_ivf_persisted": "ivf", "p_dedup_minhash": "dedup", "p_bpe_persisted": "bpe"}
WORKLOADS = ["cypher_serve", "cypher_write_mix"] + list(BATCH_ITEMS)

END_TO_END = {"setup_s": "s", "op_gmean_ms": "ms", "ops_per_s": "1/s", "cpu_ms_per_op": "ms"}
PER_LAYER = {
    "server.overhead_ms": "ms", "cypher.parse_ms": "ms", "planner.plan_ms": "ms",
    "exec.build_ms": "ms", "exec.build_jobs": "count", "exec.join_amplification": "ratio",
    "catalog.cache_entries": "count", "graph.gate_build_s": "s", "graph.skew_build_s": "s",
    "graph.build_jobs": "count", "graph.execute_s": "s", "pipeline.build_s": "s",
    "pipeline.build_jobs": "count", "pipeline.execute_s": "s", "pipeline.release_ms": "ms",
    "catalyst.optimize_ms": "ms", "catalyst.physical_ms": "ms", "spark.execute_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.stages_skipped": "count",
    "spark.tasks": "count", "spark.task_s": "s", "spark.busy_ratio": "ratio", "spark.idle_s": "s",
    "spark.scheduler_delay_s": "s", "spark.shuffle_write_mb": "MiB", "spark.shuffle_read_mb": "MiB",
    "spark.spill_mb": "MiB", "jvm.gc_s": "s", "jvm.peak_rss_mb": "MiB", "jvm.heap_retained_mb": "MiB",
}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
REQ_FIELDS = ["i", "client", "kind", "t", "start", "dur", "status", "rows", "hash", "err"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_key(root):
    """Hash of every file the build reads: the engine's sources, the
    harness's sources and both build definitions."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile engine + harness and return the classpath. The classpath is
    reused only while the sources it was built from are unchanged; any
    change re-runs sbt's incremental compile."""
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.json")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        key = source_key(root)
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                cached = json.load(f)
            if cached["key"] == key:
                return cached["classpath"]
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        log = os.path.join(out, "build.log")
        with open(log, "w") as f:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                                "compile", "export Runtime/fullClasspath"],
                               cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT, timeout=840)
        with open(log) as f:
            lines = [ln.strip() for ln in f if "scala-2.13/classes" in ln and not ln.startswith("[")]
        if r.returncode != 0 or not lines:
            die(f"build failed (exit {r.returncode}); see {log}")
        with open(cp_file, "w") as f:
            json.dump({"key": key, "classpath": lines[-1]}, f)
        return lines[-1]


def write_input(workload, seed, seconds, run_dir):
    path = os.path.join(run_dir, "input.json")
    if workload in ("cypher_serve", "cypher_write_mix"):
        n = int(400 * seconds) + 4000
        doc = {"warm": templates.warm(seed),
               "stream": templates.stream(seed, n, writes=workload == "cypher_write_mix")}
    else:
        items = list(BATCH_ITEMS[workload])
        random.Random(seed).shuffle(items)
        doc = {"items": items, "artifacts": sorted({ARTIFACTS[i] for i in items if i in ARTIFACTS})}
    with open(path, "w") as f:
        json.dump(doc, f)
    return path, doc


def run_jvm(cp, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graftbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            die(f"workload did not finish in time; see {run_dir}/jvm.log")
    if r.returncode != 0:
        die(f"workload JVM exited {r.returncode}; see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def body_hash(body):
    lines = sorted(ln for ln in body.split("\n") if ln)
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()[:16]


def requests_of(phase):
    return [dict(zip(REQ_FIELDS, r)) for r in phase["requests"]]


# ---- serve ----------------------------------------------------------------

def read_verdicts(issued, writes, data_dir, run_dir):
    """Oracle-check the first body of every distinct read. On the write
    workload only anchored reads of customers no write touched are
    checked. Returns {key: (ok, body hash)} and the mismatch messages."""
    touched = {r["p"]["ck"] for r in issued if r["kind"] == "write"}
    con = checks.connect(data_dir)
    verdict, mismatches = {}, []
    for r in issued:
        if r["kind"] != "read" or r["key"] in verdict:
            continue
        if writes and (not templates.READ[r["t"]][0] or r["p"].get("ck") in touched):
            continue
        path = os.path.join(run_dir, "bodies", r["key"] + ".txt")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            body = f.read()
        msg = checks.check_read(con, r["t"], r["p"], body)
        verdict[r["key"]] = (msg is None, body_hash(body))
        if msg:
            mismatches.append(msg)
    return verdict, mismatches


def account(phases, stream, verdict, acked=(), found_nodes=(), found_edges=()):
    """Attempted and failed operations over every phase's requests: a
    non-200 response, a read whose rows differ from its checked body, a
    read-your-writes probe that does not see the write, and an
    acknowledged write missing once the load has ended (node or edge)."""
    attempted, failed, checked, ryw = 0, 0, 0, 0
    one = body_hash('{"n":1}')
    for reqs in phases:
        for r in reqs:
            attempted += 1
            if r["status"] != 200:
                failed += 1
            elif r["kind"] == "probe" and r["hash"] != one:
                failed += 1
                ryw += 1
            elif r["kind"] == "read" and stream[r["i"]]["key"] in verdict:
                checked += 1
                ok, h = verdict[stream[r["i"]]["key"]]
                failed += (not ok) or r["hash"] != h
    lost = {k for k in acked if k not in found_nodes or k not in found_edges}
    return {"attempted": attempted + len(acked), "failed": failed + len(lost), "reads_checked": checked,
            "ryw_violations": ryw, "writes_acked": len(acked), "writes_lost": len(lost)}


def serve_checks(doc, raw, data_dir, run_dir, writes):
    """Returns (attempted, failed, details)."""
    stream = {r["i"]: r for r in doc["stream"]}
    http = requests_of(raw["http"])
    issued = [stream[i] for i in sorted({r["i"] for r in http})]
    verdict, mismatches = read_verdicts(issued, writes, data_dir, run_dir)
    phases = [http] + [requests_of(raw[p]) for p in ("inproc", "traced") if p in raw]
    acked, found = set(), {"nodes": set(), "edges": set()}
    if writes:
        acked = {stream[r["i"]]["p"]["ok"] for r in http if r["kind"] == "write" and r["status"] == 200}
        for part in found:
            found[part] = {json.loads(ln)["k"] for ln in raw["durability"][part].splitlines() if ln.strip()}
    acc = account(phases, stream, verdict, acked, found["nodes"], found["edges"])
    details = {"distinct_reads_checked": len(verdict), "mismatches": mismatches[:5],
               "repeated_share": 1 - len({s["key"] for s in issued}) / max(1, len(issued)), **acc}
    return acc["attempted"], acc["failed"], details


def serve_metrics(raw, trace):
    http = requests_of(raw["http"])
    reads = [r["dur"] / 1e6 for r in http if r["kind"] == "read" and r["status"] == 200]
    writes = [r["dur"] / 1e6 for r in http if r["kind"] == "write" and r["status"] == 200]
    tail, pct = M.tail(reads)
    details = {"read_p50_ms": M.median(reads), "read_p99_ms": tail, "read_tail_percentile": pct,
               "read_samples": len(reads), "requests_per_s": len(http) / raw["http"]["wall_s"],
               "setup_reps_s": raw["setup_s"]}
    if writes:
        wt, wpct = M.tail(writes, cap=95.0, beyond=0)
        details.update({"write_p50_ms": M.median(writes), "write_p95_ms": wt,
                        "write_tail_percentile": wpct, "write_samples": len(writes)})
    # the geometric mean, not the median: ~30 reads of ten templates whose
    # latencies sit in clusters put the median in a gap between clusters
    e2e = {"setup_s": M.median(raw["setup_s"]), "op_gmean_ms": M.gmean(reads),
           "ops_per_s": details["requests_per_s"], "cpu_ms_per_op": raw["http"]["cpu_s"] * 1e3 / len(http)}
    if not trace:
        return e2e, details
    plain = [r["dur"] / 1e6 for r in requests_of(raw["inproc"]) if r["kind"] == "read"]
    traced = [r["dur"] / 1e6 for r in requests_of(raw["traced"]) if r["kind"] == "read"]
    layers, lay_details = layer_metrics(raw, raw["traced"], per_request=True)
    layers["server.overhead_ms"] = details["read_p50_ms"] - M.median(plain)
    layers["catalog.cache_entries"] = raw["cache_entries"]["high"]
    details["catalog.cache_growth"] = raw["cache_entries"]["end"] - raw["cache_entries"]["start"]
    amp = [a for _, a in raw.get("join_amplification", [])]
    layers["exec.join_amplification"] = M.median(amp)
    details.update(lay_details)
    details["trace_overhead"] = {"untraced_inproc_p50_ms": M.median(plain),
                                 "traced_inproc_p50_ms": M.median(traced),
                                 "overhead_pct": 100 * (M.median(traced) / M.median(plain) - 1)}
    if writes:
        details["catalog.reindex_read_ms"] = reindex_read_ms(http)
    return layers, details


INDEX_READS = {"hop1", "hop2", "hop3", "optional", "call_union"}


def reindex_read_ms(http):
    """Median latency of the first index-backed read to start after each
    write completes, minus the median of the other index-backed reads: the
    cost of rebuilding the PLACED index a write dropped."""
    ends = sorted(r["start"] + r["dur"] for r in http if r["kind"] == "write" and r["status"] == 200)
    reads = sorted((r for r in http if r["t"] in INDEX_READS and r["status"] == 200), key=lambda r: r["start"])
    first = set()
    for e in ends:
        nxt = next((r["i"] for r in reads if r["start"] >= e), None)
        if nxt is not None:
            first.add(nxt)
    after = [r["dur"] / 1e6 for r in reads if r["i"] in first]
    warm = [r["dur"] / 1e6 for r in reads if r["i"] not in first]
    return M.median(after) - M.median(warm) if after and warm else 0.0


# ---- traced layer split ---------------------------------------------------

SPAN_METRIC = {("cypher", "parse"): "cypher.parse_ms", ("planner", "plan"): "planner.plan_ms",
               ("exec", "build"): "exec.build_ms", ("exec", "cypher"): "exec.build_ms",
               ("catalyst", "optimize"): "catalyst.optimize_ms",
               ("catalyst", "physical"): "catalyst.physical_ms", ("spark", "execute"): "spark.execute_ms",
               ("pipeline", "caches_clear"): "pipeline.release_ms", ("catalog", "create"): "catalog.write_ms"}
JOB_METRIC = {"exec": "exec.build_jobs", "graph": "graph.build_jobs", "pipeline": "pipeline.build_jobs"}
WINDOW_METRICS = ("server.overhead_ms", "catalog.cache_entries", "exec.join_amplification",
                  "spark.busy_ratio", "spark.idle_s", "jvm.gc_s", "jvm.peak_rss_mb", "jvm.heap_retained_mb")


def span_values(req, layer, name, self_ms, built_by):
    """(metric, value) pairs one span contributes. An item's execution
    counts for the graph or pipeline layer when that layer built its
    DataFrame (`built_by`)."""
    out = []
    if (layer, name) in SPAN_METRIC:
        out.append((SPAN_METRIC[(layer, name)], self_ms))
    if layer == "graph":
        gate = req.split(":", 1)[-1].startswith("g_")
        out.append(("graph.gate_build_s" if gate else "graph.skew_build_s", self_ms / 1e3))
    if (layer, name) == ("pipeline", "build"):
        out.append(("pipeline.build_s", self_ms / 1e3))
    if (layer, name) == ("spark", "execute") and built_by in ("graph", "pipeline"):
        out.append((f"{built_by}.execute_s", self_ms / 1e3))
    return out


def layer_metrics(raw, window, per_request):
    """Per-layer self times and Spark accounting of a traced phase. Serve:
    the median over requests that ran the layer. Batch: the median over
    traced passes of each pass's total."""
    spans = raw["spans"]
    by_id = {s[0]: s for s in spans}
    self_ns = M.self_times([(s[0], s[1], s[5], s[6]) for s in spans])
    group = (lambda req: req) if per_request else (lambda req: req.split(":")[0])
    acc, item_self, roots = {}, {}, {}
    built_by = {s[2]: s[3] for s in spans if s[4] in ("build", "cypher", "create")}

    def add(req, name, v):
        g = acc.setdefault(group(req), {})
        g[name] = g.get(name, 0.0) + v

    for sid, parent, req, layer, name, t0, t1 in spans:
        ms = self_ns[sid] / 1e6
        if parent < 0:
            roots[req] = (t1 - t0) / 1e6
        item_self[req] = item_self.get(req, 0.0) + ms
        for metric, v in span_values(req, layer, name, ms, built_by.get(req)):
            add(req, metric, v)
        add(req, f"by_span.{layer}/{name}", ms)
    stage_stats = {}
    for _, job, run_ms, tasks, sr, sw, spill, rec, _ in window["stages"]:
        st = stage_stats.setdefault(job, [0] * 7)
        for i, v in enumerate((1, tasks, run_ms, sr, sw, spill, rec)):
            st[i] += v
    for jid, span, _, _, stage_ids in window["jobs"]:
        if span not in by_id:
            continue
        _, _, req, layer, name, _, _ = by_id[span]
        stages, tasks, run_ms, sr, sw, spill, rec = stage_stats.get(jid, [0] * 7)
        for metric, v in (("spark.jobs", 1), ("spark.stages", stages),
                          ("spark.stages_skipped", len(stage_ids) - stages), ("spark.tasks", tasks),
                          ("spark.task_s", run_ms / 1e3), ("spark.shuffle_read_mb", sr / 2 ** 20),
                          ("spark.shuffle_write_mb", sw / 2 ** 20), ("spark.spill_mb", spill / 2 ** 20)):
            add(req, metric, v)
        if layer in JOB_METRIC and name == "build" or (layer, name) == ("exec", "cypher"):
            add(req, JOB_METRIC[layer], 1)
        if (layer, name) == ("catalog", "create"):
            add(req, "catalog.write_records_read", rec)
    groups = list(acc.values())
    names = [n for n in PER_LAYER if n not in WINDOW_METRICS]
    if per_request:
        out = {n: M.median([g[n] for g in groups if n in g]) for n in names}
    else:
        out = {n: M.median([g.get(n, 0.0) for g in groups]) for n in names}
    lo, hi = window["window_ms"]
    wall = (hi - lo) / 1e3
    out["spark.busy_ratio"] = sum(st[2] for st in stage_stats.values()) / 1e3 / (wall * CORES)
    out["spark.idle_s"] = wall - M.union_length(window["tasks"], lo, hi) / 1e3
    out["spark.scheduler_delay_s"] = sum(st[8] for st in window["stages"]) / 1e3
    out["jvm.gc_s"] = window["gc_s"]
    by_span = {}
    for g in groups:
        for k, v in g.items():
            if k.startswith("by_span."):
                by_span.setdefault(k[len("by_span."):], []).append(v)
    details = {"traced_items": len(roots), "traced_window_s": wall,
               # each item's span self times sum to its root span's wall time
               "self_time_sum_error_ms": max((abs(item_self[r] - roots[r]) for r in roots), default=0.0),
               "span_self_ms_median": {k: round(M.median(v), 3) for k, v in sorted(by_span.items())}}
    writes = [g for g in groups if "catalog.write_ms" in g]
    if writes:
        details["catalog.write_ms"] = M.median([g["catalog.write_ms"] for g in writes])
        details["catalog.write_records_read"] = M.median([g.get("catalog.write_records_read", 0)
                                                          for g in writes])
    return out, details


# ---- batch ----------------------------------------------------------------

def batch_passes(raw):
    """Every pass after the check pass: warm, timed, traced."""
    traced = raw["traced"]["passes"] if raw.get("traced") else []
    return [raw["warm_pass"]] + raw["passes"] + traced


def fingerprint_mismatches(raw):
    """Items of a later pass whose output fingerprint differs from the
    check pass's, as "<pass>:<item>"."""
    want = raw["check_fp"]
    return [f"{n}:{it['item']}" for n, p in enumerate(batch_passes(raw)) for it in p["items"]
            if not M.same_fingerprint(it["fp"], want[it["item"]])]


def batch_checks(raw, items, data_dir, run_dir, shape):
    """Returns (attempted, failed, details). The check pass is checked
    against DuckDB; every later pass's outputs against the check pass."""
    fails = checks.batch(data_dir, run_dir, items, shape)
    mismatches = fingerprint_mismatches(raw)
    attempted = len(items) * (1 + len(batch_passes(raw)))
    return attempted, len(fails) + len(mismatches), {"check_failures": fails,
                                                     "fingerprint_mismatches": mismatches[:10]}


def batch_metrics(raw, trace):
    passes = raw["passes"]
    walls = [p["wall_s"] for p in passes]
    ops = [sum(it["s"][:4]) * 1e3 for p in passes for it in p["items"]]
    # per pass, so that a change to any item moves it, not only to the middle one
    pass_gmeans = [M.gmean([sum(it["s"][:4]) * 1e3 for it in p["items"]]) for p in passes]
    per_item = {}
    for p in passes:
        for it in p["items"]:
            per_item.setdefault(it["item"], []).append(sum(it["s"][:4]))
    details = {"pass_s": M.median(walls), "passes": len(walls), "pass_walls_s": walls,
               "op_samples": len(ops), "item_p50_ms": M.median(ops),
               "item_median_s": {k: round(M.median(v), 4) for k, v in sorted(per_item.items())},
               "setup_reps_s": raw["setup_s"]}
    e2e = {"setup_s": M.median(raw["setup_s"]), "op_gmean_ms": M.median(pass_gmeans),
           "ops_per_s": len(raw["items"]) / M.median(walls), "cpu_ms_per_op": raw["cpu_s"] * 1e3 / len(ops)}
    if not trace:
        return e2e, details
    tr = raw["traced"]
    layers, lay_details = layer_metrics(raw, tr, per_request=False)
    layers["server.overhead_ms"] = 0.0
    layers["catalog.cache_entries"] = raw["cache_high"]
    amp = [it["join_amplification"] for p in tr["passes"] for it in p["items"]
           if it["item"] == "s_cycle"]
    layers["exec.join_amplification"] = M.median(amp)
    traced_walls = [p["wall_s"] for p in tr["passes"]]
    details.update(lay_details)
    details["trace_overhead"] = {"untraced_pass_s": M.median(walls), "traced_pass_s": M.median(traced_walls),
                                 "overhead_pct": 100 * (M.median(traced_walls) / M.median(walls) - 1)}
    return layers, details


def host_record(raw):
    a, b = raw["host_before"], raw["host_after"]
    return {"calib_s": [a["calib_s"], b["calib_s"]], "calib_par_s": [a["calib_par_s"], b["calib_par_s"]],
            "io_full_stall_s": (b["io_full_us"] - a["io_full_us"]) / 1e6,
            "steal_s": (b["steal_jiffies"] - a["steal_jiffies"]) / 100.0}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "GraftSession.scala")):
        die("no engine sources under ./src/main/scala; run from the root of a graft checkout")
    cp = build(root)
    deadline = time.monotonic() + DEADLINE_S
    data_dir = os.path.join(root, BUILD_DIR, "data", f"s{args.seed}")
    with open(os.path.join(root, BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        shape = gen_data.generate(args.seed, data_dir)
    run_dir = os.path.join(root, BUILD_DIR, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    input_path, doc = write_input(args.workload, args.seed, args.seconds, run_dir)
    raw = run_jvm(cp, [args.workload, data_dir, input_path, run_dir, str(args.seconds), str(args.trace)],
                  run_dir, deadline)

    if args.workload.startswith("cypher_"):
        writes = args.workload == "cypher_write_mix"
        attempted, failed, check_details = serve_checks(doc, raw, data_dir, run_dir, writes)
        values, details = serve_metrics(raw, args.trace)
    else:
        attempted, failed, check_details = batch_checks(raw, doc["items"], data_dir, run_dir, shape)
        values, details = batch_metrics(raw, args.trace)
    values["jvm.peak_rss_mb"] = raw["vmhwm_kb"] / 1024.0
    values["jvm.heap_retained_mb"] = raw["heap_retained_mb"]
    wanted = PER_LAYER if args.trace else END_TO_END
    details.update(check_details)
    details.update({"workload": args.workload, "seed": args.seed, "failed_ratio": M.failed_ratio(attempted, failed),
                    "skew_graph": shape, "host": host_record(raw), "spark_start_s": raw["spark_start_s"],
                    "peak_rss_mb": raw["vmhwm_kb"] / 1024.0, "heap_retained_mb": raw["heap_retained_mb"]})
    if args.trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump({"spans": raw["spans"], "layers": values}, f)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"details": details, "values": values}, f, indent=1, default=str)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    print(json.dumps({"details": details}, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in wanted.items()}}))


if __name__ == "__main__":
    main()
