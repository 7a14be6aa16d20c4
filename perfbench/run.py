#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one query at a time, each query
timed on its whole output. See perfbench/README.md.

    python3 perfbench/run.py --workload frame_ops --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --diff OLD_RECORD.json NEW_RECORD.json

Run from the repository root. The last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the full record (per-query
samples, spans, structure ledger, oracle results) is written under
`.bench_build/perfbench/records/`.
"""
import argparse
import bisect
import glob
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the benchmark's sources

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

DATA_SEED = 42
HEAP = "3g"
KERNEL_ROWS = 40_000
JVM_TIMEOUT_S = 170

# name -> [(query, primary module)]; the seed permutes the order in a pass.
WORKLOADS = {
    "frame_ops": [
        ("q_add_column", "DF"), ("q_map_rows", "DF"),
        ("q_freq_table", "Summary"), ("q_quantiles", "Summary"),
        ("q_join_left", "Relational"), ("q_group_agg", "Relational"),
        ("q_window_running", "Relational"), ("q_hash_sample", "Sampling")],
    "pipeline": [
        ("q_curation", "Curation"), ("q_minhash_dedup", "Dedup"),
        ("q_cluster_dedup", "Dedup"), ("q_image_dedup", "Multimodal"),
        ("q_dedup_incr_exact", "Dedup"), ("q_ivf_store_ann", "Similarity")],
}
MODULES = ("DF", "Summary", "Relational", "Dedup", "Similarity",
           "TextAnalysis", "Curation", "Multimodal", "Search", "Profiling",
           "Sources", "Sampling")
KERNELS = ("minhash_sigs", "simhash_sigs", "doc_stats", "quality_score",
           "hashed_classify", "cosine_topk", "ivf_assign", "jaro_winkler")
# counts that repeat exactly run to run; the ledger and --diff compare them
LEDGER = ("entry.build_jobs", "exec.jobs", "exec.stages", "plan.exchanges",
          "plan.codegen_fallbacks", "sources.files_written")
# Seconds of one untraced pass on the baseline host (4 cores). They turn the
# --seconds budget into a fixed number of passes, so every run of a workload
# takes as many samples at the same warm-up, whatever the code's speed.
PASS_S = {"frame_ops": 3.3, "pipeline": 7.0}
# the first timed pass is JIT warm-up: it stays out of every per-query median
WARMUP_PASSES = 1

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_geomean_s": "s",
              "retained_heap_mb": "MB"}
PER_LAYER = {
    "entry.build_s": "s", "entry.build_jobs": "count",
    "entry.build_jobs.parquet": "count", "entry.build_jobs.checkpoint": "count",
    "entry.build_jobs.collect": "count", "entry.build_jobs.count": "count",
    "plan.s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s", "plan.exchanges": "count",
    "plan.sort_merge_joins": "count", "plan.broadcast_joins": "count",
    "plan.codegen_stages": "count", "plan.codegen_fallbacks": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.alloc_mb": "MB", "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.cores_busy": "ratio", "exec.skew_ratio": "ratio",
    "sources.files_written": "count", "sources.bytes_written_mb": "MB",
    "sources.records_written": "count", "sources.write_amplification": "ratio",
    **{f"kernel.{k}.rows_per_s": "rows/s" for k in KERNELS},
    "trace.overhead_ratio": "ratio",
}
MB = 1048576.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def timed_passes(workload, seconds, trace):
    """passes a run times: the budget over the nominal pass time (a traced
    pass runs each query twice), and at least one past the warm-up (two
    untraced, so a median is over more than one sample)."""
    per_pass = PASS_S[workload] * (2 if trace else 1)
    return max(WARMUP_PASSES + (1 if trace else 2), round(seconds / per_pass))


def pass_orders(names, seed, n):
    """The query order of each pass: a pure function of the names and seed."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ---- the JVM run -------------------------------------------------------------

def run_harness(root, classpath, data_dir, orders, passes, trace,
                jvm_flags=()):
    work = os.path.join(root, ".bench_build", "perfbench", "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("out", "warehouse", "tmp", "local"):
        os.makedirs(os.path.join(work, d))
    cfg = os.path.join(work, "config.properties")
    record = os.path.join(work, "record.json")
    with open(cfg, "w") as f:
        props = {"data": data_dir, "out": os.path.join(work, "out"),
                 "record": record,
                 "warehouse": os.path.join(work, "warehouse"),
                 "passes": passes, "trace": int(trace),
                 "kernel_rows": KERNEL_ROWS}
        for i, o in enumerate(orders):
            props[f"order.{i}"] = ",".join(o)
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    tmp = os.path.join(work, "tmp")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'local')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "harness", "log4j2.properties")]
           + build.JVM_OPENS + list(jvm_flags)
           + ["-cp", classpath, "perfbench.Harness", cfg])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: harness JVM timed out")
    if code != 0 or not os.path.exists(record):
        raise SystemExit(f"perfbench: harness JVM failed (exit {code})")
    with open(record) as f:
        return json.load(f), os.path.join(work, "out")


def class_archive(root, classpath, stamp, data_dir):
    """JVM flags that map the classes from a class-data archive. The archive
    is dumped once per build by a cold pass over every workload query, so
    JVM and session start stop dominating a short run."""
    base = os.path.join(root, ".bench_build", "perfbench")
    jsa = os.path.join(base, f"classes-{stamp}.jsa")
    if not os.path.exists(jsa):
        for old in glob.glob(os.path.join(base, "classes-*.jsa")):
            os.remove(old)
        log("dumping the class-data archive")
        every = [q for w in WORKLOADS.values() for q, _ in w]
        run_harness(root, classpath, data_dir, [every], 0, False,
                    [f"-XX:ArchiveClassesAtExit={jsa}"])
    return [f"-XX:SharedArchiveFile={jsa}"]


# ---- metrics -----------------------------------------------------------------

def tally(rec, verdicts):
    """(failed query names, executions attempted, executions failed). A
    query fails if its cold pass threw, its output missed the oracle, or any
    timed sample threw; each such execution counts once. A cold-pass error
    replaces the query's oracle verdict in `verdicts`."""
    for v in rec["verify"]:
        if v["error"] is not None:
            verdicts[v["query"]] = {"status": "error", "error": v["error"]}
    sample_errors = [s for s in rec["samples"] if s["error"] is not None]
    bad = {q for q, v in verdicts.items() if v["status"] != "ok"}
    attempted = len(rec["verify"]) + len(rec["samples"])
    return (bad | {s["query"] for s in sample_errors}, attempted,
            len(bad) + len(sample_errors))


def measured(s):
    return s["pass"] >= WARMUP_PASSES and s["error"] is None


def per_query(samples, names, traced):
    """query -> list of sample seconds, for error-free samples after the
    warm-up pass."""
    out = {q: [] for q in names}
    for s in samples:
        if s["traced"] == traced and measured(s) and s["query"] in out:
            out[s["query"]].append(s["seconds"])
    return out


def end_to_end(rec, failed_queries, names):
    """setup, wall, geomean, heap; failed queries are kept out of wall_s and
    reported in failed_s instead, timed over every one of their untraced
    samples, warm-up and errored ones included."""
    times = per_query(rec["samples"], names, traced=False)
    ok = {q: median(v) for q, v in times.items()
          if v and q not in failed_queries}
    failed_times = {}
    for s in rec["samples"]:
        if not s["traced"] and s["query"] in failed_queries:
            failed_times.setdefault(s["query"], []).append(s["seconds"])
    bad = {q: median(v) for q, v in failed_times.items()}
    return {
        "setup_s": rec["session_s"] + rec["cold_s"],
        "wall_s": sum(ok.values()),
        "query_geomean_s": geomean(list(ok.values())),
        "retained_heap_mb": rec["retained_heap_mb"],
        "failed_s": sum(bad.values()),
        "per_query_s": ok,
    }


def classify_site(site):
    s = site.split(" at ")[0].lower()
    if s.startswith("parquet"):
        return "parquet"
    if "checkpoint" in s:
        return "checkpoint"
    if s in ("collect", "collectaslist", "take", "head", "first",
             "tolocaliterator", "takeaslist", "show"):
        return "collect"
    if s == "count":
        return "count"
    return "other"


def attribute(rec):
    """Per traced sample: counts and times of its build/plan/exec spans,
    from the listener's jobs and stages matched to spans by time."""
    spans = rec["spans"]
    phases = sorted((s for s in spans if s["traced"] and
                     s["name"] in ("build", "plan", "exec")),
                    key=lambda s: s["startMs"])
    starts = [s["startMs"] for s in phases]

    def find(t):
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= phases[i]["endMs"]:
            return phases[i]
        return None

    acc = {}

    def slot(span):
        return acc.setdefault(span["parent"], {
            "build": {"jobs": 0, "sites": {}, "stages": []},
            "plan": {"jobs": 0, "sites": {}, "stages": []},
            "exec": {"jobs": 0, "sites": {}, "stages": []}})[span["name"]]

    for j in rec["jobs"]:
        sp = find(j["timeMs"])
        if sp:
            d = slot(sp)
            d["jobs"] += 1
            c = classify_site(j["site"])
            d["sites"][c] = d["sites"].get(c, 0) + 1
    for st in rec["stages"]:
        sp = find(st["submittedMs"])
        if sp:
            slot(sp)["stages"].append(st)
    return acc


def skew(stages, task_ms):
    """max / median task time in the widest stage."""
    if not stages:
        return 0.0
    wide = max(stages, key=lambda s: (s["tasks"], s["runMs"]))
    ts = sorted(task_ms.get(str(wide["id"]), []))
    if not ts or median(ts) <= 0:
        return 1.0
    return ts[-1] / median(ts)


def traced_sample_stats(rec):
    """query -> list of per-sample metric dicts (traced samples only)."""
    acc = attribute(rec)
    children = {}
    for s in rec["spans"]:
        children.setdefault(s["parent"], {})[s["name"]] = s
    out = {}
    for smp in rec["samples"]:
        if not smp["traced"] or not measured(smp):
            continue
        kids = children.get(smp["span"], {})
        a = acc.get(smp["span"], {})
        b, p, e = (a.get(k, {"jobs": 0, "sites": {}, "stages": []})
                   for k in ("build", "plan", "exec"))
        es = e["stages"]
        allst = b["stages"] + p["stages"] + es
        exec_s = kids.get("exec", {}).get("seconds", 0.0)
        task_s = sum(s["runMs"] for s in es) / 1e3
        plan = smp["plan"]
        in_bytes = sum(s["inputBytes"] for s in allst)
        m = {
            "entry.build_s": kids.get("build", {}).get("seconds", 0.0),
            "entry.build_jobs": b["jobs"],
            **{f"entry.build_jobs.{c}": b["sites"].get(c, 0)
               for c in ("parquet", "checkpoint", "collect", "count")},
            "plan.s": kids.get("plan", {}).get("seconds", 0.0),
            **{f"plan.{k}": plan.get(k, 0.0) for k in (
                "analysis_s", "optimization_s", "planning_s", "exchanges",
                "sort_merge_joins", "broadcast_joins", "codegen_stages",
                "codegen_fallbacks")},
            "exec.s": exec_s,
            "exec.jobs": e["jobs"],
            "exec.stages": len(es),
            "exec.tasks": sum(s["tasks"] for s in es),
            "exec.task_s": task_s,
            "exec.cpu_s": sum(s["cpuNs"] for s in es) / 1e9,
            "exec.gc_s": smp["exec_gc_ms"] / 1e3,
            "exec.alloc_mb": smp["exec_alloc"] / MB,
            "exec.input_mb": sum(s["inputBytes"] for s in es) / MB,
            "exec.shuffle_read_mb": sum(s["shuffleRead"] for s in es) / MB,
            "exec.shuffle_write_mb": sum(s["shuffleWrite"] for s in es) / MB,
            "exec.spill_mb": sum(s["spill"] for s in es) / MB,
            "exec.skew_ratio": skew(es, rec["task_ms"]),
            "sources.files_written": smp["files_written"],
            "sources.bytes_written_mb": smp["bytes_written"] / MB,
            "sources.records_written": sum(s["outRecords"] for s in allst),
            "input_bytes": in_bytes,
            "bytes_written": smp["bytes_written"],
            "seconds": smp["seconds"],
        }
        out.setdefault(smp["query"], []).append(m)
    return out


def overhead_ratio(samples, queries):
    """geomean over (query, pass) of traced / untraced seconds; the two run
    back to back, in alternating order, so warm-up cancels."""
    by = {}
    for s in samples:
        if s["query"] in queries and s["error"] is None:
            by.setdefault((s["query"], s["pass"]), {})[s["traced"]] = s["seconds"]
    return geomean([p[True] / p[False] for p in by.values() if len(p) == 2])


def self_times(spans):
    """seconds per span kind (pass, query, build, plan, exec) of each span's
    duration minus the part of it its child spans cover."""
    covered = {}
    for s in spans:
        covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["seconds"]
    out = {}
    for s in spans:
        kind = s["name"] if s["name"] in ("build", "plan", "exec") else (
            "pass" if s["parent"] == 0 else "query")
        out[kind] = out.get(kind, 0.0) + s["seconds"] - covered.get(s["id"], 0.0)
    return out


def per_layer(rec, names, failed_queries, modules, cores):
    stats = traced_sample_stats(rec)
    ok = [q for q in names if q not in failed_queries and stats.get(q)]

    def total(key):
        return sum(median([m[key] for m in stats[q]]) for q in ok)

    metrics = {k: total(k) for k in PER_LAYER
               if not k.startswith(("kernel.", "trace.", "exec.cores_busy",
                                    "exec.skew_ratio",
                                    "sources.write_amplification"))}
    # zero at this scale and heap, so a record-only figure; exec.alloc_mb
    # is the GC pressure behind it
    gc_s = total("exec.gc_s")
    metrics["exec.cores_busy"] = (metrics["exec.task_s"] / metrics["exec.s"]
                                  / cores if metrics["exec.s"] else 0.0)
    metrics["exec.skew_ratio"] = max(
        [median([m["exec.skew_ratio"] for m in stats[q]]) for q in ok] or [0.0])
    in_bytes = total("input_bytes")
    metrics["sources.write_amplification"] = (
        total("bytes_written") / in_bytes if in_bytes else 0.0)
    for k in KERNELS:
        metrics[f"kernel.{k}.rows_per_s"] = rec["kernels"].get(k, 0.0)
    metrics["trace.overhead_ratio"] = overhead_ratio(rec["samples"], ok)

    by_module = {}
    for q in ok:
        mod = modules[q]
        d = by_module.setdefault(mod, {"wall_s": 0.0, "build_s": 0.0})
        d["wall_s"] += median([m["seconds"] for m in stats[q]])
        d["build_s"] += median([m["entry.build_s"] for m in stats[q]])
    ledger = {q: {k: stats[q][0][k] for k in LEDGER} for q in names
              if stats.get(q)}
    return metrics, {"exec.gc_s": gc_s, "modules": by_module}, ledger


def count_sink(rec, e2e):
    """each query's old count() time next to its whole-output time."""
    rows, over = {}, []
    for c in rec["count_sink"]:
        q = c["query"]
        whole = e2e["per_query_s"].get(q)
        if c["error"] is None and whole:
            ratio = whole / c["seconds"]
            rows[q] = {"count_s": c["seconds"], "whole_s": whole,
                       "ratio": ratio}
            if ratio > 2.0:
                over.append(q)
    return {"queries": rows, "over_2x": sorted(over)}


# ---- structure ledger diff ---------------------------------------------------

def ledger_diff(old, new):
    """[(query, key, old, new)] for every ledger count that changed."""
    a, b = old.get("ledger", {}), new.get("ledger", {})
    out = []
    for q in sorted(set(a) | set(b)):
        for k in LEDGER:
            x, y = a.get(q, {}).get(k), b.get(q, {}).get(k)
            if x != y:
                out.append((q, k, x, y))
    return out


# ---- main --------------------------------------------------------------------

def environment(root, seed, stamp):
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        rev = rev.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        rev = "unknown"
    return {"nproc": os.cpu_count(), "driver_memory": HEAP, "git_rev": rev,
            "source_hash": stamp, "sf": "sf0.01 (generated)",
            "data_seed": DATA_SEED, "seed": seed}


def bench(args):
    root = os.getcwd()
    names = [q for q, _ in WORKLOADS[args.workload]]
    modules = dict(WORKLOADS[args.workload])
    classpath, stamp = build.ensure(root)
    data_dir = datagen.write(os.path.join(root, ".bench_build", "perfbench"),
                             DATA_SEED)
    flags = class_archive(root, classpath, stamp, data_dir)
    passes = timed_passes(args.workload, args.seconds, args.trace)
    orders = pass_orders(names, args.seed, passes)
    t0 = time.time()
    rec, out_dir = run_harness(root, classpath, data_dir, orders, passes,
                               args.trace, flags)
    log(f"harness done in {time.time() - t0:.1f} s")

    verdicts = oracle.check(data_dir, out_dir, names, rec["oracles"])
    failed_queries, attempted, failed = tally(rec, verdicts)
    e2e = end_to_end(rec, failed_queries, names)
    record = {"workload": args.workload, "seconds": args.seconds,
              "passes": passes,
              "trace": args.trace,
              "environment": environment(root, args.seed, stamp),
              "queries": names, "failed_queries": sorted(failed_queries),
              "failed_ratio": failed / attempted, "oracle": verdicts,
              "end_to_end": e2e,
              "cold_pass": rec["verify"], "samples": rec["samples"]}
    if args.trace:
        metrics, extra, ledger = per_layer(rec, names, failed_queries,
                                           modules, rec["cores"])
        record.update({"per_layer": metrics, "exec.gc_s": extra["exec.gc_s"],
            "modules": {m: extra["modules"].get(m, {"wall_s": 0.0, "build_s": 0.0})
                        for m in MODULES}, "ledger": ledger,
            "count_sink": count_sink(rec, e2e),
            "self_time_s": self_times(rec["spans"]),
            "spans": rec["spans"]})
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    rec_dir = os.path.join(root, ".bench_build", "perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    for q in sorted(failed_queries):
        log(f"FAILED {q}: {verdicts.get(q)}")
    log(f"record: {rec_path}")
    shutil.rmtree(os.path.join(root, ".bench_build", "perfbench", "run"),
                  ignore_errors=True)
    print(json.dumps({"correct": not failed_queries, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"),
                    help="compare the structure ledgers of two traced records")
    args = ap.parse_args(argv)
    if args.diff:
        old, new = (json.load(open(p)) for p in args.diff)
        changes = ledger_diff(old, new)
        for q, k, x, y in changes:
            print(f"{q}\t{k}\t{x} -> {y}")
        print(f"{len({c[0] for c in changes})} queries changed", file=sys.stderr)
        return 1 if changes else 0
    if not args.workload:
        ap.error("--workload is required")
    bench(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
