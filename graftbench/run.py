"""The graft benchmark: one closed-loop workload per invocation.

    python3 graftbench/run.py --workload olap_scan --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source (build.py), runs one JVM
with local[N] (N = nproc), and prints `name value unit` lines followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A record of the run goes to graftbench/results/.
See graftbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("olap_scan", "store_churn")
JVM_TIMEOUT_S = 170     # the whole invocation must end within 180 s
MIN_FREE_BYTES = 4 << 30
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (the list in the
# repository's build.sbt), and its G1 GCLocker guard
JVM_OPTS = [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for o in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:+UnlockDiagnosticVMOptions", "-XX:+IgnoreUnrecognizedVMOptions",
    "-XX:GCLockerRetryAllocationCount=64"]

END_TO_END = (("setup_s", "s"), ("ops_per_s", "1/s"), ("op_geomean_ms", "ms"),
              ("retained_heap_mb", "MB"), ("ok_frac", "ratio"))

SPANS = (
    "Tables.load", "ColeQuery.compile",
    "TextFunctions.qualityScore", "Dedup.exact", "Dedup.minHashNearDupPairs",
    "Dedup.semanticDedup", "ParquetWrite.write",
    "InvertedIndex.admitBatch", "InvertedIndex.admitDeleteBatch",
    "InvertedIndex.bm25SearchCurrent", "InvertedIndex.lookupCurrent",
    "InvertedIndex.compactIfNeeded",
    "VectorStore.admit", "VectorStore.admitDeletes", "VectorStore.search",
    "VectorStore.compactIfNeeded",
    "Dedup.admitMinHashBatch", "Dedup.admitAgainstMinHashStoreGen",
    "KeySetStore.compactIfNeeded")

# per-op sums over the Spark jobs an op launched: metric -> (job field, unit)
JOB_METRICS = {
    "scheduler.jobs": (None, "count"), "scheduler.stages": ("stages", "count"),
    "scheduler.tasks": ("tasks", "count"), "scheduler.launch_wait_ms": ("launch_wait_ms", "ms"),
    "driver.result_bytes": ("result_bytes", "bytes"),
    "exec.run_ms": ("run_ms", "ms"), "exec.cpu_ms": ("cpu_ms", "ms"), "exec.gc_ms": ("gc_ms", "ms"),
    "scan.rows_read": ("rows_read", "count"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
}
QUERY_METRICS = {
    "catalyst.analysis_ms": ("analysis_ms", "ms"), "catalyst.optimization_ms": ("optimization_ms", "ms"),
    "catalyst.planning_ms": ("planning_ms", "ms"), "scan.files": ("files", "count"),
    "scan.metadata_ms": ("metadata_ms", "ms"), "scan.time_ms": ("scan_ms", "ms"),
}
OBSERVED = ("minhash_lsh.oversized_rows", "minhash_lsh.dropped_band_buckets")


def per_layer_names():
    names = [(k, u) for k, (_, u) in list(QUERY_METRICS.items()) + list(JOB_METRICS.items())]
    names += [("exec.cpu_ms.curate", "ms"), ("driver.self_ms", "ms"), ("jvm.driver_gc_ms", "ms"), ("op.self_ms", "ms"),
              ("scan.bytes_read", "bytes"),
              ("scan.read_fraction", "ratio"), ("scan.read_fraction.full_scan", "ratio"),
              ("scan.read_fraction.skip_scan", "ratio")]
    for s in SPANS:
        names += [(s + ".ms", "ms"), (s + ".calls", "count")]
    names += [("store.fragments", "count"), ("store.files", "count"),
              ("store.bytes_written", "bytes"), ("store.compactions", "count"),
              ("store.compaction_bytes_rewritten", "bytes"), ("store.write_amp", "ratio"),
              ("Dedup.planted_recall", "ratio"), ("VectorStore.recall_at_10", "ratio"),
              ("trace.overhead_ms", "ms")]
    return names


def dur(o):
    return o["t1"] - o["t0"]


def end_to_end(raw):
    ops = [o for o in raw["ops"] if o["phase"] == "run"]
    attempted, failed, frac = stats.fail_frac(raw["ops"])
    lat = [dur(o) for o in ops]
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(dur(o))
    m = {
        "setup_s": raw["session_s"] + raw["setup_data_s"] + raw["init_s"] + raw["warmup_s"],
        "ops_per_s": len(ops) / (sum(lat) / 1000.0),
        # every op kind weighs the same, however fast or rare it is
        "op_geomean_ms": stats.geomean([stats.median(xs) for xs in by_name.values()]),
        "retained_heap_mb": raw["retained_heap_mb"],
        "ok_frac": 1.0 - frac,
    }
    # printed and recorded beside the gated metrics: by op kind and by op name
    extra = {"fail_frac": (frac, "ratio")}
    samples = {}
    for kind in ("read", "write"):
        s = stats.latency_summary([dur(o) for o in ops if o["kind"] == kind])
        samples[kind] = s["n"]
        if s["n"]:
            extra[kind + "_p50_ms"] = (s["p50"], "ms")
            if s["tail"] is not None:
                extra["%s_p%g_ms" % (kind, s["tail_p"])] = (s["tail"], "ms")
    for name, xs in sorted(by_name.items()):
        samples[name] = len(xs)
        extra[name + "_ms"] = (stats.median(xs), "ms")
    ratio = raw["extra"].get("stored_bytes_per_input_byte")
    if ratio is not None:
        extra["stored_bytes_per_input_byte"] = (ratio, "ratio")
    return m, extra, samples, (attempted, failed)


def per_layer(raw):
    ops = [o for o in raw["ops"] if o["phase"] == "traced"]
    n = max(1, len(ops))
    jobs = raw["jobs"]
    for j in jobs:
        j["launch_wait_ms"] = max(0, j["first_task"] - j["t0"])
    by_op = stats.attribute(ops, jobs)
    q_by_op = stats.attribute(ops, raw["queries"], key="at")
    m = {}
    for k, (f, _) in JOB_METRICS.items():
        m[k] = sum(len(js) if f is None else sum(j[f] for j in js) for js in by_op.values()) / n
    for k, (f, _) in QUERY_METRICS.items():
        m[k] = sum(q[f] for qs in q_by_op.values() for q in qs) / n
    curate = [o for o in ops if o["name"] == "curate"]
    m["exec.cpu_ms.curate"] = (sum(j["cpu_ms"] for o in curate for j in by_op[o["id"]]) / len(curate)
                               if curate else 0.0)
    m["driver.self_ms"] = sum(stats.self_time((o["t0"], o["t1"]),
                                              [(j["t0"], j["t1"]) for j in by_op[o["id"]]])
                              for o in ops) / n
    m["jvm.driver_gc_ms"] = sum(o["driver_gc_ms"] for o in ops) / n

    # bytes the process read during the op (page-cache hits included),
    # against the on-disk size of the files its scans selected
    m["scan.bytes_read"] = sum(o["extra"].get("read_bytes", 0) for o in ops) / n

    def read_fraction(sel):
        read = sum(o["extra"].get("read_bytes", 0) for o in sel)
        size = sum(q["files_bytes"] for o in sel for q in q_by_op[o["id"]])
        return read / size if size else 0.0
    m["scan.read_fraction"] = read_fraction(ops)
    for shape in ("full_scan", "skip_scan"):
        m["scan.read_fraction." + shape] = read_fraction([o for o in ops if o["name"] == shape])
    # graft's observe() counters: LSH buckets over the size cap. A batch
    # here is far below the cap, so they are kept in the trace file as a
    # guard, not reported as metrics that could never move
    observed = {name: sum(q["observed"].get(name, 0) for qs in q_by_op.values() for q in qs)
                for name in OBSERVED}

    # spans: ops become root spans, graft calls their children
    traced_ids = {o["id"] for o in ops}
    spans = [s for s in raw["spans"] if s["op"] in traced_ids]
    roots = [{"id": -2 - o["id"], "parent": -1, "op": o["id"], "name": "op." + o["name"],
              "t0": o["t0"], "t1": o["t1"]} for o in ops]
    for s in spans:
        if s["parent"] == -1:
            s["parent"] = -2 - s["op"]
    self_ms = stats.self_times(roots + spans)
    m["op.self_ms"] = sum(self_ms[r["id"]] for r in roots) / n
    for name in SPANS:
        xs = [dur(s) for s in spans if s["name"] == name]
        m[name + ".ms"] = stats.median(xs) if xs else 0.0
        m[name + ".calls"] = float(len(xs))

    def notes(key, sel=ops):
        return [o["extra"][key] for o in sel if key in o["extra"]]
    frag, files = notes("fragments"), notes("files")
    m["store.fragments"] = stats.median(frag) if frag else 0.0
    m["store.files"] = stats.median(files) if files else 0.0
    writes = [o for o in ops if "bytes_written" in o["extra"]]
    written = sum(o["extra"]["bytes_written"] for o in writes)
    m["store.bytes_written"] = written / len(writes) if writes else 0.0
    compacting = [o for o in writes if o["extra"].get("compacted")]
    m["store.compactions"] = float(len(compacting))
    m["store.compaction_bytes_rewritten"] = (
        sum(o["extra"]["bytes_written"] for o in compacting) / len(compacting) if compacting else 0.0)
    inb = sum(notes("input_bytes"))
    m["store.write_amp"] = written / inb if inb else 0.0
    measured = [o for o in raw["ops"] if o["phase"] != "warm"]
    planted = sum(notes("planted", measured))
    m["Dedup.planted_recall"] = sum(notes("planted_removed", measured)) / planted if planted else 0.0
    m["VectorStore.recall_at_10"] = raw["extra"].get("recall_at_10", 0.0)
    # per op kind, traced median minus untraced median, so that kinds
    # only one half ran (store_churn's deletes) do not bias it
    untraced = [o for o in raw["ops"] if o["phase"] == "run"]
    diffs = [stats.median([dur(o) for o in ops if o["name"] == k])
             - stats.median([dur(o) for o in untraced if o["name"] == k])
             for k in {o["name"] for o in ops} & {o["name"] for o in untraced}]
    m["trace.overhead_ms"] = stats.median(diffs) if diffs else 0.0
    def span_jobs(s):
        return [j for j in by_op[s["op"]] if s["t0"] - 1 <= j["t0"] <= s["t1"] + 1]
    trace = {"observed": observed,
             "spans": [dict(s, self_ms=self_ms[s["id"]], jobs=len(span_jobs(s)),
                            tasks=sum(j["tasks"] for j in span_jobs(s)))
                       for s in roots + spans]}
    return m, trace


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # the benchmark is defined at local[nproc]; GraftSession reads the
    # task-thread count from SPARK_GRAFT_CPUS, so refuse any other request
    cpus = nproc()
    asked = os.environ.get("SPARK_GRAFT_CPUS")
    if asked is not None and asked != str(cpus):
        sys.exit("graftbench: SPARK_GRAFT_CPUS=%s requested, the benchmark runs with nproc = %d"
                 % (asked, cpus))

    classes, classpath, digest = build.build()

    free = shutil.disk_usage(HERE).free
    if free < MIN_FREE_BYTES:
        sys.exit("graftbench: %.1f GB free, need %.1f GB" % (free / 2**30, MIN_FREE_BYTES / 2**30))

    # everything the run writes lives under one run-scoped directory
    work = os.path.join(HERE, ".run", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    tmp = os.path.join(work, "tmp")
    cmd = (["java", "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse")] + JVM_OPTS +
           ["-cp", classpath, "graftbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, raw_path])
    log_path = os.path.join(work, "jvm.log")
    cpu0 = cpu_times()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(raw_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-8000:])
            sys.exit("graftbench: JVM exited with %s" % rc)
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    cpu1 = cpu_times()
    # CPU time the hypervisor gave to other guests during the run: a
    # noisy-neighbour witness for runs that read slow
    steal = ((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])) if cpu0 and cpu1 else None

    for o in raw["ops"]:
        if not o["ok"]:
            print("FAIL op=%d %s (%s): %s" % (o["id"], o["name"], o["phase"], o["err"]))
    e2e, extra, samples, (attempted, failed) = end_to_end(raw)
    if args.trace:
        metrics, trace = per_layer(raw)
        units = dict(per_layer_names())
    else:
        metrics, trace = e2e, None
        units = dict(END_TO_END)
    for k, v in metrics.items():
        print("%s %r %s" % (k, v, units[k]))
    if not args.trace:
        for k, (v, u) in extra.items():
            print("%s %r %s" % (k, v, u))
        print("samples %s" % " ".join("%s=%d" % kv for kv in samples.items()))

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "source_hash": digest, "commit": commit(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "env": dict(raw["env"], cpu_steal_frac=steal), "samples": samples, "attempted": attempted, "failed": failed,
        "end_to_end": {k: {"value": v, "unit": dict(END_TO_END)[k]} for k, v in e2e.items()},
        "breakdown": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        "setup": {"session_s": raw["session_s"], "data_s": raw["setup_data_s"], "init_s": raw["init_s"],
                  "warmup_s": raw["warmup_s"], "checks_prep_s": raw["checks_prep_s"]},
        "ops": [[o["name"], o["phase"], round(dur(o), 3)] for o in raw["ops"]],
    }
    if args.trace:
        record["per_layer"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        with open(os.path.join(results, args.workload + ".trace.json"), "w") as fh:
            json.dump(trace, fh)
    with open(os.path.join(results, args.workload + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


def commit():
    """The checked-out commit when run from a git clone, else None."""
    try:
        r = subprocess.run(["git", "-C", HERE, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
