#!/usr/bin/env python3
"""Benchmark of the vortex engine through its public API.

Usage (from the repository root):

    python3 perfbench/run.py --workload scan --seed 1 --seconds 20 --trace 0

Builds the engine and the driver from source when they changed, makes
the workload's inputs from the seed, runs the driver (one process, one
closed-loop client, Spark `local[N]` with N <= nproc), checks every
answer, prints every metric with its unit and, as the last line, one
JSON object. Exits non-zero when an answer is wrong or the run fails.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

SPARK_JARS = "/opt/spark/jars"
SCALA = "2.13.17"
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
REPORTS = os.path.join(ROOT, ".bench_reports")
HEAP = "3g"
RUN_LIMIT_S = 170          # one run, after the build, ends within this
SETUP_REPS = 3             # repeated set-up steps per run; setup_s takes their medians
# Operations per run, so that the tail percentile at the fixed level
# TAIL (p79.6) has 10 samples beyond it. A run measures whole groups, at
# least 7 scan rounds of 7 queries or 3 ingest_maintain groups of 22
# statements; then the rank falls in the middle of one operation kind:
# the second-slowest query of a round, the SQL UPDATEs of a group (the
# slowest 3 of 22 are MERGEs).
MIN_OPS = 49
TAIL = 1 - 10 / MIN_OPS
WORKLOADS = ["scan", "ingest_maintain"]
TRACE_MIN_OPS = 21         # per phase of a traced run, which reports no tail percentile
TAU = 0.8
ENCODINGS = ["plain", "constant", "runend", "dict", "bitpack", "fsst", "delta", "alp"]

# workload sizes; see README.md for how they were chosen
SCAN_ORDERS = 150_000      # lineitem ~600k rows
INGEST = dict(base_rows=150_000, batch_rows=5_000, merge_rows=1_000, cycles=60, compact_every=3)
DEDUP_PASS = dict(corpus_docs=5_000, batch_docs=200, batches=3)

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p90_ms", "ms"),
              ("ops_per_s", "1/s"), ("peak_rss_mb", "MB"),
              ("stored_bytes_per_input_byte", "ratio")]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def resources():
    r = os.path.join(ROOT, "src", "main", "resources")
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)


def jars():
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def build():
    """Compiles the engine's sources and the driver with scalac into
    .bench_build, unless the sources are unchanged since the last build."""
    srcs, res = sources(), resources()
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"[perfbench] building {len(srcs)} sources")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as fh:
        fh.write("-classpath\n" + ":".join(jars()) + "\n")
        fh.write("\n".join(srcs) + "\n")
    comp = ":".join(os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
                    for m in ("compiler", "reflect", "library"))
    t = time.time()
    subprocess.run(["java", "-Xss16m", "-Xmx2g", "-cp", comp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "@" + args], check=True)
    rroot = os.path.join(ROOT, "src", "main", "resources")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, rroot))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"[perfbench] built in {time.time() - t:.0f} s")
    return classes


# --------------------------------------------------------------- inputs

def make_plan(workload, seed, work, trace):
    rng = np.random.default_rng(seed)
    data = os.path.join(work, "data")
    os.makedirs(data)
    plan = {"workload": workload}
    if workload == "scan":
        plan["inputs"], plan["rounds"] = gen.scan_inputs(rng, data, SCAN_ORDERS)
    elif workload == "ingest_maintain":
        plan["base"], plan["cycles"] = gen.ingest_inputs(rng, data, **INGEST)
        plan.update(batch_rows=INGEST["batch_rows"], compact_every=INGEST["compact_every"])
        if trace:
            # the dedup layer, measured after the traced phase (see README)
            d = os.path.join(data, "dedup")
            os.makedirs(d)
            corpus, batches = gen.dedup_inputs(rng, d, **DEDUP_PASS)
            plan["dedup_pass"] = dict(corpus=corpus, batches=batches, tau=TAU,
                                      batch_docs=DEDUP_PASS["batch_docs"])
    return plan


def input_bytes(work):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(os.path.join(work, "data")) for f in fs)


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The tail percentile (nearest rank) at the fixed level TAIL, which
    keeps 10 samples beyond it in every run of at least MIN_OPS
    operations. A level that moved with each run's sample count would
    move the value between operation kinds. Returns (value, level,
    samples); no value when the run is too short."""
    n = len(xs)
    if n < MIN_OPS:
        return None, None, n
    return sorted(xs)[int(np.ceil(TAIL * n)) - 1], round(100 * TAIL, 1), n


def end_to_end(res, ops, phase, setup_s):
    ph = [o for o in ops if o["phase"] == phase]
    ok = [o["ms"] for o in ph if o["ok"]]
    secs = next(p["seconds"] for p in res["phases"] if p["phase"] == phase)
    t, level, n = tail(ok)
    info = res["info"]
    m = {
        "setup_s": setup_s,
        "op_p50_ms": median(ok),
        "op_p90_ms": t,
        "ops_per_s": len(ph) / secs,
        "peak_rss_mb": info["peak_rss_kb"] / 1024.0,
        "stored_bytes_per_input_byte": info["stored_bytes"] / info["parquet_bytes_same_rows"],
    }
    extra = {"op_p90_percentile": level, "op_samples": n,
             "failed_op_ratio": sum(not o["ok"] for o in ph) / max(1, len(ph))}
    kinds = {}
    for o in ph:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    extra["kinds_n_p50_ms"] = {k: [len(v), round(median(v), 1)] for k, v in kinds.items()}
    for typ in ("read", "write", "dml", "dedup"):
        xs = [o["ms"] for o in ph if o["ok"] and o["type"] == typ]
        if xs:
            extra[f"{typ}_p50_ms"] = median(xs)
            extra[f"{typ}_samples"] = len(xs)
    return m, extra


def self_times(spans):
    """Self time of each span: its duration minus its children's."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: s["end_ns"] - s["start_ns"] - child.get(s["id"], 0) for s in spans}


PER_LAYER = (
    [("op.read_p50_ms", "ms"), ("op.write_p50_ms", "ms"), ("op.dml_p50_ms", "ms"),
     ("op.dedup_p50_ms", "ms"),
     ("codec.decode_mb_per_s", "MB/s"), ("codec.encode_mb_per_s", "MB/s"),
     ("codec.read_chunks_mb_per_s", "MB/s"), ("codec.stored_per_decoded_byte", "ratio")]
    + [(f"codec.decode_mb_per_s.{e}", "MB/s") for e in ENCODINGS]
    + [("file.pages_decoded_per_op", "count"), ("file.footer_fetches", "count"),
       ("scan.plan_ms", "ms"), ("scan.exec_ms", "ms"), ("scan.chunks_planned_per_op", "count"),
       ("scan.chunk_prune_ratio", "fraction"), ("scan.rows_decoded_per_row_returned", "ratio"),
       ("scan.zero_decode_ops", "fraction"),
       ("write.copy_ms", "ms"), ("write.rows_per_s", "1/s"), ("write.bytes_per_row", "bytes"),
       ("write.files_per_op", "count"),
       ("maint.delete_ms", "ms"), ("maint.delete_dv_ms", "ms"), ("maint.update_ms", "ms"),
       ("maint.update_dv_ms", "ms"),
       ("maint.merge_ms", "ms"), ("maint.compact_ms", "ms"),
       ("maint.candidate_file_ratio", "fraction"), ("maint.rewritten_files_per_stmt", "count"),
       ("maint.bytes_written_per_changed_row", "bytes"), ("maint.live_files", "count"),
       ("maint.masked_read_ms", "ms"),
       ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
       ("spark.tasks_per_op", "count"), ("spark.executor_run_ms_per_op", "ms"),
       ("spark.executor_cpu_ms_per_op", "ms"), ("spark.slot_busy_ratio", "fraction"),
       ("spark.shuffle_read_bytes_per_op", "bytes"), ("spark.shuffle_write_bytes_per_op", "bytes"),
       ("spark.spill_bytes_per_op", "bytes"), ("spark.gc_ms_per_op", "ms"),
       ("spark.peak_execution_memory_mb", "MB"),
       ("dedup.self_ms", "ms"), ("dedup.probe_ms", "ms"), ("dedup.index_append_ms", "ms"),
       ("dedup.matches_per_batch_doc", "ratio"), ("dedup.verified_per_candidate", "fraction"),
       ("dedup.index_files", "count")]
    + [(f"self_ms_per_op.{layer}", "ms") for layer in ("op", "scan", "write", "maint", "dedup")]
    + [("trace.overhead.op_p50_ms", "ms"), ("trace.overhead.ops_per_s", "1/s")])


def per_layer(res, ops, spans, plan, threads, untraced, traced, extra0):
    """Layer metrics of a traced run; a layer the workload does not reach
    reads 0."""
    info = res["info"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    for typ in ("read", "write", "dml", "dedup"):
        m[f"op.{typ}_p50_ms"] = extra0.get(f"{typ}_p50_ms", 0.0)

    codec = info["codec"]
    m["codec.decode_mb_per_s"] = codec["decode_mb_per_s"]
    m["codec.encode_mb_per_s"] = codec["encode_mb_per_s"]
    m["codec.read_chunks_mb_per_s"] = codec["read_chunks_mb_per_s"]
    m["codec.stored_per_decoded_byte"] = codec["stored_bytes"] / codec["decoded_bytes"]
    for e, h in codec["by_encoding"].items():
        if e in ENCODINGS:
            m[f"codec.decode_mb_per_s.{e}"] = h["decode_mb_per_s"]

    def phase(p):
        xs = [o for o in ops if o["phase"] == p]
        seqs = {o["seq"] for o in xs}
        return xs, [s for s in spans if s["op"] in seqs]

    ph, sp = phase(1)
    n = max(1, len(ph))
    C = lambda o, k: o["counters"].get(k, 0)  # noqa: E731
    tot = lambda k, xs=ph: sum(C(o, k) for o in xs)  # noqa: E731

    def med_span(name, sp=sp):
        return median([(s["end_ns"] - s["start_ns"]) / 1e6 for s in sp if s["name"] == name])

    m["file.pages_decoded_per_op"] = tot("pages_decoded") / n
    m["file.footer_fetches"] = tot("footer_fetches") / n

    reads = [o for o in ph if "chunks_planned" in o["counters"]]
    m["scan.plan_ms"] = med_span("scan.plan")
    m["scan.exec_ms"] = med_span("scan.exec")
    if reads:
        m["scan.chunks_planned_per_op"] = tot("chunks_planned", reads) / len(reads)
        m["scan.chunk_prune_ratio"] = 1 - tot("chunks_planned", reads) / max(1, tot("chunks_total", reads))
        m["scan.rows_decoded_per_row_returned"] = tot("rows_decoded", reads) / max(1, tot("rows_returned", reads))
    all_reads = [o for o in ph if o["type"] == "read"]
    if all_reads:
        m["scan.zero_decode_ops"] = sum(C(o, "pages_decoded") == 0 for o in all_reads) / len(all_reads)

    writes = [o for o in ph if o["type"] == "write"]
    if plan["workload"] == "scan":
        # the scan workload writes only while it sets up
        copy_s = median(res["setup"]["materialize_s"])
        rows = info["input_rows"]
        m["write.copy_ms"] = copy_s * 1000
        m["write.rows_per_s"] = rows / copy_s
        m["write.bytes_per_row"] = info["stored_bytes"] / rows
        m["write.files_per_op"] = sum(info["files"].values()) / len(info["files"])
    elif writes:
        rows = sum(plan["batch_rows"] if o["kind"] == "append" else o["answer"] for o in writes)
        m["write.copy_ms"] = median([o["ms"] for o in writes])
        m["write.rows_per_s"] = rows / (sum(o["ms"] for o in writes) / 1000)
        m["write.bytes_per_row"] = tot("bytes_written", writes) / max(1, rows)
        m["write.files_per_op"] = tot("files_written", writes) / len(writes)

    for k in ("delete", "delete_dv", "update", "update_dv", "merge", "compact"):
        m[f"maint.{k}_ms"] = med_span(f"maint.{k}")
    stmts = [o for o in ph if o["type"] == "dml" and o["counters"].get("result")]
    results = [o["counters"]["result"] for o in stmts]
    live = sum(C(o, "live_files_before") for o in stmts)
    if live:
        m["maint.candidate_file_ratio"] = sum(r.get("candidateFiles", 0) for r in results) / live
    rewr = [r["rewrittenFiles"] for r in results if "rewrittenFiles" in r]
    if rewr:
        m["maint.rewritten_files_per_stmt"] = sum(rewr) / len(rewr)
    changed = sum(r.get(k, 0) for r in results for k in ("rowsDeleted", "rowsUpdated", "rowsInserted"))
    if changed:
        m["maint.bytes_written_per_changed_row"] = sum(C(o, "bytes_written") for o in stmts) / changed
    m["maint.live_files"] = info.get("live_files", 0)
    compacted = {o["group"] for o in ph if o["kind"] == "compact"}
    m["maint.masked_read_ms"] = median([o["ms"] for o in ph if o["kind"] == "verify_read"
                                        and o["group"] not in compacted])

    run_ms = tot("executor_run_ms")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = tot(k) / n
    m["spark.executor_run_ms_per_op"] = run_ms / n
    m["spark.executor_cpu_ms_per_op"] = tot("executor_cpu_ns") / 1e6 / n
    m["spark.slot_busy_ratio"] = run_ms / max(1e-9, sum(o["ms"] for o in ph) * threads)
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}_per_op"] = tot(k) / n
    m["spark.gc_ms_per_op"] = tot("gc_ms") / n
    m["spark.peak_execution_memory_mb"] = max([C(o, "peak_execution_memory") for o in ph] or [0]) / 2**20

    # the dedup layer: the dedup pass that follows the traced phase of
    # ingest_maintain (phase 2)
    dph, dsp = phase(2)
    if dph:
        cfg = plan["dedup_pass"]
        m["dedup.self_ms"] = med_span("dedup.self", dsp)
        m["dedup.probe_ms"] = med_span("dedup.probe", dsp)
        m["dedup.index_append_ms"] = med_span("dedup.index_append", dsp)
        m["op.dedup_p50_ms"] = median([o["ms"] for o in dph if o["type"] == "dedup" and o["ok"]])
        probes = [o for o in dph if o["kind"] == "probe"]
        m["dedup.matches_per_batch_doc"] = sum(o["answer"] for o in probes) / (len(probes) * cfg["batch_docs"])
        selfs = [o for o in dph if o["kind"] == "self_dedup"]
        cands = sum(C(o, "candidates") for o in selfs)
        m["dedup.verified_per_candidate"] = sum(o["answer"] for o in selfs) / cands if cands else 0.0
        m["dedup.index_files"] = info["dedup_pass.index_files"]

    for layer, (xs, ys) in (("op", (ph, sp)), ("scan", (ph, sp)), ("write", (ph, sp)),
                            ("maint", (ph, sp)), ("dedup", (dph, dsp))):
        selft = self_times(ys)
        m[f"self_ms_per_op.{layer}"] = sum(
            selft[s["id"]] for s in ys if s["name"].split(".")[0] == layer) / 1e6 / max(1, len(xs))
    for k in ("op_p50_ms", "ops_per_s"):
        m[f"trace.overhead.{k}"] = traced[k] - untraced[k]
    return m


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("[perfbench] no engine sources (src/main/scala) next to the benchmark; "
            "run from the repository root")
        return 2
    if not os.path.isdir(SPARK_JARS):
        log(f"[perfbench] Spark jars not found at {SPARK_JARS}")
        return 2
    classes = build()
    start = time.time()
    threads = max(1, min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.time()
        plan = make_plan(a.workload, a.seed, work, a.trace)
        gen_s = time.time() - t
        out = os.path.join(work, "result.json")
        plan.update(workload=a.workload, out=out, work=work, threads=threads,
                    seconds=a.seconds, trace=bool(a.trace),
                    min_ops=TRACE_MIN_OPS if a.trace else MIN_OPS,
                    max_seconds=a.seconds + 60, setup_reps=SETUP_REPS,
                    codec_passes=3)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # fixed heap: with a growing one peak RSS varied by 29% between runs;
        # GC and JIT thread caps as in build.sbt
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
                "-XX:CICompilerCount=2", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Driver", plan_path])
        launch = time.time()
        with open(os.path.join(work, "driver.log"), "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=max(10, RUN_LIMIT_S - (launch - start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                log("[perfbench] driver exceeded the run limit")
                return 3
        if proc.returncode != 0 or not os.path.exists(out):
            log(f"[perfbench] driver failed (exit {proc.returncode}); last log lines:")
            log("".join(open(os.path.join(work, "driver.log")).readlines()[-40:]))
            return 3
        with open(out) as fh:
            res = json.load(fh)
        spans = [json.loads(line) for line in open(out + ".spans.jsonl")]
        setup = res["setup"]
        jvm_setup = setup["setup_done_epoch_s"] - launch
        # a repeated set-up step counts once, at its median
        setup_s = gen_s + jvm_setup - sum(sum(v) - median(v) for v in setup.values()
                                          if isinstance(v, list))
        res["info"]["input_bytes"] = input_bytes(work)
        if a.workload == "scan":
            res["info"]["input_rows"] = sum(pq.ParquetFile(p).metadata.num_rows
                                            for p in plan["inputs"].values())

        ops = [o for o in res["ops"] if o["phase"] >= 0]
        t = time.time()
        if a.workload == "scan":
            oracle.check_scan(plan, ops)
        elif a.workload == "ingest_maintain":
            oracle.check_ingest(plan, [o for o in ops if o["phase"] in (0, 1)])
        log(f"[perfbench] gen {gen_s:.1f} s, driver {time.time() - launch:.1f} s "
            f"(setup {jvm_setup:.1f}, finish {res['info']['finish_s']:.1f}), "
            f"checks {time.time() - t:.1f} s, total {time.time() - start:.1f} s")
        e2e, extra = end_to_end(res, ops, 0, setup_s)
        metrics, units = e2e, dict(END_TO_END)
        report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "threads": threads, "gen_s": gen_s,
                  "jvm_setup_s": jvm_setup, "setup": setup, "phases": res["phases"],
                  "info": {k: v for k, v in res["info"].items() if k != "codec"},
                  "codec": res["info"].get("codec"), "end_to_end": e2e, "extra": extra}
        if a.trace:
            traced, textra = end_to_end(res, ops, 1, setup_s)
            metrics = per_layer(res, ops, spans, plan, threads, e2e, traced, extra)
            units = dict(PER_LAYER)
            report.update(traced_end_to_end=traced, traced_extra=textra, per_layer=metrics)
        failed = [o for o in ops if not o["ok"]]
        report["failed_ops"] = [{k: o[k] for k in ("seq", "kind", "group", "phase", "err")}
                                for o in failed]
        report["ops"] = [[o["phase"], o["group"], o["kind"], round(o["ms"], 2)] for o in ops]
        os.makedirs(REPORTS, exist_ok=True)
        with open(os.path.join(REPORTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
            json.dump(report, fh, indent=1)

        for k, v in e2e.items():
            print(f"{a.workload:16s} {k:40s} {v!s:>22} {dict(END_TO_END)[k]}")
        for k, v in extra.items():
            print(f"{a.workload:16s} {k:40s} {v!s:>22} {'ms' if k.endswith('_ms') else ''}")
        if a.trace:
            for k, v in metrics.items():
                print(f"{a.workload:16s} {k:40s} {v!s:>22} {units[k]}")
        for o in failed[:20]:
            log(f"[perfbench] FAILED op {o['seq']} {o['kind']} group {o['group']}: {o['err']}")
        if any(v is None for v in metrics.values()):
            log(f"[perfbench] fewer than {MIN_OPS} operations: no tail percentile")
            return 4
        line = {"correct": not failed, "attempted": len(ops), "failed": len(failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
        print(json.dumps(line))
        return 0 if not failed else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
