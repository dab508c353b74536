#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload batch|rainstorm \
        --seed N --seconds S --trace 0|1

Builds the program from source (once per source tree, under
.bench_build/), generates the workload's inputs from the seed, runs it
in a fresh JVM at local[nproc] in a run directory of its own, checks
every output, and prints one JSON line: the end-to-end metrics with
--trace 0, the per-layer metrics of a traced run with --trace 1. The
full run record goes to .bench_build/records/. A failed or wrong
operation makes the exit code 1; see perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import benchlib  # noqa: E402
import build  # noqa: E402

# Chosen to cover the program's layers in a pass of a few seconds at
# local[4]; why each is here is in README.md.
BATCH = ["d1_minhash_lsh", "r5_group_count", "s6_knn_join", "t4_fingerprint", "x1_equi_join",
         "x4_topk", "x17_topk_per_key", "x20_kmv_distinct"]
WORKLOADS = {"batch": BATCH, "rainstorm": []}
SCALE = 0.01
JVM_HEAP = "2g"
JVM_YOUNG = "512m"
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
              ("op_p50_ms", "ms"), ("peak_rss_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def bytes_under(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def git_commit(checkout):
    try:
        r = subprocess.run(["git", "-C", checkout, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, jars, run_dir, args, deadline):
    """Run the benchmark JVM in its own process group and wait for it;
    the group (with any operator processes it forked) is killed on
    timeout or interruption."""
    for d in ("tmp", "local", "warehouse", "artifacts", "cwd"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        # a fixed heap and young generation keep the JVM's resident size
        # from following G1's adaptive sizing from run to run
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dspark.graft.artifacts.dir={run_dir}/artifacts",
        "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local",
               PERFBENCH_EXEC_LOG=f"{run_dir}/exec.log")
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "cwd"), stdout=out,
                             stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def pass_sums(ops, passes):
    return [sum(o["wall_s"] for o in ops if o["pass"] == p and o["ok"]) for p in passes]


def analyse(workload, rec, run_dir, trace):
    """Derive (attempted, failed, end-to-end metrics, per-layer metrics, notes)."""
    ops = rec["ops"]
    notes = {}
    if workload == "batch":
        with open(os.path.join(run_dir, "oracle.json")) as f:
            oracle = json.load(f)
        cold_ok = [o["name"] for o in ops if o["pass"] == 0 and o["ok"]]
        errors = benchlib.check_outputs(os.path.join(run_dir, "data"),
                                        os.path.join(run_dir, "out"), oracle, cold_ok)
        for o in ops:
            if o["pass"] == 0 and errors.get(o["name"]):
                o["ok"], o["error"] = False, "wrong output: " + errors[o["name"]]
        timed = ops
    else:
        for c in rec["checks"]:
            if not c["ok"]:
                log(f"check {c['name']} failed: {c['detail']}")
        timed = [o for o in ops if o["name"].startswith("hydfs.")]
    for o in ops:
        if not o["ok"]:
            log(f"FAILED pass {o['pass']} {o['name']}: {o['error'][:300]}")
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])

    traced_pass = {p["pass"]: p["traced"] for p in rec["pass_traced"]}
    passes = sorted({o["pass"] for o in timed})
    # the first warm query passes still compile what the cold pass ran
    # first, so they are a warm-up; HyDFS rounds need none
    first = 1 + rec["warmup_passes"]
    warm = [p for p in passes if p >= first and not traced_pass.get(p, False)]
    traced_warm = [p for p in passes if p >= first and traced_pass.get(p, False)]
    cold_s = pass_sums(timed, [0])[0]
    warm_sums = pass_sums(timed, warm)

    # latency samples (ms) per operation kind; a kind is one query, one
    # RainStorm app's events or one HyDFS op
    kinds = {}
    if workload == "batch":
        for o in ops:
            if o["pass"] in warm and o["ok"]:
                kinds.setdefault(o["name"], []).append(o["wall_s"] * 1e3)
    else:
        unread = []
        sched = rec["rainstorm"]["schedule"]
        for o in ops:
            if o["name"].startswith("rainstorm.") and o["ok"]:
                app = o["name"].split(".", 1)[1]
                batches = benchlib.file_batches(os.path.join(o["ckpt"], "sources", "0"))
                recv = {e["batch"]: e["recv_ms"] for e in rec["progress"] if e["query"] == app}
                lat, miss = benchlib.event_latencies([s for s in sched if s["app"] == app],
                                                     batches, recv)
                kinds[f"{app}.latency"] = lat
                unread += miss
        if unread:
            failed += 1
            log(f"{len(unread)} generated files never reached a micro-batch")
        for kind in ("append", "get"):
            kinds[f"hydfs.{kind}"] = [o["wall_s"] * 1e3 for o in ops
                                      if o["name"] == f"hydfs.{kind}" and o["ok"] and o["pass"] in warm]
        compacts = [o["wall_s"] * 1e3 for o in ops if o["name"] == "hydfs.compact" and o["ok"]]
        notes["hydfs.compact_ms"] = benchlib.median(compacts) if compacts else None
        for app in ("app1", "app2"):
            trig = [e["durations"]["triggerExecution"] for e in rec["progress"]
                    if e["query"] == app and e["input_rows"] > 0]
            notes[f"{app}.trigger_ms"] = benchlib.kind_summary({"t": trig}, 0.9)["t"] if trig else None
        lates = [s["moved_ms"] - s["due_ms"] for s in sched]
        notes["generator_late_ms"] = {"p50": benchlib.median(lates), "max": max(lates)} if lates else {}
    kinds = {k: v for k, v in kinds.items() if v}
    notes["op_kinds"] = benchlib.kind_summary(kinds, 0.9)

    e2e = None
    if not kinds or not warm_sums:
        if not trace:
            raise RuntimeError("no successful timed operation to report")
    else:
        # a traced run records these too: warm figures from its untraced
        # passes, the cold pass traced
        notes["warm_passes"] = len(warm_sums)
        e2e = {"setup_s": rec["setup_s"], "cold_pass_s": cold_s,
               "warm_pass_s": benchlib.median(warm_sums),
               "op_p50_ms": benchlib.gmean(k["p50"] for k in notes["op_kinds"].values()),
               "peak_rss_mb": rec["peak_rss_mb"]}
    layers = layer_metrics(rec, run_dir, timed, warm, traced_warm) if trace else None
    return attempted, failed, e2e, layers, notes


def layer_metrics(rec, run_dir, timed, warm, traced_warm):
    c = dict(rec["layers"])
    traced = {p["pass"] for p in rec["pass_traced"] if p["traced"]}
    with open(os.path.join(run_dir, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    spans += benchlib.trigger_spans([e for e in rec["progress"] if e["pass"] in traced], spans)
    selft = benchlib.self_times(spans)
    by_kind = {}
    for s in spans:
        by_kind[s["kind"]] = by_kind.get(s["kind"], 0.0) + selft[s["id"]] / 1e3
    m = {"entry.call_s": sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in spans if s["kind"] == "call"),
         "entry.action_s": sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in spans if s["kind"] == "action")}
    b = rec["builds"]
    m["core.artifact_builds"] = sum(x["artifact_builds"] for x in b if x["pass"] == 0)
    m["core.feed_builds"] = sum(x["feed_builds"] for x in b if x["pass"] == 0)
    m["core.warm_artifact_builds"] = sum(x["artifact_builds"] for x in b if x["pass"] > 0)
    m["core.warm_feed_builds"] = sum(x["feed_builds"] for x in b if x["pass"] > 0)
    m["core.artifact_bytes"] = max([x["artifact_bytes"] for x in b] or [0])
    m["core.tmp_bytes_left"] = bytes_under(os.path.join(run_dir, "tmp"))
    # operators: counted by the exec script itself
    execs = []
    if os.path.exists(os.path.join(run_dir, "exec.log")):
        with open(os.path.join(run_dir, "exec.log")) as f:
            execs = [int(x) for x in f.read().split()]
    m["operators.pipe_execs"] = len(execs)
    m["operators.lines_per_exec"] = sum(execs) / len(execs) if execs else 0.0
    m["operators.rows_in"] = sum(execs)
    dest = os.path.join(run_dir, "rs", "dest", "app1")
    m["operators.rows_out"] = sum(
        sum(1 for _ in open(os.path.join(dest, f))) for f in os.listdir(dest)
        if f.startswith("part-")) if os.path.isdir(dest) else 0
    # streaming and state: from the progress of traced passes
    prog = [e for e in rec["progress"] if e["pass"] in traced and e["input_rows"] > 0]
    m["streaming.triggers"] = len(prog)
    m["streaming.input_rows"] = sum(e["input_rows"] for e in prog)
    for k in ("rows_updated", "rows_removed", "rows_dropped_by_watermark"):
        m[f"state.{k}"] = sum(e["state"].get(k, 0) for e in prog)
    m["state.memory_bytes"] = max([e["state"].get("memory_bytes", 0) for e in prog] or [0])
    m["state.stores"] = max([e["state"].get("stores", 0) for e in prog] or [0])
    detail = {}
    for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                  "commitOffsets", "triggerExecution"):
        detail[f"streaming.{phase}_ms"] = sum(e["durations"].get(phase, 0) for e in prog)
    detail["streaming.trigger_overhead_ms"] = (detail["streaming.triggerExecution_ms"]
                                               - detail["streaming.addBatch_ms"])
    detail["state.commit_ms"] = sum(e["state"].get("commit_ms", 0) for e in prog)
    rs = rec["rainstorm"]
    files_in_batches = []
    backlog = 0
    for o in rec["ops"]:
        if o["name"].startswith("rainstorm.") and o["ok"]:
            app = o["name"].split(".", 1)[1]
            batches = benchlib.file_batches(os.path.join(o["ckpt"], "sources", "0"))
            counts = {}
            for bid in batches.values():
                counts[bid] = counts.get(bid, 0) + 1
            files_in_batches += list(counts.values())
            sched = [s for s in rs["schedule"] if s["app"] == app]
            last_due = max(s["due_ms"] for s in sched)
            recv = {e["batch"]: e["recv_ms"] for e in rec["progress"] if e["query"] == app}
            backlog += sum(1 for s in sched if recv.get(batches.get(s["file"]), float("inf")) > last_due)
    m["rainstorm.files_per_batch"] = (sum(files_in_batches) / len(files_in_batches)
                                      if files_in_batches else 0.0)
    m["rainstorm.backlog_files_end"] = backlog
    gets = [o for o in timed if o["name"] == "hydfs.get" and o["ok"] and o["pass"] in traced]
    m["sources.log_segments_at_get"] = (sum(o["segments"] for o in gets) / len(gets)) if gets else 0.0
    m["sources.read_amp"] = (sum(o["rows_scanned"] for o in gets) / sum(o["rows_returned"] for o in gets)
                             if gets else 0.0)
    hy = [h for h in rs["hydfs"] if h["round"] in traced]
    m["sources.write_amp"] = (sum(h["bytes_on_disk"] for h in hy) / sum(h["user_bytes"] for h in hy)
                              if hy else 0.0)
    m["jvm.heap_peak_mb"] = rec["heap_peak_mb"]
    untraced = pass_sums(timed, warm)
    tr = pass_sums(timed, traced_warm)
    m["trace.overhead_frac"] = (benchlib.median(tr) / benchlib.median(untraced) - 1.0
                                if tr and untraced else 0.0)
    for k in PER_LAYER_FROM_LISTENERS:
        m[k] = c.get(k, 0.0)
    detail.update({k: v for k, v in c.items() if k not in m})
    detail["self_s_by_span_kind"] = by_kind
    return m, detail, spans


PER_LAYER_FROM_LISTENERS = [
    "queries.eager_jobs", "functions.kernel_nodes", "functions.kernel_nodes_in_filter",
    "plans.topk_nodes", "plans.window_group_limit_nodes",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.executions", "codegen.compilations", "codegen.compile_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.stage_wall_s",
    "scheduler.outside_stage_s", "scheduler.task_run_s", "scheduler.task_cpu_s",
    "scheduler.cpu_frac", "scheduler.task_deser_s", "scheduler.straggler_ratio",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_memory_bytes",
    "shuffle.spill_disk_bytes", "shuffle.input_bytes", "shuffle.hazard_stages",
    "sql.scan_rows", "sql.join_output_rows", "sql.result_rows", "jvm.gc_ms", "jvm.jit_ms"]


def per_layer_units():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    checkout = os.getcwd()
    if not os.path.exists(os.path.join(checkout, "src", "main", "scala")):
        log(f"no program sources in {checkout}: run from the root of a checkout of the repository")
        return 2
    bench_build = os.path.join(checkout, ".bench_build")
    classes = build.build(checkout, bench_build)
    jars = build.jar_dir(checkout)
    t_built = time.time()
    deadline = t_built + RUN_LIMIT_S - min(60.0, t_built - t_start)

    run_dir = os.path.join(bench_build, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.workload == "batch":
            import gen
            gen.write(a.seed, SCALE, os.path.join(run_dir, "data"))
        t_gen = time.time()
        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir,
                repr(time.time() * 1e3), os.path.join(HERE, "ops", "keep_punched.sh")]
        rc = run_jvm(classes, jars, run_dir, args + WORKLOADS[a.workload], deadline)
        result = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            log(f"benchmark JVM exited with {rc}")
            return 2
        t_jvm = time.time()
        with open(result) as f:
            rec = json.load(f)
        attempted, failed, e2e, layers, notes = analyse(a.workload, rec, run_dir, a.trace == 1)
        notes["harness_s"] = {"build": t_built - t_start, "generate": t_gen - t_built,
                              "jvm": t_jvm - t_gen, "analyse": time.time() - t_jvm}
        record = {"commit": git_commit(checkout), "build": os.path.basename(classes),
                  "workload": a.workload, "seed": a.seed,
                  "seconds": a.seconds, "trace": a.trace, "nproc": rec["nproc"],
                  "spark_version": rec["spark_version"], "java_version": rec["java_version"],
                  "steal_pct": rec["steal_pct"],
                  "jvm_wall_s": rec["wall_s"], "scale": SCALE if a.workload != "rainstorm" else None,
                  "inputs": ("tables generated by perfbench/gen.py" if a.workload != "rainstorm"
                             else "line files and store rows generated in the JVM"),
                  "queries": WORKLOADS[a.workload], "builds": rec["builds"],
                  "attempted": attempted, "failed": failed, "notes": notes,
                  "ops": rec["ops"]}
        if a.trace:
            per_layer, detail, spans = layers
            units = per_layer_units()
            metrics = {k: {"value": per_layer[k], "unit": u} for k, u in units.items()}
            record["per_layer"] = per_layer
            record["layer_detail"] = detail
            record["end_to_end"] = e2e
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
            record["end_to_end"] = e2e
        rec_dir = os.path.join(bench_build, "records")
        os.makedirs(rec_dir, exist_ok=True)
        stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t_start)}"
        with open(os.path.join(rec_dir, stem + ".json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        if a.trace:
            with open(os.path.join(rec_dir, stem + ".spans.jsonl"), "w") as f:
                f.writelines(json.dumps(s) + "\n" for s in spans)
        log(f"{a.workload} seed {a.seed}: {attempted} ops, {failed} failed, "
            f"notes {json.dumps(notes, default=str)[:600]}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
