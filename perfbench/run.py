#!/usr/bin/env python3
"""Benchmark of the graft engine: batch queries and the station pipeline.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, into
perfbench/harness/target), runs one workload in a fresh engine process,
checks its outputs, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (and spans are
written to .bench_out/). Everything else goes to stderr. See README.md
in this directory for the workloads, metric definitions and the map from
layer metrics to the end-to-end metrics they should move.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
BUILD_STAMP = os.path.join(REPO, ".bench_build", "harness.sha1")
RUNS = os.path.join(REPO, ".bench_run")
OUT = os.path.join(REPO, ".bench_out")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED_QUERIES = os.path.join(HERE, "expected_queries.json")
LIMIT_S = 170.0  # the whole run, build excluded

# The registered queries the batch workload runs, in name order: one to
# five from every registry module. q82 trains BPE merges, and q104 and
# q108 build a store on first touch (dHash lake, SP model) and serve
# from it. The whole registry takes about 160 s on four cores, more than
# one run can spend.
QUERIES = [
    "q02_join_brand_revenue", "q06_filter_pushdown_revenue", "q09_top_orders",
    "q104_media_dhash_build", "q108_sp_unigram_train", "q14_string_fns",
    "q19_asof_join", "q21_flux_stats", "q28_salted_agg", "q30_dedup_exact",
    "q40_ann_bruteforce", "q42_label_centroids", "q50_lang_id", "q52_token_stats",
    "q57_train_val_test_split", "q60_multimodal_decode", "q62_multimodal_resize_plan",
    "q70_regex_extract_device", "q71_count_window_pack", "q82_bpe_train",
    "q85_bm25_search", "q92_nfc_normalize",
]
# Untimed warm-up before the loop: q01, then queries outside the timed set
# that run the common relational, aggregation, text and media code paths,
# so the timed queries depend less on how fast the JIT compiler catches up.
WARMUP = [
    "q01_agg_pricing", "q05_anti_join_idle_customers", "q07_topk_parts_per_brand",
    "q10_distinct_agg", "q13_set_ops", "q23_histogram", "q39_source_mixture",
    "q51_quality_score", "q63_multimodal_features",
]
MODULES = ["Relational", "Stats", "Dedup", "Similarity", "TextOps", "Bpe", "Sp",
           "Search", "Multimodal", "MediaDedup", "Assemble", "ParseOps"]

END_TO_END = {"setup_s": "s", "cpu_s": "s", "live_heap_mb": "MB"}  # name -> unit
# the run's wall-time figures: measured in every run and printed to
# stderr, reported as metrics by traced runs only (see README.md)
RUN_TIMES = {"elapsed_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms"}
QUERY_LAYER = {
    "query.build_s": "s", "query.optimize_s": "s", "query.execute_s": "s",
    "query.build_jobs": "count", "query.execute_jobs": "count",
    "query.stages": "count", "query.tasks": "count", "query.driver_gap_s": "s",
    "query.shuffle_read_bytes": "bytes", "query.shuffle_write_bytes": "bytes",
    "query.spill_bytes": "bytes", "query.peak_exec_mem_bytes": "bytes",
    "query.rdds_left": "count", "operators.ArtifactLake.bytes_built": "bytes",
}
for _m in MODULES:
    QUERY_LAYER.update({"operators.%s.s" % _m: "s", "operators.%s.build_s" % _m: "s",
                        "operators.%s.execute_s" % _m: "s",
                        "operators.%s.build_jobs" % _m: "count"})
STREAM_LAYER = {
    "gen.sent": "count", "gen.lag_ms_max": "ms",
    "sources.TcpLineSource.latest_offset_ms": "ms",
    "sources.TcpLineSource.get_batch_ms": "ms",
    "sources.TcpLineSource.backlog_msgs_max": "count",
    "sources.TcpLineSource.deserialize_ms": "ms",
    "streaming.batch.count": "count", "streaming.batch.planning_ms": "ms",
    "streaming.batch.trigger_ms_p50": "ms", "streaming.batch.behind": "count",
    "functions.parse.rows_in": "count", "functions.parse.rows_out": "count",
    "functions.parse.regex_drop": "count", "functions.parse.cast_kill": "count",
    "functions.parse.stage_ms": "ms",
    "streaming.CountWindow.shuffle_bytes": "bytes",
    "streaming.CountWindow.state_rows_max": "count",
    "streaming.CountWindow.state_bytes_max": "bytes",
    "streaming.CountWindow.state_update_ms": "ms",
    "streaming.CountWindow.state_commit_ms": "ms",
    "sink.add_batch_ms": "ms", "sink.offset_log_ms": "ms", "sink.files": "count",
}
PER_LAYER = dict(QUERY_LAYER, **STREAM_LAYER)
PER_LAYER["process.peak_rss_mb"] = "MB"
PER_LAYER["process.cpu_steal_pct"] = "%"
PER_LAYER.update({"run." + k: u for k, u in RUN_TIMES.items()})

WORKLOADS = ("queries_sf0.01", "stream_paced")
TRIGGER_MS = 500  # micro-batch trigger interval of the stream workload

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log("error: " + msg)
    sys.exit(2)


def find_spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha1()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def build(spark_home):
    """Compile engine + harness once per source state."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building engine and harness (sbt)")
    env = dict(os.environ, SPARK_HOME=spark_home, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                       cwd=HARNESS, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail("build failed")
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        f.write(digest)
    log("built in %.1f s" % (time.time() - t0))


class Procs:
    """Every child process of the run; all are stopped and reaped on exit."""

    def __init__(self):
        self.procs = []

    def start(self, cmd, **kw):
        p = subprocess.Popen(cmd, start_new_session=True, **kw)
        self.procs.append(p)
        return p

    def stop_all(self):
        for p in self.procs:
            if p.poll() is None:
                try:
                    os.killpg(p.pid, signal.SIGTERM)
                except ProcessLookupError:
                    pass
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def engine_cmd(spark_home, run_dir, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    stores = os.path.join(run_dir, "stores")
    return (["java"] + opens + [
        "-Xmx3g", "-Dspark.ui.enabled=false",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dgraft.index.dir=" + os.path.join(stores, "index"),
        "-Dgraft.media.dir=" + os.path.join(stores, "media"),
        "-Dgraft.scale.dir=" + os.path.join(stores, "scale"),
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "perfbench.Main", "--scratch", run_dir, "--stores", stores,
        "--out", os.path.join(run_dir, "engine.json")] + args)


def wait_engine(p, deadline):
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("engine did not finish in time")
    if rc != 0:
        fail("engine exited with code %d" % rc)


def p90(xs):
    """90th percentile, linear interpolation between closest ranks."""
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


# --------------------------------------------------------------- queries

def run_queries(a, procs, spark_home, run_dir, t_start):
    with open(EXPECTED_QUERIES) as f:
        expected = json.load(f)
    spawn_ms = time.time() * 1000.0
    p = procs.start(engine_cmd(spark_home, run_dir, [
        "--mode", "queries", "--trace", str(a.trace), "--data", DATA,
        "--queries", ",".join(QUERIES), "--warmup", ",".join(WARMUP),
        "--trace_out", trace_path(a)]),
        stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    wait_engine(p, t_start + LIMIT_S)
    with open(os.path.join(run_dir, "engine.json")) as f:
        e = json.load(f)
    qs = e["queries"]
    failed = 0
    observed = {}
    for q in qs:
        observed[q["name"]] = {"rows": q["rows"], "digest": q["digest"]}
        want = expected.get(q["name"])
        if not q["ok"] or want is None or want != observed[q["name"]]:
            failed += 1
            log("query %s failed its check: ok=%s got=%s want=%s"
                % (q["name"], q["ok"], observed[q["name"]], want))
    with open(os.path.join(OUT, "queries-observed.json"), "w") as f:
        json.dump(observed, f, indent=1, sort_keys=True)
    times = [(q["build_s"] + q["optimize_s"] + q["execute_s"]) * 1000.0 for q in qs]
    e2e = {
        "setup_s": (e["ready_ms"] - spawn_ms) / 1000.0,
        "elapsed_s": e["loop_s"],
        "latency_p50_ms": statistics.median(times),
        "latency_p90_ms": p90(times),
        "cpu_s": e["cpu_s"], "live_heap_mb": e["live_heap_mb"],
    }
    layer = {k: 0 for k in PER_LAYER}
    layer["process.peak_rss_mb"] = e["peak_rss_mb"]
    layer["process.cpu_steal_pct"] = e["steal_pct"]
    for q in qs:
        for k in ("build_s", "optimize_s", "execute_s", "build_jobs", "execute_jobs",
                  "stages", "tasks", "driver_gap_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            layer["query." + k] += q[k]
        layer["query.peak_exec_mem_bytes"] = max(layer["query.peak_exec_mem_bytes"],
                                                 q["peak_exec_mem_bytes"])
        layer["query.rdds_left"] = max(layer["query.rdds_left"], q["rdds_left"])
        layer["operators.ArtifactLake.bytes_built"] += q["store_bytes"]
        m = "operators." + q["module"]
        if m + ".s" in layer:
            layer[m + ".s"] += q["build_s"] + q["optimize_s"] + q["execute_s"]
            layer[m + ".build_s"] += q["build_s"]
            layer[m + ".execute_s"] += q["execute_s"]
            layer[m + ".build_jobs"] += q["build_jobs"]
    for q in sorted(qs, key=lambda q: q["name"]):
        log("%-32s build %6.3f  optimize %6.3f  execute %6.3f  %s"
            % (q["name"], q["build_s"], q["optimize_s"], q["execute_s"],
               "ok" if q["ok"] else "FAILED"))
    return len(qs), failed, e2e, layer


# --------------------------------------------------------------- streams

def run_stream(a, procs, spark_home, run_dir, t_start):
    plan_path = os.path.join(run_dir, "plan.json")
    report_path = os.path.join(run_dir, "gen.json")
    gen = procs.start([sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--plan", plan_path, "--report", report_path],
                      stdin=subprocess.PIPE, stdout=sys.stderr, stderr=sys.stderr)
    while not os.path.exists(plan_path):
        if gen.poll() is not None or time.time() > t_start + 60:
            fail("generator did not start")
        time.sleep(0.05)
    with open(plan_path) as f:
        plan = json.load(f)["devices"]
    spec = ",".join("%s:%d:%s:%d:%d:%d" % (d["name"], d["port"], "sonic" if d["sonic"] else "probe",
                                           d["pack"], d["lines"], d["warmup_lines"]) for d in plan)
    spawn_ms = time.time() * 1000.0
    timeout_s = LIMIT_S - (time.time() - t_start) - 40
    p = procs.start(engine_cmd(spark_home, run_dir, [
        "--mode", "stream", "--trace", str(a.trace), "--devices", spec,
        "--timeout_s", "%.0f" % timeout_s, "--trigger_ms", str(TRIGGER_MS),
        "--trace_out", trace_path(a),
        "--ready", os.path.join(run_dir, "ready")]),
        stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    # the engine is ready once each device's query has committed its
    # warm-up prefix; only then does the generator start the schedule
    ready_path = os.path.join(run_dir, "ready")
    while not os.path.exists(ready_path):
        if p.poll() is not None or time.time() > t_start + LIMIT_S:
            fail("engine did not get ready")
        time.sleep(0.02)
    gen.stdin.write(b"go\n")
    gen.stdin.flush()
    wait_engine(p, t_start + LIMIT_S)
    gen.stdin.close()
    try:
        gen.wait(timeout=max(1.0, t_start + LIMIT_S - time.time()))
    except subprocess.TimeoutExpired:
        fail("generator did not stop")
    with open(os.path.join(run_dir, "engine.json")) as f:
        e = json.load(f)
    with open(report_path) as f:
        g = {d["name"]: d for d in json.load(f)["devices"]}
    if not e["done"]:
        fail("engine did not consume every line: %s" % e.get("failure"))

    # output check, and each pack's commit instant: the end of the first
    # micro-batch of its device that ended after the pack's file was written
    got = {}
    for pk in e["packs"]:
        got.setdefault((pk["device"], pk["key"]), {}).setdefault(pk["seq"], []).append(pk)
    attempted = failed = 0
    latencies = []
    for name, d in g.items():
        batches = e["batches"][name]
        for key, packs in d["packs"].items():
            have = got.pop((name, key), {})
            for seq, (sha, due_ms) in enumerate(packs):
                attempted += 1
                hits = have.pop(seq, [])
                pk = hits[0] if len(hits) == 1 else None
                if pk is None or pk["rows"] != d["pack"] or not pk["positions_ok"] \
                        or pk["digest"] != sha:
                    failed += 1
                    log("pack %s/%s/%d wrong: %s" % (name, key, seq, hits))
                    continue
                end = next((b["end_ms"] for b in batches if b["end_ms"] >= pk["mtime_ms"]), None)
                if end is None:
                    failed += 1
                    log("pack %s/%s/%d has no committing batch" % (name, key, seq))
                    continue
                if due_ms >= d["first_due_ms"]:  # warm-up packs are only checked
                    latencies.append(end - due_ms)
            for seq in have:  # packs the generator never completed
                attempted += 1
                failed += 1
                log("unexpected pack %s/%s/%d" % (name, key, seq))
        obs = {}
        for b in batches:
            for k, v in b["observed"].items():
                obs[k] = obs.get(k, 0) + v
        if obs.get("regex_drop", 0) != d["regex_bad"] or obs.get("cast_kill", 0) != d["cast_bad"] \
                or obs.get("regex_drop_fresh", 0) != 0:
            failed += 1
            log("%s parse drops %s, generator injected regex %d cast %d"
                % (name, obs, d["regex_bad"], d["cast_bad"]))
    for (name, key), have in got.items():
        attempted += len(have)
        failed += len(have)
        log("unexpected packs %s/%s: %s" % (name, key, sorted(have)))
    if not latencies:
        fail("no pack was committed")

    # drain: from the last scheduled line's due instant until the last
    # device has ended the micro-batch that consumed its final line
    drained = max(min(b["end_ms"] for b in e["batches"][name] if b["end_offset"] >= d["lines"])
                  for name, d in g.items())
    e2e = {
        "setup_s": (e["ready_ms"] - spawn_ms) / 1000.0,
        "elapsed_s": (drained - max(d["last_due_ms"] for d in g.values())) / 1000.0,
        "latency_p50_ms": statistics.median(latencies),
        "latency_p90_ms": p90(latencies),
        "cpu_s": e["cpu_s"], "live_heap_mb": e["live_heap_mb"],
    }
    log("%d packs, %d lines, pack latency p50 %.0f ms p90 %.0f ms, generator lag max %.0f ms"
        % (len(latencies), sum(d["lines"] for d in g.values()), e2e["latency_p50_ms"],
           e2e["latency_p90_ms"], max(d["lag_ms_max"] for d in g.values())))

    layer = {k: 0 for k in PER_LAYER}
    layer["process.peak_rss_mb"] = e["peak_rss_mb"]
    layer["process.cpu_steal_pct"] = e["steal_pct"]
    # layer figures cover the timed region: batches started after set-up
    all_b = [b for bs in e["batches"].values() for b in bs if b["start_ms"] >= e["ready_ms"]]
    dur = lambda b, k: b["durations"].get(k, 0)
    layer["gen.sent"] = sum(d["sent_lines"] for d in g.values())
    layer["gen.lag_ms_max"] = max(d["lag_ms_max"] for d in g.values())
    layer["sources.TcpLineSource.latest_offset_ms"] = sum(dur(b, "latestOffset") for b in all_b)
    layer["sources.TcpLineSource.get_batch_ms"] = sum(dur(b, "getBatch") for b in all_b)
    backlog = 0
    for b in all_b:
        d = g[b["device"]]
        rate = (d["lines"] - d["warmup_lines"]) / a.seconds
        due = d["warmup_lines"] + int(max(0.0, b["start_ms"] - d["first_due_ms"]) * rate / 1000.0)
        backlog = max(backlog, min(d["lines"], due) - b["start_offset"])
    layer["sources.TcpLineSource.backlog_msgs_max"] = backlog
    layer["sources.TcpLineSource.deserialize_ms"] = e["stages"]["deserialize_ms"]
    layer["streaming.batch.count"] = len(all_b)
    layer["streaming.batch.planning_ms"] = sum(dur(b, "queryPlanning") for b in all_b)
    layer["streaming.batch.trigger_ms_p50"] = statistics.median(dur(b, "triggerExecution") for b in all_b)
    layer["streaming.batch.behind"] = sum(1 for b in all_b if dur(b, "triggerExecution") > TRIGGER_MS)
    rows_in = sum(b["rows"] for b in all_b)
    drops = {k: sum(b["observed"].get(k, 0) for b in all_b)
             for k in ("regex_drop", "regex_drop_fresh", "cast_kill")}
    layer["functions.parse.rows_in"] = rows_in
    layer["functions.parse.rows_out"] = rows_in - sum(drops.values())
    layer["functions.parse.regex_drop"] = drops["regex_drop"] + drops["regex_drop_fresh"]
    layer["functions.parse.cast_kill"] = drops["cast_kill"]
    layer["functions.parse.stage_ms"] = e["stages"]["parse_stage_ms"]
    layer["streaming.CountWindow.shuffle_bytes"] = e["stages"]["shuffle_write_bytes"]
    layer["streaming.CountWindow.state_rows_max"] = max(b["state_rows"] for b in all_b)
    layer["streaming.CountWindow.state_bytes_max"] = max(b["state_bytes"] for b in all_b)
    layer["streaming.CountWindow.state_update_ms"] = sum(b["state_update_ms"] for b in all_b)
    layer["streaming.CountWindow.state_commit_ms"] = sum(b["state_commit_ms"] for b in all_b)
    layer["sink.add_batch_ms"] = sum(dur(b, "addBatch") for b in all_b)
    layer["sink.offset_log_ms"] = sum(dur(b, "walCommit") + dur(b, "commitOffsets") for b in all_b)
    layer["sink.files"] = len({f for pk in e["packs"] for f in pk["files"]})
    return attempted, failed, e2e, layer


def trace_path(a):
    return os.path.join(OUT, "trace-%s-seed%d.json" % (a.workload, a.seed))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its children (see Procs.stop_all)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spark_home = find_spark_home()
    build(spark_home)
    t_start = time.time()
    os.makedirs(OUT, exist_ok=True)
    run_dir = os.path.join(RUNS, "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    procs = Procs()
    try:
        if a.workload.startswith("queries"):
            attempted, failed, e2e, layer = run_queries(a, procs, spark_home, run_dir, t_start)
        else:
            attempted, failed, e2e, layer = run_stream(a, procs, spark_home, run_dir, t_start)
    finally:
        procs.stop_all()
        # the raw measurements of the latest run stay next to its trace
        for raw in ("engine.json", "gen.json"):
            if os.path.exists(os.path.join(run_dir, raw)):
                shutil.copy(os.path.join(run_dir, raw), os.path.join(OUT, "%s-%s" % (a.workload, raw)))
        shutil.rmtree(run_dir, ignore_errors=True)

    # tracing overhead: this run's elapsed time against the latest run of
    # the same workload with the other tracing setting
    layer.update({"run." + k: e2e[k] for k in RUN_TIMES})
    last = os.path.join(OUT, "last-%s-trace%d.json" % (a.workload, a.trace))
    with open(last, "w") as f:
        json.dump(e2e, f)
    other = os.path.join(OUT, "last-%s-trace%d.json" % (a.workload, 1 - a.trace))
    if os.path.exists(other):
        with open(other) as f:
            o = json.load(f)
        on, off = (e2e, o) if a.trace else (o, e2e)
        log("tracing overhead on elapsed_s: %+.3f s (traced %.3f, untraced %.3f)"
            % (on["elapsed_s"] - off["elapsed_s"], on["elapsed_s"], off["elapsed_s"]))
    for k, v in sorted(e2e.items()):
        log("%-16s %.4f %s" % (k, v, dict(END_TO_END, **RUN_TIMES)[k]))

    metrics = layer if a.trace else e2e
    units = PER_LAYER if a.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
