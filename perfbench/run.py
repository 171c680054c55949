#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark's JVM half from source with sbt (perfbench/build.sbt) and
reuses the build while the sources are unchanged. Each run gets its own
directory under perfbench/.runs (warehouse, checkpoints, shards, Spark
scratch), deleted at the end. Data: the sf0.1 test tables, taken from
$SPARK_GRAFT_SF_DIR or ~/testdata/sf0.1.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics; --trace 1 records spans, reports the per-layer
metrics and writes the spans to perfbench/traces/. See README.md.
"""
import argparse
import bisect
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import pandas as pd  # noqa: E402
import metrics as M  # noqa: E402

RUN_LIMIT_S = 170
HEAP = "4g"
# A batch run times a fixed number of passes, round(seconds / PASS_S):
# the same work in every run, so no figure depends on how many passes
# a slower or faster run fits in. A warm pass of either list takes 3.5-5 s
# at local[4]; the set-up before the timed passes takes most of a run.
PASS_S = 2.5
# Untimed passes before the timed ones. The first pays the banked-index
# builds; per-pass time keeps falling over the next few passes while the
# JIT compiles the engine's hot code.
WARMUPS = 2

# Query lists, by SparkEntry short name. Each pass runs the whole list
# once, in an order drawn from the seed.
INTERACTIVE = ["q01", "q03", "q06", "q09", "q13", "q14", "q16", "q17",
               "q38", "q44", "q45"]
CURATION = ["q24", "q97", "q85", "q118"]
# queries served from a banked index; their warm-up builds the index
INDEX_SERVES = {"q85", "q118"}

WORKLOADS = {
    "control_stream": None,
    "interactive_sql": INTERACTIVE,
    "curation_heavy": CURATION,
}

END_TO_END = [("setup_s", "s"), ("work_s", "s"), ("p50_ms", "ms"), ("held_mb", "MB")]

PER_LAYER = [
    ("Sessions.start_s", "s"),
    ("Layout.index_build_s", "s"),
    ("SparkEntry.build_ms", "ms"), ("SparkEntry.build_jobs", "count"),
    ("catalyst.plan_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.zero_stage_jobs", "count"),
    ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.driver_gap_ms", "ms"),
    ("executor.task_ms", "ms"), ("executor.cpu_ms", "ms"),
    ("executor.busy_share", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.spill_mb", "MB"),
    ("Tables.scan_mb", "MB"), ("Tables.scan_rows", "count"),
    ("cache.relations_left", "count"), ("cache.rdds_left", "count"),
    ("cache.storage_mb", "MB"), ("cache.evicted_blocks", "count"),
    ("cache.disk_blocks", "count"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("ShardStream.latest_offset_ms_p50", "ms"), ("ShardStream.latest_offset_ms_p99", "ms"),
    ("ShardStream.backlog_records_max", "count"), ("ShardStream.backlog_records_end", "count"),
    ("ShardStream.rows_per_batch", "count"),
    ("stream.planning_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.commit_offsets_ms", "ms"),
    ("stream.trigger_ms_p50", "ms"), ("stream.trigger_ms_p99", "ms"),
    ("stream.batches", "count"),
    ("stream.add_batch_ms_p50", "ms"), ("stream.add_batch_ms_p99", "ms"),
    ("Sources.rows_in", "count"),
    ("Engine.state_rows", "count"), ("Engine.state_mb", "MB"),
    ("Engine.rows_updated", "count"), ("Engine.state_update_ms", "ms"),
    ("Engine.state_commit_ms", "ms"),
    ("Sinks.emit_offset_ms", "ms"), ("Sinks.docs", "count"),
    ("Sinks.doc_kb", "KB"), ("Sinks.targets_per_doc", "count"),
    ("stream.catchup_rps", "1/s"),
    ("stream.nominal_p50_ms", "ms"), ("stream.nominal_p99_ms", "ms"),
    ("stream.peak_p50_ms", "ms"), ("stream.peak_p99_ms", "ms"),
    ("query.p50_ms", "ms"), ("query.p90_ms", "ms"),
    ("trace.coverage", "ratio"),
    ("generator.lag_ms", "ms"), ("env.calib_s", "s"), ("env.load1m", "load"),
]

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

_children = []


class RunError(Exception):
    pass


# ------------------------------------------------------------------ build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile the engine and the JVM half; returns the runtime classpath.
    Rebuilds only when a source file changed since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RunError("no engine sources: run from a checkout of the repository")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                           stdin=subprocess.DEVNULL, timeout=850)
        out.write(p.stdout)
    cp = [ln.strip() for ln in p.stdout.splitlines()
          if ln.strip().startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cp:
        raise RunError(f"build failed (see {log})")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


# -------------------------------------------------------------------- env

def _first_line(path):
    try:
        with open(path) as f:
            return f.readline().strip()
    except OSError:
        return ""


def env_fingerprint():
    cpu = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for ln in f:
                if ln.startswith("model name"):
                    cpu = ln.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"cpu": cpu, "nproc": os.cpu_count(), "load1m": os.getloadavg()[0],
            "boot": _first_line("/proc/sys/kernel/random/boot_id")[:8]}


def data_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
    missing = [t for t in TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise RunError(f"test data not found in {d} (missing {missing})")
    return d


# -------------------------------------------------------------------- run

def _start(cmd, log, **kw):
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    _children.append(p)
    return p


def _stop_children():
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except OSError:
                pass
    for p in _children:
        try:
            p.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass


def run_jvm(cp, args, run_dir, deadline, gen_cmd=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xmx{HEAP}", *opens, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Harness", *args]
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"))
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    gen_p = _start(gen_cmd, open(os.path.join(run_dir, "gen.log"), "w")) if gen_cmd else None
    jvm = _start(cmd, log, env=env, cwd=run_dir)
    try:
        rc = jvm.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise RunError("the run did not finish in time")
    if gen_p is not None:
        try:
            gen_p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RunError("the generator did not finish")
    if rc != 0 or (gen_p is not None and gen_p.returncode != 0):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RunError(f"engine run failed (exit {rc}):\n{tail}")


# ------------------------------------------------------------ batch score

def check_oracles(res, run_dir, ddir):
    """Compare each query's last-pass output with its DuckDB oracle twin.
    Returns {query: mismatch message} for the queries that differ."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb')}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(ddir, t)}.parquet'")
    bad = {}
    names = {s["query"] for s in res["samples"] if s["pass"] >= 0}
    for name in sorted(names):
        sql = res["oracle_sql"].get(name)
        out = os.path.join(run_dir, "out", name)
        if sql is None:
            bad[name] = "no oracle twin"
            continue
        if not os.path.isdir(out):
            bad[name] = "no output"
            continue
        try:
            exp = _oracle_rows(con, sql, ddir)
            got = con.sql(f"SELECT * FROM '{out}/*.parquet'").df()
            msg = M.compare_frames(exp, got)
        except Exception as e:  # an oracle or read failure is a failed check
            msg = f"check error: {e}"
        if msg:
            bad[name] = msg
    con.close()
    return bad


def _oracle_rows(con, sql, ddir):
    """The oracle's rows. They depend only on the SQL text and the data
    files, so they are computed once per checkout and kept under
    perfbench/target/oracle/."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = os.stat(os.path.join(ddir, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(HERE, "target", "oracle", h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    exp = con.sql(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    exp.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def _ancestors(spans):
    """A function listing a span and its ancestors, innermost first."""
    by_id = {s["id"]: s for s in spans}

    def ancestors(sid):
        while sid in by_id:
            yield by_id[sid]
            sid = by_id[sid]["parent"]
    return ancestors


def score_batch(res, run_dir, ddir, trace):
    timed = [s for s in res["samples"] if s["pass"] >= 0]
    bad = check_oracles(res, run_dir, ddir)
    failed = sum(1 for s in timed if s["error"] or s["query"] in bad)
    walls = [s["wall_ms"] for s in timed if not s["error"]]
    p50, n = M.percentile(walls, 50)
    p90, _ = M.percentile(walls, 90)
    per_query = {}
    for s in timed:
        if not s["error"]:
            per_query.setdefault(s["query"], []).append(s["wall_ms"])
    e2e = {
        "setup_s": (res["first_timed_ms"] - res["jvm_start_ms"]) / 1000.0,
        # one pass assembled from each query's median: a stall that slows
        # a few queries of one pass does not move it
        "work_s": sum(M.median(v) for v in per_query.values()) / 1000.0,
        "p50_ms": p50, "held_mb": res["held_mb"],
    }
    notes = {"passes": len(res["pass_ms"]), "query_samples": n,
             "errors": {s["query"]: s["error"] for s in res["samples"] if s["error"]},
             "oracle_mismatch": bad,
             "pass_ms": [round(x) for x in res["pass_ms"]],
             "warm_ms": [round(sum(s["wall_ms"] for s in res["samples"] if s["pass"] == w))
                         for w in sorted({s["pass"] for s in res["samples"] if s["pass"] < 0},
                                         reverse=True)],
             "query_walls_ms": {q: [round(x) for x in v] for q, v in sorted(per_query.items())}}
    layers = {}
    if trace:
        notes["queries"], layers = batch_layers(res, timed)
        layers["query.p50_ms"] = p50
        layers["query.p90_ms"] = p90
    return len(timed), failed, e2e, layers, notes


def batch_layers(res, timed):
    passes = len(res["pass_ms"])
    spans = res["spans"]
    ancestors = _ancestors(spans)
    jobs = [j for j in res["jobs"] if j["span"] is not None and j["end"] >= 0]
    # each job's owning query span and the call (build/plan/execute) it ran in
    per_query, timed_jobs, build_jobs = {}, [], 0
    for j in jobs:
        chain = list(ancestors(int(j["span"])))
        if not any(a["name"] == "pass" for a in chain):
            continue
        timed_jobs.append(j)
        if chain[0]["name"] == "build":
            build_jobs += 1
        q = next((a for a in chain if a["name"].startswith("query:")), None)
        if q is not None:
            per_query.setdefault(q["id"], []).append((j["start"], j["end"]))
    query_spans = [s for s in spans if s["name"].startswith("query:")
                   and any(a["name"] == "pass" for a in ancestors(s["parent"]))]
    gaps = [M.driver_gap(s["start"], s["end"], per_query.get(s["id"], []))
            for s in query_spans]
    calls = {}
    for s in spans:
        if s["name"] in ("build", "plan", "execute"):
            calls.setdefault(s["parent"], {})[s["name"]] = s["end"] - s["start"]
    rows = [{"query": s["name"][6:], "span": s["id"], "wall_ms": s["end"] - s["start"],
             **{k + "_ms": calls.get(s["id"], {}).get(k, 0.0)
                for k in ("build", "plan", "execute")},
             "jobs_union_ms": M.union_length(per_query.get(s["id"], []), s["start"], s["end"]),
             "driver_gap_ms": g}
            for s, g in zip(query_spans, gaps)]
    wall_total = sum(s["end"] - s["start"] for s in query_spans)
    cover = [(t["build_ms"] + t["plan_ms"] + t["exec_ms"]) / t["wall_ms"]
             for t in timed if t["wall_ms"] > 0 and not t["error"]]

    def per_pass(key, scale=1.0):
        return sum(j[key] for j in timed_jobs) / passes / scale

    task_ms = sum(j["task_ms"] for j in timed_jobs)
    warm = [s for s in res["samples"] if s["pass"] == -1]
    return rows, {
        "Layout.index_build_s": sum(s["build_ms"] for s in warm
                                    if s["query"].split("_")[0] in INDEX_SERVES) / 1000.0,
        "SparkEntry.build_ms": sum(s["build_ms"] for s in timed) / passes,
        "SparkEntry.build_jobs": build_jobs / passes,
        "catalyst.plan_ms": sum(s["plan_ms"] for s in timed) / passes,
        "scheduler.jobs": len(timed_jobs) / passes,
        "scheduler.zero_stage_jobs": sum(1 for j in timed_jobs if j["stages_run"] == 0) / passes,
        "scheduler.stages": per_pass("stages_run"),
        "scheduler.tasks": per_pass("tasks"),
        "scheduler.driver_gap_ms": sum(gaps) / passes,
        "executor.task_ms": task_ms / passes,
        "executor.cpu_ms": per_pass("cpu_ms"),
        "executor.busy_share": task_ms / (wall_total * res["cpus"]) if wall_total else 0.0,
        "shuffle.write_mb": per_pass("shuffle_write_b", 1048576.0),
        "shuffle.read_mb": per_pass("shuffle_read_b", 1048576.0),
        "shuffle.spill_mb": per_pass("spill_b", 1048576.0),
        "Tables.scan_mb": per_pass("input_b", 1048576.0),
        "Tables.scan_rows": per_pass("input_records"),
        "cache.relations_left": res["relations_left"],
        "cache.rdds_left": res["rdds_left"],
        "cache.storage_mb": res["storage_mb"],
        "cache.evicted_blocks": res["evicted_blocks"],
        "cache.disk_blocks": res["disk_blocks"],
        "jvm.gc_ms": res["gc_ms"], "jvm.heap_peak_mb": res["heap_peak_mb"],
        "trace.coverage": min(cover) if cover else 0.0,
    }


# ----------------------------------------------------------- stream score

def _epoch_ms(iso):
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def _batch_end(p):
    return _epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]


def _ends(p):
    if not p["sources"]:
        return {}
    off = p["sources"][0]["endOffset"]
    if isinstance(off, str):
        off = json.loads(off)
    return {k: v["seq"] for k, v in (off or {}).items()}


def load_stream(run_dir, seed, seconds):
    with open(os.path.join(run_dir, "gen.json")) as f:
        g = json.load(f)
    recs = gen.schedule(seed, seconds, g["backlog_end_ms"], g["live_start_ms"])
    with open(os.path.join(run_dir, "progress.jsonl")) as f:
        progress = [json.loads(ln)["p"] for ln in f if ln.strip()]
    progress.sort(key=lambda p: p["batchId"])
    docs = {}
    with open(os.path.join(run_dir, "docs.jsonl")) as f:
        for ln in f:
            if ln.strip():
                d = json.loads(ln)
                docs[d["batch"]] = (d["emit_ms"], {t["id"]: t for t in d["doc"]["targets"]},
                                    len(ln))
    return g, recs, progress, docs


def score_stream_records(recs, progress, docs):
    """Per-record outcome: the admitting batch, the latency from due time
    to that batch's telemetry document, and whether the record failed.
    Also checks the final telemetry state against the tail records."""
    batch_ends = [(p["batchId"], {int(k.split("-")[1]): v for k, v in _ends(p).items()})
                  for p in progress]
    admitted = M.admitting_batches(batch_ends, [(r["shard"], r["seq"]) for r in recs])
    failed = set()
    latency = {"nominal": [], "peak": []}
    for i, (r, b) in enumerate(zip(recs, admitted)):
        if b is None:
            failed.add(i)
            continue
        if r["kind"] == "dead":
            continue
        doc = docs.get(b)
        if doc is None or r["target"] not in doc[1]:
            failed.add(i)
            continue
        if r["phase"] in latency:
            latency[r["phase"]].append(doc[0] - r["due"])
    final = {}
    for b in sorted(docs):
        final.update(docs[b][1])
    by_target = {}
    for i, r in enumerate(recs):
        if r["phase"] == "tail":
            by_target.setdefault(r["target"], []).append(i)
    for i, r in enumerate(recs):
        if "expect" not in r:
            continue
        got = final.get(r["target"])
        ok = (got is not None and got["channels"] == r["expect"]
              and got["is_channels_overridden"] is True
              and got["override_timeout_remaining"] == gen.TAIL_TTL_MS)
        if not ok:
            failed.update(by_target[r["target"]])
    return failed, latency


def score_stream(res, run_dir, seed, seconds, trace):
    g, recs, progress, docs = load_stream(run_dir, seed, seconds)
    failed, latency = score_stream_records(recs, progress, docs)
    # set-up ends when the first micro-batch has committed: it pays the
    # query's one-time start (state store creation, code generation); the
    # catch-up is timed from there to the end of the batch that drains
    # the backlog
    backlog = res["backlog"]
    drained = next((p for p in progress if sum(_ends(p).values()) >= backlog), None)
    if drained is None or drained is progress[0]:
        raise RunError("the backlog did not span several micro-batches")
    first_end = _batch_end(progress[0])
    work_ms = _batch_end(drained) - first_end
    drained_records = backlog - sum(_ends(progress[0]).values())
    live = latency["nominal"] + latency["peak"]
    p50, n_live = M.percentile(live, 50)
    p99, _ = M.percentile(live, 99)
    e2e = {"setup_s": (first_end - res["jvm_start_ms"]) / 1000.0,
           "work_s": work_ms / 1000.0, "p50_ms": p50, "held_mb": res["held_mb"]}
    notes = {"records": len(recs), "latency_samples": n_live, "latency_p99_ms": p99,
             "batches": len(progress), "generator_lag_p99_ms": g["lag_p99_ms"],
             "trigger_ms": [p["durationMs"]["triggerExecution"] for p in progress]}
    layers = {}
    if trace:
        layers = stream_layers(res, recs, progress, docs, g)
        layers["stream.catchup_rps"] = drained_records / (work_ms / 1000.0)
        for phase in ("nominal", "peak"):
            for q in (50, 99):
                layers[f"stream.{phase}_p{q}_ms"] = M.percentile(latency[phase], q)[0]
        notes["spans"] = stream_spans(res, progress, docs)
        notes["latency_ms"] = latency
    return len(recs), len(failed), e2e, layers, notes


def stream_layers(res, recs, progress, docs, g):
    def dur(key):
        return [p["durationMs"].get(key, 0) for p in progress]

    data = [p for p in progress if p["numInputRows"] > 0]
    dues = sorted(r["due"] for r in recs)
    backlog, prev = [], 0
    for p in progress:
        start = _epoch_ms(p["timestamp"])
        backlog.append(bisect.bisect_right(dues, start) - prev)
        prev = sum(_ends(p).values())
    ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    emit_off = [docs[p["batchId"]][0] - _epoch_ms(p["timestamp"])
                for p in progress if p["batchId"] in docs]
    sizes = [v[2] for v in docs.values()]
    width = [len(v[1]) for v in docs.values()]
    return {
        "ShardStream.latest_offset_ms_p50": M.percentile(dur("latestOffset"), 50)[0],
        "ShardStream.latest_offset_ms_p99": M.percentile(dur("latestOffset"), 99)[0],
        "ShardStream.backlog_records_max": max(backlog),
        "ShardStream.backlog_records_end": backlog[-1],
        "ShardStream.rows_per_batch": M.median([p["numInputRows"] for p in data]),
        "stream.planning_ms": M.median(dur("queryPlanning")),
        "stream.wal_commit_ms": M.median(dur("walCommit")),
        "stream.commit_offsets_ms": M.median(dur("commitOffsets")),
        "stream.trigger_ms_p50": M.percentile(dur("triggerExecution"), 50)[0],
        "stream.trigger_ms_p99": M.percentile(dur("triggerExecution"), 99)[0],
        "stream.batches": len(progress),
        "stream.add_batch_ms_p50": M.percentile(dur("addBatch"), 50)[0],
        "stream.add_batch_ms_p99": M.percentile(dur("addBatch"), 99)[0],
        "Sources.rows_in": sum(p["numInputRows"] for p in progress),
        "Engine.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "Engine.state_mb": ops[-1]["memoryUsedBytes"] / 1048576.0 if ops else 0.0,
        "Engine.rows_updated": sum(o["numRowsUpdated"] for o in ops),
        "Engine.state_update_ms": M.median([o["allUpdatesTimeMs"] for o in ops]) or 0,
        "Engine.state_commit_ms": M.median([o["commitTimeMs"] for o in ops]) or 0,
        "Sinks.emit_offset_ms": M.median(emit_off) or 0.0,
        "Sinks.docs": len(docs),
        "Sinks.doc_kb": sum(sizes) / len(sizes) / 1024.0 if sizes else 0.0,
        "Sinks.targets_per_doc": sum(width) / len(width) if width else 0.0,
        "generator.lag_ms": g["lag_p99_ms"],
        "jvm.gc_ms": res["gc_ms"], "jvm.heap_peak_mb": res["heap_peak_mb"],
    }


STREAM_STAGES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                 "commitOffsets"]


def stream_spans(res, progress, docs):
    """Spans of each micro-batch, laid out from its StreamingQueryProgress:
    batch:<id>, one child per durationMs component in execution order,
    and the telemetry emission inside addBatch."""
    out, nid = [], max([s["id"] for s in res["spans"]], default=-1) + 1
    for p in progress:
        start = _epoch_ms(p["timestamp"])
        root = nid
        nid += 1
        out.append({"id": root, "parent": -1, "name": f"batch:{p['batchId']}",
                    "start": start, "end": start + p["durationMs"].get("triggerExecution", 0)})
        t = start
        for k in STREAM_STAGES:
            d = p["durationMs"].get(k)
            if d is None:
                continue
            out.append({"id": nid, "parent": root, "name": k, "start": t, "end": t + d})
            if k == "addBatch" and p["batchId"] in docs:
                e = docs[p["batchId"]][0]
                out.append({"id": nid + 1, "parent": nid, "name": "emit", "start": e, "end": e})
                nid += 1
            nid += 1
            t += d
    return out


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    env = env_fingerprint()
    cp = build()
    ddir = data_dir()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-dir", run_dir, "--out", out]
        queries = WORKLOADS[a.workload]
        if queries is None:
            args += ["--shards", os.path.join(run_dir, "shards"),
                     "--warm-shards", os.path.join(run_dir, "shards-warm"),
                     "--targets", str(gen.TARGETS), "--cap", str(gen.BACKLOG // 10)]
            gen_cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--run-dir", run_dir]
            run_jvm(cp, args, run_dir, deadline, gen_cmd)
        else:
            args += ["--data", ddir, "--queries", ",".join(queries),
                     "--passes", str(max(1, round(a.seconds / PASS_S))),
                     "--warmups", str(WARMUPS)]
            run_jvm(cp, args, run_dir, deadline)
        with open(out) as f:
            res = json.load(f)
        if queries is None:
            attempted, failed, e2e, layers, notes = score_stream(
                res, run_dir, a.seed, a.seconds, a.trace)
        else:
            attempted, failed, e2e, layers, notes = score_batch(
                res, run_dir, ddir, a.trace)
        env.update(heap_max_mb=res["heap_max_mb"], calib_s=res["calib_s"])
        if a.trace:
            layers.update({"Sessions.start_s": res["session_s"],
                           "env.calib_s": res["calib_s"], "env.load1m": env["load1m"]})
            write_trace(a, res["spans"] + notes.pop("spans", []), res["jobs"], layers, env,
                        {k: notes.pop(k) for k in ("queries", "latency_ms") if k in notes})
    finally:
        _stop_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    reported = ([(n, u, layers.get(n, 0.0)) for n, u in PER_LAYER] if a.trace
                else [(n, u, e2e[n]) for n, u in END_TO_END])
    print("env " + json.dumps(env))
    print("samples " + json.dumps(notes))
    print(f"wall_s {time.time() - t0:.1f}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": (v if v is not None else 0.0), "unit": u}
                    for n, u, v in reported}}))
    return 0


def write_trace(a, spans, jobs, layers, env, samples):
    run_id = f"{a.workload}-{a.seed}-{int(time.time())}"
    selfs = M.self_times(spans)
    by_name = {}
    for s in spans:
        key = s["name"].split(":")[0]
        by_name[key] = by_name.get(key, 0.0) + selfs[s["id"]]
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    path = os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.json")
    with open(path, "w") as f:
        json.dump({"run_id": run_id, "env": env, "layers": layers,
                   "self_ms_by_name": by_name, **samples,
                   "spans": [dict(s, run=run_id) for s in spans], "jobs": jobs}, f)


def _on_signal(signum, _frame):
    _stop_children()
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_signal)
    try:
        sys.exit(main())
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
