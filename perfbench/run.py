#!/usr/bin/env python3
"""Archive benchmark: one command runs one workload and reports it.

    python3 perfbench/run.py --workload {ingest,query,backfill} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine from
`src/main/scala` and this benchmark's `scala/` with the Scala compiler that
ships among the Spark jars `build.sbt` names, into `.bench_build/`. Inputs
are generated from `--seed` (gen.py) and cached per seed under
`.bench_build/inputs/`. Every read and write stays inside the checkout.

Workloads (each drives the engine's public entry points from outside):
- ingest: the `graft.Service` path as one streaming plan; catch-up drain,
  open-loop live ticks, then the canonical archive read; then a scan of
  hourly `YYYY-MM-DD-H.json.gz` files through `GhArchiveSource` (listing
  and decode), which feeds the `sources.*` per-layer metrics only.
- query: one closed-loop client over a fixed 13-key mix of
  `SparkEntry.queries`; one cold pass, then steady passes.
- backfill: the calls `graft.Backfill.main` makes, over the same hour
  files. It fails on string event ids, so it is not among BENCHMARK.json's
  workloads; it reports the failure and no timing.

End-to-end metrics (`--trace 0`), the same names on every workload:
- setup_s: process start to Spark session ready, the median over the
  run's JVM and a probe JVM that only starts a session (each start-up
  costs ~5 s on 4 vCPUs, so a run affords two).
- peak_heap_mb: the most heap the run's JVM still holds after a full
  collection between phases: the data the engine retains.
- cold_s: the first piece of work in the fresh JVM. ingest: stream start
  to the first committed micro-batch; query: the cold pass over the mix;
  backfill: the first load.
- pass_s: one closed-loop pass over fixed work, median. ingest: the
  archive read; query: a steady pass over the mix; backfill: a load.
- rows_per_s: ingest: catch-up rows (replays included) per second;
  query: rows of the input tables the mix reads (each key counts the full
  tables its query names, whatever the plan prunes) per steady-pass
  second; backfill: in-range rows loaded per second.
- latency_p50_ms: median per-operation latency. ingest: tick due time to
  the commit of the micro-batch holding the tick; query: one key's build
  plus execution; backfill: one load. The freshness tail (the highest
  percentile with at least ten ticks beyond it) moves with where the
  periodic compactions fall in the live phase, so it is a per-layer
  metric, `streaming.fresh_tail_ms`, without a bound.

`--trace 1` runs the same workload with spans recorded around every call
into a layer, writes `.bench_build/runs/<workload>/spans.jsonl`, prints a
per-layer self-time table and the tracing overhead against the last
untraced run of the same workload and seed, and reports the per-layer
metrics, each with the end-to-end metric and workload it should move
(`SHOULD_MOVE`). The last stdout line is one JSON object: correct, attempted,
failed, metrics.
"""
import argparse
import glob
import gzip
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_HEAP = "3g"
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
SETUP_PROBES = 1
RUN_LIMIT_S = 170

# ingest: a 30k-event backlog (~3 days of event time) in the reference's
# 10,000-row inserts, then live ticks of the reference's 100-event poll
# pages at 10 per second (1,000 events/s, well under catch-up throughput)
# for the run length. Micro-batches start back to back (trigger 0 ms), not
# on the Service's 5 s trigger. At 5 s (seed 101, 4 vCPU) the whole run
# made 11 batches, fewer than the 12 between compactions, so compaction
# never ran; catch-up waited on the trigger (730 rows/s, under the live
# rate) and freshness p50 was 3.5 s, mostly the wait for the next
# trigger. At 0 ms the same run makes ~26 batches, 2 compactions.
INGEST = {"backlog": 30_000, "add_rows": 10_000, "page_rows": 100,
          "tick_hz": 10, "min_ticks": 100, "trigger_ms": 0,
          "compact_every": 12, "read_warmups": 2, "read_reps": 4,
          "src_reps": 3}
# backfill (and ingest's source scan): 32 hours of files, 24 of them in
# the requested range.
BACKFILL = {"hours": 32, "from": 4, "to": 28, "per_hour": 800, "reps": 3}
# query: table scale (lineitem = 6M x QUERY_SF rows) and the key mix, each
# key tagged with the layer its cost sits in and the input tables it reads
# (through the engine's own derived copies for partition_prune and
# sim_topk_ivf). The mix keeps the archive
# semantics, both as-of implementations, the BucketRank, sketch and
# dedup/similarity families and every key the open performance items name;
# its cold pass, a steady pass and the oracle-check pass fit one run in
# about a minute on 4 vCPUs, where the engine's whole surface would not.
QUERY_SF = 0.005
QUERY_KEYS = {
    "replace_by_key": ("operators", ["events"]),
    "ttl_filter": ("plans", ["events"]),
    "partition_prune": ("plans", ["events"]),
    "join_asof_exec": ("plans", ["events"]),
    "join_asof_plan": ("plans", ["events"]),
    "window_distribution": ("operators", ["events"]),
    "agg_quantiles_multi": ("operators", ["lineitem"]),
    "agg_theta_intersect": ("functions", ["events"]),
    "agg_approx_topk_weighted": ("functions", ["events"]),
    "dedup_containment": ("functions", ["documents"]),
    "sim_topk_ivf": ("functions", ["embeddings"]),
    "sql_recursive": ("operators", ["customer"]),
    "market_basket_lift": ("operators", ["lineitem"]),
}
LAYERS = ["session", "sources", "streaming", "sink", "compact", "plans",
          "functions", "operators", "bench"]

END_TO_END = [("setup_s", "s"), ("peak_heap_mb", "MB"), ("cold_s", "s"),
              ("pass_s", "s"), ("rows_per_s", "rows/s"),
              ("latency_p50_ms", "ms")]
PER_LAYER = (
    [("session.build_s", "s"),
     ("sources.list_ms", "ms"),
     ("sources.files_read", "count"), ("sources.input_bytes", "bytes"),
     ("sources.decode_s", "s"),
     ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
     ("streaming.add_batch_ms", "ms"), ("streaming.planning_ms", "ms"),
     ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
     ("streaming.state_rows_peak", "count"),
     ("streaming.state_bytes_peak", "bytes"),
     ("streaming.state_commit_ms", "ms"),
     ("streaming.dups_dropped_ratio", "ratio"),
     ("streaming.backlog_rows_end", "count"), ("streaming.gen_late_ms", "ms"),
     ("streaming.fresh_tail_ms", "ms"),
     ("sink.write_s", "s"), ("sink.files_written", "count"),
     ("sink.bytes_per_input_byte", "ratio"), ("compact.calls", "count"),
     ("compact.ms_total", "ms"), ("compact.ms_max", "ms"),
     ("read.files_scanned", "count"),
     ("read.rows_scanned_per_row_returned", "ratio"),
     ("query.layer.plans_s", "s"), ("query.layer.functions_s", "s"),
     ("query.layer.operators_s", "s"),
     ("query.build_ms", "ms"), ("query.exec_ms", "ms"),
     ("query.jobs", "count"), ("query.shuffle_bytes", "bytes"),
     ("query.spill_bytes", "bytes"), ("query.rows_scanned", "count")]
    + [(f"query.{k}_s", "s") for k in QUERY_KEYS]
    + [(f"query.{k}.cold_s", "s") for k in QUERY_KEYS]
    + [(f"self.{layer}_s", "s") for layer in LAYERS])
# The end-to-end metric and workload each per-layer metric should move, by
# longest name prefix. BENCHMARK.json's per-layer entries carry only name,
# unit and direction, so the mapping lives here and in the traced report.
# The sources layer moves no end-to-end metric until `backfill` (its
# rows_per_s) can join the workloads.
SHOULD_MOVE = {
    "session.": "setup_s (ingest, query)",
    "sources.": "none yet (backfill rows_per_s once it runs)",
    "streaming.": "latency_p50_ms, rows_per_s (ingest)",
    "sink.": "latency_p50_ms, pass_s (ingest)",
    "compact.": "latency_p50_ms, pass_s (ingest)",
    "read.": "pass_s (ingest)",
    "query.": "pass_s, latency_p50_ms (query)",
    "query.build_ms": "cold_s, pass_s (query)",
    "query.jobs": "cold_s, pass_s (query)",
    "self.session_s": "setup_s (ingest, query)",
    "self.sources_s": "none yet (backfill rows_per_s once it runs)",
    "self.streaming_s": "latency_p50_ms, rows_per_s (ingest)",
    "self.sink_s": "latency_p50_ms, pass_s (ingest)",
    "self.compact_s": "latency_p50_ms (ingest)",
    "self.plans_s": "pass_s (query)",
    "self.functions_s": "pass_s (query)",
    "self.operators_s": "pass_s (query)",
    "self.bench_s": "none (the benchmark's own code)",
}
SHOULD_MOVE.update({f"query.{k}.cold_s": "cold_s (query)" for k in QUERY_KEYS})


def should_move(name):
    return SHOULD_MOVE[max((p for p in SHOULD_MOVE if name.startswith(p)), key=len)]


class BenchError(Exception):
    """A failure of the benchmark itself (build, launch): no result line."""


def log(msg):
    print(msg, flush=True)


# --- build ---------------------------------------------------------------

def spark_jars():
    """The Spark jar directory `build.sbt` compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BenchError("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _scalac(jars, sources, classpath, out):
    found = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))
             for n in ("compiler", "library", "reflect")]
    if not all(found):
        raise BenchError(f"no Scala 2.13 compiler among {jars}")
    comp = [sorted(f)[-1] for f in found]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(comp),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
         "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + r.stdout[-4000:])
    os.replace(tmp, out)


def build():
    """Compile the engine and the harness once per source digest; returns
    the JVM classpath."""
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not src:
        raise BenchError("no engine sources under src/main/scala")
    engine = os.path.join(BUILD, "engine-" + _digest(src, jars))
    if not os.path.isdir(engine):
        log("building engine classes ...")
        t = time.time()
        _scalac(jars, src, jar_cp, engine)
        log(f"built engine in {time.time() - t:.1f} s")
    hsrc = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    harness = os.path.join(BUILD, "harness-" + _digest(hsrc, engine))
    if not os.path.isdir(harness):
        _scalac(jars, hsrc, f"{jar_cp}:{engine}", harness)
    return f"{jar_cp}:{engine}:{harness}"


# --- inputs --------------------------------------------------------------

def _cached(name, params, make):
    """Inputs directory for `name`, made once by `make(dir)`; keyed by the
    generator's code and the `params` it is called with."""
    d = os.path.join(BUILD, "inputs",
                     name + "-" + _digest([gen.__file__], json.dumps(params)))
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        make(d)
        open(os.path.join(d, "done"), "w").close()
    return d


def ingest_inputs(seed, seconds):
    n_ticks = max(INGEST["min_ticks"], int(INGEST["tick_hz"] * seconds))

    def make(d):
        x = gen.ingest_inputs(seed, INGEST["backlog"], INGEST["add_rows"],
                              n_ticks, INGEST["page_rows"])
        gen.write_lines(os.path.join(d, "warmup.ndjson"), x["warmup"])
        gen.write_lines(os.path.join(d, "adds.ndjson"),
                        [r for a in x["adds"] for r in a])
        gen.write_lines(os.path.join(d, "pages.ndjson"),
                        [r for p in x["pages"] for r in p])
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump({"add_sizes": [len(a) for a in x["adds"]],
                       "replays": x["replays"]}, f)

    d = _cached(f"ingest-s{seed}", [INGEST, n_ticks], make)
    return d, json.load(open(os.path.join(d, "meta.json")))


def _sent(d):
    """{id: raw} of every distinct event the ingest run sends."""
    out = {}
    for name in ("warmup", "adds", "pages"):
        with open(os.path.join(d, name + ".ndjson"), encoding="utf-8") as f:
            for line in f:
                raw = line.rstrip("\n")
                out[raw[7:raw.index('"', 7)]] = raw  # {"id":"<id>",...
    return out


def backfill_inputs(seed):
    def make(d):
        lo, hi, expected, outside = gen.backfill_inputs(
            seed, os.path.join(d, "hours"), BACKFILL["hours"], BACKFILL["from"],
            BACKFILL["to"], BACKFILL["per_hour"])
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump({"from": lo, "to": hi, "outside": outside,
                       "expected": expected}, f)

    d = _cached(f"backfill-s{seed}", BACKFILL, make)
    return d, json.load(open(os.path.join(d, "meta.json")))


def hour_lines(hours_dir, names):
    """{hour key: line count} of the named hour files."""
    out = {}
    for n in names:
        with gzip.open(os.path.join(hours_dir, n), "rb") as f:
            out[n[:-len(".json.gz")]] = sum(1 for _ in f)
    return out


def query_inputs(seed):
    return _cached(f"query-s{seed}", QUERY_SF,
                   lambda d: gen.query_tables(seed, d, QUERY_SF))


def table_rows(tables_dir):
    """{table: rows} of the query tables, from the parquet footers."""
    import pyarrow.parquet as pq
    return {os.path.basename(p)[:-len(".parquet")]: pq.ParquetFile(p).metadata.num_rows
            for p in glob.glob(os.path.join(tables_dir, "*.parquet"))}


# --- running the JVM -----------------------------------------------------

def cpus():
    return len(os.sched_getaffinity(0))


def launch(classpath, run_dir, conf, deadline):
    """Run the harness JVM with `conf`, killed at `deadline` (epoch s);
    returns (result dict, spawn time)."""
    os.makedirs(run_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = dict(conf, run_dir=run_dir, cpus=str(cpus()),
                spark_local_dir=os.path.join(tmp, "spark-local"))
    props = os.path.join(run_dir, "run.properties")
    with open(props, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={v}\n".replace("\\", "\\\\"))
    cmd = ["java", *ADD_OPENS, "-Xms1g", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Harness", props]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        t0 = time.time()
        rc = subprocess.run(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                            timeout=max(1.0, deadline - t0)).returncode
    path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(path):
        tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-3000:]
        raise BenchError(f"harness JVM exited {rc}:\n{tail}")
    res = json.load(open(path))
    if "fatal" in res:
        raise BenchError("harness failed: " + res["fatal"])
    return res, t0


def setup_samples(classpath, main_res, main_t0, deadline):
    """Process start to session ready: the run's JVM plus probe JVMs that
    only start a session."""
    out = [main_res["ready_epoch_ms"] / 1000 - main_t0]
    for i in range(SETUP_PROBES):
        d = os.path.join(BUILD, "runs", f"probe{i}")
        shutil.rmtree(d, ignore_errors=True)
        res, t0 = launch(classpath, d, {"workload": "probe", "trace": "0"}, deadline)
        out.append(res["ready_epoch_ms"] / 1000 - t0)
    return out


# --- weather --------------------------------------------------------------

def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[7]


def weather(t_before, t_after):
    total, steal = t_after[0] - t_before[0], t_after[1] - t_before[1]
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    return {"nproc": cpus(), "steal_share": round(steal / total, 4) if total else 0.0,
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "mem_available_mb": mem.get("MemAvailable", 0) // 1024}


# --- workloads ------------------------------------------------------------

def tail(xs):
    """(percentile, value) by the tail rule: the highest percentile with at
    least ten samples beyond it."""
    p = stats.tail_percentile(len(xs))
    return p, stats.percentile(xs, p)


def run_ingest(cp, run_dir, seed, seconds, trace, deadline):
    d, meta = ingest_inputs(seed, seconds)
    bd, bmeta = backfill_inputs(seed)
    hours_dir = os.path.join(bd, "hours")
    res, t0 = launch(cp, run_dir, {
        "workload": "ingest", "trace": trace, "input_dir": d, "seed": seed,
        "add_sizes": ",".join(map(str, meta["add_sizes"])),
        "page_rows": INGEST["page_rows"], "tick_hz": INGEST["tick_hz"],
        "trigger_ms": INGEST["trigger_ms"], "compact_every": INGEST["compact_every"],
        "read_warmups": INGEST["read_warmups"], "read_reps": INGEST["read_reps"],
        "hours_dir": hours_dir,
        "from_hour": bmeta["from"], "to_hour": bmeta["to"],
        "src_reps": INGEST["src_reps"]},
        deadline)
    sent = _sent(d)
    in_range = sorted(set(os.listdir(hours_dir)) - set(bmeta["outside"]))
    verdicts = {
        "archive": checks.check_archived(sent, checks.read_archive(res["archive_dir"])),
        "read": checks.check_day_counts(checks.expected_day_counts(sent),
                                        {x["day"]: x["n"] for x in res["day_counts"]}),
        "sources": checks.check_hours_read(res.get("files_read", []), bmeta["outside"])
        + checks.check_hour_rows(hour_lines(hours_dir, in_range), res.get("hour_rows", []))}
    fresh = res.get("fresh_ms", [])
    n_ticks = len(fresh) + sum(1 for e in res["errors"] if "never committed" in e)
    fresh = fresh + [float("inf")] * (n_ticks - len(fresh))
    p, tail_v = tail(fresh) if fresh else (None, None)
    e2e = {"peak_heap_mb": res["peak_heap_mb"], "cold_s": res["first_batch_s"],
           "pass_s": stats.median(res["read_s"]) if res["read_s"] else None,
           "rows_per_s": res["catchup_rows"] / res["catchup_s"],
           "latency_p50_ms": stats.median(fresh) if fresh else None}
    notes = {"ticks": n_ticks, "catchup_rows": res["catchup_rows"],
             "fresh_tail": {"percentile": p, "ms": tail_v}}
    layer = {}
    if trace == "1":
        input_bytes = sum(len(r.encode()) for r in sent.values())
        returned = sum(x["n"] for x in res["day_counts"]) or 1
        compact = res.get("compact_ms", [])
        layer = {
            "streaming.batches": res["batches"],
            "streaming.batch_ms_p50": stats.median(res["batch_ms"]),
            "streaming.add_batch_ms": stats.median(res["add_batch_ms"]),
            "streaming.planning_ms": stats.median(res["planning_ms"]),
            "streaming.wal_commit_ms": stats.median(res["wal_commit_ms"]),
            "streaming.commit_offsets_ms": stats.median(res["commit_offsets_ms"]),
            "streaming.state_rows_peak": res["state_rows_peak"],
            "streaming.state_bytes_peak": res["state_bytes_peak"],
            "streaming.state_commit_ms": stats.median(res["state_commit_ms"] or [0.0]),
            "streaming.dups_dropped_ratio":
                (res["input_rows"] - res["state_rows_updated"]) / max(1, meta["replays"]),
            "streaming.backlog_rows_end": res["backlog_rows_end"],
            "streaming.gen_late_ms": tail(res["gen_late_ms"])[1],
            "streaming.fresh_tail_ms": tail_v,
            "sink.write_s": res["sink_write_s"],
            "sink.files_written": res["sink_files_written"],
            "sink.bytes_per_input_byte": res["sink_bytes_written"] / input_bytes,
            "compact.calls": len(compact), "compact.ms_total": sum(compact),
            "compact.ms_max": max(compact, default=0.0),
            "read.files_scanned": res["read_files_scanned"],
            "read.rows_scanned_per_row_returned": res["read_rows_scanned"] / returned,
            "sources.list_ms": res["list_ms"],
            "sources.files_read": len(res["files_read"]),
            "sources.input_bytes": res["input_bytes"],
            "sources.decode_s": stats.median(res["decode_s"]),
        }
    return res, t0, e2e, notes, layer, verdicts


def run_backfill(cp, run_dir, seed, seconds, trace, deadline):
    d, meta = backfill_inputs(seed)
    res, t0 = launch(cp, run_dir, {
        "workload": "backfill", "trace": trace, "input_dir": os.path.join(d, "hours"),
        "from_hour": meta["from"], "to_hour": meta["to"], "reps": BACKFILL["reps"]},
        deadline)
    stored = checks.read_archive(res["archive_dir"]) if "archive_dir" in res else []
    verdicts = {
        "pruning": checks.check_hours_read(res["files_read"], meta["outside"]),
        "archive": checks.check_archived(meta["expected"], stored, exactly_once=True)}
    loads = res["load_s"]
    n = len(meta["expected"])
    e2e = {"peak_heap_mb": res["peak_heap_mb"],
           "cold_s": loads[0] if loads else None,
           "pass_s": stats.median(loads[1:] or loads) if loads else None,
           "rows_per_s": n / stats.median(loads) if loads else None,
           "latency_p50_ms": stats.median(loads) * 1000 if loads else None}
    layer = {}
    if trace == "1":
        layer = {"sources.list_ms": res["list_ms"],
                 "sources.files_read": len(res["files_read"]),
                 "sources.input_bytes": res["input_bytes"],
                 "sources.decode_s": stats.median(res["decode_s"]) if res["decode_s"] else 0.0,
                 "sink.files_written": res.get("sink_files_written", 0),
                 "sink.bytes_per_input_byte":
                     res.get("sink_bytes_written", 0) / max(1, res["input_bytes"])}
    notes = {"in_range_events": n, "files_listed": len(os.listdir(os.path.join(d, "hours")))}
    return res, t0, e2e, notes, layer, verdicts


def run_query(cp, run_dir, seed, seconds, trace, deadline):
    d = query_inputs(seed)
    keys = list(QUERY_KEYS)
    res, t0 = launch(cp, run_dir, {
        "workload": "query", "trace": trace, "input_dir": d, "seed": seed,
        "seconds": seconds, "keys": ",".join(keys),
        "key_layers": ",".join(f"{k}={v[0]}" for k, v in QUERY_KEYS.items())},
        deadline)
    con = checks.connect(d, os.path.join(run_dir, "tmp"))
    verdicts = checks.check_query_results(con, res["check_dir"], res["oracle_sql"], keys)
    rows = table_rows(d)
    input_rows = sum(rows[t] for k in keys for t in QUERY_KEYS[k][1])
    passes = res["pass_s"]
    lat = [t * 1000 for t in res["key_lat_s"]]
    e2e = {"peak_heap_mb": res["peak_heap_mb"], "cold_s": res["cold_s"],
           "pass_s": stats.median(passes),
           "rows_per_s": input_rows / stats.median(passes),
           "latency_p50_ms": stats.median(lat)}
    notes = {"passes": len(passes), "input_rows_per_pass": input_rows,
             "keys_failed_check": sorted(k for k, es in verdicts.items() if es)}
    layer = {}
    if trace == "1":
        by = {}
        for k, (layer_name, _) in QUERY_KEYS.items():
            by[layer_name] = by.get(layer_name, 0.0) + res["key_s"].get(k, 0.0)
        layer = {"query.layer.plans_s": by.get("plans", 0.0),
                 "query.layer.functions_s": by.get("functions", 0.0),
                 "query.layer.operators_s": by.get("operators", 0.0),
                 "query.build_ms": res["build_ms"], "query.exec_ms": res["exec_ms"],
                 "query.jobs": res["jobs"], "query.shuffle_bytes": res["shuffle_bytes"],
                 "query.spill_bytes": res["spill_bytes"],
                 "query.rows_scanned": res["rows_scanned"]}
        layer.update({f"query.{k}_s": v for k, v in res["key_s"].items()})
        layer.update({f"query.{k}.cold_s": v for k, v in res["cold_key_s"].items()})
    return res, t0, e2e, notes, layer, verdicts


WORKLOADS = {"ingest": run_ingest, "query": run_query, "backfill": run_backfill}


def per_layer_report(run_dir, res, layer):
    """Layer self times from the spans file, merged into the per-layer
    metrics; every listed metric is present (0 where the workload does no
    work in that layer)."""
    spans = [json.loads(line) for line in open(os.path.join(run_dir, "spans.jsonl"))]
    selfs = stats.self_times(spans)
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update({f"self.{layer_name}_s": selfs.get(layer_name, 0.0) for layer_name in LAYERS})
    out["session.build_s"] = sum(
        (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["layer"] == "session")
    out.update(layer)
    log(f"spans: {len(spans)} written to {os.path.relpath(run_dir, ROOT)}/spans.jsonl")
    log(f"{'layer':<10} {'self_s':>10}")
    for layer_name in LAYERS:
        log(f"{layer_name:<10} {selfs.get(layer_name, 0.0):>10.3f}")
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args(argv)
    try:
        cp = build()
        # a run ends within RUN_LIMIT_S of its start, the build aside
        deadline = time.time() + RUN_LIMIT_S
        run_dir = os.path.join(BUILD, "runs", a.workload)
        shutil.rmtree(run_dir, ignore_errors=True)
        ticks0 = cpu_ticks()
        res, t0, e2e, notes, layer, verdicts = WORKLOADS[a.workload](
            cp, run_dir, a.seed, a.seconds, a.trace, deadline)
        e2e["setup_s"] = stats.median(setup_samples(cp, res, t0, deadline))
        w = weather(ticks0, cpu_ticks())
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 2
    # every check is one more operation; a failed check is a failed one
    attempted = res["attempted"] + len(verdicts)
    failed = res["failed"] + sum(1 for es in verdicts.values() if es)
    correct = failed == 0
    errors = [("run", e) for e in res["errors"]]
    errors += [(name, e) for name, es in verdicts.items() for e in es]
    log("weather: " + json.dumps(w))
    log("notes: " + json.dumps(notes))
    for name, e in errors[:20]:
        log(f"FAILED: {name}: {e}")
    metrics = {}
    if correct:
        if a.trace == "1":
            vals = per_layer_report(run_dir, res, layer)
            units = dict(PER_LAYER)
            last = os.path.join(BUILD, "last", f"{a.workload}-s{a.seed}.json")
            if os.path.exists(last):
                base = json.load(open(last))
                for k, v in base.items():
                    if k in e2e:
                        log(f"trace overhead {k}: {e2e[k] - v:+.4f} "
                            f"({(e2e[k] - v) / v:+.1%} of untraced)")
            else:
                log("trace overhead: no untraced run of this workload and seed yet")
        else:
            vals, units = e2e, dict(END_TO_END)
            os.makedirs(os.path.join(BUILD, "last"), exist_ok=True)
            with open(os.path.join(BUILD, "last", f"{a.workload}-s{a.seed}.json"), "w") as f:
                json.dump(e2e, f)
        for name, unit in (PER_LAYER if a.trace == "1" else END_TO_END):
            moves = f"  (should move: {should_move(name)})" if a.trace == "1" else ""
            log(f"metric {name} = {vals[name]} {unit}{moves}")
        metrics = {k: {"value": vals[k], "unit": units[k]} for k, _ in
                   (PER_LAYER if a.trace == "1" else END_TO_END)}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
