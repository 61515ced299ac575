#!/usr/bin/env python3
"""graft benchmark: one command, seeded inputs, checked outputs, named metrics.

    python3 perfbench/run.py --workload cooc_stream|serve_mix --seed N \
        --seconds N --trace 0|1

Builds the program from the checkout's sources (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
JVM harness (perfbench/jvm/PerfHarness.scala) against graft's public entry
points, checks every output against its oracle outside the timed region,
and prints as its last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See perfbench/README.md.
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
import gen  # noqa: E402
import spans as tr  # noqa: E402
import checks  # noqa: E402

# Seconds one unit of work takes on the reference box (4 cores): a run does
# round(--seconds / unit) units, so a seed always measures the same work.
UNIT_SECONDS = {"cooc_stream": 25.0, "serve_mix": 25.0}
SETUP_PROBES = 1  # an extra JVM that only sets up; with the main JVM, 2 samples
JVM_TIMEOUT = 150

STREAM = dict(events_per_window=1000, n_users=3000, n_items=2000, n_windows=22,
              fmax=150, kmax=40)
MAINT = dict(n_batches=3, batch_events=2000, n_users=1500, n_items=800,
             serve_every=2, erase_every=3, erase_users=40, compact_every=3)
# Sub-second catalog queries: scalar, text, window, aggregate, join and
# batch co-occurrence families, each with a DuckDB oracle.
# Each runs four times in a unit: the repeats show what a warm session saves,
# and with them warm queries are most of the mix, so its median is one of them.
POOL = ["scalar_math", "text_token_stats", "window_running", "join_semi",
        "cooc_pairs", "sql_llr"]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def write_inputs(workload, seed, in_dir, traced):
    """Generate the workload's inputs; returns extra harness arguments."""
    os.makedirs(in_dir, exist_ok=True)
    with open(os.path.join(in_dir, "first.csv"), "w") as f:
        f.writelines(f"{i},{i % 7},{gen.T0_MS + i}\n" for i in range(100))
    if workload == "cooc_stream":
        s = STREAM
        # a traced run makes three drains (traced, baseline, local[1]): half as long
        windows = s["n_windows"] // 2 if traced else s["n_windows"]
        n = gen.write_interactions(os.path.join(in_dir, "stream"), seed,
                                   s["events_per_window"] * windows, s["n_users"],
                                   s["n_items"], windows)
        return ["--events", str(n), "--fmax", str(s["fmax"]), "--kmax", str(s["kmax"])]
    m = MAINT
    gen.write_maint_plan(os.path.join(in_dir, "maint"), seed, m["n_batches"],
                         m["batch_events"], m["n_users"], m["n_items"], m["serve_every"],
                         m["erase_every"], m["erase_users"])
    gen.write_catalog(os.path.join(in_dir, "catalog"), seed, scale=0.5)
    maint_ops = open(os.path.join(in_dir, "maint", "plan.txt")).read().split("\n")
    with open(os.path.join(in_dir, "serve_plan.txt"), "w") as f:
        f.write("\n".join(gen.interleave([o for o in maint_ops if o],
                                         ["query " + q for q in POOL * 4], seed)) + "\n")
    return ["--compact-every", str(m["compact_every"])]


class Jvm:
    """One harness JVM; stops it on any way out."""

    def __init__(self, classes, work, args, log):
        jars = os.path.join(build.spark_jars(), "*")
        opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
        # Spark's block manager and temporary checkpoints stay in the work dir
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # a fixed heap: peak RSS then does not hang on heap-resizing decisions
        cmd = ["java", *opens, "-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
               "-cp", classes + os.pathsep + jars, "graft.perfbench.PerfHarness", *args]
        self.log = open(log, "w")
        self.t0 = time.time()
        self.p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.log, text=True,
                                  env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))

    def wait(self):
        try:
            out, _ = self.p.communicate(timeout=JVM_TIMEOUT)
        finally:
            if self.p.poll() is None:
                self.p.kill()
                self.p.wait()
            self.log.close()
        if self.p.returncode != 0:
            raise SystemExit(f"perfbench: harness exited {self.p.returncode} (see {self.log.name})")
        ready = [ln.split()[1] for ln in out.splitlines() if ln.startswith("PERFBENCH_READY ")]
        if not ready:
            raise SystemExit("perfbench: harness never became ready")
        return int(ready[0]) / 1e6 - self.t0  # set-up seconds


TIMELINE = {}


def steal_s():
    """CPU time the host took from this machine so far (/proc/stat), or 0."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(classes, work, name, args):
    """One harness JVM: (its set-up seconds, its record)."""
    path = os.path.join(work, name + ".json")
    t0, s0 = time.time(), steal_s()
    try:
        setup = Jvm(classes, work, args + ["--out", path], os.path.join(work, name + ".log")).wait()
    finally:
        TIMELINE[name] = round(time.time() - t0, 2)
        TIMELINE[name + "_steal"] = round(steal_s() - s0, 2)
    with open(path) as f:
        return setup, json.load(f)


def metric(v, unit):
    return {"value": float(v), "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(UNIT_SECONDS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.build_dir(), "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    t0 = time.time()
    extra = write_inputs(a.workload, a.seed, in_dir, a.trace)
    TIMELINE["inputs"] = round(time.time() - t0, 2)
    # a traced run makes up to three JVM runs, so it traces a single unit
    units = 1 if a.trace else max(1, round(a.seconds / UNIT_SECONDS[a.workload]))
    base = ["--in", in_dir, "--work", work, "--seed", str(a.seed)]
    main_args = base + ["--workload", a.workload, "--units", str(units)] + extra
    setup, rec = run_jvm(classes, work, "main", main_args + ["--trace", str(a.trace)])
    setups, baseline, one_core = [setup], None, None
    if a.trace:
        # the untraced baseline of the same work, for the tracing overhead
        _, baseline = run_jvm(classes, work, "baseline", main_args + ["--trace", "0"])
        if a.workload == "cooc_stream":
            _, one_core = run_jvm(classes, work, "one_core", base + [
                "--workload", a.workload, "--units", "1", "--trace", "0",
                "--master", "local[1]"] + extra)
    else:
        for i in range(SETUP_PROBES):
            setups.append(run_jvm(classes, work, f"setup{i}", base + ["--workload", "setup"])[0])

    t0 = time.time()
    failed_ids, notes = checks.check(a.workload, rec, work, in_dir)
    TIMELINE["check"] = round(time.time() - t0, 2)
    ops = [o for o in rec["ops"] if o["kind"] != "batch"]
    attempted, failed = checks.tally(ops, failed_ids)
    m = metrics(a.workload, rec, setups, baseline, one_core)
    print(json.dumps({"record": {"workload": a.workload, "seed": a.seed, "units": units,
                                 "setup_samples_s": setups, "timeline_s": TIMELINE,
                                 "notes": notes,
                                 "errors": sorted({o["err"] for o in ops if o["err"]})[:5],
                                 **m.pop("_record")}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": m}))


def ops_of(rec, phase, kinds):
    return [o for o in rec["ops"] if o["phase"] == phase and o["kind"] in kinds]


def dur_ms(o):
    return (o["end_us"] - o["start_us"]) / 1000.0


PRIMARY = {"cooc_stream": ("drain",), "serve_mix": ("query", "ingest", "serve", "erase")}
LATENCY = {"cooc_stream": ("batch",), "serve_mix": ("query", "ingest", "serve", "erase")}


def throughput(workload, rec, phase):
    """Median over units of work per second of op wall: interactions per
    second of drain for cooc_stream, requests per second for serve_mix."""
    per_unit = {}
    for o in ops_of(rec, phase, PRIMARY[workload]):
        w, n = per_unit.get(o["unit"], (0.0, 0))
        work = o["events"] if workload == "cooc_stream" else 1
        per_unit[o["unit"]] = (w + dur_ms(o) / 1000.0, n + work)
    return tr.median([n / w for w, n in per_unit.values() if w > 0])


def unit_walls(workload, rec, phase):
    walls = {}
    for o in ops_of(rec, phase, PRIMARY[workload]):
        walls[o["unit"]] = walls.get(o["unit"], 0.0) + dur_ms(o) / 1000.0
    return list(walls.values())


def metrics(workload, rec, setups, baseline, one_core):
    if baseline is not None:
        return layer_metrics(workload, rec, baseline, one_core)
    untr = rec["phases"][0]
    units = len(unit_walls(workload, rec, "untraced"))
    lat = [dur_ms(o) for o in ops_of(rec, "untraced", LATENCY[workload])]
    p, tail, n = tr.tail_percentile(lat)
    record = {"op_tail_percentile": p, "op_samples": n, "op_ms": [round(x) for x in lat]}
    return {"_record": record,
            "setup_s": metric(tr.median(setups), "s"),
            "throughput_per_s": metric(throughput(workload, rec, "untraced"), "1/s"),
            "op_p50_ms": metric(tr.median(lat), "ms"),
            "op_tail_ms": metric(tail, "ms"),
            "cpu_s_per_unit": metric(untr["counters"]["cpu_ns"] / 1e9 / units, "s"),
            "peak_rss_mb": metric(rec["vm_hwm_kb"] / 1024.0, "MB")}


def layer_metrics(workload, rec, base, one_core):
    """Per-layer metrics of the traced run ``rec``; latencies by op kind come
    from the untraced baseline ``base`` of the same work."""
    t = rec["phases"][0]
    record = {}
    lo, hi = t["start_us"], t["end_us"]
    units = max(1, len(unit_walls(workload, rec, "traced")))
    spans = [s for s in rec["spans"] if lo <= s["start_us"] < hi]
    jobs = [j for j in rec["jobs"] if lo <= j["start_us"] < hi]
    top = [s for s in spans if s["parent"] == -1]
    ex = rec["extra"]
    c = t["counters"]
    tasks = rec["tasks"]
    out = {}

    def put(name, value, unit):
        out[name] = metric(value, unit)

    def span_ms(name):
        return [(s["end_us"] - s["start_us"]) / 1000.0 for s in spans if s["name"] == name]

    def jobs_in(span_names, pred=lambda j: True):
        ivs = [(s["start_us"], s["end_us"]) for s in spans if s["name"] in span_names]
        return [j for j in jobs if pred(j) and any(a <= j["start_us"] < b for a, b in ivs)]

    def job_s(pred):
        return tr.union_length([(j["start_us"], j["end_us"]) for j in jobs if pred(j)]) / 1e6

    def schema_job(j):
        return j["short"].startswith("parquet at") or "Listing leaf files" in j["desc"]

    def lat_ms(kind):
        return [dur_ms(o) for o in ops_of(base, "untraced", (kind,))]

    # ingest / sampling / stream / rescore (cooc_stream)
    ingest = [s for s in rec["spans"] if s["name"] == "ingest.csv"]
    put("ingest.s", sum(s["end_us"] - s["start_us"] for s in ingest) / 1e6, "s")
    put("ingest.events", ex.get("ingest.events", 0), "count")
    put("sampling.job_s", job_s(lambda j: j["site"] == "Sampling.scala") / units, "s")
    for k in ("sampled", "dropped", "feedback", "observed_cooc"):
        put(f"sampling.{k}", ex.get(f"sampling.{k}", 0) / units, "count")
    kept = ex.get("sampling.sampled", 0) + ex.get("sampling.dropped", 0)
    put("sampling.kept_ratio", ex.get("sampling.sampled", 0) / kept if kept else 0, "ratio")
    put("stream.batch_s", tr.median(span_ms("stream.batch")) / 1000.0, "s")
    prog = rec["progress"]
    put("stream.trigger_overhead_ms",
        tr.median([g["trigger_ms"] - g["add_batch_ms"] for g in prog if g["rows"] > 0]), "ms")
    growth = []
    for u in {o["unit"] for o in ops_of(rec, "traced", ("batch",))}:
        b = [dur_ms(o) for o in ops_of(rec, "traced", ("batch",)) if o["unit"] == u]
        q = max(1, len(b) // 4)
        if len(b) >= 4:
            growth.append(tr.median(b[-q:]) / tr.median(b[:q]))
    put("stream.fold_growth", tr.median(growth), "ratio")
    put("stream.state_rows", ex.get("stream.state_rows", 0), "count")
    put("rescore.s", tr.median(span_ms("rescore")) / 1000.0, "s")
    put("rescore.cells", ex.get("rescore.cells", 0), "count")
    put("rescore.items", ex.get("rescore.items", 0), "count")

    # shardlog / fs / store (serve_mix, maintained matrix)
    maint = ("ingest", "serve", "erase")
    commits = [s for s in top if s["name"] in ("ingest", "erase")]
    compacting = {s["id"] for s in commits for j in jobs if "shardlog compact" in j["desc"]
                  and s["start_us"] <= j["start_us"] < s["end_us"]}

    def commit_s(name, compacted):
        return tr.median([(s["end_us"] - s["start_us"]) / 1e6 for s in commits
                          if (name is None or s["name"] == name)
                          and (s["id"] in compacting) == compacted])
    put("shardlog.ingest_s", commit_s("ingest", False), "s")
    put("shardlog.compact_batch_s", commit_s(None, True), "s")
    put("shardlog.erase_s", commit_s("erase", False), "s")
    put("shardlog.serve_build_ms", tr.median(span_ms("serve.build")), "ms")
    put("shardlog.serve_exec_ms", tr.median(span_ms("serve.exec")), "ms")
    put("shardlog.schema_jobs", len(jobs_in(maint, schema_job)) / units, "count")
    serve = lat_ms("serve")
    put("maint.ingest_p50_ms", tr.median(lat_ms("ingest")), "ms")
    put("maint.serve_p50_ms", tr.median(serve), "ms")
    put("maint.serve_tail_ms", tr.tail_percentile(serve)[1], "ms")
    put("maint.erase_p50_ms", tr.median(lat_ms("erase")), "ms")
    for k, name in (("writeOps", "write_ops"), ("readOps", "read_ops"),
                    ("bytesWritten", "bytes_written"), ("bytesRead", "bytes_read")):
        put(f"fs.{name}", c.get(f"fs.{k}", 0) / units, "count" if "ops" in name else "bytes")
    stores = [v for k, v in ex.items() if k.startswith("store.traced.")]
    events = sum(o["events"] for o in ops_of(rec, "traced", ("ingest",))) / units
    put("store.files", tr.median([s["files"] for s in stores]), "count")
    put("store.bytes", tr.median([s["bytes"] for s in stores]), "bytes")
    put("store.bytes_per_event",
        tr.median([s["bytes"] for s in stores]) / events if events else 0, "bytes")

    # catalog / tables (serve_mix, catalog queries)
    queries = [s for s in top if s["name"] == "query"]
    put("catalog.build_ms", tr.median(span_ms("catalog.build")), "ms")
    put("catalog.exec_ms", tr.median(span_ms("catalog.exec")), "ms")
    put("catalog.query_p50_ms", tr.median(lat_ms("query")), "ms")
    put("tables.schema_jobs", len(jobs_in(("query",), schema_job)) / units, "count")
    put("catalog.jobs_per_query",
        len(jobs_in(("query",))) / len(queries) if queries else 0, "count")

    # engine underneath
    n_ops = len([o for o in rec["ops"] if o["phase"] == "traced"
                 and o["kind"] in LATENCY[workload]])
    cat = [x for x in rec["catalyst"] if lo <= x["end_us"] < hi]
    for k in ("analysis", "optimization", "planning"):
        put(f"catalyst.{k}_ms", sum(x[f"{k}_ms"] for x in cat) / max(1, n_ops), "ms")
    put("codegen.compile_ms", c.get("codegen.sum_ms", 0) / units, "ms")
    put("codegen.classes", c.get("codegen.count", 0) / units, "count")
    union = tr.union_length([(j["start_us"], j["end_us"]) for j in jobs]) / 1e6
    put("spark.jobs", len(jobs) / units, "count")
    put("spark.job_union_s", union / units, "s")
    top_wall = tr.union_length([(s["start_us"], s["end_us"]) for s in top]) / 1e6
    inside = tr.union_length([iv for s in top for iv in tr.clip(
        [(j["start_us"], j["end_us"]) for j in jobs], s["start_us"], s["end_us"])]) / 1e6
    put("spark.outside_jobs_s", (top_wall - inside) / units, "s")
    put("spark.tasks", tasks["count"] / units, "count")
    put("spark.task_cpu_s", tasks["cpu_ns"] / 1e9 / units, "s")
    put("spark.gc_s", tasks["gc_ms"] / 1000.0 / units, "s")
    put("spark.shuffle_write_bytes", tasks["shuffle_write_bytes"] / units, "bytes")
    put("spark.shuffle_read_bytes", tasks["shuffle_read_bytes"] / units, "bytes")
    put("spark.spill_bytes", tasks["spill_bytes"] / units, "bytes")
    longest = max(rec["stages"], key=lambda s: s["wall_ms"], default=None)
    skew = 0.0
    if longest and longest["task_ms"] and tr.median(longest["task_ms"]) > 0:
        skew = max(longest["task_ms"]) / tr.median(longest["task_ms"])
    put("spark.task_skew", skew, "ratio")
    speedup = 0.0
    if one_core:
        one = throughput(workload, one_core, "untraced")
        speedup = throughput(workload, base, "untraced") / one if one else 0.0
    put("spark.speedup_1core", speedup, "ratio")
    untr, trc = unit_walls(workload, base, "untraced"), unit_walls(workload, rec, "traced")
    put("trace.overhead_ratio", tr.median(trc) / tr.median(untr) if untr else 0, "ratio")
    record["self_time_s"] = self_time_by_name(spans)
    record["job_s_by_site"] = {site: round(job_s(lambda j, s=site: j["site"] == s) / units, 4)
                               for site in sorted({j["site"] for j in jobs})}
    out["_record"] = record
    return out


def self_time_by_name(spans):
    st = tr.self_times(spans)
    by = {}
    for s in spans:
        by[s["name"]] = by.get(s["name"], 0.0) + st[s["id"]] / 1e6
    return {k: round(v, 4) for k, v in sorted(by.items())}


if __name__ == "__main__":
    main()
