#!/usr/bin/env python3
"""Benchmark of the graft engine at sf0.1.

Run from the root of a checkout:

    python3 perfbench/run.py --workload hr_migration --seed 1 --seconds 8 --trace 0

The first run in a checkout builds the program and the harness with sbt
(`perfbench/build.sbt`), writes the sf0.1 fixture with `graft.GenData`,
and runs the correctness reference: every workload step once, each
query's result compared with its DuckDB oracle (`SparkEntry.oracleSql`)
and each clustered sink write audited. All of it is cached under
`perfbench/.work/` and redone only when the sources change.

Each run then starts one JVM (`perfbench.Harness`) at local[nproc] with
the session settings of `graft.Bench` (shuffle partitions = nproc, AQE
on, UTC, no UI). `setup_s` is the time from JVM launch to session ready
plus one untimed warm-up query. One untimed warm-up pass follows, then
the workload's fixed number of timed passes over its steps (both in
`perfbench/workloads.json`), in an order permuted by `--seed`, and more
only if `--seconds` have not yet been measured. Each step's latency is
its median over the timed passes; `wall_s` is their sum and
`query_p50_s`/`query_p90_s` are taken over them.

Outputs are checked outside the timed region. In the warm-up pass each
query's row digest is observed while it is written and must equal the
digest of the result that matched the oracle. Every sink write, timed
ones too, is audited as part of its step: the read-back must show one
file per key, no clustering inversions and every input row. A step that
throws or fails a check counts as failed and keeps its latency in the
sample.

`--trace 0` prints the end-to-end metrics; `--trace 1` prints the
per-layer split, averaged over two traced passes, with the spans
written to `perfbench/.work/traces/`. The last line of stdout is one
JSON object.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT / "tools"))
WORK = HERE / ".work"
DATA = WORK / "data" / "sf0.1"
MODULES = ["Core", "Extensions", "Dedup", "Similarity", "TextOps",
           "Multimodal", "Pipeline", "Graph", "Analytics", "Stats",
           "Portfolio", "Curation", "EventStream"]
FIXTURE_VERSION = 1   # bump when fixture() changes how tables are written
HEAP = "4g"           # pinned so peak_rss_mb compares across machines
WARMUP_PASSES = 1     # untimed passes before the timed region
JVM_TIMEOUT_S = 165   # a measured run must end within 180 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cores():
    return len(os.sched_getaffinity(0))


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_logged(cmd, log, timeout, **kw):
    """Run cmd with its output in `log`; on failure show the tail."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                **kw)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        tail = Path(log).read_text(errors="replace").splitlines()[-25:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"{cmd[0]} {' '.join(cmd[1:3])} failed ({rc}); log {log}")


# ------------------------------------------------------------------ build

def build():
    """Compile program + harness once per source state; return classpath."""
    srcs = (sorted((ROOT / "src" / "main").rglob("*"))
            + sorted((ROOT / "project").glob("*.*"))
            + [ROOT / "build.sbt"]
            + sorted((HERE / "src").rglob("*"))
            + [HERE / "build.sbt", HERE / "project" / "build.properties"])
    stamp = digest_files(srcs)
    cp_file = HERE / "target" / "harness.classpath"
    stamp_file = WORK / "build.stamp"
    if (stamp_file.is_file() and stamp_file.read_text() == stamp
            and cp_file.is_file()):
        return cp_file.read_text().strip(), stamp
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    run_logged(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                "writeClasspath"], WORK / "build.log", 850, cwd=HERE, env=env)
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip(), stamp


def java_cmd(cp, *args, tmp, opts=()):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", *opts, "-cp", cp,
             "perfbench.Harness", *args])


def jvm_env(scratch):
    env = dict(os.environ)
    env["SPARK_GRAFT_TMP"] = str(scratch / "graft")
    env["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(cores())
    return env


def fresh_dir(p):
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True)
    (p / "tmp").mkdir()
    return p


# ---------------------------------------------------------------- fixture

def fixture(cp):
    """sf0.1 tables from graft.GenData, one parquet file each, typed as
    FIXTURES.md describes (naive microsecond timestamps)."""
    stamp = (f"v{FIXTURE_VERSION}:"
             + digest_files([ROOT / "src/main/scala/graft/GenData.scala"]))
    stamp_file = DATA / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return stamp
    import pyarrow as pa
    import pyarrow.parquet as pq
    from check import TABLES
    scratch = fresh_dir(WORK / "gen")
    env = jvm_env(scratch)
    env["SPARK_GRAFT_GEN_MULT"] = "1"
    # GenData builds dates through java.sql.Timestamp, which reads the
    # JVM's default zone: pin it so the fixture is the same everywhere
    run_logged(java_cmd(cp, "gen", f"out={scratch / 'raw'}",
                        tmp=scratch / "tmp", opts=["-Duser.timezone=UTC"]),
               scratch / "gen.log", 600, cwd=scratch, env=env)
    shutil.rmtree(DATA, ignore_errors=True)
    DATA.mkdir(parents=True)

    def fixture_type(t):
        if pa.types.is_timestamp(t):
            return pa.timestamp("us")
        if pa.types.is_list(t):
            return pa.list_(fixture_type(t.value_type))
        return t

    for t in TABLES:
        tb = pq.read_table(scratch / "raw" / f"{t}.parquet")
        schema = pa.schema([pa.field(f.name, fixture_type(f.type))
                            for f in tb.schema])
        pq.write_table(tb.cast(schema), DATA / f"{t}.parquet",
                       row_group_size=1 << 30)
    shutil.rmtree(scratch)
    stamp_file.write_text(stamp)
    return stamp


# ------------------------------------------------------------ correctness

def oracle_compare(con, canon, sql, result_dir):
    """One result against its oracle, compared as tools/check.py does."""
    got = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    exp = con.sql(sql)
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return False, f"columns spark={gc} oracle={ec}", 0
    q = lambda cols: ", ".join(f'"{c}"' for c in cols)
    g = canon(got.select(q(gc)).fetchall())
    e = canon(exp.select(q(ec)).fetchall())
    if g != e:
        return False, f"rows spark={len(g)} oracle={len(e)}", len(e)
    return True, None, len(e)


CHAIN_INPUT = {"hr.customers_by_nation": "q09_denorm_join",
               "hr.lineitems_by_customer": "q12_multiway_join"}


def reference(cp, workloads, stamp):
    """Correctness reference for every workload step, cached per stamp of
    program and fixture; steps missing from the cache are added."""
    ref_file = WORK / "reference.json"
    known = {}
    if ref_file.is_file():
        ref = json.loads(ref_file.read_text())
        if ref.get("stamp") == stamp:
            known = ref["steps"]
    wanted = list(dict.fromkeys(s["name"] for w in workloads.values()
                                for s in w["steps"]))
    # a sink path's input query is checked against its oracle too
    wanted += [CHAIN_INPUT[s] for s in wanted if s in CHAIN_INPUT]
    steps = [s for s in dict.fromkeys(wanted) if s not in known]
    if not steps:
        return known
    steps += [CHAIN_INPUT[s] for s in steps
              if s in CHAIN_INPUT and CHAIN_INPUT[s] not in steps]
    import duckdb
    from check import canon
    scratch = fresh_dir(WORK / "refrun")
    run_logged(java_cmd(cp, "reference", f"data={DATA}", f"out={scratch}",
                        "steps=" + ",".join(steps), tmp=scratch / "tmp"),
               scratch / "reference.log", 850, cwd=scratch,
               env=jvm_env(scratch))
    dump = json.loads((scratch / "reference.json").read_text())
    oracle_sql = json.loads(
        (scratch / "results" / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET threads={cores()}")
    # the recursive graph oracles need several GB at sf0.1
    con.execute("SET memory_limit='8GB'")
    con.execute(f"SET temp_directory='{scratch / 'duckdb'}'")
    out = {}
    for row in dump["steps"]:
        name = row["step"]
        entry = {"ok": False, "reason": row.get("error"), "rows": None,
                 "digest": row.get("digest")}
        res = scratch / "results" / name
        if entry["reason"] is None and name not in CHAIN_INPUT:
            sql = oracle_sql.get(name)
            if sql is None:
                entry["reason"] = "no oracle SQL"
            else:
                try:
                    ok, why, n = oracle_compare(con, canon, sql, res)
                except Exception as e:  # oracle or result unreadable
                    ok, why, n = False, f"compare error: {e}", None
                entry.update(ok=ok, reason=why, rows=n)
        out[name] = entry
    for name, base in CHAIN_INPUT.items():
        if name not in out or out[name]["reason"] is not None:
            continue
        res = scratch / "results" / name
        nr, inv, nf, keys = con.sql(
            f"SELECT sum(nr), max(inv), max(nf), count(*) FROM "
            f"read_parquet('{res}/*.parquet')").fetchone()
        want = out[base]["rows"]
        problems = []
        if not out[base]["ok"]:
            problems.append(f"input {base} failed its oracle")
        if inv != 0 or nf != 1:
            problems.append(f"layout inv_max={inv} nf_max={nf}")
        if nr != want:
            problems.append(f"read back {nr} rows, input has {want}")
        out[name].update(ok=not problems, reason="; ".join(problems) or None,
                         rows=nr)
    con.close()
    shutil.rmtree(scratch)
    known.update(out)
    ref_file.write_text(json.dumps({"stamp": stamp, "steps": known}, indent=1))
    return known


def check_step(r, ref):
    """Why one step execution failed, or None if it is correct. A query's
    digest is taken only in the warm-up pass."""
    if r["error"]:
        return r["error"]
    want = ref.get(r["step"])
    if want is None or not want["ok"]:
        return "reference: " + (want or {}).get("reason", "missing")
    a = r["audit"]
    if a is not None:
        if a["violations"] or a["inv_max"] != 0 or a["nf_max"] != 1:
            return f"sink layout violations={a['violations']}"
        if a["rows"] != want["rows"]:
            return f"sink rows {a['rows']} != {want['rows']}"
        return None
    if r["digest"] is not None and r["digest"] != want["digest"]:
        return f"digest {r['digest']} != verified {want['digest']}"
    return None


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def wall(p):
    return sum(s["latency_s"] for s in p["steps"])


def end_to_end(res, passes):
    """Each step at its median over the timed passes; wall_s is their sum
    and the p50/p90 are taken over them. Over ten seeds the median spread
    less than the fastest pass (graft.Bench's choice) or quantiles of
    all executions pooled."""
    walls = [wall(p) for p in passes]
    by_step = {}
    for p in passes:
        for s in p["steps"]:
            by_step.setdefault(s["step"], []).append(s["latency_s"])
    lat = [statistics.median(xs) for xs in by_step.values()]
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (sum(lat), "s"),
        "query_p50_s": (quantile(lat, 0.5), "s"),
        "query_p90_s": (quantile(lat, 0.9), "s"),
    }, len(lat), walls


def self_times(spans):
    """Self time per span name: its duration, clipped to its parent's,
    minus the part of it that its children cover. Jobs that overlap count
    once: `spark.job` is the union of a span's job intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}

    def visit(s, lo, hi):
        lo, hi = max(s["start_ns"], lo), min(s["end_ns"], hi)
        if hi <= lo:
            return
        covered, jobs = [], []
        for c in kids.get(s["id"], []):
            a, b = max(c["start_ns"], lo), min(c["end_ns"], hi)
            if b > a:
                covered.append((a, b))
                if c["name"] == "spark.job":
                    jobs.append((a, b))
            if c["name"] != "spark.job":
                visit(c, lo, hi)
        name = "harness" if s["name"] == "step" else s["name"]
        out[name] = out.get(name, 0.0) + (hi - lo - union(covered)) / 1e9
        out["spark.job"] = out.get("spark.job", 0.0) + union(jobs) / 1e9

    for root in kids.get(0, []):
        visit(root, root["start_ns"], root["end_ns"])
    return out


def union(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def passes_of(res, mode):
    return [p for p in res["passes"] if p["mode"] == mode]


def per_layer(res, spans):
    """The per-layer split, averaged over the two traced passes, and the
    trace overhead from the timed passes in the order U T T U."""
    traced = passes_of(res, "Traced")
    per_pass = [pass_layers(res, p, spans, res["cores"]) for p in traced]
    m = {k: (statistics.fmean(pp[k][0] for pp in per_pass), u)
         for k, (_, u) in per_pass[0].items()}
    untraced = sum(wall(p) for p in passes_of(res, "Timed"))
    m["trace.overhead_frac"] = (
        sum(wall(p) for p in traced) / untraced - 1.0, "frac")
    m["process.peak_rss_mb"] = (res["peak_rss_kb"] / 1024.0, "MB")
    return m


def pass_layers(res, tp, spans, cores_n):
    """Layer metrics of one traced pass."""
    sp = [s for s in spans if s["pass"] == tp["pass"]]
    derived = ("spark.job", "plan")
    layer_spans = [s for s in sp if s["name"] not in derived]
    # a job whose local property names no span of this pass is attributed
    # to the innermost layer span open when it started; a plan interval
    # (millisecond resolution) to the one open at its midpoint
    ids = {s["id"] for s in layer_spans}
    for d in (s for s in sp if s["name"] in derived):
        if d["parent"] not in ids:
            t = (d["start_ns"] if d["name"] == "spark.job"
                 else (d["start_ns"] + d["end_ns"]) // 2)
            open_ = [s for s in layer_spans
                     if s["start_ns"] <= t <= s["end_ns"]]
            d["parent"] = (max(open_, key=lambda s: s["start_ns"])["id"]
                           if open_ else 0)
    # one that fell outside every step ran in the untimed gaps
    jobs = [s for s in sp if s["name"] == "spark.job" and s["parent"]]
    plans = [s for s in sp if s["name"] == "plan" and s["parent"]]
    step_spans = [s for s in layer_spans if s["name"] == "step"]
    traced_wall = sum(s["end_ns"] - s["start_ns"] for s in step_spans) / 1e9
    module_of = {s["step"]: s["module"] for s in tp["steps"]}

    def total(name, module=None):
        return sum(s["end_ns"] - s["start_ns"] for s in layer_spans + plans
                   if s["name"] == name and
                   (module is None or module_of[s["step"]] == module)) / 1e9

    def jobs_under(name):
        parents = {s["id"] for s in layer_spans if s["name"] == name}
        return float(sum(j["parent"] in parents for j in jobs))

    job_busy = union((j["start_ns"], j["end_ns"]) for j in jobs) / 1e9
    c = tp["counters"]
    audits = [s["audit"] for s in tp["steps"] if s["audit"] is not None]
    rows_written = float(sum(a["rows"] for a in audits))
    bytes_written = float(sum(a["bytes"] for a in audits))
    selfs = self_times(layer_spans + jobs + plans)
    m = {
        "session.build_s": (res["layers"]["session.build_s"], "s"),
        "functions.register_s": (res["layers"]["functions.register_s"], "s"),
        "sources.load_s": (statistics.median(res["layers"]["sources.load_each_s"]), "s"),
        "sources.files_listed": (float(tp["files_listed"]), "count"),
        "build_s": (total("build"), "s"),
        "build_jobs": (jobs_under("build"), "count"),
    }
    for mod in MODULES:
        m[f"build_s.{mod}"] = (total("build", mod), "s")
    m.update({
        "plan_s": (total("plan"), "s"),
        "exec_s": (total("exec"), "s"),
        "exec_jobs": (jobs_under("exec"), "count"),
    })
    for k in ["spark.jobs", "spark.stages", "spark.stages_skipped",
              "spark.tasks", "spark.tasks_failed"]:
        m[k] = (c[k], "count")
    for k in ["spark.task_run_s", "spark.task_cpu_s"]:
        m[k] = (c[k], "s")
    m["spark.gc_s"] = (tp["gc_s"], "s")
    for k in ["spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
              "spark.spill_bytes", "spark.input_bytes"]:
        m[k] = (c[k], "bytes")
    m.update({
        "spark.driver_idle_s": (traced_wall - job_busy, "s"),
        "spark.core_busy_frac": (
            c["spark.task_run_s"] / (traced_wall * cores_n), "frac"),
        "sink.write_s": (total("sink.write"), "s"),
        "sink.audit_s": (total("sink.audit"), "s"),
        "sink.rows_written": (rows_written, "rows"),
        "sink.files_written": (float(sum(a["files"] for a in audits)), "count"),
        "sink.bytes_written": (bytes_written, "bytes"),
        "sink.bytes_per_row": (bytes_written / rows_written if rows_written else 0.0, "B/row"),
        "sink.audit_violations": (float(sum(a["violations"] for a in audits)), "count"),
    })
    for layer in ["harness", "sources.load", "build", "plan", "exec",
                  "sink.write", "sink.audit", "spark.job"]:
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0), "s")
    m["trace.wall_s"] = (traced_wall, "s")
    return m


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not ((ROOT / "build.sbt").is_file()
            and (ROOT / "src/main/scala/graft/SparkEntry.scala").is_file()):
        fail(f"no graft program source under {ROOT}; run from a checkout")
    workloads = json.loads((HERE / "workloads.json").read_text())["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {sorted(workloads)}")

    cp, build_stamp = build()
    data_stamp = fixture(cp)
    ref = reference(cp, workloads, f"{build_stamp}:{data_stamp}")

    steps = [s["name"] for s in workloads[a.workload]["steps"]]
    random.Random(a.seed).shuffle(steps)
    scratch = fresh_dir(WORK / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        launch_ns = time.time_ns()
        run_logged(java_cmd(cp, "run", f"data={DATA}", f"out={scratch}",
                            "steps=" + ",".join(steps),
                            f"seconds={a.seconds}", f"trace={a.trace}",
                            f"warmups={WARMUP_PASSES}",
                            f"passes={workloads[a.workload]['timed_passes']}",
                            f"launch_ns={launch_ns}",
                            tmp=scratch / "tmp"),
                   scratch / "harness.log", JVM_TIMEOUT_S, cwd=scratch,
                   env=jvm_env(scratch))
        res = json.loads((scratch / "result.json").read_text())
        spans = [json.loads(l) for l in
                 (scratch / "spans.jsonl").read_text().splitlines() if l]
        if a.trace:
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            span_file = traces / f"{a.workload}-seed{a.seed}.spans.jsonl"
            shutil.copy(scratch / "spans.jsonl", span_file)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    declared = {s["name"]: s["module"] for s in workloads[a.workload]["steps"]}
    executions = [s for p in res["passes"] for s in p["steps"]]
    failures = [(s["step"], why) for s in executions
                if (why := check_step(s, ref)) is not None]
    for s in res["passes"][0]["steps"]:
        if s["module"] != declared[s["step"]]:
            print(f"note: {s['step']} is owned by {s['module']}, "
                  f"workloads.json says {declared[s['step']]}",
                  file=sys.stderr)
    attempted = len(executions)
    n = res["cores"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"cores {n}  fixture {DATA.relative_to(ROOT)}")
    print(f"session: local[{n}] shuffle.partitions={n} adaptive=true "
          f"timeZone=UTC ui=false heap={HEAP}")
    print(f"order: {' '.join(steps)}")
    for p in res["passes"]:
        print(f"pass {p['pass']} {p['mode']}: wall {wall(p):.3f} "
              f"cpu {p['cpu_s']:.3f} "
              f"jit {p['jit_s']:.3f} gc {p['gc_s']:.3f}: " + " ".join(
            f"{s['step']}={s['latency_s']:.3f}" for s in p["steps"]))
    for step, why in failures:
        print(f"FAILED {step}: {why}")

    if a.trace:
        metrics = per_layer(res, spans)
        print(f"spans: {span_file.relative_to(ROOT)}")
        accounted = sum(v for k, (v, _) in metrics.items()
                        if k.startswith("self."))
        print(f"self times account for {accounted:.4f} s of the "
              f"{metrics['trace.wall_s'][0]:.4f} s traced wall")
    else:
        timed = passes_of(res, "Timed")
        metrics, n, walls = end_to_end(res, timed)
        print(f"timed passes {len(walls)}  walls "
              + " ".join(f"{w:.3f}" for w in walls)
              + f"  steps {n} (each at its median of {len(walls)})")
        rows = sum(s["audit"]["rows"] for s in timed[0]["steps"]
                   if s["audit"])
        extra = {"failed_frac": (len(failures) / attempted, "frac"),
                 "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB")}
        if rows:
            extra["sink_rows_per_s"] = (rows / metrics["wall_s"][0], "rows/s")
        for k, (v, u) in extra.items():
            print(f"{k:24s} {v:14.6f} {u}")
    for k, (v, u) in metrics.items():
        print(f"{k:24s} {v:14.6f} {u}")
    print(f"correct {not failures}  attempted {attempted}  "
          f"failed {len(failures)}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
