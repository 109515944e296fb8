#!/usr/bin/env python3
"""Benchmark of the Spark engine: DV3F ingest and the query board.

    python3 perfbench/run.py --workload <ingest|board>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source into $CARGO_TARGET_DIR (default .bench_build);
later runs reuse the build while the sources are unchanged. Each run
gets a private directory under .bench_runs (warehouse, java.io.tmpdir,
spark.local.dir), removed when the run ends.

A run is a fixed amount of work, the same for every seed and every
`--seconds`; its size is chosen so that the timed part takes about the
`run_seconds` of BENCHMARK.json on 4 cores, and `--seconds` is only
recorded in the detail line.

The last line of stdout is the result object (correct, attempted,
failed, metrics); the line before it holds the details (per-phase and
per-query times, failing operations by name, host load). `--selfcheck`
runs every workload at a tiny size and checks that each metric is
printed with its unit.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import ingest_gen  # noqa: E402

CFG = json.load(open(os.path.join(HERE, "workloads.json")))
QUERIES = json.load(open(os.path.join(HERE, "queries.json")))
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


# the harness spans that make up the timed region (nested spans excluded)
TIMED_SPANS = ("backfill", "refresh", "branch", "read", "checks",
               "query.build", "query.plan", "query.exec")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark install at $SPARK_HOME, else those of the
    pip-installed pyspark."""
    homes = [os.environ.get("SPARK_HOME")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark jars found (set SPARK_HOME)")


# ---------------------------------------------------------------- build

def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                  + glob.glob(os.path.join(root, "src/main/java/**/*.java"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return main, res, harness


def build(root, jars):
    """Compile the program and the harness; return the classpath dirs."""
    main, res, harness = sources(root)
    if not any(p.endswith("SparkEntry.scala") for p in main):
        fail("the program's sources (src/main/scala) are not in this directory")
    h = hashlib.sha256()
    for p in main + res + harness:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    done = os.path.join(out, "classes-" + stamp[:16])
    if os.path.isdir(done):
        return [os.path.join(done, "main"), os.path.join(done, "harness")]
    tmp = f"{done}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "main"))
    os.makedirs(os.path.join(tmp, "harness"))
    cp = os.path.join(jars, "*")
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
              "-nowarn", "-encoding", "UTF-8"]

    def run(cmd):
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("build failed: " + " ".join(cmd[:6]))

    t0 = time.time()
    run(scalac + ["-classpath", cp, "-d", os.path.join(tmp, "main")] + main)
    java = [p for p in main if p.endswith(".java")]
    if java:
        run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8",
             "-d", os.path.join(tmp, "main"),
             "-cp", f"{cp}:{os.path.join(tmp, 'main')}"] + java)
    for p in res:
        rel = os.path.relpath(p, os.path.join(root, "src/main/resources"))
        os.makedirs(os.path.dirname(os.path.join(tmp, "main", rel)), exist_ok=True)
        shutil.copy(p, os.path.join(tmp, "main", rel))
    run(scalac + ["-classpath", f"{cp}:{os.path.join(tmp, 'main')}",
                  "-d", os.path.join(tmp, "harness")] + harness)
    for old in glob.glob(os.path.join(out, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, done)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return [os.path.join(done, "main"), os.path.join(done, "harness")]


# ----------------------------------------------------------- host state

def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]  # total jiffies, steal


# ------------------------------------------------------------ the run

def pct(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def run_jvm(cp, jars, plan, run_dir, deadline):
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{CFG['jvm_heap']}",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(cp + [os.path.join(jars, "*")]), "perfbench.Harness", plan_path])
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    launched = time.time()
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("the run did not finish within its time limit")
    finally:
        log.close()
    if not os.path.exists(plan["out"]):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the harness exited with code {p.returncode} and no result")
    with open(plan["out"]) as f:
        out = json.load(f)
    out["launched_epoch_s"] = launched
    if "fatal" in out:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("the harness failed: " + out["fatal"])
    return out


def read_table(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path).to_pylist()
    return {r["uid"]: tuple(r[m] for m in ingest_gen.METRICS) for r in t}


def check_ingest(out, gen, state, reads, run_dir):
    """Failed operations by name, against the independent expected state."""
    failed = []
    reports = {"backfill": out["backfill_reports"], "refresh": out["refresh_reports"],
               "trickle": []}
    for phase, reps in reports.items():
        failed += [f"{phase} {r['scope']}: {r['error']}" for r in reps if not r["ok"]]
        for t, rows in state[phase].items():
            got = read_table(os.path.join(run_dir, "check", phase, t))
            want = {u: r[3] for u, r in rows.items()}
            if got != want:
                failed.append(f"{phase} state of {t}: {len(got)} rows, expected {len(want)}, "
                              f"{sum(got.get(u) != v for u, v in want.items())} differ")
    for c in out["commits"]:
        want = gen["branch_rows"][f"{c['scope']}_{c['code']}"]
        if not c["ok"] or c["rows"] != want:
            failed.append(f"commit {c['scope']}_{c['code']}: rows={c['rows']} expected "
                          f"{want} {c.get('error') or ''}")
    after = {f"{s}_{c}": i for i, (s, c) in enumerate(gen["trickle"])}
    for r in out["reads"]:
        q = r["query"]
        expect = reads[after[r["after"]]]
        width = len(expect[q][0]) if expect[q] else 0
        got = [tuple(row[:width]) for row in r.get("result", [])]
        if not r["ok"] or got != expect[q]:
            failed.append(f"read {q} after {r['after']}: {got[:3]} expected "
                          f"{expect[q][:3]} {r.get('error') or ''}")
    viol = [c for c in out["checks"] if c["violations"] != 0]
    # profile: one row per column (uid, three id columns, cod, metrics)
    ncols = 5 + len(ingest_gen.METRICS)
    if viol or out["profile_rows"] != [ncols] * len(ingest_gen.TABLES):
        failed.append(f"checks: {viol[:3]} profile_rows={out['profile_rows']}")
    return failed


def summarize_ingest(out):
    """(run_s, read latencies, per-query medians, attempted, details)."""
    commits = [c["s"] for c in out["commits"]]
    reads = [r["s"] for r in out["reads"]]
    run_s = out["backfill_s"] + out["refresh_s"] + sum(commits) + sum(reads) + out["checks_s"]
    # each dashboard query is read once per commit: its typical latency is
    # the median over those reads, so one slow read does not move it
    per_query = [statistics.median(r["s"] for r in out["reads"] if r["query"] == q)
                 for q in sorted({r["query"] for r in out["reads"]})]
    detail = {"backfill_s": out["backfill_s"], "refresh_s": out["refresh_s"],
              "commit_p50_s": statistics.median(commits),
              "read_p50_s": statistics.median(reads), "read_p90_s": pct(reads, 90),
              "checks_s": out["checks_s"], "commits": out["commits"]}
    return run_s, reads, per_query, 3 + len(commits) + len(reads), detail


def check_board(out):
    failed = []
    expected = QUERIES["expected"]
    for q in out["queries"]:
        e = expected.get(q["name"])
        if not q["ok"]:
            failed.append(f"{q['name']}: {q.get('error')}")
        elif e is None or "oracle_fail" in e:
            failed.append(f"{q['name']}: no oracle-checked expected result "
                          f"({(e or {}).get('oracle_fail', 'not recorded')})")
        elif (q["rows"], q["digest"]) != (e["rows"], e["digest"]):
            failed.append(f"{q['name']}: rows={q['rows']} digest={q['digest']}, "
                          f"expected {e['rows']} {e['digest']}")
    return failed + registry_check(out["registry"])


def registry_check(registry):
    """Every registry query is either timed or excluded with a reason, so
    a new query cannot escape the board."""
    excluded = [q for qs in QUERIES["excluded"].values() for q in qs]
    homes = {}
    for q in QUERIES["timed"] + excluded:
        homes[q] = homes.get(q, 0) + 1
    bad = [f"{q}: timed or excluded {homes.get(q, 0)} times" for q in registry
           if homes.get(q, 0) != 1]
    bad += [f"{q}: listed but not in the registry" for q in set(homes) - set(registry)]
    return ["registry " + b for b in bad]


def layer_metrics(out, det):
    """Per-layer metrics of a traced run."""
    L = out.get("layers", {})

    def g(key, field):
        """Sum of one tracer field over the keys matching `key`
        (`*:upsert` matches every span's upsert jobs)."""
        if key.startswith("*:"):
            return sum(v.get(field, 0) for k, v in L.items() if k.endswith(key[1:]))
        return L.get(key, {}).get(field, 0)

    span_s, span_c = out["span_s"], out["span_compiles"]
    qs = out.get("queries", [])
    commits = out.get("commits", [])
    n_br = max(1, len(commits))
    staged = sum(r["rows"] for k in ("backfill_reports", "refresh_reports")
                 for r in out.get(k, [])) + sum(c["rows"] for c in commits)
    branch_jobs = sum(v["jobs"] for k, v in L.items() if k.startswith("branch:"))
    q = ("query.build", "query.plan", "query.exec")

    def gq(field):
        return sum(g(k, field) for k in q)

    m = {
        "session.start_s": statistics.median(s["session_s"] for s in out["setups"]),
        "dv3f_source.s": g("via_source:dv3f_source", "job_s"),
        "dv3f_source.records": g("via_source:dv3f_source", "input_records"),
        "dv3f_source.partitions": g("via_source:dv3f_source", "scan_tasks"),
        "json_flatten.s": g("branch:json_flatten", "job_s"),
        "json_flatten.jobs": g("branch:json_flatten", "jobs"),
        "ingest_job.branch_s": statistics.median([c["s"] for c in commits]) if commits else 0.0,
        "ingest_job.jobs_per_branch": branch_jobs / n_br,
        "ingest_job.codegen_compiles": span_c.get("branch", 0) / n_br,
        "reshape.s": g("*:reshape", "job_s"),
        "reshape.shuffle_bytes": g("*:reshape", "shuffle_write_bytes")
        + g("via_source:dv3f_source", "shuffle_write_bytes"),
        "upsert.s": g("*:upsert", "job_s"),
        "upsert.jobs": g("*:upsert", "jobs"),
        "upsert.bytes_written": g("*:upsert", "output_bytes"),
        "upsert.write_amp": g("*:upsert", "output_records") / staged if staged else 0.0,
        "upsert.live_dirs": out.get("live_dirs", 0),
        "catalog.s": span_s.get("catalog", 0.0) + g("*:catalog", "job_s"),
        "catalog.jobs": g("catalog", "jobs") + g("*:catalog", "jobs"),
        "quality.s": span_s.get("quality", 0.0),
        "quality.jobs": g("quality", "jobs"),
        "quality.input_bytes": g("quality", "input_bytes"),
        "read.s": span_s.get("read", 0.0),
        "read.jobs": g("read", "jobs"),
        "query.build_s": sum(x["build_s"] for x in qs),
        "query.build_jobs": g("query.build", "jobs"),
        "query.plan_s": sum(x["plan_s"] for x in qs),
        "query.exchanges": sum(x.get("exchanges", 0) for x in qs),
        "query.codegen_compiles": sum(x.get("codegen_compiles", 0) for x in qs),
        "query.exec_s": sum(x["exec_s"] for x in qs),
        "query.exec_jobs": g("query.plan", "jobs") + g("query.exec", "jobs"),
        "query.tasks": gq("tasks"),
        "query.shuffle_write_bytes": gq("shuffle_write_bytes"),
        "query.shuffle_read_bytes": gq("shuffle_read_bytes"),
        "query.spill_bytes": gq("spill_bytes"),
        "query.peak_exec_mem_bytes": max(g(k, "peak_exec_mem_bytes") for k in q),
        "query.input_bytes": gq("input_bytes"),
        "query.output_rows": sum(x.get("rows_timed", 0) for x in qs),
        "cache_bin.live_rdds": max([x.get("cache_rdds", 0) for x in qs] or [0]),
        "cache_bin.live_bytes": max([x.get("cache_bytes", 0) for x in qs] or [0]),
        "stage_once.tmp_bytes": out.get("stage_once_tmp_bytes", 0),
        "jvm.gc_s": out["gc_s"],
        "trace.run_s": det["run_s"],
        "trace.listener_s": out.get("listener_s", 0.0),
    }
    units = {x["name"]: x["unit"] for x in BENCH["per_layer"]}
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def run_once(root, workload, seed, trace, seconds, extra=None):
    t_start = time.time()
    deadline = t_start + CFG["timeout_s"]
    jars = spark_jars()
    cp = build(root, jars)
    runs = os.path.join(root, ".bench_runs")
    run_dir = os.path.join(runs, f"run-{os.getpid()}-{int(t_start * 1000)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    extra = extra or {}
    try:
        plan = {"workload": workload, "trace": bool(trace), "cores": min(
            CFG["cores"], os.cpu_count() or 1), "setups": CFG["setups"],
            "run_dir": run_dir, "out": os.path.join(run_dir, "out.json")}
        gen = state = reads = None
        gen_s = 0.0
        if workload == "ingest":
            cfg = dict(CFG["ingest"], **extra.get("ingest", {}))
            t_gen = time.time()
            gen, state, reads = ingest_gen.generate(os.path.join(run_dir, "inputs"), seed, cfg)
            gen_s = time.time() - t_gen
            plan.update(gen, dashboard=ingest_gen.DASHBOARD, check_dir=os.path.join(run_dir, "check"),
                        small_input_tuning=cfg["small_input_tuning"])
        else:
            plan.update(sf_dir=os.path.join(root, CFG["board"]["sf_dir"]),
                        queries=extra.get("queries", QUERIES["timed"]),
                        small_input_tuning=CFG["board"]["small_input_tuning"])
            if "record_dir" in extra:
                plan["record_dir"] = extra["record_dir"]
        load0, (tot0, st0) = loadavg(), cpu_times()
        out = run_jvm(cp, jars, plan, run_dir, deadline)
        load1, (tot1, st1) = loadavg(), cpu_times()

        if workload == "ingest":
            run_s, lat, typical, attempted, det = summarize_ingest(out)
            det["expected_state"] = {p: {t: ingest_gen.table_digest(rows)
                                         for t, rows in tables.items()}
                                     for p, tables in state.items()}
            failed = check_ingest(out, gen, state, reads, run_dir)
        else:
            lat = typical = [q["s"] for q in out["queries"]]
            run_s = sum(lat)
            attempted = len(lat)
            det = {"queries": {
                q["name"]: {k: q.get(k) for k in (
                    "s", "build_s", "plan_s", "exec_s", "rows", "codegen_compiles",
                    "exchanges")} for q in out["queries"]}}
            failed = check_board(out)
        det.update({
            "workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
            "materialization": CFG["materialization"],
            "run_s": run_s, "setup_rounds_s": [s["total_s"] for s in out["setups"]],
            "jvm_uptime_at_main_s": out["jvm_uptime_at_main_s"],
            "input_gen_s": gen_s,
            # inputs generated, then JVM start to the first session's warm-up done
            "cold_setup_s": gen_s + out["setups"][0]["done_epoch_s"] - out["launched_epoch_s"],
            "cpu_s": sum(out["span_cpu_s"].get(k, 0.0) for k in TIMED_SPANS),
            "setup_cpu_s": statistics.median(s["cpu_s"] for s in out["setups"]),
            "query_geomean_s": math.exp(statistics.mean(math.log(x) for x in typical)),
            "query_samples": len(lat), "query_p50_s": statistics.median(lat),
            "query_p90_s": pct(lat, 90), "peak_rss_mb": out["peak_rss_mb"],
            "peak_live_heap_mb": out["peak_live_heap_mb"],
            "error_rate": len(failed) / attempted, "failed_ops": failed,
            "loadavg_before": load0, "loadavg_after": load1,
            "cpu_steal_share": (st1 - st0) / max(1, tot1 - tot0),
            "wall_s": time.time() - t_start,
            "units": {"*_s": "s", "*_mb": "MB", "error_rate": "ratio",
                      "cpu_steal_share": "ratio", "query_samples": "count"}})
        if trace:
            metrics = layer_metrics(out, det)
        else:
            metrics = {
                "setup_s": {"value": statistics.median(s["total_s"] for s in out["setups"]),
                            "unit": "s"},
                "cpu_s": {"value": det["cpu_s"], "unit": "s"},
            }
        return det, {"correct": not failed, "attempted": attempted,
                     "failed": min(len(failed), attempted), "metrics": metrics}, out
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass


def selfcheck(root):
    """Tiny run of each workload; every metric must print with its unit."""
    ok = True
    tiny = {"ingest": {"ingest": {"years": 2, "cods": 2, "branches": 2}}}
    for w in BENCH["workloads"]:
        name = w["name"]
        extra = tiny.get(name) or {"queries": QUERIES["smoke"]}
        for trace, spec in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
            _, res, _ = run_once(root, name, 1, trace, 1, extra)
            want = {m["name"]: m["unit"] for m in spec}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            good = got == want and all(isinstance(v["value"], (int, float))
                                       for v in res["metrics"].values())
            ok &= good and res["correct"]
            print(f"{'ok  ' if good else 'FAIL'} {name} trace={trace} "
                  f"correct={res['correct']} metrics={len(got)}/{len(want)}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if a.selfcheck:
        sys.exit(selfcheck(root))
    if a.workload not in {w["name"] for w in BENCH["workloads"]}:
        fail(f"unknown workload {a.workload!r}")
    det, res, _ = run_once(root, a.workload, a.seed, a.trace, a.seconds)
    print(json.dumps(det))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
