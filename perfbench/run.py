#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one
workload against it in a fresh JVM, checks its outputs, and prints one
JSON result line.

    python3 perfbench/run.py --workload sql_read --seed 1 --seconds 12 --trace 0

Run from the repository root. The build (plain scalac from the Spark
distribution's jars, no sbt) is cached under .perfbench_build/ keyed by a
hash of the sources; inputs, Delta tables and Spark scratch space live
under .perfbench_work/ and are deleted when the run ends. With --trace 0
the result holds the end-to-end metrics, with --trace 1 the per-layer ones
(see BENCHMARK.json for both lists).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import plans  # noqa: E402
import stats  # noqa: E402


def _spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars beside
    the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home, "jars") if home else ""


SPARK_JARS = _spark_jars()
BUILD_DIR = ".perfbench_build"
WORK_DIR = ".perfbench_work"
RUN_BUDGET_S = 170  # one run, build excluded
HEAP = "3g"
# local[CORES] and as many shuffle partitions. Two rather than all four
# cores of the machine the benchmark was sized on: sql_read's statements
# are driver-bound (tasks busy 40% of job time on four), and with one
# client they ran 6% faster on two and scattered less within a run
# (median absolute log deviation from each statement's median 0.08
# against 0.094).
CORES = 2

# input sizes
SQL_SF = 0.01           # lineitem ~60k rows
SQL_WARMUP_PASSES = 4   # untimed passes over the timed statements before the window
SQL_CLIENTS = 2         # one left half of each job's executor time idle and swung more with the host
COMMIT_SEED_ROWS = 50_000
COMMIT_CLIENTS = 2
SETUP_REPS = {"sql_read": 1, "delta_commit": 3}
UNTRACED_SHARE = 0.3    # traced runs: leading share of the window with no listeners

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _scalac(classpath, out_dir, sources):
    comp = [os.path.join(SPARK_JARS, f"scala-{m}-2.13.17.jar") for m in ("compiler", "library", "reflect")]
    for j in comp:
        if not os.path.exists(j):
            raise BenchError(f"missing {j} (set SPARK_HOME to a Spark 4.1 distribution)")
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(comp), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-classpath", classpath, "-d", out_dir] + sources
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + (r.stdout + r.stderr)[-3000:])


def build(root):
    """Compile src/main/scala and the harness; returns the build directory."""
    src_main = os.path.join(root, "src", "main")
    program = sorted(glob.glob(os.path.join(src_main, "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not program:
        raise BenchError("no program sources under src/main/scala")
    resources = sorted(p for p in glob.glob(os.path.join(src_main, "resources", "**"), recursive=True)
                       if os.path.isfile(p))
    h = hashlib.sha256()
    for p in program + resources + harness:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR, h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "done")):
        return out
    shutil.rmtree(os.path.join(root, BUILD_DIR), ignore_errors=True)
    t = time.time()
    jars = os.path.join(SPARK_JARS, "*")
    _scalac(":".join(glob.glob(os.path.join(SPARK_JARS, "*.jar"))), os.path.join(out, "classes"), program)
    for p in resources:
        dst = os.path.join(out, "classes", os.path.relpath(p, os.path.join(src_main, "resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(p, dst)
    _scalac(":".join(glob.glob(os.path.join(SPARK_JARS, "*.jar")) + [os.path.join(out, "classes")]),
            os.path.join(out, "harness"), harness)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx1g", "-cp", _classpath(out, jars), "perfbench.Main", "--catalog",
                        os.path.join(out, "catalog.json")], capture_output=True, text=True)
    if r.returncode != 0:
        raise BenchError("catalog dump failed:\n" + r.stderr[-2000:])
    open(os.path.join(out, "done"), "w").close()
    log(f"built in {time.time() - t:.1f}s")
    return out


def _classpath(build_dir, jars):
    return ":".join([os.path.join(build_dir, "classes"), os.path.join(build_dir, "harness"), jars])


# ---------------------------------------------------------------- inputs

def prepare(workload, seed, work, catalog):
    """Write the seeded inputs under `work`; returns (plan, context) where
    the plan goes to the harness and the context stays here for checks."""
    data = os.path.join(work, "data")
    os.makedirs(data)
    plan = {"workload": workload, "data_dir": data, "work_dir": os.path.join(work, "tables"),
            "setup_reps": SETUP_REPS[workload], "untraced_share": UNTRACED_SHARE}
    ctx = {}
    if workload == "sql_read":
        tables = gen.tpch_tables(seed, SQL_SF)
        gen.write_tables(data, tables)
        bdir = os.path.join(work, "batches")
        os.makedirs(bdir)
        plan["tables"] = []
        for name in ["region", "nation", "supplier", "customer", "part", "orders", "lineitem"]:
            if name in plans.TT_TABLES:
                paths = []
                for i, b in enumerate(gen.split_batches(tables[name], plans.TT_TABLES[name][0])):
                    paths.append(os.path.join(bdir, f"{name}_{i:02d}.parquet"))
                    gen.write_tables(bdir, {f"{name}_{i:02d}": b})
            else:
                paths = [os.path.join(data, f"{name}.parquet")]
            plan["tables"].append({"name": name, "batches": paths})
        names = plans.TIMED_STATEMENTS
        checked = set(plans.checked_statements(seed, names))
        plan["statements"] = [{"name": n, "sql": catalog["relational"][n], "check": n in checked}
                              for n in names]
        plan["warmup_passes"] = SQL_WARMUP_PASSES
        plan["clients"] = [plans.sql_read_ops(seed, names, passes=20, client=c) for c in range(SQL_CLIENTS)]
        for o in (o for ops in plan["clients"] for o in ops):
            o.setdefault("sql", catalog["relational"].get(o["name"]))
        plan["tt_warmup"] = [o["sql"] for o in plans.tt_warmup_ops()]
        ctx["pass_counts"] = plans.pass_counts_sql(names)
        ctx["tt_expected"] = {}
        for o in plans.tt_warmup_ops() + [o for ops in plan["clients"] for o in ops]:
            if o["kind"] == "time_travel" and o["sql"] not in ctx["tt_expected"]:
                ctx["tt_expected"][o["sql"]] = tt_expected(tables[o["table"]], o["table"], o["version"])
    else:
        seed_tbl = gen.sharded_orders(seed, COMMIT_SEED_ROWS, COMMIT_CLIENTS)
        gen.write_tables(data, {"orders_seed": seed_tbl})
        plan["seed_parquet"] = os.path.join(data, "orders_seed.parquet")
        plan["clients"] = [plans.delta_commit_ops(seed, c, COMMIT_CLIENTS, COMMIT_SEED_ROWS, cycles=60)
                           for c in range(COMMIT_CLIENTS)]
        keys = seed_tbl.column("o_orderkey").to_pylist()
        cents = [round(p * 100) for p in seed_tbl.column("o_totalprice").to_pylist()]
        ctx["seed_rows"] = [[(k, c) for k, c in zip(keys, cents) if k % COMMIT_CLIENTS == s]
                            for s in range(COMMIT_CLIENTS)]
        ctx["pass_counts"] = {k: plans.CYCLE.count(k) for k in set(plans.CYCLE)}
    return plan, ctx


def tt_expected(tbl, table, version):
    """The time-travel aggregate over the rows `version` holds (batches
    0..version), as the harness renders it: columns sorted by name,
    joined with '|'."""
    rows = gen.split_batches(tbl, plans.TT_TABLES[table][0])[:version + 1]
    if table == "lineitem":
        qty = sum(int(q) for b in rows for q in b.column("l_quantity").to_pylist())
        keys = {k for b in rows for k in b.column("l_orderkey").to_pylist()}
        vals = {"n": sum(b.num_rows for b in rows), "n_orders": len(keys), "qty": qty}
    else:
        cents = sum(round(p * 100) for b in rows for p in b.column("o_totalprice").to_pylist())
        custs = {k for b in rows for k in b.column("o_custkey").to_pylist()}
        vals = {"cents": cents, "n": sum(b.num_rows for b in rows), "n_cust": len(custs)}
    return ["|".join(str(vals[k]) for k in sorted(vals))]


# ---------------------------------------------------------------- run

def run_harness(build_dir, plan, work, budget_s):
    plan_path = os.path.join(work, "plan.json")
    rec_path = os.path.join(work, "record.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss4m"] + ADD_OPENS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        # the status store keeps every job, stage and SQL execution it has
        # seen; a short history keeps heap_after_gc_mb about the program's
        # own state rather than how many ops a window held
        "-Dspark.ui.retainedJobs=20", "-Dspark.ui.retainedStages=20",
        "-Dspark.ui.retainedTasks=1000", "-Dspark.sql.ui.retainedExecutions=20",
        "-cp", _classpath(build_dir, os.path.join(SPARK_JARS, "*")),
        "perfbench.Main", plan_path, rec_path]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness exceeded {budget_s:.0f}s")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(rec_path):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness exited {code}:\n{tail}")
    with open(rec_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_outputs(workload, rec, plan, ctx):
    """Output checks made outside the window; returns (attempted, failed,
    reasons). Each timed op counts as attempted; a wrong result fails it."""
    checks = list(rec["checks"])
    if workload == "sql_read":
        for sql, rows in rec["results"]["time_travel"].items():
            ok = rows == ctx["tt_expected"][sql]
            checks.append({"name": f"tt:{sql[-40:]}", "ok": ok,
                           "detail": "" if ok else f"got {rows} want {ctx['tt_expected'][sql]}"})
    else:
        for c in range(COMMIT_CLIENTS):
            model = plans.ShardModel(ctx["seed_rows"][c])
            mine = sorted((o for o in rec["ops"] if o["client"] == c), key=lambda o: o["seq"])
            for o in mine:
                if o["kind"] == "read" and o["ok"]:
                    got = {k: o[k] for k in ("n", "cents", "keysum")}
                    if got != model.summary():
                        o["ok"] = False
                        o["error"] = f"read-after-write {got} != model {model.summary()}"
                model.apply(plan["clients"][c][o["seq"]], COMMIT_CLIENTS)
            fin = [f for f in rec["results"]["final"] if f["shard"] == c]
            got = {k: fin[0][k] for k in ("n", "cents", "keysum")} if fin else None
            ok = got == model.summary()
            checks.append({"name": f"final:shard{c}", "ok": ok,
                           "detail": "" if ok else f"got {got} want {model.summary()}"})
    failed_checks = [c for c in checks if not c["ok"]]
    failed_ops = [o for o in rec["ops"] if not o["ok"]]
    reasons = [f"{c['name']}: {c['detail']}" for c in failed_checks] + \
              [f"op {o['name']}: {o.get('error', '')}" for o in failed_ops[:5]]
    return len(rec["ops"]) + len(checks), len(failed_checks) + len(failed_ops), reasons


# ---------------------------------------------------------------- metrics

def end_to_end(rec, ctx):
    """Latencies describe one pass of the workload's op mix: every latency
    measured for an op name counts, weighted by the name's count in a pass
    over its sample count, so a window that happens to hold more of one
    kind of op moves them little; `pass_s` prices each name at its median."""
    ops = [o for o in rec["ops"] if o["ok"]]
    r = rec["results"]
    window_s = (r["window_end_ms"] - r["window_start_ms"]) / 1000.0
    counts = ctx["pass_counts"]
    lat = name_latencies(ops, counts)
    return {
        "setup_s": rec["session_s"] + stats.median(rec["setup_reps_s"]),
        "ops_per_s": len(ops) / window_s,
        "latency_p50_ms": stats.mix_percentile(lat, counts, 50),
        "latency_p75_ms": stats.mix_percentile(lat, counts, 75),
        "pass_s": sum(c * stats.median(lat[n]) for n, c in counts.items()) / 1000.0,
        "heap_after_gc_mb": r["heap_after_gc_mb"],
    }


def name_latencies(ops, names):
    """Latencies (ms) per op name; a name with no sample in the window
    takes all samples of the window."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["end_ms"] - o["start_ms"])
    everything = [x for v in by.values() for x in v]
    missing = [n for n in names if n not in by]
    if missing:
        log(f"no sample for {missing}: priced at the latencies of all ops")
    return {n: by.get(n, everything) for n in names}


def per_layer(workload, rec, cores):
    """Per-layer metrics of a traced run; a metric a workload has no layer
    for is 0."""
    tr = rec.get("trace") or {}
    ops = {o["id"]: o for o in rec["ops"] if o["ok"] and o["traced"]}
    jobs, calls, phases = {}, {}, {}
    for j in tr.get("jobs", []):
        g = j.get("group") or ""
        if g.startswith("pb-") and int(g[3:]) in ops and "end_ms" in j:
            jobs.setdefault(int(g[3:]), []).append(j)
    for c in tr.get("calls", []):
        calls.setdefault(c["op"], []).append(c)
    for p in tr.get("phases", []):
        if p["op"] in ops:
            phases.setdefault(p["op"], []).append(p)
    m = {}
    n_ops = max(1, len(ops))

    def mean_per_op(f):
        return sum(f(i) for i in ops) / n_ops

    for ph in ("parsing", "analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = mean_per_op(lambda i: sum(
            p["end_ms"] - p["start_ms"] for p in phases.get(i, []) if p["name"] == f"catalyst.{ph}"))
    wall = {i: o["end_ms"] - o["start_ms"] for i, o in ops.items()}
    job_union = {i: stats.union_length([(j["start_ms"], j["end_ms"]) for j in jobs.get(i, [])],
                                       ops[i]["start_ms"], ops[i]["end_ms"]) for i in ops}
    m["driver.no_job_ms"] = mean_per_op(lambda i: wall[i] - job_union[i])
    js = lambda i, k: sum(j[k] for j in jobs.get(i, []))  # noqa: E731
    m["exec.jobs_per_op"] = mean_per_op(lambda i: len(jobs.get(i, [])))
    m["exec.stages_per_op"] = mean_per_op(lambda i: js(i, "stages"))
    m["exec.tasks_per_op"] = mean_per_op(lambda i: js(i, "tasks"))
    for k in ("task_run_ms", "task_cpu_ms", "gc_ms", "fetch_wait_ms"):
        m[f"exec.{k}"] = mean_per_op(lambda i: js(i, k))
    for k, name in (("input_bytes", "input_mb"), ("shuffle_write_bytes", "shuffle_write_mb"),
                    ("shuffle_read_bytes", "shuffle_read_mb")):
        m[f"exec.{name}"] = mean_per_op(lambda i: js(i, k)) / 1048576.0
    busy_den = sum(job_union.values()) * cores
    m["exec.busy_frac"] = sum(js(i, "task_run_ms") for i in ops) / busy_den if busy_den else 0.0

    # self time per layer, as shares of all traced op time
    selfs = {layer: 0.0 for layer in stats.LAYER_RANK}
    for i, o in ops.items():
        kids = [("delta", c["start_ms"], c["end_ms"]) for c in calls.get(i, [])]
        kids += [("catalyst", p["start_ms"], p["end_ms"]) for p in phases.get(i, [])]
        kids += [("exec", j["start_ms"], j["end_ms"]) for j in jobs.get(i, [])]
        for layer, v in stats.self_times((o["start_ms"], o["end_ms"]), kids).items():
            selfs[layer] += v
    total = sum(wall.values()) or 1.0
    m["self.driver_frac"] = selfs["op"] / total
    m["self.delta_frac"] = selfs["delta"] / total
    m["self.catalyst_frac"] = selfs["catalyst"] / total
    m["self.exec_frac"] = selfs["exec"] / total
    m["delta.call_frac"] = sum(stats.union_length([(c["start_ms"], c["end_ms"]) for c in calls.get(i, [])],
                                                  o["start_ms"], o["end_ms"]) for i, o in ops.items()) / total

    # Delta calls
    all_calls = [c for cs in calls.values() for c in cs]
    for name in ("snapshot", "write", "dml", "merge", "optimize"):
        mine = [c for c in all_calls if c["name"] == f"delta.{name}"]
        m[f"delta.{name}_ms"] = stats.median([c["end_ms"] - c["start_ms"] for c in mine]) if mine else 0.0
        if name != "snapshot":
            m[f"delta.{name}.jobs_per_call"] = (sum(
                sum(1 for j in jobs.get(c["op"], []) if c["start_ms"] <= j["start_ms"] <= c["end_ms"])
                for c in mine) / len(mine)) if mine else 0.0
    m.update(delta_log_metrics(workload, rec))
    scans = [o for o in ops.values() if "scan_total" in o]
    m["delta.scan.files_read_frac"] = (sum(o["scan_files"] for o in scans) /
                                       sum(o["scan_total"] for o in scans)) if scans else 0.0

    # op classes
    lat = {}
    for o in rec["ops"]:
        if o["ok"]:
            lat.setdefault(o["kind"], []).append(o["end_ms"] - o["start_ms"])
    p50 = lambda *ks: stats.median(sum((lat.get(k, []) for k in ks), [])) \
        if any(k in lat for k in ks) else 0.0  # noqa: E731
    m["class.time_travel_p50_ms"] = p50("time_travel")
    m["class.append_p50_ms"] = p50("append")
    m["class.dml_p50_ms"] = p50("delete", "update")
    m["class.merge_p50_ms"] = p50("merge")
    m["class.read_after_write_p50_ms"] = p50("read")
    m["class.optimize_p50_ms"] = p50("optimize")
    m["jvm.gc_ms"] = rec["results"]["gc_ms"]
    m["cache.persisted_mb_peak"] = tr.get("persisted_mb_peak", 0.0)
    m["trace.overhead_frac"] = trace_overhead(rec["ops"])
    return m


def trace_overhead(all_ops):
    """Traced versus untraced op time, over op names timed both ways:
    sum of per-name traced medians / sum of untraced medians - 1."""
    by = {True: {}, False: {}}
    for o in all_ops:
        if o["ok"]:
            by[o["traced"]].setdefault(o["name"], []).append(o["end_ms"] - o["start_ms"])
    both = [n for n in by[True] if n in by[False]]
    if not both:
        return 0.0
    t = sum(stats.median(by[True][n]) for n in both)
    u = sum(stats.median(by[False][n]) for n in both)
    return t / u - 1.0


def delta_log_metrics(workload, rec):
    """Log shape of the run's Delta tables plus delta_commit's per-op
    ratios, read from the _delta_log listing and the ops' return values."""
    r = rec["results"]
    if workload == "sql_read":
        root = r["tables_root"]
        tables = [os.path.join(root, t) for t in sorted(os.listdir(root))]
    else:
        tables = [r["table"]]
    tails, commit_bytes, n_cp = [], [], 0
    commits_by_table = {}
    for t in tables:
        log_dir = os.path.join(t, "_delta_log")
        names = os.listdir(log_dir)
        commits = {int(n[:20]): os.path.join(log_dir, n) for n in names
                   if n.endswith(".json") and n[:20].isdigit() and len(n) == 25}
        cps = sorted({int(n[:20]) for n in names if ".checkpoint" in n and n.endswith(".parquet")})
        n_cp += len(cps)
        for v, p in commits.items():
            commit_bytes.append(os.path.getsize(p))
            below = [c for c in cps if c <= v]
            tails.append(v - below[-1] if below else v + 1)
        commits_by_table[t] = commits
    m = {
        "delta.log.tail_commits": sum(tails) / len(tails) if tails else 0.0,
        "delta.log.bytes_per_commit": sum(commit_bytes) / len(commit_bytes) if commit_bytes else 0.0,
        "delta.checkpoints": float(n_cp),
        "delta.rows_changed_per_file_rewritten": 0.0,
        "delta.bytes_added_per_row_changed": 0.0,
        "delta.commit.concurrent_commits": 0.0,
        "delta.commit.retries_per_op": 0.0,
        "delta.storage_amp": 0.0,
    }
    if workload != "delta_commit":
        return m
    table = tables[0]
    commits = commits_by_table[table]
    ops = [o for o in rec["ops"] if o["ok"]]
    dml = [o for o in ops if o["kind"] in ("delete", "update", "merge") and "rows_changed" in o]
    rows = sum(o["rows_changed"] for o in dml)
    files = sum(o["files_rewritten"] for o in dml)
    added = 0
    for o in dml:
        p = commits.get(o["version"])
        if p:
            with open(p) as f:
                added += sum(json.loads(line).get("add", {}).get("size", 0) for line in f if line.strip())
    m["delta.rows_changed_per_file_rewritten"] = rows / files if files else 0.0
    m["delta.bytes_added_per_row_changed"] = added / rows if rows else 0.0
    # which client made each commit: the shard its actions touch
    landed = []
    for v, p in commits.items():
        shards = set()
        with open(p) as f:
            for line in f:
                a = json.loads(line) if line.strip() else {}
                for k in ("add", "remove"):
                    if k in a:
                        shards.add((a[k].get("partitionValues") or {}).get("shard"))
        if len(shards) == 1:
            landed.append((os.path.getmtime(p) * 1000.0, int(next(iter(shards)))))
    m["delta.commit.retries_per_op"] = sum(o.get("retries", 0) for o in ops) / max(1, len(ops))
    m["delta.commit.concurrent_commits"] = sum(
        sum(1 for t, s in landed if s != o["client"] and o["start_ms"] <= t <= o["end_ms"])
        for o in ops) / max(1, len(ops))
    on_disk = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(table) for f in fs)
    m["delta.storage_amp"] = on_disk / r["live_bytes"] if r["live_bytes"] else 0.0
    return m


# ---------------------------------------------------------------- main

def _stop(signum, _frame):
    raise BenchError(f"stopped by signal {signum}")


def main(argv=None):
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["sql_read", "delta_commit"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args(argv)
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        build_dir = build(root)
    except BenchError as e:
        log(str(e))
        return 2
    started = time.time()
    with open(os.path.join(build_dir, "catalog.json")) as f:
        catalog = json.load(f)
    cores = min(CORES, os.cpu_count() or 1)
    work = os.path.join(root, WORK_DIR, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan, ctx = prepare(a.workload, a.seed, work, catalog)
        plan.update({"seconds": a.seconds, "trace": bool(a.trace), "cores": cores, "seed": a.seed})
        budget = RUN_BUDGET_S - (time.time() - started)
        rec = run_harness(build_dir, plan, work, budget)
        attempted, failed, reasons = check_outputs(a.workload, rec, plan, ctx)
        for r in reasons:
            log(f"FAILED {r}")
        if a.trace:
            vals = per_layer(a.workload, rec, cores)
            wanted = spec["per_layer"]
        else:
            vals = end_to_end(rec, ctx)
            wanted = spec["end_to_end"]
        metrics = {w["name"]: {"value": float(vals[w["name"]]), "unit": w["unit"]} for w in wanted}
    except BenchError as e:
        log(str(e))
        return 1
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.join(root, WORK_DIR))
            except OSError:
                pass
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
