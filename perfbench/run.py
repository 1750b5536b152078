#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the harness from source, makes a
run's inputs from --seed, runs one workload in a fresh JVM and prints one
JSON result as its last line of standard output.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Everything it writes stays under
.bench_build/ there. See perfbench/README.md for the workloads and metrics.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build")
JVM_HEAP = "3g"
RUN_LIMIT_S = 170

# Inputs per workload, sized so a run (set-up included) ends well inside
# its time limit on a 4-core host; see README.md for the measurements.
CORPUS = {
    "build": dict(orders=1500, customers=150, parts=200, suppliers=10),
    "serve": dict(orders=1500, customers=150, parts=200, suppliers=10),
}
SERVE_CURATION = dict(docs=500, vectors=500, events=5000, users=150)

END_TO_END = {  # name -> unit
    "op_s": "s", "rows_per_s": "1/s",
    "stage_bytes": "bytes", "setup_s": "s",
}
PER_LAYER_UNITS = {"_s": "s", "_bytes": "bytes", "task_skew": "ratio"}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"error: {msg}")
    sys.exit(2)


def loadavg():
    with open("/proc/loadavg") as f:
        one, five = f.read().split()[:2]
    return {"1m": float(one), "5m": float(five)}


def steal_ticks():
    """CPU ticks the hypervisor has taken from this host's CPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def source_stamp():
    """Hash of every file the build reads, so a checkout builds once."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt; return the classpath."""
    cp_file, stamp_file = os.path.join(OUT, "classpath.txt"), os.path.join(OUT, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read() == stamp, g.read()
        # a clean of either build removes class directories the stamp
        # cannot see
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dperfbench.classpath={cp_file}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(OUT, exist_ok=True)
    for f in (cp_file, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    log_path = os.path.join(OUT, "sbt.log")
    with open(log_path, "w") as logf:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "writeClasspath"], time.time() + 850, logf, cwd=HERE, env=env)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"sbt build failed (exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


def make_inputs(workload, seed, run_dir):
    corpus = os.path.join(run_dir, "corpus")
    gen.tpch(corpus, seed, **CORPUS[workload])
    if workload == "serve":
        gen.curation(corpus, seed, **SERVE_CURATION)


def run_group(cmd, deadline, logf, **kw):
    """Run `cmd` in its own process group, output to `logf`; kill the whole
    group if it outlives `deadline` or this runner is interrupted."""
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_jvm(cp, args, run_dir, cores, deadline):
    cmd = (["java", f"-Xmx{JVM_HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Dgraft.stage.dir={run_dir}/stages",
              f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
              args.workload, run_dir, str(args.seconds), str(args.trace),
              str(cores), str(args.seed)])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        rc = run_group(cmd, deadline, logf)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"benchmark JVM exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def oracle_edge_count(run_dir):
    """Row count of the engine's DuckDB oracle SQL for kg_edges: an
    independent derivation of the edge set from the corpus tables."""
    import duckdb
    corpus = os.path.join(run_dir, "corpus")
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(corpus, f)}')")
    with open(os.path.join(run_dir, "kg_edges.sql")) as f:
        sql = f.read()
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def check_build(res, args, run_dir):
    """Failures of the build outputs: the oracle's edge count, and the same
    count and checksum as every earlier run on the same inputs in this
    checkout."""
    fails = []
    oracle = oracle_edge_count(run_dir)
    first = res["ops"][0]
    for o in res["ops"]:
        if o["rows"] != oracle:
            o["ok"] = False
            fails.append(f"{o['name']}: {o['rows']} edges, oracle has {oracle}")
    corpus = os.path.join(run_dir, "corpus")
    h = hashlib.sha256()
    for f in sorted(os.listdir(corpus)):
        with open(os.path.join(corpus, f), "rb") as fh:
            h.update(f.encode() + hashlib.sha256(fh.read()).digest())
    seen = os.path.join(OUT, "expected", f"build-{args.seed}-{h.hexdigest()[:16]}.json")
    mine = {"edges": first["rows"], "hash": first["hash"]}
    if os.path.exists(seen):
        with open(seen) as f:
            want = json.load(f)
        if want != mine:
            for o in res["ops"]:
                o["ok"] = False
            fails.append(f"seed {args.seed}: {mine} differs from an earlier run {want}")
    elif not fails:
        os.makedirs(os.path.dirname(seen), exist_ok=True)
        with open(seen, "w") as f:
            json.dump(mine, f)
    return fails


def layer_unit(name):
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CORPUS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    for need in ["build.sbt", "src/main/scala/graft"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} is missing: run from the root of a full checkout")

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    cores = len(os.sched_getaffinity(0))
    load_start = loadavg()
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0, cpu0, steal0 = time.time(), time.process_time(), steal_ticks()
        make_inputs(args.workload, args.seed, run_dir)
        gen_cpu = time.process_time() - cpu0
        res = run_jvm(cp, args, run_dir, cores, deadline)
        fails = list(res["failures"])
        if args.workload == "build":
            fails += check_build(res, args, run_dir)
        trace_file = os.path.join(run_dir, "spans.json")
        kept_trace = None
        if os.path.exists(trace_file):
            kept_trace = os.path.join(OUT, "traces", os.path.basename(run_dir) + ".json")
            os.makedirs(os.path.dirname(kept_trace), exist_ok=True)
            shutil.move(trace_file, kept_trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["ops"]
    timed_ops = [o for o in ops if not o["name"].endswith(".traced")]
    # A virtual host's CPUs may be shared through a hypervisor that takes a
    # varying share of them (`steal` in /proc/stat). With nothing else
    # running on the host, stolen time is time the benchmark's runnable
    # threads waited: of their runnable time (CPU used + CPU stolen) the
    # CPU share ran. Every time below is wall time times that share, an
    # estimate of the wall time on unshared cores.
    def unshared(wall, cpu, stolen):
        return wall * cpu / (cpu + stolen) if cpu + stolen > 0 else wall

    op_s = [unshared(o["seconds"], o["cpu_s"], o["stolen_s"]) for o in timed_ops]
    setup_wall = res["setup_done_ms"] / 1e3 - t0
    setup_cpu = gen_cpu + res["setup_done_cpu_ns"] / 1e9
    setup_stolen = (res["setup_done_steal_ticks"] - steal0) / os.sysconf("SC_CLK_TCK")
    values = {
        "op_s": statistics.geometric_mean(op_s),
        "rows_per_s": sum(o["rows"] for o in timed_ops) / sum(op_s),
        "stage_bytes": res["stage_bytes"],
        "setup_s": unshared(setup_wall, setup_cpu, setup_stolen),
    }
    wall = sum(o["seconds"] for o in timed_ops)
    stolen_share = sum(o["stolen_s"] for o in timed_ops) / (cores * wall)
    failed = max(sum(1 for o in ops if not o["ok"]), 1 if fails else 0)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "driver_heap_bytes": res["heap_bytes"],
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "stolen_cpu_share": stolen_share, "op_wall_s": wall,
        "setup_wall_s": setup_wall,
        "started_unix": round(t_start, 3), "end_to_end": values,
        "layers": res["layers"], "detail": res["detail"], "failures": fails,
        "ops": ops, "trace_file": kept_trace and os.path.relpath(kept_trace, ROOT),
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for msg in fails:
        log(f"check failed: {msg}")
    print(json.dumps({k: record[k] for k in [
        "workload", "seed", "nproc", "driver_heap_bytes", "loadavg_start",
        "loadavg_end", "stolen_cpu_share", "op_wall_s", "setup_wall_s", "detail", "failures",
        "trace_file"]}))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    print(json.dumps({"correct": not fails, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
