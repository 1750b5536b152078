#!/usr/bin/env python3
"""Interleaved parent/change runs of the perfbench benchmark.

    python3 tools/bench_pairs.py --topic stage_dag --workload build --pairs 10

Checks out two commits as git worktrees (by default HEAD~1 as "parent" and
HEAD as "change") under --workdir, then runs `perfbench/run.py` from each
checkout once per seed. Seeds run in pairs: on an odd seed the change runs
first, on an even seed the parent does, so a drift in host load falls on
both sides alike. Before the pairs, each side runs once at seed 99 (its
first run compiles the checkout); those rows carry round "warmup", the
pairs round "final". Run length and workload names come from
BENCHMARK.json.

Every run is appended, as one row, to BENCH_<topic>.json in the current
directory: a JSON list of {code, workload, seed, trace, round,
loadavg_before_launch, disclosure, result, ops}, where `disclosure` and
`result` are the two JSON lines run.py prints and `ops` is the run's
per-operation list (name, seconds, cpu_s, stolen_s, rows, ok) copied from
the checkout's .bench_build/results/runs.jsonl. At the end the script
prints, for each metric of the final rows in that file that match the
workload and trace flag, each side's median and quartiles and the number of
seeds on which the change is better (direction from BENCHMARK.json), then
each side's median seconds per operation name, stolen CPU time removed as
run.py does for `op_s`. Each metric with a `bound` in BENCHMARK.json also
gets a bound check: is the change's median worse than the parent's by more
than that fraction? Each metric named by --claim gets a claim check: is
the change better on at least nine of every ten pairs, and is its median
better than the parent's by more than the parent's interquartile range?
Re-running with more seeds adds to the same file. Nothing under perfbench/
is edited; each checkout keeps its own .bench_build/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def git(*args, cwd=None):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def checkout(repo, path, rev):
    """A worktree of `rev` at `path`; an existing checkout of the same
    commit is reused, so its compiled benchmark stays warm."""
    sha = git("rev-parse", "--verify", rev + "^{commit}", cwd=repo)
    if os.path.exists(path):
        have = git("rev-parse", "HEAD", cwd=path)
        if have != sha:
            sys.exit(f"{path} holds {have[:12]}, not {rev} ({sha[:12]})")
    else:
        git("worktree", "add", "--detach", path, sha, cwd=repo)
    return sha


def loadavg():
    with open("/proc/loadavg") as f:
        one, five = f.read().split()[:2]
    return {"1m": float(one), "5m": float(five)}


WARMUP_SEED = 99


def run(code, path, args, seconds, seed, round_):
    row = {"code": code, "workload": args.workload, "seed": seed,
           "trace": args.trace, "round": round_,
           "loadavg_before_launch": loadavg()}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", args.workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(args.trace)],
        cwd=path, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-3000:])
        sys.exit(f"{code} seed {seed}: run.py exited with {out.returncode}")
    row["disclosure"], row["result"] = json.loads(lines[-2]), json.loads(lines[-1])
    row["ops"] = last_run_ops(path, args, seed)
    m = row["result"]["metrics"]
    print(f"{round_} seed {seed} {code}: load {row['loadavg_before_launch']['1m']} "
          + " ".join(f"{k}={v['value']:.6g}" for k, v in m.items())
          + f" failed={row['result']['failed']}", flush=True)
    return row


def last_run_ops(path, args, seed):
    """The per-operation list of the run run.py recorded last."""
    with open(os.path.join(path, ".bench_build", "results", "runs.jsonl")) as f:
        rec = json.loads(f.readlines()[-1])
    if (rec["workload"], rec["seed"], rec["trace"]) != (args.workload, seed, args.trace):
        sys.exit(f"{path}: the last recorded run is not {args.workload} seed {seed}")
    return [{k: o[k] for k in ("name", "seconds", "cpu_s", "stolen_s", "rows", "ok")}
            for o in rec["ops"]]


def unshared(op):
    """An operation's seconds times cpu / (cpu + stolen), as in run.py."""
    busy = op["cpu_s"] + op["stolen_s"]
    return op["seconds"] * op["cpu_s"] / busy if busy > 0 else op["seconds"]


def save(out, rows):
    with open(out + ".tmp", "w") as f:
        f.write("[\n" + ",\n".join(json.dumps(r) for r in rows) + "\n]\n")
    os.replace(out + ".tmp", out)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def bound_check(pm, cm, lower, bound):
    """The bound check line: the change's median worse than the parent's by
    more than `bound` (a fraction of the parent's median) fails."""
    worse = ((cm - pm) if lower else (pm - cm)) / pm if pm else float("nan")
    verdict = "EXCEEDED" if worse > bound else "ok"
    return f"bound: change worse by {worse * 100:+.1f} % of parent, bound {bound * 100:.0f} %: {verdict}"


def claim_check(pm, cm, p1, p3, lower, wins, pairs):
    """The claim check line: better in >= 9/10 of the pairs, and a median
    better by more than the parent's interquartile range."""
    gain = (pm - cm) if lower else (cm - pm)
    by_wins = wins * 10 >= 9 * pairs
    by_iqr = gain > p3 - p1
    verdict = "MET" if by_wins and by_iqr else "NOT MET"
    return (f"claim: better in {wins}/{pairs} (needs 9/10): {'yes' if by_wins else 'no'}; "
            f"median gain {gain:.6g} > parent IQR {p3 - p1:.6g}: {'yes' if by_iqr else 'no'}: {verdict}")


def summarize(rows, args, better, bounds):
    sel = [r for r in rows if r["workload"] == args.workload
           and r["trace"] == args.trace and r["round"] == "final"]
    side = {c: {r["seed"]: r for r in sel if r["code"] == c} for c in ("parent", "change")}
    seeds = sorted(set(side["parent"]) & set(side["change"]))
    if not seeds:
        return
    failed = sum(r["result"]["failed"] for r in sel)
    print(f"\n{args.workload} trace={args.trace}: "
          f"{len(seeds)} pairs (seeds {seeds[0]}..{seeds[-1]}), failed ops {failed}")
    metrics = sorted(side["parent"][seeds[0]]["result"]["metrics"])
    for k in metrics:
        val = {c: [side[c][s]["result"]["metrics"][k]["value"] for s in seeds]
               for c in side}
        lower = better.get(k, "lower") == "lower"
        wins = sum(1 for p, c in zip(val["parent"], val["change"])
                   if (c < p if lower else c > p))
        ties = sum(1 for p, c in zip(val["parent"], val["change"]) if c == p)
        (pm, p1, p3), (cm, c1, c3) = quartiles(val["parent"]), quartiles(val["change"])
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        print(f"  {k:24s} parent {pm:.6g} [{p1:.6g}, {p3:.6g}]  change {cm:.6g} "
              f"[{c1:.6g}, {c3:.6g}]  {delta:+.1f} %  better in {wins}/{len(seeds)}"
              + (f" ({ties} ties)" if ties else "")
              + f"  |diff| {'>' if abs(cm - pm) > p3 - p1 else '<='} parent IQR {p3 - p1:.6g}")
        if k in bounds:
            print(f"  {'':24s} {bound_check(pm, cm, lower, bounds[k])}")
        if k in args.claim:
            print(f"  {'':24s} {claim_check(pm, cm, p1, p3, lower, wins, len(seeds))}")
    per_op = {c: {} for c in side}
    for c in side:
        for s in seeds:
            for o in side[c][s].get("ops", []):
                per_op[c].setdefault(o["name"], []).append(unshared(o))
    names = sorted(set(per_op["parent"]) & set(per_op["change"]))
    if names:
        print("  median seconds per op (all ops of the pairs' runs):")
    for n in names:
        pm, cm = (statistics.median(per_op[c][n]) for c in ("parent", "change"))
        print(f"    {n:28s} parent {pm:.4g} ({len(per_op['parent'][n])})  "
              f"change {cm:.4g} ({len(per_op['change'][n])})  {(cm - pm) / pm * 100:+.1f} %")


def main():
    repo = git("rev-parse", "--show-toplevel")
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--topic", required=True, help="writes BENCH_<topic>.json")
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workdir", default=".bench_pairs",
                    help="where the two checkouts live")
    ap.add_argument("--summary-only", action="store_true",
                    help="print the summary of BENCH_<topic>.json and run nothing")
    metrics = bench["end_to_end"] + bench["per_layer"]
    ap.add_argument("--claim", action="append", default=[],
                    choices=[m["name"] for m in metrics], metavar="METRIC",
                    help="a metric the change claims to improve (repeatable)")
    args = ap.parse_args()
    better = {m["name"]: m["better"] for m in metrics}
    bounds = {m["name"]: m["bound"] for m in metrics if "bound" in m}
    out = f"BENCH_{args.topic}.json"
    rows = []
    if os.path.exists(out):
        with open(out) as f:
            rows = json.load(f)

    if not args.summary_only:
        paths = {c: os.path.abspath(os.path.join(args.workdir, c)) for c in ("parent", "change")}
        for c, rev in (("parent", args.parent), ("change", args.change)):
            print(f"{c}: {checkout(repo, paths[c], rev)[:12]} at {paths[c]}", flush=True)
        for c in ("parent", "change"):
            rows.append(run(c, paths[c], args, bench["run_seconds"], WARMUP_SEED, "warmup"))
            save(out, rows)
        for seed in range(args.first_seed, args.first_seed + args.pairs):
            order = ("change", "parent") if seed % 2 else ("parent", "change")
            for c in order:
                rows.append(run(c, paths[c], args, bench["run_seconds"], seed, "final"))
                save(out, rows)
    summarize(rows, args, better, bounds)


if __name__ == "__main__":
    main()
