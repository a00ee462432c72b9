#!/usr/bin/env python3
"""Paired benchmark runs: a base revision against the working checkout.

    python3 scripts/bench_pairs.py --base <rev> --workload <name> \\
        [--workload <name> ...] --seeds 931-940 [--trace 0|1] \\
        [--seconds 10] [--work <dir>] [--out runs.json]

Run from the root of a graft checkout. The script

  1. `git archive`s `<rev>` into `<work>/base` (a fresh copy per call)
     and links the checkout's `.bench_data` corpus cache into it, so
     both sides read the same seeded corpora;
  2. for every seed and workload, runs `perfbench/run.py` once in the
     base copy and once in the checkout, each as its own subprocess,
     alternating which side runs first (even pairs base first, odd
     pairs change first);
  3. prints, per workload and metric, each side's median [q1, q3], the
     change in the median, the pairs the change won (ties count for
     neither side), the base's interquartile range, and the verdict of
     the paired rule: a gain needs at least 10 pairs, at least 9/10 of
     them won, and a median difference larger than the base's IQR; a
     median worse than the base's by more than the metric's relative
     `BENCHMARK.json` bound is flagged;
  4. writes every run's metrics to `--out` when given.

The benchmark's own files are only run, never imported or changed.
Metric directions and bounds come from `BENCHMARK.json`. Besides the
result line's metrics, each key's cold call and warm median (the
`[call]` lines) are compared as `<key>.cold_s` and `<key>.warm_s`.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

CALL_LINE = re.compile(
    r"^\[call\]\s+(\S+) cold\s+([0-9.]+) s\s+warm median\s+([0-9.]+|-) s")


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quantile(xs, q):
    # linear interpolation between closest ranks, as perfbench reports
    xs = sorted(xs)
    r = q * (len(xs) - 1)
    lo = int(r)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)


def archive(rev, dest, data_cache):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    git = subprocess.Popen(["git", "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=git.stdout, check=True)
    if git.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")
    os.makedirs(data_cache, exist_ok=True)
    os.symlink(data_cache, os.path.join(dest, ".bench_data"))


def run_once(root, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return {"error": f"exit {p.returncode}"}
    result = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    for line in lines:
        m = CALL_LINE.match(line)
        if m:
            metrics[f"{m.group(1)}.cold_s"] = float(m.group(2))
            if m.group(3) != "-":
                metrics[f"{m.group(1)}.warm_s"] = float(m.group(3))
    return {"correct": result["correct"], "failed": result["failed"],
            "attempted": result["attempted"], "metrics": metrics}


def directions(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    d = {}
    for m in spec.get("end_to_end", []) + spec.get("per_layer", []):
        d[m["name"]] = (m.get("better", "lower"), m.get("bound"))
    return d


def fmt(x):
    return f"{x:.3f}"


def report(workload, pairs, dirs):
    ok = [(b, c) for b, c in pairs if "metrics" in b and "metrics" in c]
    print(f"\n## {workload}: {len(ok)} pairs "
          f"({len(pairs) - len(ok)} with a failed run)")
    bad = sum(1 for b, c in ok for r in (b, c)
              if not r["correct"] or r["failed"])
    print(f"runs not correct or with failed calls: {bad}")
    names = [k for k in ok[0][0]["metrics"] if k in ok[0][1]["metrics"]] \
        if ok else []
    print("| metric | base median [q1, q3] | change median [q1, q3] | "
          "delta | change wins | base IQR | verdict |")
    print("| --- | --- | --- | --- | --- | --- | --- |")
    for k in names:
        got = [(b["metrics"][k], c["metrics"][k]) for b, c in ok
               if k in b["metrics"] and k in c["metrics"]]
        base = [b for b, _ in got]
        chg = [c for _, c in got]
        better, bound = dirs.get(k, ("lower", None))
        sign = 1 if better == "lower" else -1
        wins = sum(1 for b, c in got if sign * (b - c) > 0)
        mb, mc = statistics.median(base), statistics.median(chg)
        iqr = quantile(base, 0.75) - quantile(base, 0.25)
        gain = sign * (mb - mc)
        rel = f"{(mc - mb) / mb * 100:+.1f}%" if mb else f"{mc - mb:+.3f}"
        if len(got) < 10:
            verdict = "fewer than 10 pairs"
        elif wins * 10 >= 9 * len(got) and gain > iqr:
            verdict = "gain"
        elif bound is not None and mb and -gain / abs(mb) > bound:
            verdict = "worse beyond bound"
        elif -gain > iqr:
            verdict = "worse than base IQR"
        else:
            verdict = "no gain claimed"
        print(f"| {k} | {fmt(mb)} [{fmt(quantile(base, 0.25))}, "
              f"{fmt(quantile(base, 0.75))}] | {fmt(mc)} "
              f"[{fmt(quantile(chg, 0.25))}, {fmt(quantile(chg, 0.75))}] "
              f"| {rel} | {wins}/{len(got)} | {fmt(iqr)} | {verdict} |")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="git rev of the base side")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 931-940 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--work", default=os.path.join(tempfile.gettempdir(),
                                                   "graft_bench_pairs"))
    ap.add_argument("--out")
    a = ap.parse_args()

    change = os.getcwd()
    if not os.path.isfile(os.path.join(change, "perfbench", "run.py")):
        raise SystemExit("run from the root of a graft checkout")
    base = os.path.join(os.path.abspath(a.work), "base")
    archive(a.base, base, os.path.join(change, ".bench_data"))
    dirs = directions(change)

    runs = {w: [] for w in a.workload}
    for i, seed in enumerate(seeds_of(a.seeds)):
        for w in a.workload:
            order = [("base", base), ("change", change)]
            if i % 2:
                order.reverse()
            got = {}
            for side, root in order:
                got[side] = run_once(root, w, seed, a.seconds, a.trace)
                got[side]["first"] = side == order[0][0]
                m = got[side].get("metrics", {})
                print(f"[pair {i}] {w} seed {seed} {side}: "
                      + " ".join(f"{k}={m[k]:.3f}" for k in
                                 ("cold_pass_s", "warm_pass_s") if k in m)
                      + ("" if "metrics" in got[side] else " FAILED"),
                      flush=True)
            runs[w].append((got["base"], got["change"]))
    for w, pairs in runs.items():
        report(w, pairs, dirs)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"base": a.base, "seeds": seeds_of(a.seeds),
                       "trace": a.trace,
                       "runs": {w: [{"base": b, "change": c} for b, c in p]
                                for w, p in runs.items()}}, f, indent=1)
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
