#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run

  1. builds the program and the harness from source (`build.py`),
  2. reuses or generates the seeded corpus (`corpus.py`),
  3. starts one JVM (`harness/Harness.scala`): session + warm-up
     (`setup_s`), a cold pass over the workload's keys, warm passes for
     `--seconds`, a probe of what the session still holds, and an
     untimed check phase that writes every key's result,
  4. checks the results against the DuckDB oracles (`oracle.py`),
  5. prints every metric by name with its unit, then one JSON line:
     the end-to-end metrics with `--trace 0`, the per-layer metrics of
     a listener-traced run (`trace.py`) with `--trace 1`,
  6. removes everything the run wrote except the corpus cache and the
     trace's spans (`.bench_traces/`).

Workloads, key lists and the layer map are in `workloads.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import oracle  # noqa: E402
import trace  # noqa: E402

ROOT = os.getcwd()
# the end-to-end metrics of the result line; the others are printed only:
# failed_frac is 0 on a correct program (the result line carries it as
# failed/attempted), and a per-call percentile is one key's time, too
# noisy run to run at this run length to hold a bound
BOUNDED = ["setup_s", "cold_pass_s", "warm_pass_s", "retained_mb"]
# a run must end within 180 s; the JVM gets what is left of that
RUN_LIMIT_S = 170
# every workload: a corpus of one copy, at least MIN_WARM warm passes,
# the first SETTLE of which let the JIT settle and are not reported
SCALE = 1
MIN_WARM = 8
SETTLE = 4


def percentile(xs, p):
    xs = sorted(xs)
    r = p / 100 * (len(xs) - 1)
    lo = int(r)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)


def corpus_dir(seed, scale):
    # cached per (seed, scale) and generator version
    with open(os.path.join(HERE, "corpus.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(ROOT, ".bench_data", f"corpus-s{seed}-x{scale}-{gen}")
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        corpus.generate(d, seed, scale)
        open(done, "w").close()
    return d


def run_jvm(classpath, wl, data, run_dir, seconds, trace_on, deadline):
    out = os.path.join(run_dir, "out")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(out)
    args = ["--corpus", data, "--keys", ",".join(wl["keys"]),
            "--seconds", str(seconds), "--trace", "1" if trace_on else "0",
            "--min-warm", str(MIN_WARM), "--settle", str(SETTLE)]
    cmd = build.harness_cmd(classpath, run_dir, args)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=run_dir)
        try:
            code = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"harness JVM failed ({code})")
    with open(result) as f:
        return json.load(f), out


def end_to_end(r, wl):
    # warm = after the cold pass and the JIT-settling passes
    warm = lambda p: p > SETTLE
    warm_passes = [p["s"] for p in r["passes"] if warm(p["pass"])]
    cold = [p["s"] for p in r["passes"] if p["pass"] == 0][0]
    warm_calls = [(c["t1"] - c["t0"]) / 1e3 for c in r["calls"] if warm(c["pass"])]
    # the highest percentile with at least ten samples beyond it, fixed
    # per workload by its minimum sample count so that it does not move
    # with the number of passes a run happens to fit
    n_min = (MIN_WARM - SETTLE) * len(wl["keys"])
    tail_p = int(100 * (1 - 10 / n_min))
    m = {
        "setup_s": (r["setup_s"], "s"),
        "cold_pass_s": (cold, "s"),
        "warm_pass_s": (statistics.median(warm_passes), "s"),
        "call_p50_s": (statistics.median(warm_calls), "s"),
        "call_tail_s": (percentile(warm_calls, tail_p), "s"),
        "retained_mb": (r["probe"]["retained_mb"], "MB"),
    }
    notes = {"call_tail_s": f"p{tail_p} of n={len(warm_calls)} warm calls",
             "call_p50_s": f"n={len(warm_calls)} warm calls",
             "warm_pass_s": f"median of {len(warm_passes)} warm passes "
                            f"(after {SETTLE} settling passes)"}
    return m, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    wl = spec["workloads"].get(a.workload)
    if wl is None:
        raise SystemExit(f"unknown workload {a.workload}")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("run from the root of a graft checkout")

    classpath = build.build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 30)  # after a build
    data = corpus_dir(a.seed, SCALE)
    run_dir = os.path.join(ROOT, ".bench_run")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        r, out = run_jvm(classpath, wl, data, run_dir, a.seconds,
                         a.trace == 1, deadline)
        verdict = oracle.check(data, out, wl["keys"], r["oracle_sql"],
                               r["check_errors"])
    finally:
        # nothing the run wrote may reach the next run's numbers
        shutil.rmtree(run_dir, ignore_errors=True)

    wrong = {k for k, v in verdict.items() if v}
    attempted = len(r["calls"])
    failed = sum(1 for c in r["calls"] if c["error"] or c["key"] in wrong)
    for k, v in sorted(verdict.items()):
        if v:
            print(f"[check] {k}: {v}")
    for c in r["calls"]:
        if c["error"]:
            print(f"[error] {c['key']} pass {c['pass']}: {c['error']}")

    by_key = {}
    for c in r["calls"]:
        by_key.setdefault(c["key"], []).append((c["t1"] - c["t0"]) / 1e3)
    for k, ts in by_key.items():
        settled = ts[1 + SETTLE:]
        warm = f"{statistics.median(settled):8.3f}" if settled else "       -"
        print(f"[call] {k:>24} cold {ts[0]:8.3f} s  warm median {warm} s")

    m, notes = end_to_end(r, wl)
    m["failed_frac"] = (failed / attempted, "ratio")
    print(f"# workload {a.workload} seed {a.seed} scale {SCALE} "
          f"keys {len(wl['keys'])} cpus {r['cpus']}")
    for k, (v, u) in m.items():
        print(f"{k:>24} {v:12.4f} {u:6} {notes.get(k, '')}")
    if a.trace:
        acc, spans = trace.layers(r, wl["artifact_keys"], SETTLE)
        tdir = os.path.join(ROOT, ".bench_traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump(spans, f)
        for k, v in acc.items():
            print(f"{k:>24} {v:12.4f} {trace.LAYER_UNITS[k]}")
        metrics = {k: {"value": v, "unit": trace.LAYER_UNITS[k]}
                   for k, v in acc.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()
                   if k in BOUNDED}
    print(json.dumps({"correct": not wrong and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
