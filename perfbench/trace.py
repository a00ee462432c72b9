"""Spans and per-layer metrics of a traced run.

Spans: each call is a root span (one id per call) with three children
measured by the harness -- the `SparkEntry` call, the noop write and
`Scratch.release`. Spark jobs are children of the call whose job group
they carry (or, for jobs started on other threads such as stream
micro-batches, of the call running when they started); stages are
children of the first job that lists them; stream triggers are
children of the call running when they started. A span's self time is
its duration minus the part of it its children cover.

Layer metrics are averages over the traced settled warm passes (the
warm passes after the JIT-settling ones), except the artifact metrics,
which compare each artifact key's cold call with its median settled
warm call.
"""
import re
import statistics

MB = 1024.0 * 1024.0

# a stage whose call site is a write action: a table or file sink commit
# (the v2 graft sink reports no task output metrics, so its write time
# is found by call site). The harness's own noop writes are not sinks.
WRITE_SITE = re.compile(r"^(save|saveAsTable|insertInto|parquet|json|csv|orc|"
                        r"text|append|overwrite|overwritePartitions|create|"
                        r"createOrReplace|replace) at (?!Harness\.scala)")

STREAM_PHASES = ["addBatch", "walCommit", "commitOffsets", "queryPlanning",
                 "getBatch", "latestOffset"]

# per-layer metric name -> unit, in report order
LAYER_UNITS = {
    "SparkEntry.call_s": "s", "exec_s": "s", "Scratch.release_s": "s",
    "call.self_s": "s",
    "scan.input_mb": "MB", "scan.input_rows": "count", "scan.task_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.records": "count", "shuffle.fetch_wait_s": "s",
    "task.count": "count", "task.run_s": "s", "task.cpu_s": "s",
    "task.gc_s": "s", "stage.count": "count", "job.count": "count",
    "spill.mem_mb": "MB", "spill.disk_mb": "MB",
    "driver.only_s": "s", "driver.result_mb": "MB",
    "artifact.build_s": "s", "artifact.serve_s": "s",
    "storage.cached_mb": "MB", "tmpdir.mb": "MB",
    "stream.triggers": "count", "stream.trigger_s": "s",
    **{f"stream.{p}_s": "s" for p in STREAM_PHASES},
    "stream.input_rows": "count", "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "sink.output_mb": "MB", "sink.output_rows": "count", "sink.write_s": "s",
    "task.failed": "count", "stage.retried": "count",
    "cold.SparkEntry.call_s": "s", "cold.exec_s": "s",
    "cold.driver.only_s": "s", "cold.task.run_s": "s",
    "trace.overhead_s": "s",
}


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of the intervals."""
    iv = sorted((max(lo, a), min(hi, b)) for a, b in intervals
                if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in iv:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def build_spans(calls, trace):
    """Flat span list with parents, durations (ms) and self times."""
    spans = []
    by_id = {c["id"]: c for c in calls}
    ordered = sorted(calls, key=lambda c: c["t0"])

    def call_at(t):
        for c in ordered:
            if c["t0"] <= t <= c["t1"]:
                return c["id"]
        return None

    for c in calls:
        spans.append({"id": c["id"], "parent": None, "name": "call",
                      "key": c["key"], "pass": c["pass"],
                      "start": c["t0"], "end": c["t1"]})
        for name, a, b in (("SparkEntry.call", c["t0"], c["t_entry"]),
                           ("noop.write", c["t_entry"], c["t_noop"]),
                           ("Scratch.release", c["t_noop"], c["t1"])):
            spans.append({"id": f"{c['id']}.{name}", "parent": c["id"],
                          "name": name, "start": a, "end": b})
    stage_job = {}
    for j in trace["jobs"]:
        parent = j["group"] if j["group"] in by_id else call_at(j["start"])
        end = j["end"] or j["start"]
        spans.append({"id": f"job{j['id']}", "parent": parent, "name": "job",
                      "start": j["start"], "end": end, "ok": j["ok"]})
        for s in j["stages"]:
            stage_job.setdefault(s, f"job{j['id']}")
    for s in trace["stages"]:
        spans.append({"id": f"stage{s['id']}.{s['attempt']}",
                      "parent": stage_job.get(s["id"]), "name": "stage",
                      "start": s["submit"], "end": s["complete"] or s["submit"],
                      "failed": s["failed"], "m": s["m"],
                      "write": bool(WRITE_SITE.match(s.get("name", "")))})
    for t in trace["triggers"]:
        total = t["ms"].get("triggerExecution", 0)
        spans.append({"id": f"trigger.{t['run_id']}.{t['batch']}",
                      "parent": call_at(t["start"]), "name": "trigger",
                      "start": t["start"], "end": t["start"] + total,
                      "ms": t["ms"], "input_rows": t["input_rows"],
                      "state_rows": t["state_rows"],
                      "state_bytes": t["state_bytes"], "run_id": t["run_id"]})
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = [(k["start"], k["end"]) for k in children.get(s["id"], [])]
        s["dur"] = s["end"] - s["start"]
        s["self"] = s["dur"] - covered(s["start"], s["end"], kids)
    return spans


def layers(result, artifact_keys, settle):
    """Per-layer metrics of a traced run (see LAYER_UNITS)."""
    calls, trace = result["calls"], result["trace"]
    spans = build_spans(calls, trace)
    by_id = {s["id"]: s for s in spans}
    call_pass = {c["id"]: (c["pass"], c["traced"]) for c in calls}

    def root(s):
        while s and s["parent"] is not None:
            s = by_id.get(s["parent"])
        return s["id"] if s and s["name"] == "call" else None

    traced_warm = sorted({p for p, tr in call_pass.values() if p > settle and tr})
    n = max(1, len(traced_warm))
    acc = {k: 0.0 for k in LAYER_UNITS}

    def add(name, v, pass_):
        if pass_ in traced_warm:
            acc[name] += v / n
        elif pass_ == 0 and "cold." + name in acc:
            acc["cold." + name] += v

    last_trigger = {}
    for s in spans:
        cid = root(s)
        if cid is None:
            continue
        p, _ = call_pass[cid]
        name = s["name"]
        if name == "call":
            jobs = [(k["start"], k["end"]) for k in spans
                    if k["name"] == "job" and k["parent"] == s["id"]]
            add("driver.only_s", (s["dur"] - covered(s["start"], s["end"], jobs)) / 1e3, p)
            add("call.self_s", s["self"] / 1e3, p)
        elif name == "SparkEntry.call":
            add("SparkEntry.call_s", s["dur"] / 1e3, p)
        elif name == "noop.write":
            add("exec_s", s["dur"] / 1e3, p)
        elif name == "Scratch.release":
            add("Scratch.release_s", s["dur"] / 1e3, p)
        elif name == "job":
            add("job.count", 1, p)
        elif name == "stage":
            m = s["m"]
            add("stage.count", 1, p)
            if s["write"]:
                add("sink.write_s", m.get("run_ms", 0.0) / 1e3, p)
            if s["failed"] or s["id"].split(".")[1] != "0":
                add("stage.retried", 1, p)
            for metric, field, scale in (
                    ("scan.input_mb", "input_bytes", MB),
                    ("scan.input_rows", "input_rows", 1),
                    ("scan.task_s", "scan_run_ms", 1e3),
                    ("shuffle.write_mb", "shuffle_write_bytes", MB),
                    ("shuffle.read_mb", "shuffle_read_bytes", MB),
                    ("shuffle.records", "shuffle_write_rows", 1),
                    ("shuffle.fetch_wait_s", "fetch_wait_ms", 1e3),
                    ("task.count", "tasks", 1),
                    ("task.run_s", "run_ms", 1e3),
                    ("task.cpu_s", "cpu_ns", 1e9),
                    ("task.gc_s", "gc_ms", 1e3),
                    ("spill.mem_mb", "spill_mem_bytes", MB),
                    ("spill.disk_mb", "spill_disk_bytes", MB),
                    ("driver.result_mb", "result_bytes", MB),
                    ("sink.output_mb", "output_bytes", MB),
                    ("sink.output_rows", "output_rows", 1),
                    ("task.failed", "tasks_failed", 1)):
                add(metric, m.get(field, 0.0) / scale, p)
        elif name == "trigger":
            add("stream.triggers", 1, p)
            add("stream.trigger_s", s["ms"].get("triggerExecution", 0) / 1e3, p)
            for ph in STREAM_PHASES:
                add(f"stream.{ph}_s", s["ms"].get(ph, 0) / 1e3, p)
            add("stream.input_rows", s["input_rows"], p)
            # state size of a query is its last trigger's
            last_trigger[(p, s["run_id"])] = s
    for (p, _), s in last_trigger.items():
        add("stream.state_rows", s["state_rows"], p)
        add("stream.state_mb", s["state_bytes"] / MB, p)

    warm = {}
    cold = {}
    for c in calls:
        t = (c["t1"] - c["t0"]) / 1e3
        if c["pass"] == 0:
            cold[c["key"]] = t
        elif c["pass"] > settle:
            warm.setdefault(c["key"], []).append(t)
    for k in artifact_keys:
        if k in cold and warm.get(k):
            med = statistics.median(warm[k])
            acc["artifact.build_s"] += cold[k] - med
            acc["artifact.serve_s"] += med
    acc["storage.cached_mb"] = result["probe"]["storage.cached_mb"]
    acc["tmpdir.mb"] = result["probe"]["tmpdir.mb"]
    settled = [p for p in result["passes"] if p["pass"] > settle]
    traced = [p["s"] for p in settled if p["traced"]]
    untraced = [p["s"] for p in settled if not p["traced"]]
    if traced and untraced:
        acc["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return acc, spans
