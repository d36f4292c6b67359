"""Per-layer metrics from the events of one traced pass over the mix
(trace.jsonl): sums over the pass, except the storage peaks."""
import json

from stats import self_time

UNITS = {
    "build.wall_s": "s", "build.jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_s": "s", "sched.overhead_s": "s", "driver.self_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_frac": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "scan.rows": "count", "scan.bytes": "bytes",
    "storage.persisted_peak": "count", "storage.mem_peak_bytes": "bytes",
    "write.bytes": "bytes",
    "trace.overhead": "ratio",
}

# task field -> (metric, scale to the metric's unit)
TASK_SUMS = {
    "run_ms": ("exec.run_s", 1e-3), "cpu_ns": ("exec.cpu_s", 1e-9),
    "gc_ms": ("exec.gc_s", 1e-3), "shuffle_write": ("shuffle.write_bytes", 1),
    "shuffle_read": ("shuffle.read_bytes", 1), "fetch_wait_ms": ("shuffle.fetch_wait_s", 1e-3),
    "spill": ("spill.bytes", 1), "in_rows": ("scan.rows", 1), "in_bytes": ("scan.bytes", 1),
    "out_bytes": ("write.bytes", 1),
}


def read(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def aggregate(events, pass_wall, cores):
    """Layer metrics from trace events (see Tracer in PerfBench.scala)."""
    m = {k: 0.0 for k in UNITS}
    spans = {}  # query id -> {"query"|"build"|"exec": (t0, t1)}
    for e in events:
        if e["k"] == "span":
            spans.setdefault(e["id"], {})[e["span"]] = (e["t0"], e["t1"])
    job_start = {e["job"]: e for e in events if e["k"] == "job_start"}
    job_end = {e["job"]: e["t"] for e in events if e["k"] == "job_end"}
    jobs = {}  # query id -> [(t0, t1)]
    for j, s in job_start.items():
        t1 = job_end.get(j, s["t"])
        jobs.setdefault(s["id"], []).append((s["t"], t1))
        m["sched.jobs"] += 1
        m["sched.job_s"] += (t1 - s["t"]) / 1e3
        b = spans.get(s["id"], {}).get("build")
        if b and b[0] <= s["t"] <= b[1]:
            m["build.jobs"] += 1
    # phase times are whole ms: give each one to the query whose span holds it
    phases = {}
    for e in events:
        if e["k"] != "phase":
            continue
        for q, sp in spans.items():
            t0, t1 = sp["query"]
            if t0 - 1 <= e["t0"] <= t1:
                name = f"plan.{e['phase']}_s"
                if name in m:
                    m[name] += (e["t1"] - e["t0"]) / 1e3
                phases.setdefault(q, []).append((e["t0"], e["t1"]))
                break
    for q, sp in spans.items():
        m["build.wall_s"] += (sp["build"][1] - sp["build"][0]) / 1e3
        children = [sp["build"]] + phases.get(q, []) + jobs.get(q, [])
        m["driver.self_s"] += self_time(sp["query"], children) / 1e3
    for e in events:
        if e["k"] == "stage":
            m["sched.stages"] += 1
        elif e["k"] == "task":
            m["sched.tasks"] += 1
            m["sched.overhead_s"] += (e["wall_ms"] - e["run_ms"]) / 1e3
            for field, (name, scale) in TASK_SUMS.items():
                m[name] += e[field] * scale
    m["storage.persisted_peak"], m["storage.mem_peak_bytes"] = storage_peaks(events)
    m["exec.busy_frac"] = m["exec.run_s"] / (pass_wall * cores)
    return m


def storage_peaks(events):
    """Peak number of resident RDD blocks and peak bytes they hold in memory."""
    resident, peak_n, peak_mem = {}, 0, 0
    for e in sorted((e for e in events if e["k"] == "block"), key=lambda e: e["t"]):
        if e["mem"] + e["disk"] > 0:
            resident[e["block"]] = e["mem"]
        else:
            resident.pop(e["block"], None)
        peak_n = max(peak_n, len(resident))
        peak_mem = max(peak_mem, sum(resident.values()))
    return peak_n, peak_mem


def per_layer(trace_path, jvm):
    """The per_layer metrics block of the result line."""
    vals = aggregate(read(trace_path), jvm["traced_pass_s"], jvm["cores"])
    # the untraced pass right after the traced one, so JIT drift between
    # them is small
    vals["trace.overhead"] = jvm["traced_pass_s"] / jvm["control_pass_s"]
    return {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(vals.items())}

