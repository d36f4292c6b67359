#!/usr/bin/env python3
"""graft benchmark: fixed TPC-H mixes through `graft.SparkEntry.queries`.

    python3 perfbench/run.py --workload tpch_sf0.001 --seed 1 --seconds 5 --trace 0

builds the library and the bench main from source into `.bench_build/`,
runs the mix over the workload's tables (perfbench/data) in one JVM, in a
query order drawn from the seed, and checks the first and last execution of
every query against its DuckDB oracle with dev/check.py. The last line of
standard output is one JSON object with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
ORACLE_CHECK = os.path.join(ROOT, "dev", "check.py")

# q8 stands where TPC-H headline mixes have q9: q9 reads a table the
# library stages under /tmp, and a run writes only inside its checkout.
TPCH_MIX = ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
            "q6_forecast_revenue", "q8_market_share", "q12_priority_shipping",
            "q13_customer_distribution", "q14_promo_effect", "q18_large_volume",
            "q21_waiting_supplier"]

# workload -> its tables, a directory under perfbench/data
WORKLOADS = {"tpch_sf0.01": "sf0.01", "tpch_sf0.001": "sf0.001"}

# After the cold set-up pass a run makes WARMUPS untimed passes, then a
# timed region of at least TIMED_PASSES whole passes. Sized so that a run
# takes under a minute on a 4-core host; see README.md for the JIT drift
# that is left.
WARMUPS = 2
TIMED_PASSES = 1

END_TO_END_UNITS = {"setup_s": "s", "round_s": "s", "query_geomean_s": "s",
                    "heap_retained_mb": "MB"}

# a run must end within 180 s: the JVM, then two oracle checks of about 1 s
JVM_TIMEOUT_S = 140
ORACLE_TIMEOUT_S = 15

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def heap_size():
    """The heap the repo's test runs use: half the host memory, 2g to 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def spark_jars():
    """$SPARK_HOME/jars, else the jar dir the sbt build compiles against
    (`unmanagedBase` in build.sbt)."""
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            jars = ""
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def scala_sources(base):
    if not os.path.isdir(base):
        raise SystemExit(f"perfbench: no Scala sources at {base}")
    return sorted(os.path.join(d, f) for d, _, files in os.walk(base)
                  for f in files if f.endswith(".scala"))


def compile_once(name, srcs, classpath, salt=""):
    """Compile `srcs` into .bench_build/<name>, once per source state (a
    hash of the sources and `salt` is kept beside the classes)."""
    h = hashlib.sha256(salt.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, name)
    stamp = classes + ".stamp"
    if os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return classes, h.hexdigest()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = classes + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    log(f"perfbench: compiling {len(srcs)} sources into {name}")
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", classpath, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes, h.hexdigest()


def build(jars):
    """Compile src/main/scala, then the bench main against it; return the
    run classpath."""
    spark = os.path.join(jars, "*")
    lib, lib_hash = compile_once("lib", scala_sources(os.path.join(ROOT, "src", "main", "scala")),
                                 spark)
    bench, _ = compile_once("bench", scala_sources(os.path.join(HERE, "scala")),
                            f"{lib}:{spark}", salt=lib_hash)
    return f"{bench}:{lib}:{spark}"


def run_jvm(classpath, mix, data_dir, work, seed, seconds, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *ADD_OPENS, f"-Xmx{heap_size()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "perfbench.Main",
           "--mix", ",".join(mix), "--sf-dir", data_dir, "--work", work,
           "--seed", str(seed), "--seconds", str(seconds), "--warmups", str(WARMUPS),
           "--timed-passes", str(TIMED_PASSES), "--trace", str(trace)]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s; log in {work}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited {rc}; log in {out.name}")
    with open(os.path.join(work, "jvm.json")) as f:
        return json.load(f)


def check_results(mix, oracle_sql, data_dir, work, failed):
    """Oracle mismatches of the first and last executions, as (query,
    phase, what differs). Runs dev/check.py over each execution's dumps;
    an execution in `failed` (query, phase) has no dump and is skipped."""
    if not os.path.isfile(ORACLE_CHECK):
        raise SystemExit(f"perfbench: oracle check {ORACLE_CHECK} not found")
    bad = []
    for phase, dump in (("setup", "first"), ("check", "last")):
        out = os.path.abspath(os.path.join(work, "check", dump))
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump(oracle_sql, f)
        # DuckDB spills to ./.tmp: run it inside the work dir
        r = subprocess.run([sys.executable, ORACLE_CHECK, out, data_dir], cwd=work,
                           capture_output=True, text=True, timeout=ORACLE_TIMEOUT_S)
        with open(os.path.join(work, f"oracle_{dump}.log"), "w") as f:
            f.write(r.stdout + r.stderr)
        verdicts = {}
        for line in r.stdout.splitlines():
            m = re.match(r"(ok|FAIL|ERR)\s+([^\s:]+):?\s*(.*)", line)
            if m:
                verdicts[m.group(2)] = (m.group(1), m.group(3))
        missing = " ".join(["no oracle verdict", r.stderr.strip()[-300:]]).strip()
        for q in mix:
            if (q, phase) in failed:
                continue
            verdict, detail = verdicts.get(q, (None, missing))
            if verdict != "ok":
                bad.append((q, phase, detail))
    return bad


def end_to_end(jvm):
    """The gated end-to-end metrics, and the query latency percentiles for
    the report."""
    execs = [(e["q"], e["s"]) for r in jvm["passes"] for e in r["execs"] if e["ok"]]
    if not execs:
        raise SystemExit("perfbench: no timed execution succeeded")
    times = [s for _, s in execs]
    values = {
        "setup_s": jvm["setup_s"],
        "round_s": statistics.median(r["wall"] for r in jvm["passes"]),
        "query_geomean_s": stats.geomean(list(stats.per_key_medians(execs).values())),
        "heap_retained_mb": jvm["heap_retained_mb"],
    }
    p, v, beyond = stats.tail(times)
    latency = {"query_p50_s": statistics.median(times), "query_tail_s": v,
               "tail_percentile": p, "samples": len(times), "samples_beyond_tail": beyond}
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}, latency


def run_workload(name, tables, seed, seconds, trace, mix=TPCH_MIX):
    """Runs one workload over perfbench/data/<tables>; returns (result
    line, report, end-to-end metrics). The run's files stay in its work dir
    until the next run of the same workload, seed and trace setting."""
    t = time.time()
    jars = spark_jars()
    classpath = build(jars)
    data_dir = os.path.join(DATA, tables)
    if not os.path.isfile(os.path.join(data_dir, "lineitem.parquet")):
        raise SystemExit(f"perfbench: no tables at {data_dir}")
    log(f"perfbench: build {time.time() - t:.1f}s")
    work = os.path.join(BUILD, "runs", f"{name}_seed{seed}_trace{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t = time.time()
    jvm = run_jvm(classpath, mix, data_dir, work, seed, seconds, trace)
    log(f"perfbench: JVM {time.time() - t:.1f}s")
    failed = {(f["q"], f["phase"]) for f in jvm["failures"]}
    mismatches = check_results(mix, jvm["oracle_sql"], data_dir, work, failed)
    failures = jvm["failures"] + [
        {"q": q, "phase": f"oracle:{p}", "error": d} for q, p, d in mismatches]
    attempted = jvm["executions"]
    e2e, latency = end_to_end(jvm)
    metrics = layers.per_layer(os.path.join(work, "trace.jsonl"), jvm) if trace else e2e
    report = {
        "workload": name, "seed": seed, "tables": tables, "mix": mix,
        "latency": latency, "failed_frac": len(failures) / attempted,
        "warmup_s": jvm["warmup_s"], "timed_passes": len(jvm["passes"]),
        "failures": failures,
    }
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics}
    return result, report, e2e


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops and waits for its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for name in WORKLOADS if a.workload == "all" else [a.workload]:
        result, report, e2e = run_workload(name, WORKLOADS[name], a.seed, a.seconds, a.trace)
        for k, m in sorted(e2e.items()):
            print(f"{name} {k} {m['value']:.6g} {m['unit']}")
        lat = report["latency"]
        print(f"{name} query_p50_s {lat['query_p50_s']:.6g} s ({lat['samples']} samples)")
        print(f"{name} query_tail_s {lat['query_tail_s']:.6g} s (p{lat['tail_percentile']}, "
              f"{lat['samples_beyond_tail']} of {lat['samples']} samples beyond)")
        print(f"{name} failed_frac {report['failed_frac']:.6g} ratio")
        print(json.dumps({"report": report}))
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
