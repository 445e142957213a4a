#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the library
together with the benchmark (sbt, under perfbench/); later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, drives one JVM through the workload, checks the results and
prints one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics of BENCHMARK.json, or with --trace 1 its
per-layer metrics). Everything it writes stays under perfbench/.work/.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources; return
    the runtime classpath."""
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    out = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def java_cmd(cp, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, main] + args)


def canon(v):
    """Cell canonicalisation of tools/check_oracle.py."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def oracle_failures(input_dir, results):
    """Compare each registry row's first-pass result with its DuckDB
    oracle; a row that differs fails every timed run of it."""
    import duckdb
    oracle = json.load(open(os.path.join(results, "oracle.json")))
    passes = int(open(os.path.join(results, "passes.txt")).read())
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            o = con.sql(sql)
            ocols = [c.lower() for c in o.columns]
            s = con.sql(f"SELECT * FROM '{results}/{name}/*.parquet'")
            scols = [c.lower() for c in s.columns]
            ok = (sorted(ocols) == sorted(scols)
                  and table_hash(o.fetchall(), ocols) == table_hash(s.fetchall(), scols))
            why = "differs from its oracle"
        except Exception as e:  # no oracle, a failing oracle or an unreadable result
            ok, why = False, f"oracle compare raised {e}"
        if not ok:
            failures += [f"{name}#{p}: {why}" for p in range(1, passes + 1)]
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path) or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout that holds BENCHMARK.json and src/main/scala/graft")
    spec = json.load(open(spec_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    layer_map = json.load(open(os.path.join(HERE, "metrics.json")))["per_layer"]

    cp = build()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    input_dir, work_dir, tmp = (os.path.join(run_dir, d) for d in ("input", "work", "tmp"))
    for d in (input_dir, work_dir, tmp):
        os.makedirs(d, exist_ok=True)
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), a.workload, str(a.seed), input_dir],
                       check=True, stdin=subprocess.DEVNULL)
        cores = min(4, os.cpu_count() or 1)
        try:
            proc = subprocess.run(
                java_cmd(cp, "perfbench.Main", [a.workload, input_dir, work_dir, str(a.seconds),
                                                str(a.trace), str(cores)], tmp),
                stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                text=True, timeout=150)
        except subprocess.TimeoutExpired:  # run() has killed and reaped the JVM
            fail("workload JVM did not finish within 150 s")
        result_path = os.path.join(work_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            sys.stderr.write(proc.stdout[-6000:])
            fail(f"workload JVM exited with {proc.returncode}")
        res = json.load(open(result_path))
        failures = res["failures"]
        attempted = res["attempted"]
        if a.workload == "registry_mix":
            failures += oracle_failures(input_dir, os.path.join(work_dir, "results"))
        if a.trace:
            shutil.copy(os.path.join(work_dir, "trace.jsonl"),
                        os.path.join(WORK, f"trace-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # self-check: every metric BENCHMARK.json names for this mode is
    # present, with a valid name and unit, so traced and untraced runs
    # always print their full sets
    measured = res["metrics"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if not NAME.match(name) or not UNIT.match(m["unit"]):
            fail(f"invalid metric name or unit: {name} [{m['unit']}]")
        if name in measured:
            v = measured[name]["value"]
        elif not a.trace or a.workload in layer_map[name]["measured_on"]:
            fail(f"metric {name} was not measured on {a.workload}")
        else:
            v = 0  # the workload does not call this layer
        if v is None:
            fail(f"metric {name} has no value")
        metrics[name] = {"value": v, "unit": m["unit"]}
    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    info = {k: measured[k]["value"] for k in ("op_samples", "bench.calib_s", "bench.calib_drift")
            if k in measured}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "setup_runs_s": res["setup_runs_s"],
                      "measure_wall_s": res["measure_wall_s"], **info,
                      "ops_ms": {k: round(v, 1) for k, v in res["ops_ms"].items()}}), file=sys.stderr)
    failed_ops = {f.split(": ", 1)[0] for f in failures}
    print(json.dumps({"correct": not failures, "attempted": max(attempted, 1),
                      "failed": min(len(failed_ops), max(attempted, 1)), "metrics": metrics}))


if __name__ == "__main__":
    main()
