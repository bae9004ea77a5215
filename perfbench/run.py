#!/usr/bin/env python3
"""Benchmark runner: one run of one workload, printed as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <batch|hot_path>
      --seed <n> --seconds <s> --trace <0|1>

It builds the benchmark program (perfbench/build.sbt, which depends on the
project in the repository root) when the sources changed, checks the batch
tables against perfbench/data/SHA256SUMS, launches the benchmark JVM,
checks the outputs (the batch workload through tools/check.py and DuckDB,
the hot path inside the JVM against a plain computation over the generated
events), and prints a self-describing record line followed by the result
line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The exit code is 0 only when every
check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("batch", "hot_path")
HEAP = "3g"
# the project's fixed test tables (sf 0.01); --seed drives the query order
# and the stream
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 170
# a run counts as disturbed when other processes used more than this many
# cores on average, or the hypervisor stole more than this share of time
DISTURBED_FOREIGN_CPUS = 1.0
DISTURBED_STEAL_SHARE = 0.05
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the benchmark and the project when their sources changed."""
    digest = source_hash()
    stamp = os.path.join(WORK, "build", digest)
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        return digest, open(cp_file).read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_file):
        tail = open(log).read().splitlines()[-30:]
        die("build failed:\n" + "\n".join(tail))
    open(stamp, "w").write(digest)
    return digest, open(cp_file).read().strip()


def check_tables(data):
    """The batch tables must be the ones listed in data/SHA256SUMS."""
    sums = os.path.join(HERE, "data", "SHA256SUMS")
    want = {}
    with open(sums) as f:
        for line in f:
            digest, name = line.split()
            want[os.path.join(os.path.dirname(sums), name)] = digest
    listed = [p for p in want if os.path.dirname(p) == os.path.abspath(data)]
    if not listed or sorted(listed) != sorted(
            os.path.join(os.path.abspath(data), f) for f in os.listdir(data)):
        die(f"{data}: the tables there are not the ones listed in {sums}")
    for p in listed:
        with open(p, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want[p]:
                die(f"{p} differs from its checksum in {sums}")


def cpu_sample():
    """(loadavg 1 min, total jiffies, idle jiffies, steal jiffies, own jiffies)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    idle = cpu[3] + cpu[4]
    steal = cpu[7] if len(cpu) > 7 else 0
    t = os.times()
    own = (t.children_user + t.children_system + t.user + t.system) * os.sysconf("SC_CLK_TCK")
    return {"loadavg1": load1, "total": sum(cpu[:8]), "idle": idle, "steal": steal,
            "own": own, "wall": time.time()}


def host_report(a, b):
    ticks = os.sysconf("SC_CLK_TCK")
    dt = max(b["wall"] - a["wall"], 1e-9)
    total = max(b["total"] - a["total"], 1)
    busy = (total - (b["idle"] - a["idle"])) / ticks
    foreign = max(0.0, busy - (b["own"] - a["own"]) / ticks) / dt
    steal = (b["steal"] - a["steal"]) / total
    return {"loadavg1_start": a["loadavg1"], "loadavg1_end": b["loadavg1"],
            "steal_share": steal, "foreign_cpus": foreign,
            "disturbed": foreign > DISTURBED_FOREIGN_CPUS or steal > DISTURBED_STEAL_SHARE}


def jvm(cp, args, run_dir):
    """Run the benchmark JVM to completion; returns its result record."""
    out = os.path.join(run_dir, "out")
    # a fixed heap size and a metaspace large enough for Spark's classes
    # keep the collector from resizing the heap with full collections
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:MetaspaceSize=256m",
           "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", run_dir, "--out", out] + args
    cmd += ["--launch-epoch-ms", repr(time.time() * 1000.0)]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its temporary
    # files inside the work dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run_dir, "jvm.log"), "a") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("benchmark JVM timed out")
    path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(path):
        tail = open(os.path.join(run_dir, "jvm.log")).read().splitlines()[-30:]
        die(f"benchmark JVM failed (exit {rc}):\n" + "\n".join(tail))
    with open(path) as f:
        return json.load(f)


def oracle_failures(data, check_dir, queries_without_oracle):
    """Batch output check: tools/check.py (DuckDB oracle) for every query
    that has an oracle; at least one row for the few that have none."""
    rec = os.path.join(check_dir, "oracle_gate.json")
    try:
        proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                               data, check_dir, "--json", rec],
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=120)
    except subprocess.TimeoutExpired:
        die("tools/check.py timed out")
    if not os.path.exists(rec):
        die("tools/check.py wrote no record:\n" + proc.stdout[-2000:])
    fails = dict(json.load(open(rec))["failures"])
    import pyarrow.parquet as pq
    for q in queries_without_oracle:
        d = os.path.join(check_dir, q)
        files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")] \
            if os.path.isdir(d) else []
        if sum(pq.ParquetFile(f).metadata.num_rows for f in files) == 0:
            fails[q] = "no rows"
    return fails


def metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("none", "fail", "wrong"), default="none",
                    help="self-test only: make one query fail or return a wrong row")
    ap.add_argument("--data", default=DATA,
                    help="batch table directory (self-test only; results are not comparable)")
    a = ap.parse_args()

    for need in ("build.sbt", "BENCHMARK.json", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    e2e_names, layer_names = metric_names()

    digest, cp = build()
    data = ""
    if a.workload == "batch":
        data = os.path.abspath(a.data)
        check_tables(data)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--inject", a.inject]
    try:
        h0 = cpu_sample()
        res = jvm(cp, args, run_dir)
        h1 = cpu_sample()
        if "fatal" in res:
            die("benchmark failed: " + res["fatal"])
        run_name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        if a.trace:
            shutil.copy(os.path.join(run_dir, "out", "spans.json"),
                        os.path.join(WORK, "results", f"{run_name}-spans.json"))
        t_check = time.time()
        if a.workload == "batch":
            errors = dict(res["query_errors"])
            for q, msg in oracle_failures(data, res["check_dir"],
                                          res["queries_without_oracle"]).items():
                errors.setdefault(q, msg)
            attempted, failed, failures = res["attempted"], len(errors), errors
        else:
            attempted, failed, failures = res["attempted"], res["failed"], res["failures"]
        phases = {"jvm_s": h1["wall"] - h0["wall"], "check_s": time.time() - t_check}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(res["e2e"])
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    layers = res.get("per_layer", {})
    if a.trace:
        names, values = layer_names, layers
    else:
        names, values = e2e_names, e2e
    metrics = {}
    # metrics the workload does not touch, or whose reading is not what its
    # name says on this workload (a p99 with fewer than 10 samples above it)
    missing = [n for n, _ in names if n in res.get("not_applicable", {})]
    for name, unit in names:
        v = values.get(name)
        if not isinstance(v, (int, float)) or v != v:
            missing.append(name)
            v = 0.0
        metrics[name] = {"value": v, "unit": unit}

    host = host_report(h0, h1)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "traced": bool(a.trace),
        "commit": commit(), "source_hash": digest, "nproc": os.cpu_count(),
        "master": res["master"], "xmx": HEAP, "max_heap_mb": res["max_heap_mb"],
        "jdk": res["java_version"], "spark": res["spark_version"],
        "tables": os.path.relpath(data, ROOT) if data else None,
        "host": host, "phases_s": phases,
        "not_applicable": missing, "not_applicable_why": res.get("not_applicable", {}),
        "failures": failures,
        "e2e": e2e, "per_layer": layers, "details": res.get("details", {}),
        "confs": res["confs"],
    }
    with open(os.path.join(WORK, "results", f"{run_name}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if host["disturbed"]:
        print(f"perfbench: run disturbed: {json.dumps(host)}", file=sys.stderr)
    print(json.dumps({"record": {k: record[k] for k in (
        "workload", "seed", "traced", "commit", "source_hash", "nproc", "master", "xmx",
        "jdk", "spark", "host", "not_applicable", "not_applicable_why")}, "failures": failures}))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
