#!/usr/bin/env python3
"""The engine's benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload tpch|stream_reduce \
        --seed N --seconds S --trace 0|1

Run from the repository root. The launcher

1. checks that the program's sources, a JDK, the Spark jars and the test
   tables are there, and exits non-zero at once naming what is missing;
2. compiles the program (`src/main/scala`) and the benchmark
   (`perfbench/src`) with the Scala compiler shipped in the Spark jars,
   only when the sources changed since the last build;
3. runs the workload (`perfbench/src`) in its own `java` process on
   `local[nproc]`, in a fresh work directory that is removed at exit;
4. checks the outputs: batch results against DuckDB's answers to the
   program's oracle SQL; the stream's emitted windows against a digest
   folded from the rows fed (done in the JVM);
5. prints one line of run facts (cpus, sf, seed, control_s) and, last, the
   result line: {"correct", "attempted", "failed", "metrics"}. With
   `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
   `--trace 1` the per-layer ones.

The Spark jars are the ones build.sbt names (`unmanagedBase`), else
`$SPARK_HOME/jars`. Environment: PERFBENCH_DATA (test tables, default
~/testdata/sf0.1), PERFBENCH_CPUS (default: the CPUs this process may run
on).
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

T0_NS = time.time_ns()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark jars the build compiles against (`unmanagedBase` in
    build.sbt), else `$SPARK_HOME/jars`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = spark_jars()
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.1"))
BUILD = os.path.join(HERE, "build")
# The repo's own oracle gate: its table list and its row canonicalisation.
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
WORKLOADS = ("tpch", "stream_reduce")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def preflight():
    """Everything a run needs, or a message naming what is missing."""
    missing = []
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec):
        missing.append(f"benchmark spec {spec}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        missing.append(f"program sources {ROOT}/src/main/scala/graft")
    if not os.path.isdir(os.path.join(HERE, "src")):
        missing.append(f"benchmark sources {HERE}/src")
    if not os.path.isfile(CHECK_ORACLE):
        missing.append(f"the oracle gate {CHECK_ORACLE}")
    if shutil.which("java") is None:
        missing.append("a java executable on PATH")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        missing.append(f"Spark jars with the Scala compiler in {SPARK_JARS}")
    for mod in ("duckdb", "pyarrow"):  # the batch oracle
        if importlib.util.find_spec(mod) is None:
            missing.append(f"python module {mod} (for the DuckDB check)")
    if missing:
        die("cannot run, missing: " + "; ".join(missing))
    # The table list is the oracle gate's; it can be read only once the
    # gate and its modules are known to be there.
    absent = [t for t in oracle_gate().TABLES
              if not os.path.exists(os.path.join(DATA, f"{t}.parquet"))]
    if absent:
        die(f"cannot run, missing: test tables in {DATA}: {', '.join(absent)}")


def oracle_gate():
    """tools/check_oracle.py as a module (it imports duckdb and pyarrow)."""
    sys.path.insert(0, os.path.dirname(CHECK_ORACLE))
    import check_oracle
    return check_oracle


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + bench


def build():
    """Compiles program and benchmark when their sources changed; returns
    the classes directory and the seconds the build took (0 when current)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(SPARK_JARS, "scala-*.jar"))):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return classes, 0.0
    t0 = time.monotonic()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed:\n" + p.stdout[-4000:], 3)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, time.monotonic() - t0


def launch(args, classes, work, cpus):
    out = os.path.join(work, "report.json")
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp)
    # A fixed heap and a fixed young generation, so that neither heap
    # resizing nor young-generation sizing varies from run to run. Nothing
    # is pre-touched: the resident set is the young generation, the old
    # regions the program's data reached, and native memory.
    cmd = (["java", "-XX:-UsePerfData", "-Xms4g", "-Xmx4g", "-Xmn1g", "-Xss8m"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false",
              "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
              "perfbench.PerfBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", DATA, "--work", work, "--out", out,
              "--cpus", str(cpus)])
    log = os.path.join(work, "jvm.log")
    budget = RUN_TIMEOUT_S - (time.time_ns() - T0_NS) / 1e9
    with open(log, "w") as f:
        try:
            # Set-up time runs from here: the start of the JVM's process.
            p = subprocess.run(cmd + ["--start-ns", str(time.time_ns())],
                               stdout=f, stderr=subprocess.STDOUT, cwd=work,
                               timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            die(f"{args.workload} did not finish in {RUN_TIMEOUT_S} s", 4)
    if p.returncode != 0 or not os.path.isfile(out):
        with open(log) as f:
            tail = f.read()[-4000:]
        die(f"{args.workload} failed (exit {p.returncode}):\n{tail}", 4)
    with open(out) as f:
        return json.load(f)


# ---- batch check: every result equals DuckDB's answer to the oracle SQL,
# under the rule of the repo's oracle gate (tools/check_oracle.py)

def answer(table):
    """(columns, row count, digest) of an arrow table, columns by name."""
    cols = sorted(table.column_names)
    rows = table.select(cols).to_pylist()
    c = oracle_gate().canon([[r[k] for k in cols] for r in rows])
    return {"columns": cols, "rows": table.num_rows,
            "digest": hashlib.sha256(repr(c).encode()).hexdigest()}


def oracle_answers(report):
    import duckdb
    con = duckdb.connect()
    for t in oracle_gate().TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    out = {name: answer(con.execute(report["oracle_sql"][name]).fetch_arrow_table())
           for name in report["queries"]}
    con.close()
    return out


def check_batch(report):
    import pyarrow.parquet as pq
    expect = oracle_answers(report)
    mismatches = []
    for which, out in report["outputs"].items():
        # A query missing from a pass failed there and is counted in `failed`.
        for name in out["queries"]:
            got = answer(pq.read_table(os.path.join(out["dir"], name)))
            if got != expect[name]:
                mismatches.append(f"{which}/{name}: spark {got['rows']} rows "
                                  f"{got['columns']} vs duckdb {expect[name]['rows']} rows "
                                  f"{expect[name]['columns']}")
    return mismatches


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def cpus():
    env = os.environ.get("PERFBENCH_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated launcher still kills its JVM (subprocess.run does so on
    # any exception) and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    preflight()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classes, build_s = build()
    n = cpus()
    work = os.path.join(HERE, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        ticks0 = cpu_ticks()
        report = launch(args, classes, work, n)
        ticks1 = cpu_ticks()
        if report["workload"] == "stream_reduce":
            problems = [k for k, v in report["check"].items() if v is False]
        else:
            problems = check_batch(report)
        # A query that threw is counted in `failed`; `correct` speaks of
        # the operations that did not fail.
        for e in report.get("errors", []):
            print(f"perfbench: failed: {e}", file=sys.stderr)
        if args.trace and not report.get("slot_bound_ok", False):
            problems.append("task time exceeds slots x wall time in some pass")
        correct = not problems and report.get("correct", True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    values = dict(report["metrics"], setup_s=report["setup_s"],
                  peak_rss_mb=report["peak_rss_mb"])
    if args.trace:
        values = report["layers"]
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    facts = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "cpus": n, "sf": os.path.basename(os.path.normpath(DATA)),
             "control_s": report["control_s"], "build_s": build_s,
             "steal_pct": 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
             "latency_samples": report.get("latency_samples")}
    for k in ("rows_per_s", "latency_p50_ms", "latency_p90_ms"):
        if k in report:
            facts[k] = report[k]
    result = {"correct": bool(correct), "attempted": int(report["attempted"]),
              "failed": int(report["failed"]), "metrics": metrics}

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(T0_NS / 1e9))
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                                    f"-{stamp}-{os.getpid()}.json"), "w") as f:
        json.dump({"facts": facts, "result": result, "problems": problems,
                   "report": report}, f, indent=1)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps(facts))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
