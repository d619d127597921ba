#!/usr/bin/env python3
"""Repository benchmark: broker -> store ingest drain, open-loop ack
latency, and a query panel, with per-layer attribution.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

The first call compiles the engine (src/main/scala) together with the
benchmark harness (perfbench/src) into .bench_build/; later calls reuse
that build while the sources are unchanged.  Each run gets its own
scratch directory under .bench_run/ (tmpdir, Spark warehouse, store,
checkpoint), which is deleted afterwards.  The full result and the
trace go to .bench_out/.  The last stdout line is the one-line JSON
summary: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1.  A traced call first makes an untraced run with the same
arguments, in its own JVM, and reports the traced run's latency_ms over
that run's as trace.overhead_ratio.

`--steady-rate N` overrides the ingest workload's offered rate (msg/s);
it is there to re-measure the steady mix's capacity (see README.md).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import panel_hash  # noqa: E402

BUILD_DIR = ".bench_build"
RUN_DIR = ".bench_run"
OUT_DIR = ".bench_out"
DATA_DIR = os.path.join("perfbench", "data", "sf0.01")
HASHES = os.path.join("perfbench", "panel_hashes.json")
# Spark task slots; the load is sized for two, whatever the machine has.
# On a four-core machine this leaves two cores to the generator, the
# broker and the JVM's own threads, so that a stage does not wait on a
# task whose core they took
CPUS = "2"
# a fixed heap: no resizing while a run measures
HEAP = "2g"
# every run of one call, traced ones included, ends within this
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory the project builds against: the
    `unmanagedBase` declared in build.sbt, else $SPARK_HOME/jars."""
    cands = []
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("spark-sql_") for n in os.listdir(c)):
            return c
    fail("no Spark jars found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    main = os.path.join("src", "main", "scala")
    if not os.path.isdir(main):
        fail("src/main/scala not found: run from the repository root")
    out = []
    for root in (main, os.path.join("perfbench", "src")):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def resources():
    res = os.path.join("src", "main", "resources")
    out = []
    for d, _, files in os.walk(res):
        out += [os.path.join(d, f) for f in files]
    return res, sorted(out)


def build(jars):
    """Compile engine + harness with the Scala compiler that ships in
    the Spark jar directory; keyed by a hash of every input."""
    srcs = sources()
    res_root, res = resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-2\.13.*\.jar$", n)]
    if len(compiler) != 3:
        fail("Scala 2.13 compiler/library/reflect jars not found next to Spark")
    tmp = os.path.join(BUILD_DIR, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def java_cmd(classes, jars, run_dir, args):
    opens = []
    for p in JDK_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java"] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
        "perfbench.Main"] + args


def run_jvm(cmd, log_path, timeout):
    """Run the JVM in its own process group; on timeout kill the whole
    group and wait for it, so nothing outlives the run."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def new_run_dir(tag):
    d = os.path.abspath(os.path.join(RUN_DIR, f"{tag}-{os.getpid()}"))
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(d, sub))
    return d


def check_panel(run_dir, result):
    """Hash each warm-up panel result like the oracle gate does and
    compare with the stored oracle hashes."""
    with open(HASHES) as f:
        expected = json.load(f)["queries"]
    bad = {}
    for name, exp in sorted(expected.items()):
        path = os.path.join(run_dir, "panel_results", name)
        if not os.path.isdir(path):
            bad[name] = "no result"
            continue
        got = panel_hash.parquet_digest(path)
        if got != exp:
            bad[name] = f"expected {exp}, got {got}"
    result["detail"]["oracle_mismatches"] = bad
    if bad:
        result["correct"] = False
        failed_before = set(result["detail"].get("failures", {}))
        result["failed"] += len(set(bad) - failed_before)


def run_workload(classes, jars, a, trace, deadline):
    """One JVM run of the workload in its own scratch directory (deleted
    afterwards); returns the result dict, with the panel's oracle check
    applied."""
    tag = f"{a.workload}-seed{a.seed}-trace{trace}"
    run_dir = new_run_dir(tag)
    out_json = os.path.join(run_dir, "result.json")
    data_dir = os.path.join(run_dir, "data")
    try:
        if a.workload == "query_panel":
            # a private copy: queries may build derived roots next to it
            shutil.copytree(DATA_DIR, data_dir)
        args = ["run", a.workload, str(a.seed), str(a.seconds), str(trace),
                run_dir, os.path.abspath(data_dir), out_json]
        if a.steady_rate:
            args.append(str(a.steady_rate))
        log = os.path.join(OUT_DIR, tag + ".log")
        rc = run_jvm(java_cmd(classes, jars, run_dir, args), log,
                     max(1.0, deadline - time.monotonic()))
        if rc != 0 or not os.path.exists(out_json):
            fail(f"benchmark JVM exited with {rc}; see {log}")
        with open(out_json) as f:
            result = json.load(f)
        if a.workload == "query_panel":
            check_panel(run_dir, result)
        if trace:
            shutil.copyfile(out_json + ".trace.jsonl",
                            os.path.join(OUT_DIR, tag + ".trace.jsonl"))
        with open(os.path.join(OUT_DIR, tag + ".json"), "w") as f:
            json.dump(result, f, indent=1)
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def overhead_ratio(untraced, traced):
    """Traced over untraced latency_ms of two runs with the same
    arguments and build (1.0: no overhead); None if either is missing."""
    base = untraced["e2e"].get("latency_ms")
    mine = traced["e2e"].get("latency_ms")
    if not base or not mine:
        return None
    return mine / base


def summary(bench, result, trace):
    section = "per_layer" if trace else "end_to_end"
    values = result["layers"] if trace else result["e2e"]
    metrics = {}
    for m in bench[section]:
        v = values.get(m["name"])
        if trace and isinstance(v, (int, float)):
            # per-layer values at six significant digits keep the line
            # short enough for a 2 KB log tail
            v = float(f"{v:.6g}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    ok = result["correct"] and all(
        isinstance(x["value"], (int, float)) for x in metrics.values())
    return {"correct": bool(ok), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def main():
    # a terminated benchmark still stops its JVM (see run_jvm); a second
    # SIGTERM must not interrupt that cleanup
    def on_term(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--steady-rate", type=float)
    a = ap.parse_args()
    if not os.path.exists("BENCHMARK.json"):
        fail("BENCHMARK.json not found: run from the repository root")
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if not a.selftest and a.workload not in names:
        fail(f"--workload must be one of {names}")
    if not os.path.isfile(HASHES):
        fail(f"{HASHES} missing")
    sources()  # outside a repository checkout, fail before looking for Spark
    jars = spark_jars()
    classes = build(jars)
    os.makedirs(OUT_DIR, exist_ok=True)

    if a.selftest:
        run_dir = new_run_dir("selftest")
        try:
            log = os.path.join(OUT_DIR, "selftest.log")
            rc = run_jvm(java_cmd(classes, jars, run_dir, ["selftest", run_dir]),
                         log, RUN_TIMEOUT_S)
            with open(log) as f:
                for ln in f:
                    if ln.startswith("[selftest]"):
                        print(ln.rstrip())
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(0 if rc == 0 else 1)

    deadline = time.monotonic() + RUN_TIMEOUT_S
    if a.trace:
        # the untraced run comes first, so the traced one is the one
        # whose per-layer detail stays in .bench_out/
        base = run_workload(classes, jars, a, 0, deadline)
        result = run_workload(classes, jars, a, 1, deadline)
        ratio = overhead_ratio(base, result)
        result["layers"]["trace.overhead_ratio"] = ratio
        result["correct"] = bool(result["correct"] and base["correct"] and ratio is not None)
    else:
        result = run_workload(classes, jars, a, 0, deadline)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    line = summary(bench, result, a.trace)
    d = result.get("detail", {})
    for k in ("mismatches", "oracle_mismatches", "failures", "error"):
        if d.get(k):
            print(f"[perfbench] {k}: {json.dumps(d[k])[:600]}")
    print(f"[perfbench] detail: {os.path.join(OUT_DIR, tag + '.json')}")
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
