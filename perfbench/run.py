#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

It compiles the engine and the harness with the Scala compiler that ships
in the Spark jars (no sbt, no build-file edits), starts one JVM that sets up
a `local[nproc]` session and measures the workload, checks every output it
produced (DuckDB oracles through tools/check.py for the query workloads,
one-shot batch twins for the stream workload), and prints one JSON object as
the last line of stdout. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics. See perfbench/README.md.
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

WORKLOADS = ["dashboard", "curation", "retrieval", "ingest_stream"]

# (name, unit): the end-to-end metrics, reported on every workload
END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_p95_ms", "ms"),
    ("throughput_qps", "req/s"),
    ("cold_pass_s", "s"),
    ("peak_rss_mb", "MB"),
]

# units of the ingest_stream metrics printed beside the end-to-end ones
EXTRA_UNITS = {"batch_p50_ms": "ms", "batch_p95_ms": "ms",
               "ingest_rows_per_s": "rows/s", "state_bytes_per_input_byte": "1"}

# (name, unit): the per-layer metrics of a traced run
STREAMS = ["overview", "curation", "components", "embedding_index",
           "lexstats", "cdc"]
PER_LAYER = [
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_failures", "count"),
    ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.core_busy_ratio", "1"), ("exec.shuffle_write_bytes", "B"),
    ("exec.shuffle_read_bytes", "B"), ("exec.spill_bytes", "B"),
    ("exec.gc_ms", "ms"),
    ("operators.build_ms", "ms"), ("operators.build_jobs", "count"),
    ("catalyst.optimize_ms", "ms"), ("catalyst.plan_ms", "ms"),
    ("catalyst.exchanges", "count"),
    ("tables.bytes_read", "B"), ("tables.rows_read", "count"),
    ("registry.build_ms", "ms"), ("registry.index_bytes", "B"),
    ("registry.index_files", "count"),
] + [(f"streaming.{s}.apply_ms", "ms") for s in STREAMS] + [
    ("streaming.compact_ms", "ms"), ("streaming.replay_ms", "ms"),
    ("streaming.read_ms", "ms"), ("streaming.state_bytes", "B"),
    ("streaming.state_files", "count"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("trace.overhead_ms", "ms"), ("trace.overhead_pct", "%"),
]

# the scale factor the benchmark runs at; see README.md for why not sf0.1
SCALE = "0.01"
BUILD = ".bench_build"
WORK = ".bench_work"
OUT = ".bench_out"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DEADLINE_S = 175


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars the engine builds against: build.sbt's unmanagedBase."""
    if "PERFBENCH_SPARK_JARS" in os.environ:
        return os.environ["PERFBENCH_SPARK_JARS"]
    try:
        sbt = open("build.sbt").read()
    except OSError:
        raise BenchError("no build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise BenchError("build.sbt names no unmanagedBase")
    return m.group(1)


def test_data():
    """The read-only sf0.01 test data directory that TESTDATA.md lists."""
    if "PERFBENCH_DATA" in os.environ:
        return os.environ["PERFBENCH_DATA"]
    try:
        doc = open("TESTDATA.md").read()
    except OSError:
        raise BenchError("no TESTDATA.md")
    m = re.search(r"^\|\s*" + re.escape(SCALE) + r"\s*\|\s*`([^`]+)`", doc, re.M)
    if not m:
        raise BenchError(f"TESTDATA.md lists no sf{SCALE} directory")
    return m.group(1).rstrip("/")


def sources():
    out = []
    for top in ("src/main/scala", "perfbench/scala"):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars_dir):
    """Compile engine + harness into .bench_build/classes unless the
    sources are unchanged since the last build."""
    if not os.path.isdir("src/main/scala/graft"):
        raise BenchError("no engine sources under src/main/scala/graft")
    if not os.path.isdir(jars_dir):
        raise BenchError(f"no Spark jars at {jars_dir}")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(srcs)} sources")
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(jars_dir, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BenchError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def private_tmp_ok(tmpdir):
    """True when a private mount namespace can put /tmp inside the
    checkout, so the engine's fixed /tmp/graft-* paths stay private."""
    try:
        r = subprocess.run(
            ["unshare", "-rm", "sh", "-c", 'mount --bind "$0" /tmp', tmpdir],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=10)
        return r.returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def run_jvm(classes, jars_dir, args, deadline):
    work = os.path.abspath(WORK)
    out = os.path.abspath(os.path.join(OUT, args.workload))
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    os.makedirs(out)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap: peak RSS then reads heap plus native
    # memory instead of wherever the collector last grew the heap to
    cmd = ["java", *opens, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m",
           f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
           "-Duser.timezone=UTC",
           "-cp", os.path.abspath(classes) + ":" + os.path.join(jars_dir, "*"),
           "perfbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", args.data,
           "--work", work, "--out", out]
    if private_tmp_ok(tmpdir):
        cmd = ["unshare", "-rm", "sh", "-c",
               'mount --bind "$0" /tmp && exec "$@"', tmpdir, *cmd]
        isolation = "private-tmp"
    else:
        isolation = "shared-tmp"
    jvm_log = os.path.join(out, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("run exceeded its time limit")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"benchmark JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    res["isolation"] = isolation
    res["out"] = out
    return res


def oracle_failures(res, data):
    """Queries whose dumped output disagrees with the DuckDB oracle, by
    tools/check.py's comparison."""
    dump = os.path.join(res["out"], "dump")
    r = subprocess.run([sys.executable, "tools/check.py", data, dump],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=170)
    with open(os.path.join(res["out"], "check.log"), "w") as f:
        f.write(r.stdout)
    verdict = {}
    for line in r.stdout.splitlines():
        head, _, rest = line.partition(" ")
        if head in ("OK", "FAIL", "EMPTY"):
            verdict[rest.strip().split(":")[0]] = head == "OK"
    bad = {q for q in res["requests_by_query"] if not verdict.get(q, False)}
    for q in sorted(bad):
        log(f"oracle mismatch: {q}")
    return bad


def failed_count(res, data):
    """Requests or batches that failed or produced a wrong answer."""
    if res["workload"] == "ingest_stream":
        bad = sorted(k for k, ok in res["checks"].items() if not ok)
        for k in bad:
            log(f"twin check failed: {k}")
        # a wrong final state implicates every batch folded into it
        return res["attempted"] if bad else res["errors"]
    bad = oracle_failures(res, data)
    errs = res["errors_by_query"]
    return sum(res["requests_by_query"][q] if q in bad else errs.get(q, 0)
               for q in res["requests_by_query"])


def git_status():
    """`git status --porcelain`, or None outside a git checkout."""
    try:
        r = subprocess.run(["git", "status", "--porcelain"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
    except OSError:
        return None
    return r.stdout if r.returncode == 0 else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    try:
        if not os.path.isdir("src/main/scala/graft"):
            raise BenchError("no engine sources under src/main/scala/graft")
        args.data = test_data()
        if not os.path.isdir(args.data):
            raise BenchError(f"no test data at {args.data}")
        jars_dir = spark_jars()
        before = git_status()
        classes = build(jars_dir)
        deadline = max(deadline, time.time() + 150)
        res = run_jvm(classes, jars_dir, args, deadline)
        failed = failed_count(res, args.data)
        if before is not None:
            after = git_status()
            if after != before:
                raise BenchError("the run changed tracked files:\n" + after)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    attempted = res["attempted"]
    e2e = res["end_to_end"]
    ctx = dict(res["context"], isolation=res["isolation"],
               failed_ratio=failed / attempted, attempted=attempted)
    print(f"[perfbench] workload={args.workload} seed={args.seed} "
          f"trace={args.trace}")
    for k, v in sorted(ctx.items()):
        print(f"[perfbench] context {k}={v}")
    for name, unit in END_TO_END:
        print(f"[perfbench] {name} = {e2e[name]:.4f} {unit}")
    print(f"[perfbench] failed_ratio = {failed / attempted:.4f} 1")
    for name, v in sorted(res.get("extra", {}).items()):
        print(f"[perfbench] {name} = {v:.4f} {EXTRA_UNITS[name]}")
    if args.trace:
        layers = res["per_layer"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
        for n, m in metrics.items():
            print(f"[perfbench] layer {n} = {m['value']:.4f} {m['unit']}")
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
