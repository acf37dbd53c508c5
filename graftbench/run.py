#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 graftbench/run.py --workload curate --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the library and the
harness with sbt (offline); later runs reuse the build while the sources are
unchanged. The workload runs in one JVM on local[N], N = the CPUs this
process may use. Everything it writes stays under .bench_build/ in the
repository. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The lines before it print every metric with its unit
and the run context. The full result, with the per-operation figures, is
kept in .bench_build/graftbench/results/.

`--selftest` runs the harness's self-test instead (see test_bench.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("curate", "rag_serve", "store_churn")
# a run must end within 180 s; the first one may also build
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
SELFTEST_LIMIT_S = 600
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    """Hash of every input of the build: library and harness sources."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build():
    """Compile with sbt unless the last build used the same sources."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"graft sources not found under {os.path.relpath(LIB_SRC, ROOT)}")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_hash()
    if os.path.isdir(classes_dir()) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SPARK_HOME", os.path.dirname(spark_jars()))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt ...")
    t = time.time()
    code = run_child(["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
                     cwd=HERE, env=env, limit=BUILD_LIMIT_S, stdout=sys.stderr)
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t:.1f} s")


def run_child(cmd, cwd, env, limit, stdout):
    """Run `cmd` in its own process group; kill the group past `limit`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} passed its {limit:.0f} s limit; stopping it")
        return -1
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def java_cmd(main, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([classes_dir(), os.path.join(spark_jars(), "*")])
    # a fixed, pre-touched heap: peak RSS then reads the heap plus what
    # the run adds outside it, not the collector's sizing decisions
    return [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", *opens, "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, main, *args]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(main, args, work, limit):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # Spark's scratch space stays in the work directory
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        code = run_child(java_cmd(main, args, work), cwd=ROOT, env=env,
                         limit=limit, stdout=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one row of every checked output (self-test: must fail)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    started = time.time()
    spec = load_spec()
    build()
    build_s = time.time() - started
    # the time limit of a run counts from here when it had to build
    started = time.time() if build_s > 5 else started

    if a.selftest:
        out = os.path.join(BUILD, "results", "selftest.json")
        code = run_jvm("graftbench.SelfTest", ["--work", os.path.join(BUILD, "work-selftest"),
                                                "--out", out], os.path.join(BUILD, "work-selftest"),
                       SELFTEST_LIMIT_S)
        if code != 0 or not os.path.exists(out):
            fail(f"self-test did not finish (exit {code})", 1)
        print(open(out).read())
        return
    if a.workload is None:
        fail("--workload is required")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    out = os.path.join(BUILD, "results", f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out] + \
        (["--corrupt"] if a.corrupt else [])
    code = run_jvm("graftbench.Main", args, work, RUN_LIMIT_S - (time.time() - started))
    if code != 0 or not os.path.exists(out):
        fail(f"{a.workload} did not finish (exit {code})", 1)
    with open(out) as fh:
        res = json.load(fh)
    res["context"]["git_commit"] = git_commit()
    res["context"]["cpus_visible"] = cpus()
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"result lacks metrics {missing}", 1)
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}

    ctx = res["context"]
    print(f"# graftbench {a.workload}: seed {a.seed}, {ctx['passes']} passes, "
          f"{ctx['op_count']} ops, {ctx['master']} (nproc {ctx['nproc']}), heap "
          f"{ctx['max_heap_mb']} MB, JDK {ctx['jdk']}, Spark {ctx['spark']}, "
          f"commit {ctx['git_commit']}, inputs {json.dumps(ctx['input_rows'], sort_keys=True)}")
    if not a.trace:
        units = {"write_p50_s": "s", "read_p50_s": "s",
                 "write_amp": "ratio", "space_amp": "ratio", "recall_at_10": "ratio",
                 "fail_ratio": "ratio", "op_tail_pct": "percentile", "op_tail_n": "count"}
        for name, m in metrics.items():
            print(f"#   {name:<14} {m['value']:.6g} {m['unit']}")
        for name, v in sorted(res["workload_figures"].items()):
            print(f"#   {name:<14} {v:.6g} {units.get(name, '')}")
    for f in res["failures"]:
        print(f"# FAILED {f}")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
