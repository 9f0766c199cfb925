#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark with sbt into .bench_build/ when the
sources changed since the last build, then runs graftbench.Main in one JVM.
Inputs are generated from the seed and the read-only fixture tables
($GRAFT_FIXTURES, default ~/testdata/sf0.1) into a fresh work directory
under .bench_work/, which is deleted at exit. Spans of traced runs are kept
in .bench_traces/. The last line of standard output is the JSON result.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("mart_refresh", "corpus_curation", "vector_serve")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    """Compile with sbt unless .bench_build/ already holds this source tree."""
    os.makedirs(BUILD, exist_ok=True)
    classpath = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if (os.path.exists(classpath) and os.path.exists(stamp_file)
                and open(stamp_file).read() == stamp):
            return built()
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
        if code != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (exit {code}); log in {os.path.relpath(log, ROOT)}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return built()


def built():
    """(classpath, JVM options) that the sbt build wrote."""
    with open(os.path.join(BUILD, "classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(BUILD, "jvm-options.txt")) as f:
        options = f.read().split()
    return classpath, options


def run_child(cmd, cwd, env, stdout, timeout, stderr=None):
    """Run cmd in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=stderr if stderr is not None else subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return 124
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources next to the benchmark (src/main/scala/graft)")
    fixtures = os.environ.get("GRAFT_FIXTURES",
                              os.path.expanduser("~/testdata/sf0.1"))
    for t in ("lineitem", "supplier", "documents", "embeddings"):
        if not os.path.exists(os.path.join(fixtures, f"{t}.parquet")):
            fail(f"fixture table {t}.parquet not found under {fixtures}")

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx4g"]))
    classpath, jvm_options = build(env)

    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}-{int(time.time())}")
    traces = os.path.join(ROOT, ".bench_traces")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        # -XX:-UsePerfData: no hsperfdata files outside the checkout
        cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + jvm_options
               + ["-Dspark.ui.enabled=false",
                  f"-Dspark.local.dir={work}/spark-local",
                  f"-Dspark.sql.warehouse.dir={work}/warehouse",
                  f"-Djava.io.tmpdir={work}/tmp",
                  "-cp", classpath, "graftbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", a.trace,
                  "--fixtures", fixtures, "--work", work, "--traces", traces])
        log = os.path.join(work, "jvm.log")
        with open(os.path.join(work, "stdout"), "w") as out, open(log, "w") as err:
            code = run_child(cmd, cwd=work, env=env, stdout=out, stderr=err,
                             timeout=RUN_TIMEOUT_S)
        stdout = open(os.path.join(work, "stdout")).read()
        if code != 0:
            sys.stderr.write(open(log).read()[-6000:])
            if code == 124:
                fail(f"run exceeded {RUN_TIMEOUT_S} s", code=3)
        sys.stdout.write(stdout)
        sys.stdout.flush()
        return code
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
