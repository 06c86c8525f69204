#!/usr/bin/env python3
"""Run one workload of the graft pipeline benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run builds the engine and the
benchmark driver with sbt (sources from the checkout, output under
perfbench/target) and records the runtime classpath; later runs reuse it
while the sources are unchanged. Each run gets a private scratch directory
under perfbench/.work that is removed when the run ends, so two runs start
from the same filesystem state. Traced runs (--trace 1) also write their
spans to perfbench/out/.

Standard output is one line per metric, then, last, one JSON object with
the keys correct, attempted, failed and metrics. A run that cannot build,
crashes or overruns its time exits non-zero without printing that object.
--smoke runs every workload once, untraced and traced, at a tiny scale.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
# class-data-sharing archive of the classes a short run loads: it halves
# JVM and session start, which every run pays
CDS_ARCHIVE = os.path.join(TARGET, "bench-classes.jsa")
WORKLOADS = ["etl_load", "stream_fold", "query_mix", "table_versions"]
# Input scale: lineitem has 6e6 x SF rows (the engine's testdata at
# sf0.01 has 60k); the smoke mode uses the smallest testdata scale.
SF = 0.01
SMOKE_SF = 0.001
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build compiles, so edits trigger a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if submit:
        return os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return None


def build(env):
    """Build unless the recorded classpath matches the sources; return
    (ok, whether a build ran)."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return True, False
    log("building engine and benchmark driver with sbt")
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in benv:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        benv["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       HERE, benv, BUILD_LIMIT_S, sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {code})")
        return False, True
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    dump = argparse.Namespace(workload="stream_fold", seed=1, seconds=1, trace=0,
                              sf=SMOKE_SF, smoke=True)
    if run_workload(dump, env, BUILD_LIMIT_S, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"],
                    sys.stderr) is None or not os.path.exists(CDS_ARCHIVE):
        log("class-data-sharing archive not written; runs start without it")
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return True, True


def run_bounded(cmd, cwd, env, limit, out, on_line=None):
    """Run `cmd` in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    deadline = time.time() + limit
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(p.stdout, selectors.EVENT_READ)
        while True:
            if time.time() > deadline:
                log(f"{cmd[0]} overran {limit} s; stopping it")
                return -1
            if not sel.select(timeout=1.0):
                continue
            line = p.stdout.readline()
            if not line:
                break
            if on_line is None or not on_line(line):
                out.write(line)
                out.flush()
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGTERM)
                p.wait(timeout=10)
            except (ProcessLookupError, subprocess.TimeoutExpired):
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def run_workload(args, env, limit, jvm_extra=None, out=sys.stdout):
    """Run one workload in a fresh JVM; return its parsed result or None."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    scratch = os.path.join(HERE, ".work", f"run-{os.getpid()}-{args.workload}-{args.trace}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    if jvm_extra is None:
        jvm_extra = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC", "-Xlog:disable"] + jvm_extra + [
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--scratch", scratch, "--sf", str(args.sf)]
    if args.trace:
        cmd += ["--spans", os.path.join(HERE, "out", f"spans-{args.workload}-seed{args.seed}.json")]
    if args.smoke:
        cmd.append("--smoke")
    result = []

    def grab(line):
        if line.startswith("RESULT "):
            result.append(line[len("RESULT "):])
            return True
        return False

    try:
        code = run_bounded(cmd, ROOT, env, limit, out, grab)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not result:
        log(f"{args.workload} failed (exit {code})")
        return None
    return json.loads(result[-1])


def valid(res):
    return (isinstance(res, dict) and set(res) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(res["attempted"], int) and res["attempted"] >= 1
            and isinstance(res["failed"], int) and isinstance(res["metrics"], dict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="also append {workload, seed, trace, result} as a JSON line to FILE, "
                         "the input format of compare.py")
    ap.add_argument("--smoke", action="store_true",
                    help=f"run every workload once, untraced and traced, at sf {SMOKE_SF}")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    t0 = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        return 2
    env = dict(os.environ)
    home = spark_home()
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("no Spark distribution found (set SPARK_HOME)")
        return 2
    env["SPARK_HOME"] = home
    ok, built = build(env)
    if not ok:
        return 1
    if args.smoke:
        args.sf = SMOKE_SF
        args.seconds = 1
        failed = []
        for w in WORKLOADS:
            for tr in (0, 1):
                args.workload, args.trace = w, tr
                res = run_workload(args, env, RUN_LIMIT_S)
                ok = res is not None and valid(res) and res["correct"]
                log(f"smoke {w} trace={tr}: {'ok' if ok else 'FAILED'}")
                if not ok:
                    failed.append(f"{w}/trace={tr}")
        print(json.dumps({"smoke": "ok" if not failed else "failed", "failed": failed}))
        return 1 if failed else 0
    args.sf = SF
    # the first run of a checkout may spend most of its time building
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t0)
    res = run_workload(args, env, max(30, limit))
    if res is None or not valid(res):
        return 1
    if args.record:
        with open(args.record, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "result": res}) + "\n")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
