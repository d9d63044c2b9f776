#!/usr/bin/env python3
"""perfbench: the graft crawl-engine benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload <drain1|discover> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

The first run compiles the engine (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that ships in the Spark distribution
($SPARK_HOME/jars) into jars under $CARGO_TARGET_DIR (default .bench_build),
and records a class-data archive from one training run. Later runs reuse
both while the sources are unchanged.
Each run is one JVM with one Spark session on local[nproc]; it prints a
detail line (environment record, checks, every figure) and, as the last
line of stdout, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones; the traced run also writes a span file under
<build dir>/out. Exit status is 0 only when a complete result was printed.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# a fixed heap and young generation (no adaptive resizing), so that
# heap_peak_mb measures what the crawl keeps, not how the collector sized eden
JVM_HEAP = "3g"
JVM_YOUNG = "768m"
TRAIN_WORKLOAD = "discover"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    j = shutil.which("java")
    if not j:
        fail("no java found (set JAVA_HOME)")
    return j


def scala_files(top):
    out = []
    for d, _, fs in sorted(os.walk(top)):
        out += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return out


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_scala(jars, srcs, out_jar, extra_cp, log, resources=None):
    """Compile `srcs` into `out_jar` with the distribution's scalac, adding the
    files under `resources`."""
    comp = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
            if re.match(r"scala-(compiler|library|reflect)_?.*\.jar$", j)]
    if len(comp) < 3:
        fail("the Spark distribution carries no Scala compiler")
    tmp = out_jar + ".tmp.jar"
    if os.path.exists(tmp):
        os.remove(tmp)
    cp = os.pathsep.join(extra_cp + [os.path.join(jars, "*")])
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"compilation failed (log: {log})", 3)
    if resources:
        with zipfile.ZipFile(tmp, "a") as z:
            for f in resource_files(resources):
                z.write(f, os.path.relpath(f, resources))
    os.replace(tmp, out_jar)


def resource_files(top):
    return [os.path.join(d, f) for d, _, fs in sorted(os.walk(top)) for f in sorted(fs)]


def compiled(jars, srcs, out_jar, extra_cp, build_dir, resources=None):
    """`out_jar`, recompiled only when its inputs or its classpath changed."""
    inputs = srcs + (resource_files(resources) if resources else [])
    stamp = digest_files(inputs + [j + ".stamp" for j in extra_cp])
    stamp_file = out_jar + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out_jar
    t0 = time.time()
    name = os.path.basename(out_jar)
    compile_scala(jars, srcs, out_jar, extra_cp, os.path.join(build_dir, f"{name}.log"),
                  resources)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled {len(srcs)} sources into {name} in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return out_jar


def build(root, build_dir, jars):
    """Jars of the engine (src/main/scala + src/main/resources) and of the
    benchmark, then the class-data archive of a training run."""
    engine_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        fail("engine sources not found at src/main/scala: "
             "run from the root of a graft checkout")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        engine = compiled(jars, scala_files(engine_src), os.path.join(build_dir, "engine.jar"),
                          [], build_dir, os.path.join(root, "src", "main", "resources"))
        bench = compiled(jars, scala_files(os.path.join(HERE, "src")),
                         os.path.join(build_dir, "bench.jar"), [engine], build_dir)
        classes = [bench, engine]
        return classes, class_archive(classes, jars, build_dir)


def class_archive(classes, jars, build_dir):
    """A class-data-sharing archive of the classes a training run loads.

    Every run is a fresh JVM that loads Spark; mapping the classes from an
    archive instead of loading them takes seconds off each run's session
    start and first set-up. The archive is made once per build by one
    discover run and is only an accelerator: without it (or with a JVM that
    cannot use it) runs load classes as usual.
    """
    archive = os.path.join(build_dir, "classes.jsa")
    stamp = digest_files([j + ".stamp" for j in classes]) + java_bin() + \
        ",".join(sorted(os.listdir(jars)))
    stamp_file = archive + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return archive if os.path.exists(archive) else None
    t0 = time.time()
    tmp = archive + ".tmp"
    for f in (tmp, archive):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(build_dir, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", TRAIN_WORKLOAD, "--seed", "0", "--seconds", "1", "--trace", "0",
            "--work", work, "--out", os.path.join(build_dir, "train-out")]
    try:
        rc, _ = run_jvm(jvm_cmd(classpath(classes, jars), "graftbench.Main", args, build_dir,
                                # the dump lists every class it cannot archive
                                [f"-XX:ArchiveClassesAtExit={tmp}", "-Xlog:cds*=off:stderr"]),
                        RUN_TIMEOUT_S, build_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ok = rc == 0 and os.path.exists(tmp)
    if ok:
        os.replace(tmp, archive)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: class archive {'made' if ok else 'not made, runs load classes'}"
          f" in {time.time() - t0:.1f}s", file=sys.stderr)
    return archive if ok else None


def classpath(classes, jars, extra=()):
    return os.pathsep.join(list(extra) + classes + [os.path.join(jars, "*")])


def jvm_cmd(cp, main, args, build_dir, extra_flags=()):
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java_bin()] + opens + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-XX:+UseParallelGC",
        "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
        # JVM log lines (a class-archive mismatch, say) must not reach stdout
        "-Xlog:disable", "-Xlog:all=warning:stderr",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + list(extra_flags) + [
        "-cp", cp, main] + args


def run_jvm(cmd, timeout, build_dir):
    """Run the JVM in its own process group and wait for it; on timeout kill
    the group. Returns (exit status or None on timeout, stdout)."""
    env = dict(os.environ)
    env.pop("LOCAL_DIRS", None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(build_dir, "tmp")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, env=env)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out.decode("utf-8", "replace")
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def load_spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(path) as f:
        return json.load(f)


def validate_result(res, spec, trace):
    """The result line with units attached, or a list of problems."""
    section = spec["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in section}
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if not isinstance(res.get("attempted"), int) or res.get("attempted", 0) < 1:
        problems.append("attempted must be a whole number >= 1")
    if not isinstance(res.get("failed"), int) or res.get("failed", -1) < 0:
        problems.append("failed must be a whole number >= 0")
    got = res.get("metrics", {})
    if set(got) != set(units):
        problems.append(f"missing {sorted(set(units) - set(got))}, "
                        f"unexpected {sorted(set(got) - set(units))}")
    metrics = {}
    for name in units:
        v = got.get(name)
        if not NAME_RE.match(name):
            problems.append(f"invalid metric name {name!r}")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            problems.append(f"{name} = {v!r} is not a finite number")
        metrics[name] = {"value": v, "unit": units[name]}
    if problems:
        return None, problems
    return {"correct": bool(res["correct"]), "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}, []


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")) or not shutil.which("git"):
        return "unknown (not a git checkout)"
    try:
        return subprocess.check_output(["git", "-C", root, "rev-parse", "HEAD"],
                                       stderr=subprocess.DEVNULL).decode().strip()
    except (subprocess.CalledProcessError, OSError):
        return "unknown"


def self_test(build_dir, jars, classes):
    """Python unit tests, then the Scala checks of the benchmark's logic."""
    rc = subprocess.call([sys.executable, "-m", "unittest", "discover", "-s",
                          os.path.join(HERE, "tests"), "-p", "test_*.py"])
    if rc != 0:
        fail("python self-tests failed", 5)
    tsrcs = scala_files(os.path.join(HERE, "tests"))
    tests = compiled(jars, tsrcs, os.path.join(build_dir, "tests.jar"), classes, build_dir)
    work = os.path.join(build_dir, "work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        rc, out = run_jvm(jvm_cmd(classpath(classes, jars, [tests]),
                                  "graftbench.SelfTest", [work], build_dir), RUN_TIMEOUT_S,
                          build_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if rc != 0:
        fail("scala self-tests failed", 5)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    root = os.getcwd()
    spec = load_spec(root)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars()
    classes, archive = build(root, build_dir, jars)
    if a.self_test:
        self_test(build_dir, jars, classes)
        return 0
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names or a.seed is None:
        fail(f"--workload must be one of {names}, and --seed is required")
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", os.path.join(build_dir, "out"),
            "--commit", git_commit(root)]
    try:
        rc, out = run_jvm(jvm_cmd(classpath(classes, jars), "graftbench.Main", args, build_dir,
                                  [f"-XX:SharedArchiveFile={archive}"] if archive else []),
                          RUN_TIMEOUT_S, build_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc is None:
        fail(f"the benchmark JVM did not finish within {RUN_TIMEOUT_S}s", 4)
    if rc != 0 or not lines:
        sys.stdout.write(out)
        fail(f"the benchmark JVM exited with status {rc}", 4)
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stdout.write(out)
        fail("the last line of the benchmark JVM is not JSON", 4)
    final, problems = validate_result(res, spec, a.trace == 1)
    if problems:
        sys.stdout.write(out)
        fail("; ".join(problems), 4)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
