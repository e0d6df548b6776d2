#!/usr/bin/env python3
"""Build graft plus the benchmark from source, then run one workload.

    python3 graftbench/run.py --workload ffiec_ingest_query --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --selftest

Run from the repository root. The build (sbt, offline) happens on the
first run and again whenever a source or build file changes; later runs
start the JVM straight from the recorded classpath. Everything the
benchmark writes goes under $CARGO_TARGET_DIR (default .bench_build).
The last line of standard output is the result JSON object; the human
readable metric lines come before it. Spark's log goes to
<build dir>/<workload>.log.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ffiec_ingest_query", "corpus_curate")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_logged(cmd, cwd, log_path, timeout):
    """Run cmd in its own process group, stderr to log_path, stdout
    relayed; kill the whole group on timeout. Returns the exit code."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=log,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, ""
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def ensure_built(build_dir):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("graft sources not found: run from a full checkout of the repository", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required", 2)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    want = stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as c:
                    return c.read()
    log = os.path.join(build_dir, "build.log")
    code, out = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                           HERE, log, BUILD_TIMEOUT_S)
    with open(log, "a") as f:
        f.write(out)
    produced = os.path.join(HERE, "target", "runtime-classpath.txt")
    if code != 0 or not os.path.isfile(produced):
        fail(f"build failed (exit {code}); last lines of {log}:\n{tail(log)}", 3)
    with open(produced) as f:
        cp = f.read().strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def check_result(line):
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(r)}")
    if not (isinstance(r["attempted"], int) and r["attempted"] >= 1 and isinstance(r["failed"], int)):
        raise ValueError("attempted/failed must be whole numbers, attempted >= 1")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {name}: {m}")
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own specs instead of a workload")
    a = ap.parse_args()
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)

    if a.selftest:
        ensure_built(build_dir)
        log = os.path.join(build_dir, "selftest.log")
        code, out = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                               HERE, log, BUILD_TIMEOUT_S)
        print(out)
        sys.exit(0 if code == 0 else 1)
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    cp = ensure_built(build_dir)
    tmp = os.path.join(build_dir, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # native libraries each JVM unpacks
    os.makedirs(tmp)
    result = os.path.join(build_dir, f"{a.workload}.result.json")
    if os.path.exists(result):
        os.remove(result)
    # A fixed, pre-touched heap keeps heap resizing and first-touch page
    # faults out of the timings; the memory metrics come from the JVM's
    # pools, not from the resident size.
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", os.path.join(build_dir, f"work-{a.workload}"), "--result", result])
    log = os.path.join(build_dir, f"{a.workload}.log")
    code, out = run_logged(cmd, build_dir, log, RUN_TIMEOUT_S)
    sys.stdout.write(out)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; last lines of {log}:\n{tail(log)}", 4)
    if code != 0 or not os.path.isfile(result):
        fail(f"run failed (exit {code}); last lines of {log}:\n{tail(log)}", 5)
    with open(result) as f:
        line = f.read().strip()
    try:
        check_result(line)
    except (ValueError, json.JSONDecodeError) as e:
        fail(f"malformed result {line!r}: {e}", 6)
    print(line, flush=True)


if __name__ == "__main__":
    main()
