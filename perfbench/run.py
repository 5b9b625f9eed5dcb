#!/usr/bin/env python3
"""Run one workload of the rumspark benchmark.

    python3 perfbench/run.py --workload build|serve|msearch|ingest \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run compiles the library and the
benchmark with sbt (offline) into the build directory ($CARGO_TARGET_DIR if
set, else .bench_build); later runs reuse that build while the sources are
unchanged. The benchmark then runs in one JVM; its last stdout line is the
result object {correct, attempted, failed, metrics}.

Exit codes: 0 result printed; 1 the run failed; 2 not a rumspark checkout
or no toolchain; 3 timed out.
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
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when started outside spark-submit (the same
# list the library's own build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources():
    """Every file the build reads, in a stable order."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    dirs = [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    files = [f for f in tops if os.path.isfile(f)]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))]
    return files


def stamp():
    h = hashlib.sha256(ROOT.encode())
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout, or when
    this script is told to stop (SIGTERM, SIGINT)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        kill_group(p)
        sys.exit(128 + signum)

    before = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        kill_group(p)
        return None, None
    finally:
        for s, h in before.items():
            signal.signal(s, h)


def classpath(tmp):
    """Compile with sbt when the sources changed; return the classpath."""
    bdir = build_dir()
    cp_file = os.path.join(bdir, "classpath.txt")
    want = stamp()
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    if not shutil.which("sbt"):
        log("sbt not found")
        sys.exit(2)
    log("building the library and the benchmark with sbt")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Dsbt.offline=true", f"-Djava.io.tmpdir={tmp}", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True,
        env={**os.environ, "COURSIER_MODE": os.environ.get("COURSIER_MODE", "offline")})
    if code is None:
        log("build timed out")
        sys.exit(3)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out)
        log(f"build failed (exit {code})")
        sys.exit(1)
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(want + "\n" + lines[-1].strip() + "\n")
    log(f"build took {time.time() - t0:.1f} s")
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"{ROOT} holds no rumspark sources (build.sbt, src/main/scala/graft)")
        sys.exit(2)
    if not shutil.which("java"):
        log("java not found")
        sys.exit(2)

    bdir = build_dir()
    work = os.path.join(bdir, "work")
    tmp = os.path.join(bdir, "tmp")
    # leftovers of an interrupted run
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = classpath(tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work-dir", work])
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        log(f"run timed out after {RUN_TIMEOUT_S} s")
        sys.exit(3)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out)
        log(f"no result (exit {code})")
        sys.exit(1)
    if code != 0:
        sys.stderr.write(out)
        log(f"benchmark exited {code}")
        sys.exit(1)
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
