#!/usr/bin/env python3
"""Standing benchmark for graft: one workload per invocation.

    python3 perfbench/run.py --workload <reference|serve|ingest|corpus> \
        --seed <n> --seconds <s> --trace <0|1> [--short]

Run from the root of a checkout. The first run builds the graft library
and the benchmark from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. The run prints a table
of the metrics with their units and sample counts, then, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans are written to the run's trace.json.
Everything the run writes stays under .bench_build/ in the checkout.
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
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("reference", "serve", "ingest", "corpus")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# library's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_present():
    need = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "src", "main", "scala", "graft"),
            os.path.join(HERE, "build.sbt")]
    return all(os.path.exists(p) for p in need)


def fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    files = []
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files.extend(os.path.join(d, n) for n in sorted(names))
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files.extend(os.path.join(proj, n) for n in sorted(os.listdir(proj))
                         if n.endswith((".sbt", ".scala", ".properties")))
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout):
    """Run cmd in its own process group; return (code, stdout). The
    child's stdout is echoed to stderr. On timeout the group is killed
    and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, start_new_session=True,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        sys.stderr.write(out or "")
        log(f"timed out after {timeout} s: {cmd[0]}")
        return -1, ""
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    sys.stderr.write(out)
    return p.returncode, out


def ensure_built():
    """Compile the library and the benchmark; return the runtime classpath."""
    os.makedirs(OUT, exist_ok=True)
    cp_file = os.path.join(OUT, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], HERE, env, BUILD_TIMEOUT_S)
    if code != 0:
        sys.exit(f"sbt build failed (exit {code})")
    cps = [l.strip() for l in out.splitlines()
           if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if not cps:
        sys.exit("sbt printed no runtime classpath")
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cps[-1] + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def java_cmd(cp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    flags += ["--add-modules=jdk.incubator.vector", f"-Xmx{HEAP}", f"-Xms{HEAP}",
              "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    return [java] + flags + ["-cp", cp, "perfbench.Main"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--short", action="store_true",
                    help="reduced sizes, for the short-mode test")
    a = ap.parse_args()
    if not sources_present():
        sys.exit("graft sources not found: run from the root of a full checkout")
    cp = ensure_built()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    res_dir = os.path.join(OUT, "results", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(res_dir, exist_ok=True)
    cmd = java_cmd(cp) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", res_dir] + (["--short"] if a.short else [])
    t0 = time.time()
    try:
        code, _ = run_bounded(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"workload process ran {time.time() - t0:.1f} s")
    result_file = os.path.join(res_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        sys.exit(f"workload {a.workload} failed (exit {code})")
    with open(result_file) as f:
        result = json.load(f)
    with open(os.path.join(res_dir, "record.json")) as f:
        record = json.load(f)
    samples = {k: v.get("samples", 1) for k, v in record["end_to_end"].items()}
    print(f"{'metric':<40} {'value':>14} {'unit':<8} samples")
    for name, m in result["metrics"].items():
        print(f"{name:<40} {m['value']:>14.6g} {m['unit']:<8} {samples.get(name, 1)}")
    print(f"record: {os.path.relpath(res_dir, ROOT)}")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
