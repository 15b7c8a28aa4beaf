#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the root of the checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, into
target/ and perfbench/target/), runs the workload in one JVM at
local[N] (N = SPARK_GRAFT_CPUS, else the CPU count), checks every
output, and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, the per-layer ledger with --trace 1.
Human-readable detail goes to stderr; the full result (env stamp,
workload metrics, per-op times, spans) is kept under .bench_build/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
BUILD = Path(".bench_build")
# A run's JVM gets --seconds plus this much: three set-ups (about 30 s
# on a cold JVM), the pass that is still running at the deadline (up to
# about 40 s) and shutdown, with room for a slow host.
JVM_MARGIN_S = 160
BUILD_TIMEOUT_S = 800
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def require_engine():
    """The benchmark builds the engine from this checkout's sources."""
    for p in ("build.sbt", "project/build.properties", "src/main/scala/graft"):
        if not Path(p).exists():
            fail(f"no engine sources here: {p} is missing (run from the root of a checkout)")


def source_digest():
    h = hashlib.sha1()
    roots = [Path("build.sbt"), Path("project/build.properties"), Path("src/main"),
             HERE / "build.sbt", HERE / "project/build.properties", HERE / "src/main"]
    for root in roots:
        files = [root] if root.is_file() else sorted(p for p in root.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    """Compile engine + harness if the sources changed; return the classpath."""
    digest = source_digest()
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), digest
    BUILD.mkdir(exist_ok=True)
    log("building engine and harness (sbt) ...")
    t0 = time.time()
    tmp = (BUILD / "sbt-tmp").resolve()
    tmp.mkdir(exist_ok=True)
    rc, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        # Every JVM sbt starts: no perf-data file outside the checkout.
        env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
    if rc != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})")
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build produced no classpath")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip(), digest


def java_cmd(cp, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}", "-cp", cp, main] + args)


def jvm_env(tmp):
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # Keep every scratch write of the engine inside the checkout.
    env["SPARK_GRAFT_SCRATCH"] = str((tmp / "scratch").resolve())
    env["SPARK_GRAFT_STAGING"] = str((tmp / "staging").resolve())
    for d in ("scratch", "staging"):
        (tmp / d).mkdir(parents=True, exist_ok=True)
    return env


def clean(p):
    shutil.rmtree(p, ignore_errors=True)


def run_jvm(main, args, timeout):
    cp, digest = classpath()
    tmp = (BUILD / "run" / "tmp").resolve()
    clean(BUILD / "run")
    tmp.mkdir(parents=True)
    env = jvm_env(tmp)
    env["PERFBENCH_SOURCE"] = digest
    try:
        rc, _ = run_bounded(java_cmd(cp, main, args, tmp), timeout,
                            stdout=sys.stderr, stderr=sys.stderr, env=env)
    finally:
        clean(BUILD / "run")
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    require_engine()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    classpath()  # a first-run build is not billed to the run's timeout
    out = (BUILD / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").resolve()
    out.parent.mkdir(parents=True, exist_ok=True)
    if out.exists():
        out.unlink()
    work = (BUILD / "run" / "work").resolve()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace),
            "--out", str(out), "--work", str(work), "--pins", str(HERE / "pins.tsv")]
    rc = run_jvm("perfbench.Main", args, a.seconds + JVM_MARGIN_S)
    if rc != 0 or not out.exists():
        fail(f"workload {a.workload} did not finish (jvm exit {rc})")
    res = json.loads(out.read_text())
    if a.trace == 0:
        source = {k: v["value"] for k, v in res["end_to_end"].items()}
    else:
        source = res["per_layer"]
        unknown = set(source) - {m["name"] for m in wanted}
        if unknown:
            fail(f"ledger metrics missing from BENCHMARK.json: {sorted(unknown)}")
    loaded = {k.split(".")[0] for k in source}
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in source:
            value = source[name]
        elif a.trace and name.split(".")[0] not in loaded:
            value = 0.0  # a layer this workload does not load
        else:
            fail(f"result lacks metric {name}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            fail(f"metric {name} is not a finite number: {value!r}")
        metrics[name] = {"value": value, "unit": m["unit"]}
    problems = res["failures"] + res["unreconciled"]
    for p in problems:
        log(f"problem: {p}")
    for k, v in sorted(res["workload_metrics"].items()):
        log(f"{k} = {v['value']} {v['unit']}")
    log(f"env {json.dumps(res['env'])}")
    log(f"{res['attempted']} ops, {res['failed']} failed, {res['passes']} whole passes, "
        f"total {time.time() - t_start:.1f} s; result in {out}")
    print(json.dumps({"correct": res["failed"] == 0 and not problems,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
