#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run builds the program and the
benchmark from source with the Scala compiler that ships with the Spark jars
(cached under .bench_build/ by a hash of the sources), then each run starts one JVM for the workload. The last line of
standard output is one JSON object: correct, attempted, failed and metrics,
each metric with its value and unit. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer ones,
and the span and counter file goes to .bench_build/perfbench/trace/.

--smoke runs every workload at a tiny size, untraced and traced, and checks
that every metric BENCHMARK.json names is emitted.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
RUN_LIMIT_S = 170
# every workload the benchmark program knows; BENCHMARK.json lists the ones
# the repository's gate runs
ALL_WORKLOADS = ["pubsub_json", "stream_tail", "scan_log", "curate_docs"]

# Spark on JDK 17 outside spark-submit needs these (as in the root build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    try:
        return json.loads((ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json at the checkout root: {e}")


def spark_jars():
    """The directory of Spark jars the root build compiles against (its
    unmanagedBase), else $SPARK_HOME/jars. It also holds the Scala compiler
    of the Scala version Spark was built with."""
    dirs = []
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m:
        dirs.append(Path(m.group(1)))
    if os.environ.get("SPARK_HOME"):
        dirs.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for d in dirs:
        if any(d.glob("scala-compiler-*.jar")):
            return d
    fail("no Spark jars with a Scala compiler: set unmanagedBase in build.sbt or SPARK_HOME")


def sources():
    return sorted((ROOT / "src" / "main" / "scala").rglob("*.scala")) + \
        sorted((BENCH / "src" / "main" / "scala").rglob("*.scala"))


def source_hash(jars):
    h = hashlib.sha256()
    for p in [ROOT / "build.sbt"] + sources() + sorted((ROOT / "src" / "main" / "resources").rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars)).encode())
    return h.hexdigest()


def build():
    """Compile the program's main sources and the benchmark's in one scalac
    run against the Spark jars; return the runtime classpath. Calling the
    compiler directly needs nothing but java and those jars: no sbt, no
    dependency resolution, nothing read or written outside the checkout
    but the jars. (perfbench/build.sbt is the same build for sbt users.)"""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no program sources here: run from the root of a checkout")
    if shutil.which("java") is None:
        fail("java is needed to build and run the benchmark")
    jdir = spark_jars()
    jars = sorted(jdir.glob("*.jar"))
    classes, stamp = OUT / "classes", OUT / "build.stamp"
    resources = ROOT / "src" / "main" / "resources"
    cp = os.pathsep.join([str(classes), str(resources)] + [str(j) for j in jars])
    digest = source_hash(jars)
    if stamp.is_file() and stamp.read_text() == digest:
        return cp
    OUT.mkdir(parents=True, exist_ok=True)
    stamp.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir()
    tmp = OUT / "tmp"
    tmp.mkdir(exist_ok=True)
    args = OUT / "scalac.args"
    args.write_text("\n".join(str(p) for p in sources()) + "\n")
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-", j.name)]
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-cp", os.pathsep.join(map(str, jars)), f"@{args}"]
    t0 = time.time()
    log_path = OUT / "build.log"
    with open(log_path, "w") as log:
        try:  # run() kills and reaps the compiler on a timeout
            code = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, timeout=840).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        print("\n".join(log_path.read_text().splitlines()[-30:]), file=sys.stderr)
        fail(f"build failed (see {log_path})", 3)
    stamp.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def run_jvm(cp, workload, seed, seconds, trace, scale=1.0):
    """One JVM run; returns (exit code, parsed result or None)."""
    launch_ms = time.time() * 1000
    work = OUT / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_file = OUT / "trace" / f"{workload}-seed{seed}.json"
    # No -Xms and no pre-touch: the heap grows as the run needs it, so
    # peak_rss_mb follows the program's footprint rather than the flags.
    # The serial collector with a fixed young generation keeps eden in the
    # same pages and grows the old generation by how much data survives,
    # not by pause times, so host noise does not resize the heap.
    cmd = ["java", "-Xmx2g", "-Xmn384m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
            "--launch-ms", f"{launch_ms:.3f}", "--scale", str(scale),
            "--trace-file", str(trace_file)]
    log_path = OUT / "logs" / f"{workload}-seed{seed}-trace{trace}.log"
    log_path.parent.mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as log:
        # few malloc arenas: native memory then depends less on thread timing;
        # Spark binds to the loopback address even where the host name does
        # not resolve
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish in {RUN_LIMIT_S} s (log: {log_path})", 4)
        finally:  # also on a timeout or a signal: the JVM never outlives the runner
            if proc.poll() is None:
                proc.kill()
                proc.wait()
                shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in reversed(out.splitlines()):
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
            break
    if result is not None:
        log_path.with_suffix(".result.json").write_text(json.dumps(result, indent=1))
    if proc.returncode not in (0, 1) or result is None:
        tail = log_path.read_text().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"{workload} exited with {proc.returncode} (log: {log_path})", 5)
    return proc.returncode, result


def report(bench, result, trace):
    """The printed result object: only the metrics BENCHMARK.json names."""
    wanted = bench["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"metrics not emitted: {', '.join(missing)}", 6)
    return {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def smoke(bench, cp):
    ok = True
    for w in ALL_WORKLOADS:
        for trace in (0, 1):
            code, result = run_jvm(cp, w, 1, 2, trace, scale=0.05)
            r = report(bench, result, trace)
            status = "ok" if code == 0 and r["correct"] else "FAILED"
            ok &= status == "ok"
            print(f"{w:12s} trace={trace} {status}: {len(r['metrics'])} metrics, "
                  f"{r['attempted']} checked, {r['failed']} failed", file=sys.stderr)
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    return 0 if ok else 1


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    bench = spec()
    cp = build()
    if a.smoke:
        sys.exit(smoke(bench, cp))
    if a.workload not in ALL_WORKLOADS:
        fail(f"--workload must be one of {', '.join(ALL_WORKLOADS)}")
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    code, result = run_jvm(cp, a.workload, a.seed, seconds, a.trace)
    print(json.dumps(report(bench, result, a.trace)))
    sys.exit(code)


if __name__ == "__main__":
    main()
