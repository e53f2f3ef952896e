#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine from its
sources together with the harness (sbt, `perfbench/build.sbt`, output in
`perfbench/target`) and keeps the classpath in `.bench_build/perfbench`;
later runs reuse that build while the sources are unchanged. Each run
starts one JVM at local[4], works in its own directory under
`.bench_build/perfbench`, removes it afterwards, and prints as its last
line the JSON result the harness produced.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (as in the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of every file the build reads: engine and harness sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("fingerprint") == fp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if not lines:
        raise SystemExit("build printed no classpath")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def java_cmd(cp, main, work, args):
    """The JVM command; its temporary files go under `work`, inside the checkout."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, f"-Xmx{HEAP}", *opens, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main, *args]


def run_jvm(cmd, limit_s):
    """Run the JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run exceeded {limit_s:.0f} s and was stopped")
    return proc.returncode, out


def check_result(line, trace):
    """The last line must be the result object naming exactly the metrics BENCHMARK.json lists."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    if set(got) != {m["name"] for m in want}:
        raise ValueError(f"metrics {sorted(set(got) ^ {m['name'] for m in want})} differ from BENCHMARK.json")
    for m in want:
        if got[m["name"]]["unit"] != m["unit"]:
            raise ValueError(f"{m['name']} unit {got[m['name']]['unit']}, BENCHMARK.json {m['unit']}")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources next to perfbench/: run from a graft checkout")
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    cp = build()
    t0 = time.time()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.selftest:
            code, out = run_jvm(java_cmd(cp, "perfbench.SelfTest", work, []), RUN_LIMIT_S)
            sys.stdout.write(out)
            raise SystemExit(code)
        code, out = run_jvm(java_cmd(cp, "perfbench.Main", work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]), RUN_LIMIT_S - (time.time() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        raise SystemExit(f"run failed (exit {code})")
    for ln in lines[:-1]:
        print(ln)
    res = check_result(lines[-1], a.trace == 1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
