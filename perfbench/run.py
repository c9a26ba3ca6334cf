#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload movie_etl --seed 1 --seconds 12 --trace 0

Builds the engine and the harness (perfbench/build.sbt) when their sources
changed since the last build, then starts the harness JVM. The last line of
standard output is one JSON object: correct, attempted, failed and metrics.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
ENGINE_ENTRY = ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala"
JVM_TIMEOUT_S = 160


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt unless the stamp is current."""
    stamp, cp, opts = (OUT / "stamp", OUT / "classpath.txt",
                       OUT / "jvm-options.txt")
    want = source_stamp()
    if stamp.exists() and stamp.read_text() == want:
        return cp.read_text().strip(), opts.read_text().split()
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.monotonic()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})", 3)
    cp.write_text((BENCH / "target" / "classpath.txt").read_text())
    opts.write_text((BENCH / "target" / "jvm-options.txt").read_text())
    stamp.write_text(want)
    print(f"[perfbench] built in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return cp.read_text().strip(), opts.read_text().split()


def run_jvm(classpath, jvm_options, args):
    """Run the harness to its end; return its standard output lines."""
    work = OUT / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", *jvm_options, "-Xms3g", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
            "--bench-dir", str(BENCH), "--work", str(work),
            "--cpus", str(len(os.sched_getaffinity(0)))] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"harness did not end within {JVM_TIMEOUT_S} s", 4)
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}", 4)
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the workload's query digests "
                    "to this file instead of measuring")
    a = ap.parse_args()
    if not ENGINE_ENTRY.exists() or not (ROOT / "build.sbt").exists():
        fail(f"no engine sources under {ROOT}; run from a full checkout")

    classpath, jvm_options = build()
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.record:
        args += ["--record", str(Path(a.record).resolve())]
    lines = run_jvm(classpath, jvm_options, args)
    if a.record:
        return
    if not lines:
        fail("harness printed no result", 4)
    result = json.loads(lines[-1])
    for k, m in result["metrics"].items():
        print(f"[perfbench] {a.workload} {k} = {m['value']:.6g} {m['unit']}",
              file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
