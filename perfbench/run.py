#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage, from the root of the checkout:

    python3 perfbench/run.py --workload <upload_upsert|page_browse|gate_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (perfbench/harness, an sbt build that
depends on the engine's) when their sources changed since the last
build, then runs perfbench.Main in one JVM. The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"}; the
line before it carries the workload's detail figures. Every run starts
from an empty .bench_work/ and removes it at the end; traced runs leave
their spans in .bench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

from pathlib import Path

WORKLOADS = ("upload_upsert", "page_browse", "gate_mix")
HERE = Path(__file__).resolve().parent
HARNESS = HERE / "harness"
DATA = HERE / "data" / "sf0.01"
BUILD = Path(".bench_build")
WORK = Path(".bench_work")
OUT = Path(".bench_out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for d in (root / "src" / "main", HARNESS / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root):
    """Compiles engine and harness offline; returns the runtime classpath
    and the JVM options the harness build derives from the engine's."""
    stamp = source_stamp(root)
    cp_file, opts_file, stamp_file = (
        BUILD / "classpath.txt", BUILD / "jvm-options.txt", BUILD / "stamp")
    if not (cp_file.exists() and opts_file.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        BUILD.mkdir(exist_ok=True)
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        env["SBT_OPTS"] = env.get("SBT_OPTS") or (
            "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        log = BUILD / "build.log"
        with open(log, "w") as f:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export perfbench/Runtime/fullClasspath",
                     "perfbench/jvmOptionsFile"],
                    cwd=HARNESS, env=env, stdout=f, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        lines = log.read_text().splitlines()
        cps = [l for l in lines if l.startswith("/") and ".jar" in l]
        opts = HARNESS / "target" / "jvm-options.txt"
        if rc != 0 or not cps or not opts.is_file():
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            fail(3, f"build failed (exit {rc}); log in {log}")
        cp_file.write_text(cps[-1])
        opts_file.write_text(opts.read_text().strip())
        stamp_file.write_text(stamp)
    return cp_file.read_text().strip(), opts_file.read_text().split("\n")


def result_line(line):
    """The parsed result if `line` is one, else None."""
    try:
        r = json.loads(line)
    except ValueError:
        return None
    ok = (isinstance(r, dict)
          and set(r) == {"correct", "attempted", "failed", "metrics"}
          and isinstance(r["attempted"], int) and r["attempted"] >= 1)
    return r if ok else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail(2, "--seconds must be at least 1")

    root = Path.cwd()
    if not ((root / "build.sbt").is_file()
            and (root / "src" / "main" / "scala" / "graft").is_dir()):
        fail(2, f"no engine sources under {root}; run from the repository root")
    if not (DATA.is_dir() and (HERE / "data" / "gate_checksums.json").is_file()):
        fail(2, f"gate data missing under {HERE / 'data'}")

    cp, jvm_opts = build(root)
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    OUT.mkdir(exist_ok=True)
    cmd = (["java"] + jvm_opts
           + ["-XX:-UsePerfData",
              f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", str(DATA), "--work", str(WORK / "run"), "--out", str(OUT)])
    env = dict(os.environ)
    # no cross-process artifact reuse: every run builds what it reads
    env["SPARK_GRAFT_ARTIFACT_CACHE"] = "0"
    p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True,
                         start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        fail(128 + signum, "interrupted")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        fail(4, f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or result_line(lines[-1]) is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(5, f"harness exited {p.returncode} without a result")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
