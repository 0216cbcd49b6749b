#!/usr/bin/env python3
"""Build and run the catlasspark benchmark.

    python3 perfbench/run.py --workload screen --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --make-manifest

Run from the root of a checkout. The first run compiles the engine and the
benchmark with sbt (offline) into the checkout; later runs reuse that build
while the sources are unchanged. Each run starts from an empty work
directory and prints one JSON result as its last stdout line.
`--make-manifest` rewrites the registry workload's expected outputs
(perfbench/manifest.tsv) from the engine beside it.
"""

import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
LAUNCH = BUILD / "launch.args"
CORPUS = HERE / "corpus"
MANIFEST = HERE / "manifest.tsv"
STAMP = BUILD / "stamp"

BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src" / "main"):
        inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s and was stopped")
    return proc.returncode, out


def build():
    stamp = source_stamp()
    if LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        code, _ = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchArgs"],
                            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=f,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not LAUNCH.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    STAMP.write_text(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-manifest", action="store_true")
    args = ap.parse_args()
    if not args.workload and not args.make_manifest:
        ap.error("--workload is required")

    # the benchmark measures the engine beside it; without it there is nothing to run
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        fail(f"no engine sources under {ROOT}; run from a full checkout")
    build()

    work = BUILD / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    launch = LAUNCH.read_text().splitlines()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    jvm = ["java", HEAP, f"-Djava.io.tmpdir={work / 'tmp'}"] + launch
    if args.make_manifest:
        cmd = jvm + ["graft.perfbench.MakeManifest", str(CORPUS), str(work), str(MANIFEST)]
    else:
        cmd = jvm + ["graft.perfbench.Main",
                     "--workload", args.workload,
                     "--seed", str(args.seed), "--seconds", str(args.seconds),
                     "--trace", str(args.trace), "--work", str(work),
                     "--spec", str(ROOT / "BENCHMARK.json"),
                     "--corpus", str(CORPUS), "--manifest", str(MANIFEST)]
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                          stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {code}")
    print(lines[-1])


if __name__ == "__main__":
    main()
