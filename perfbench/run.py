#!/usr/bin/env python3
"""graft's benchmark: run one seeded workload and print its metrics.

    python3 perfbench/run.py --workload cdc_load --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the library and the
benchmark from source with sbt (offline, from the local dependency cache)
into .bench_build/; later runs reuse that build until a source file changes.
Each run starts one JVM (graftbench.Main), which prints a report; the last
line printed here is the result as one JSON object. The exit code is 0 only
when the workload ran and a result was written.

The build ends with one short cdc_load run that writes a class-data-sharing
archive of the classes it loaded; every run maps it, which takes several
seconds off each JVM start. It changes how fast classes load, not what runs.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
LAUNCH = BUILD / "launch.txt"
ARCHIVE = BUILD / "classes.jsa"
WORKLOADS = ("cdc_load", "corpus_prep", "ann_serve")
# no hsperfdata files outside the checkout
JVM = ["-Xmx3g", "-XX:-UsePerfData"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the library's and the benchmark's."""
    for base in (ROOT / "src" / "main", HERE / "src" / "main", ROOT / "project", HERE / "project"):
        if base.is_dir():
            for p in base.rglob("*"):
                if p.is_file() and "target" not in p.relative_to(base).parts:
                    yield p
    for p in (ROOT / "build.sbt", HERE / "build.sbt"):
        if p.is_file():
            yield p


def run_group(cmd, timeout, **kw):
    """Run cmd in a process group of its own; on timeout or interrupt kill
    the whole group and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def main_jvm(work, args, cds, **kw):
    """Run graftbench.Main with `args` in a JVM of its own, `cds` being its
    class-data-sharing option; return the exit code."""
    lines = LAUNCH.read_text().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    tmp = BUILD / "tmp"
    for d in (work, tmp, BUILD / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(BUILD / "spark-local")
    cmd = (["java"] + JVM + [f"-Djava.io.tmpdir={tmp}", cds] + jvm_opts +
           ["-cp", classpath, "graftbench.Main"] + args + ["--work", str(work)])
    return run_group(cmd, timeout=170, cwd=work, env=env, stdin=subprocess.DEVNULL, **kw)


def build():
    newest = max(p.stat().st_mtime for p in sources())
    if ARCHIVE.is_file() and ARCHIVE.stat().st_mtime > newest:
        return
    BUILD.mkdir(exist_ok=True)
    if ARCHIVE.exists():
        ARCHIVE.unlink()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Dsbt.global.base={BUILD / 'sbt-global'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building library and benchmark with sbt (log: .bench_build/build.log)")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.launch={LAUNCH}", "benchLaunch"],
                       timeout=840, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not LAUNCH.is_file():
        sys.exit(f"build failed (exit {rc}); see .bench_build/build.log")
    dump = ARCHIVE.with_suffix(".tmp")
    train = BUILD / "runs" / "train"
    with open(BUILD / "train.log", "w") as out:
        rc = main_jvm(train, ["--workload", "cdc_load", "--seed", "0", "--seconds", "0",
                              "--trace", "0", "--result", str(train / "result.json")],
                      f"-XX:ArchiveClassesAtExit={dump}", stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not dump.is_file():
        sys.exit(f"class-data-sharing run failed (exit {rc}); see .bench_build/train.log")
    dump.replace(ARCHIVE)
    log(f"built in {time.time() - t0:.0f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("no graft sources next to perfbench/: run from a checkout of the repository")
    build()

    work = BUILD / "runs" / f"{args.workload}-{args.seed}-{args.trace}"
    result = work / "result.json"
    if result.exists():
        result.unlink()
    rc = main_jvm(work, ["--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--result", str(result)],
                  f"-XX:SharedArchiveFile={ARCHIVE}")
    if rc != 0 or not result.is_file():
        sys.exit(f"workload {args.workload} failed (exit {rc})")
    out = json.loads(result.read_text())
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
