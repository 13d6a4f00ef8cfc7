#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Run from the root of a checkout:

    python3 e2e_bench/run.py --workload maint_catalog --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source with sbt (once per source
state, under the build directory): it packs the compiled classes into one
jar and archives the classes a short run of each workload loads
(class-data sharing), so that JVM start-up does not dominate set-up. Each
run then starts one fresh JVM directly with `java`, a fixed heap, a fresh
`java.io.tmpdir` and a fresh working directory, all deleted afterwards. The last line of stdout is
one JSON object: `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`). Lines before
it are `# key: value` details (tail percentile, drift, per-key medians).
Exits non-zero, without a result line, when the build or the run fails, and
with code 1 after the result line when any output was wrong.

Options beyond the benchmark contract: `--sf DIR` (corpus, default
`$SPARK_GRAFT_SF_DIR` or ~/testdata/sf0.1), `--mode oracles --out FILE`
(dump oracle SQL, used by make_expected.py).
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
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
CHECKOUT = BENCH.parent
# the sf0.1 corpus, where graft.Bench reads it by default
DEFAULT_SF = os.environ.get("SPARK_GRAFT_SF_DIR", str(Path.home() / "testdata/sf0.1"))
CORES = 4
HEAP = "2g"
WORKLOADS = ("maint_catalog", "acid_cycle")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (as the program's
# build.sbt sets for forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OFFLINE = ("-Dsbt.override.build.repos=true "
               "-Dsbt.repository.config=" + str(Path.home() / ".sbt/repositories") +
               " -Dsbt.offline=true -Xmx2g")


def fail(msg):
    print(f"e2e_bench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", CHECKOUT / ".bench_build"))
    d = d if d.is_absolute() else CHECKOUT / d
    return d / "e2e_bench"


def source_hash():
    """Hash of every input of the build: both sbt builds and all sources."""
    h = hashlib.sha256()
    files = [CHECKOUT / "build.sbt", CHECKOUT / "project/build.properties",
             BENCH / "build.sbt", BENCH / "project/build.properties"]
    for src in (CHECKOUT / "src/main", BENCH / "src"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    for f in files:
        if not f.is_file():
            fail(f"missing build input {f.relative_to(CHECKOUT)}")
        h.update(str(f.relative_to(CHECKOUT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt if the sources changed; return the runtime classpath."""
    out = build_dir()
    stamp, cp_file = out / "stamp", out / "classpath"
    digest = source_hash()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", SBT_OFFLINE)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "e2eBench/compile", "export e2eBench/Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("sbt build failed")
    # class-data sharing archives classes from jars only: pack the class
    # directories (program and harness) into one jar
    entries = lines[-1].strip().split(":")
    jar = out / "classes.jar"
    packed = set()
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d in (Path(e) for e in entries if Path(e).is_dir()):
            for p in sorted(d.rglob("*")):
                name = p.relative_to(d).as_posix()
                if p.is_file() and name not in packed:
                    packed.add(name)
                    z.write(p, name)
    cp = ":".join([str(jar)] + [e for e in entries if not Path(e).is_dir()])
    run_dir = out / "classload"
    try:
        rc, log = run_jvm(cp, ["--mode", "classload", "--sf", DEFAULT_SF, "--seed", "1",
                               "--expected", str(BENCH / "expected_counts.json"),
                               "--out", str(run_dir / "result.json"), "--cores", str(CORES)],
                          run_dir, [f"-XX:ArchiveClassesAtExit={out / 'classes.jsa'}"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        sys.stderr.write(log[-4000:])
        fail("class-loading run failed")
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def run_jvm(cp, args, run_dir, jvm_opts=()):
    tmp, work = run_dir / "tmp", run_dir / "work"
    tmp.mkdir(parents=True)
    work.mkdir()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", *jvm_opts,
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", cp, "e2ebench.Main", *args]
    log = run_dir / "jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return rc, log.read_text(errors="replace")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="maint_catalog")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=DEFAULT_SF)
    ap.add_argument("--mode", choices=("run", "oracles"), default="run")
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.mode == "run" and a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}")
    if not Path(a.sf, "orders.parquet").is_file():
        fail(f"no corpus at {a.sf}")

    cp = build()
    run_dir = build_dir() / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        out = run_dir / "result.json"
        args = ["--mode", a.mode, "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--sf", a.sf,
                "--expected", str(BENCH / "expected_counts.json"),
                "--out", str(Path(a.out).resolve() if a.out else out),
                "--cores", str(CORES)]
        archive = build_dir() / "classes.jsa"
        rc, log = run_jvm(cp, args, run_dir,
                          [f"-XX:SharedArchiveFile={archive}"] if archive.is_file() else [])
        if a.mode == "oracles":
            if rc != 0:
                sys.stderr.write(log[-4000:])
                fail("oracle dump failed")
            return 0
        if rc != 0 or not out.is_file():
            sys.stderr.write(log[-4000:])
            fail("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))
        res = json.loads(out.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in res.pop("detail").items():
        print(f"# {k}: {v}")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
