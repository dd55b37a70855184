#!/usr/bin/env python3
"""Benchmark entry point: builds the engine from source, runs one workload
over the checked-in fixture tables in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload catalog|dedup|delivery --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --workload W --seed 1 --seconds 1 --trace 0 \
        --record-golden FILE

--record-golden writes FILE afresh with the golden entries of workload W's
ops and probes; golden.tsv is the three workloads' files concatenated
under its header.

The fixture is perfbench/data/sf0.01, a byte-identical copy of the
repository's sf0.01 test tables (the oracle-checked correctness scale).
Run from the repository root. The engine (src/main/scala) and the harness
(perfbench/src) are compiled with the Scala compiler shipped in the Spark
jar directory ($SPARK_HOME/jars) into $CARGO_TARGET_DIR (default
.bench_build), and rebuilt
only when their sources change. Every run gets its own scratch root under
the build directory, deleted at exit. The last stdout line is the result
JSON; a failed build or run exits non-zero without printing one.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    return Path(home or ".") / "jars"


JARS = spark_jars()
DATA = HERE / "data" / "sf0.01"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# a fixed heap: a growing heap re-sizes the young generation during the
# first passes and slows the JIT/GC warm-up the timed passes must not see
JVM_FLAGS = ["-Xms4g", "-Xmx4g", "-Xss8m", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
# no hsperfdata files in /tmp: a run writes only inside its checkout
NO_PERF_DATA = "-XX:-UsePerfData"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(sources, out, classpath):
    jars = [JARS / f"scala-{p}-2.13.17.jar" for p in ("compiler", "library", "reflect")]
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", NO_PERF_DATA, "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(map(str, jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-cp", os.pathsep.join(classpath)] + [str(s) for s in sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compile of {out.name} failed:\n{r.stdout[-4000:]}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build(build_dir, with_tests=False):
    """Compile engine and harness when their sources changed; return the
    classpath entries."""
    engine_src = sorted((REPO / "src" / "main" / "scala").rglob("*.scala"))
    if not engine_src:
        fail("no engine sources under src/main/scala; run from the repository root")
    if not (JARS / "scala-compiler-2.13.17.jar").is_file():
        fail(f"Spark/Scala jars not found under {JARS}; set SPARK_HOME")
    spark_cp = str(JARS / "*")
    engine_key = digest(engine_src)
    engine = build_dir / "engine"
    stamp = build_dir / "engine.key"
    if not stamp.exists() or stamp.read_text() != engine_key or not engine.is_dir():
        scalac(engine_src, engine, [spark_cp])
        stamp.write_text(engine_key)
    harness_src = sorted((HERE / "src").glob("*.scala"))
    if with_tests:
        harness_src += sorted((HERE / "test").glob("*.scala"))
    harness_key = digest(harness_src, engine_key)
    harness = build_dir / ("harness-test" if with_tests else "harness")
    hstamp = build_dir / (harness.name + ".key")
    if not hstamp.exists() or hstamp.read_text() != harness_key or not harness.is_dir():
        scalac(harness_src, harness, [str(engine), spark_cp])
        hstamp.write_text(harness_key)
    return [str(engine), str(harness), spark_cp]


def java_cmd(classpath, main, run_root):
    return (["java", NO_PERF_DATA] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + JVM_FLAGS
            + [f"-Djava.io.tmpdir={run_root}",
               f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
               "-cp", os.pathsep.join(classpath), main])


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail(f"run exceeded {timeout} s (log: {log_path})")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", help="write golden row counts/fingerprints here")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")

    os.chdir(REPO)
    build_dir = REPO / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)
    classpath = build(build_dir, with_tests=a.selftest)
    logs = build_dir / "logs"
    logs.mkdir(exist_ok=True)

    if a.selftest:
        code, out = run_jvm(["java", NO_PERF_DATA, "-cp", os.pathsep.join(classpath), "perfbench.SelfTest"],
                            logs / "selftest.log", RUN_TIMEOUT_S)
        sys.stdout.write(out)
        sys.exit(code)

    if not (DATA / "lineitem.parquet").is_file():
        fail(f"fixture tables missing under {DATA}")
    run_root = build_dir / "runs" / f"{a.workload}-{os.getpid()}-{time.time_ns()}"
    if run_root.exists():
        fail(f"run root {run_root} already exists")
    run_root.parent.mkdir(parents=True, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(DATA), "--root", str(run_root),
            "--golden", str(HERE / "golden.tsv")]
    if a.record_golden:
        args += ["--record-golden", str(Path(a.record_golden).resolve())]
    try:
        code, out = run_jvm(java_cmd(classpath, "perfbench.Main", run_root) + args,
                            logs / f"{a.workload}.log", RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if code != 0 or a.record_golden:
        sys.stdout.write(out)
        if code != 0:
            fail(f"harness exited {code} (log: {logs / (a.workload + '.log')})")
        return
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"harness printed no result line (log: {logs / (a.workload + '.log')})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
