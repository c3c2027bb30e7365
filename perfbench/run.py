#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one JVM, one result line.

Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 \
        --trace 0

Builds the program (`src/main/scala`) and the harness (`perfbench/src`)
with the Scala compiler shipped in Spark's jars, unless the build under
`$CARGO_TARGET_DIR` (default `.bench_build`) is current; starts one JVM
sized like the tier-1 command (cores = nproc, driver memory = half of
MemTotal, 2g to 8g); prints every metric with its unit; and prints, as
the last line of stdout, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics of a traced run.

`--make-goldens DUMP_DIR` rewrites `perfbench/goldens/sf0.01.json` from
an op-output dump written by `graft.Verify` (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.getcwd()
WORKLOADS = ["etl_refresh", "query_mix"]
DATA = os.path.join(HERE, "data", "sf0.01")
GOLDENS = os.path.join(HERE, "goldens", "sf0.01.json")


def spark_home():
    """$SPARK_HOME, else the Spark whose `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(spark_home(), "jars")
SCALA = ["scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
         "scala-reflect-2.13.17.jar"]
# A run must end within 180 s; leave room to kill, wait and report.
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile program + harness into the build dir unless it is current;
    returns the classes directory."""
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"), "perfbench")
    classes = os.path.join(target, "classes")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(target, "stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return classes
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(os.path.join(SPARK_JARS, j) for j in SCALA)
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", os.path.join(SPARK_JARS, "*"), "-d", classes,
         "-nowarn"] + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def driver_mem():
    """Half of MemTotal in whole GiB, clamped to 2g..8g (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def jvm(classes, main, args, work, deadline):
    """Run one harness JVM in `work`; its output goes to work/jvm.log."""
    cores = str(len(os.sched_getaffinity(0)))
    cmd = ["java"] + [a for p in JDK17_OPENS
                      for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
            main] + args + ["--cores", cores]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores)
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                                env=env)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def log_tail(work):
    with open(os.path.join(work, "jvm.log"), "rb") as f:
        return f.read()[-3000:].decode(errors="replace")


def report(rec, trace):
    for c in rec["checks"]:
        if not c["ok"]:
            print(f"MISMATCH {c['name']}: got {c['got']} want {c['want']}")
    attempted, failed = metrics.fail_counts(rec)
    print(f"fail_ratio {failed / attempted:.6f} ratio "
          f"({failed} of {attempted} op calls and output checks)")
    n_ok = sum(1 for c in rec["checks"] if c["ok"])
    print(f"output_checks {n_ok}/{len(rec['checks'])} match the goldens")
    lat = [c["end_ms"] - c["start_ms"] for c in rec["calls"]]
    if lat:
        print(f"op_p50_ms {metrics.nearest_rank(lat, 50):.3f} ms (n={len(lat)})")
    tail = metrics.tail_percentile(lat)
    if tail:
        print(f"op_p{tail[0]}_ms {tail[1]:.3f} ms (highest percentile with "
              f"10 samples beyond it; n={tail[2]})")
    m = metrics.per_layer(rec) if trace else metrics.end_to_end(rec)
    for k, (v, unit) in m.items():
        print(f"{k} {v:.6g} {unit}")
    return attempted, failed, m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-goldens", metavar="DUMP_DIR")
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    if not os.path.isdir(DATA):
        fail("benchmark data not found under perfbench/data")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found: set SPARK_HOME")
    classes = build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 30)
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.make_goldens:
            code = jvm(classes, "perfbench.Harness",
                       ["--make-goldens", os.path.abspath(a.make_goldens),
                        "--goldens", GOLDENS], work, time.time() + 1800)
            if code != 0:
                fail("golden build failed:\n" + log_tail(work))
            return 0
        if a.workload is None:
            fail("--workload is required")
        out = os.path.join(work, "record.json")
        code = jvm(classes, "perfbench.Harness", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--goldens", GOLDENS,
            "--out", out], work, deadline)
        if code is None:
            fail(f"run exceeded {RUN_LIMIT_S} s and was stopped")
        if not os.path.exists(out):
            fail(f"harness exited {code} without a run record:\n"
                 + log_tail(work))
        with open(out) as f:
            rec = json.load(f)
        for f in rec["failures"]:
            print(f"FAILED {f['phase']} {f['name']}: {f['class']}: "
                  f"{f['message'][:300]}")
        if code != 0 or rec["setup_failed"]:
            fail("setup failed; no result")
        attempted, failed, m = report(rec, a.trace == 1)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in m.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
