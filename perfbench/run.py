#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload etl-closure --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (scalac from the Spark
distribution, into $CARGO_TARGET_DIR or .bench_build), runs the workload in
one JVM on local[nproc], checks its outputs and prints, as the last line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it is the
full report (workload-specific figures and output checks).

--out FILE also writes the report, per-layer metrics included when tracing,
to FILE; perfbench/diff.py compares two such files. --record rewrites
perfbench/expected.json, the result digests the query checks compare
against, from the current tree.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

WORKLOADS = {
    # workload -> data directory under perfbench/data
    "etl-closure": "sf0.001",
    "query-mix": "sf0.01",
}
EXPECTED = HERE / "expected.json"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not home or not jars.is_dir():
        raise BenchError("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BenchError("engine sources not found at %s" % engine)
    files = sorted(engine.rglob("*.scala")) + sorted((HERE / "scala").glob("*.scala"))
    if not files:
        raise BenchError("no sources to build")
    return files


def build():
    """Compiles engine and benchmark into a directory keyed by their content;
    returns it. A finished build is reused."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = build_dir() / ("classes-" + h.hexdigest()[:16])
    if (out / ".complete").exists():
        return out
    tmp = Path(str(out) + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + str(tmp), "-cp", str(spark_jars()) + "/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-classpath", str(tmp),
           "-d", str(tmp), "@" + str(argfile)]
    # cwd and -classpath point away from the checkout: scalac's default
    # classpath "." would read perfbench/scala as a package
    p = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BenchError("build failed:\n" + p.stdout[-4000:])
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def run_jvm(classes, main, args, cwd, log):
    """Runs one JVM to completion in its own process group; kills the group
    if it outlives the timeout."""
    tmp = cwd / "tmp"
    local = cwd / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + str(tmp), "-Dderby.system.home=" + str(cwd),
            "-cp", "%s:%s/*" % (classes, spark_jars()), main] + [str(a) for a in args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("run exceeded %d s" % JVM_TIMEOUT_S)
    if code != 0:
        tail = Path(log).read_text(errors="replace")[-3000:]
        raise BenchError("run failed with exit code %d:\n%s" % (code, tail))


def run(args):
    if args.workload not in WORKLOADS:
        raise BenchError("unknown workload %r (one of %s)"
                         % (args.workload, ", ".join(WORKLOADS)))
    data = HERE / "data" / WORKLOADS[args.workload]
    if not data.is_dir():
        raise BenchError("benchmark data not found at %s" % data)
    classes = build()
    work = build_dir() / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    raw_file = work / "raw.json"
    jvm_args = [args.workload, args.seed, args.seconds, args.trace,
                os.cpu_count() or 1, data, work, raw_file]
    if EXPECTED.exists() and not args.record:
        jvm_args.append(EXPECTED)
    try:
        run_jvm(classes, "perfbench.BenchMain", jvm_args, work, work / "jvm.log")
        raw = json.loads(raw_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return raw


def record(raw):
    """Writes the digests of this run's query samples as the expected ones."""
    got = {}
    for s in raw["samples"]:
        if s["kind"] == "query" and s.get("rows") is not None:
            prev = got.setdefault(s["name"], {"rows": s["rows"], "hash": s["hash"]})
            if prev != {"rows": s["rows"], "hash": s["hash"]}:
                raise BenchError("%s gave two different results in one run" % s["name"])
    EXPECTED.write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full report to this file")
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected.json from this run (query-mix)")
    args = ap.parse_args()
    t0 = time.time()
    try:
        raw = run(args)
        if args.record:
            record(raw)
        rep = metrics.report(raw)
        layers = metrics.per_layer(raw) if args.trace else None
    except BenchError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    attempted, failed = metrics.error_counts(raw)
    if args.trace:
        chosen = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        chosen = {k: {"value": v, "unit": u} for k, (v, u) in metrics.end_to_end(raw).items()}
    full = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "wall_s": time.time() - t0, "report": rep, "per_layer": layers}
    if args.out:
        Path(args.out).write_text(json.dumps(full, indent=1, sort_keys=True) + "\n")
    print(json.dumps({"report": rep}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": chosen}))
    return 0


def unit_of(name):
    if name == "sink.bytes_per_pushed_row":
        return "bytes/row"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.core_busy", "exec.task_skew", "error_rate"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
