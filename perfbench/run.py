#!/usr/bin/env python3
"""Repository benchmark: CDC ingest loop (copy-on-write, 3-topic
merge-on-read) and a query mix, with a traced run for per-layer numbers.

    python3 perfbench/run.py --workload cdc_cow --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with scalac against
the Spark jars into .bench_build/perfbench/. Each run is one JVM; the
last stdout line is the result JSON (see perfbench/DESIGN.md).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cdc_cow", "cdc_mor_multi", "query_mix")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` the repository's build.sbt
    compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("no Spark jars: set SPARK_HOME")
    return m.group(1)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from a repository checkout")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return engine + bench


def build():
    """Compile engine + benchmark once per source tree; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    scala = [j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
             if os.path.basename(j).split("-")[1] in ("compiler", "library", "reflect")]
    if len(scala) != 3:
        fail(f"scala compiler/library/reflect jars not found in {jars}")
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


# the sf0.1 test tables the query mix reads (documents, embeddings),
# copied byte for byte
QUERY_DATA = os.path.join(HERE, "data", "sf0.1")
FAMILIES = ("q", "d", "e", "m", "s")


def unreached(workload, name):
    """Per-layer metrics of layers a workload does not reach: they did no
    work, so they read 0. Any other missing metric is an error."""
    family_split = name.startswith(("spark.", "query.")) and name.rsplit(".", 1)[-1] in FAMILIES
    if workload == "query_mix":
        return name.startswith(("cdc.", "store.", "ledger.", "maintenance.", "streaming."))
    if workload == "cdc_cow" and name.startswith("streaming."):
        return True
    return family_split


def run_jvm(classes, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the JDK's default collector (G1), as the repository's own runs use:
    # a throughput collector's full collections of a filled old
    # generation stall whichever batch or query they hit for seconds
    cmd += ["-Xmx3g", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")])]
    cmd += args
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s", 1)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        sys.stderr.write(out[-4000:])
        fail("benchmark JVM printed no result", 1)
    detail = json.loads(lines[-2])["detail"]
    detail["jvm_wall_s"] = time.time() - t0
    return detail, json.loads(lines[-1])


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summarize(detail, result):
    """Every metric by name with its unit, before the result line."""
    for k, m in result["metrics"].items():
        print(f"  {k:<44} {m['value']:>14.6g} {m['unit']}")
    named = ["events_per_s", "batch_s_p50", "lookup_s_p50", "table_bytes_per_row",
             "query_wall_s", "query_s_p50", "error_rate", "core.session_s", "loop_wall_s",
             "generate_s", "gates_s", "jvm_wall_s", "retained_heap_mb", "retained_non_heap_mb", "vm_hwm_mb"]
    for k in named:
        if k in detail:
            print(f"  {k:<44} {detail[k]:>14.6g}")
    for k in ("setup_seed_s", "setup_warm_s"):
        if k in detail:
            print(f"  {k} {detail[k]}")
    for k, v in sorted(detail.items()):
        if k.endswith("_percentile"):
            base = k[: -len("_percentile")]
            print(f"  {base} is p{v} of {detail.get(base + '_samples')} samples "
                  f"({detail.get(base + '_beyond')} beyond)")
    for k in ("queries", "repeat_s_by_query", "batch_s", "lookup_s"):
        if k in detail:
            print(f"  {k}: {json.dumps(detail[k])}")
    for mark in ("calibration_start", "calibration_end"):
        if mark in detail:
            print(f"  {mark}: {json.dumps(detail[mark])}")
    for f in detail.get("failures", []):
        print(f"  FAILED: {f}")


def main():
    # a terminated run must take its JVM down with it (run_jvm kills the
    # process group on any exception)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-pins", action="store_true",
                    help="rewrite perfbench/pins.json from this run's query outputs")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classes = build()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        if a.selftest:
            args = ["graft.perfbench.SelfTest", "--work-dir", work]
            detail, result = run_jvm(classes, args, work)
            print(json.dumps(detail, indent=1))
            print(json.dumps(result))
            sys.exit(0 if result["correct"] else 1)

        args = ["graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work-dir", work]
        if a.workload == "query_mix":
            args += ["--data-dir", QUERY_DATA, "--pins", os.path.join(HERE, "pins.json")]
            if a.record_pins:
                args += ["--record-pins", os.path.join(HERE, "pins.json")]
        if a.trace:
            args += ["--spans-out",
                     os.path.join(out_dir, f"spans-{a.workload}-seed{a.seed}.jsonl")]
        detail, result = run_jvm(classes, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace == 1:
        m = result["metrics"]
        out = {}
        for spec in declared()["per_layer"]:
            name = spec["name"]
            if name in m:
                out[name] = m[name]
            elif unreached(a.workload, name):
                out[name] = {"value": 0.0, "unit": spec["unit"]}
            else:
                fail(f"the traced run reported no {name}", 1)
        result["metrics"] = out
    summarize(detail, result)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
