#!/usr/bin/env python3
"""graft ingest/drain benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_cow --seed 1 --seconds 20 --trace 0

Builds graft's main sources plus the harness in perfbench/scala with the
Scala compiler that ships in Spark's jar directory (into .bench_build/), runs
one workload in a fresh JVM on Spark local[nproc], and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. The line before it, prefixed `perfbench-meta`,
holds run metadata (generator parameters, sample counts, host fingerprint,
calibration timing). Exit status is non-zero on a correctness mismatch, a
failed build, or a missing source tree.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(root, "build.sbt")
    if os.path.exists(build):
        with open(build) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("cannot find Spark's jars: set SPARK_HOME")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars):
    """Compile once per source tree; the output directory is keyed by a hash of the sources."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", tmp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed", 3)
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in os.listdir(out_root):  # builds of earlier source trees
        if old.startswith("classes-") and ".tmp" not in old and old != os.path.basename(out):
            shutil.rmtree(os.path.join(out_root, old), ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test size")
    ap.add_argument("--plant-wrong-model", action="store_true",
                    help="perturb one model value; the correctness gate must fail")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    params = os.path.join(HERE, "workloads.json")
    with open(params) as f:
        if args.workload not in json.load(f)["workloads"]:
            fail(f"unknown workload {args.workload}")

    jars = spark_jars(root)
    classes = build(root, jars)
    work = os.path.join(root, ".bench_build", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # 16 MB heap regions: buffers of up to 8 MB stay out of G1's humongous
    # regions, which count as old generation, so live_heap_peak_mb does not
    # depend on whether a collection lands while such a buffer is alive
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-XX:G1HeapRegionSize=16m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--params", params]
           + (["--tiny"] if args.tiny else [])
           + (["--plant-wrong-model"] if args.plant_wrong_model else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        sys.stdout.write(out)
        fail(f"harness exited {proc.returncode} without a result", proc.returncode or 5)

    wanted = bench["per_layer" if args.trace else "end_to_end"]
    names = {m["name"]: m["unit"] for m in wanted}
    got = result["metrics"]
    extra = set(got) - set(names)
    if extra:
        fail(f"harness reported metrics BENCHMARK.json does not list: {sorted(extra)}", 6)
    for name, unit in names.items():
        if args.trace:  # layers a workload does not exercise did no work
            got.setdefault(name, {"value": 0.0, "unit": unit})
        if name not in got:
            fail(f"harness did not report metric {name}", 6)
        if got[name]["unit"] != unit:
            fail(f"metric {name} has unit {got[name]['unit']}, BENCHMARK.json says {unit}", 6)
    result["metrics"] = {n: got[n] for n in names}
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
