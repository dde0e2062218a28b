"""Benchmark command: builds the program from source, stages the seeded
inputs, runs one benchmark JVM and prints the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. Everything it builds, stages or writes
goes under `.bench_build/` there. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}; the line before it
holds the run's diagnostics. With --trace 0 the metrics are the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".bench_build")
SCALA_VERSION = "2.13.17"


def spark_jars():
    """`jars/` of $SPARK_HOME, or of the first PATH entry holding a Spark
    distribution's `spark-submit`: it must carry the Scala compiler too."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.exists(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    return None


SPARK_JARS = spark_jars()
# A run must end within this many seconds of its start (the first run of a
# checkout, which builds, within BUILD_RUN_LIMIT_S); see jvm_timeout.
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 890
# start-up, warm-up and checks take under a minute on a 4-core box
FIXED_ALLOWANCE_S = 60
# fixed heap geometry: peak RSS then tracks the program's live data, not G1's
# adaptive heap and young-generation sizing
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn640m"]
# (task slots, shuffle partitions) per workload. Census reports are
# driver-bound jobs: two slots leave the other cores to the driver, JIT and
# GC threads. The pretrain chain runs four partitions per slot, so a slot
# the host slows down takes fewer tasks (see LAYERS.md).
SLOTS = {"census_report": (2, 2), "pretrain": (4, 16)}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(*dirs):
    out = []
    for d in dirs:
        for root, subdirs, files in os.walk(d):
            subdirs.sort()
            out += [os.path.join(root, f) for f in sorted(files)]
    return out


def spark_classpath():
    jars = sorted(f for f in os.listdir(SPARK_JARS) if f.endswith(".jar"))
    return [os.path.join(SPARK_JARS, j) for j in jars]


def scalac(classpath, dest, files):
    compiler = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath), "-d", dest] + files
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        fail("compile failed:\n" + (res.stdout + res.stderr)[-4000:], 3)


def build():
    """Compile src/main and the harness into one jar, cached by the digest of
    the sources. Returns the jar and whether this call compiled it."""
    main_src = os.path.join(ROOT, "src", "main")
    harness = os.path.join(HERE, "harness")
    files = sources(main_src, harness)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    dest = os.path.join(OUT, "build-" + h.hexdigest()[:16])
    jar = os.path.join(dest, "app.jar")
    if os.path.exists(os.path.join(dest, "done")):
        return jar, False
    for old in os.listdir(OUT) if os.path.isdir(OUT) else []:
        if old.startswith("build-"):
            shutil.rmtree(os.path.join(OUT, old))
    classes = os.path.join(dest, "classes")
    os.makedirs(classes)
    jars = spark_classpath()
    scalac(jars, classes, [f for f in files if f.startswith(os.path.join(main_src, "scala"))
                           and f.endswith(".scala")])
    resources = os.path.join(main_src, "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    scalac([classes] + jars, classes, [f for f in files if f.startswith(harness)])
    with zipfile.ZipFile(jar, "w") as z:
        for f in sources(classes):
            z.write(f, os.path.relpath(f, classes))
    shutil.rmtree(classes)
    open(os.path.join(dest, "done"), "w").close()
    return jar, True


def stage(workload, seed):
    """Stage the seeded inputs once per (workload, seed, stager); not part of
    setup."""
    stager = os.path.join(HERE, "stage.py")
    with open(stager, "rb") as f:
        law = hashlib.sha256(f.read()).hexdigest()[:8]
    dest = os.path.join(OUT, "stage", f"{workload}-{seed}-{law}")
    manifest = os.path.join(dest, "manifest.json")
    if not os.path.exists(manifest):
        tmp = dest + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        res = subprocess.run([sys.executable, stager, workload, str(seed), tmp],
                             capture_output=True, text=True)
        if res.returncode != 0:
            fail("staging failed:\n" + res.stderr[-4000:], 3)
        info = res.stdout.strip().splitlines()[-1]
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(tmp, dest)
        with open(manifest, "w") as f:
            f.write(info)
    with open(manifest) as f:
        return dest, json.load(f)


def slots(workload):
    """Task slots and shuffle partitions, with the slots capped at the cores
    this process may use."""
    n, partitions = SLOTS[workload]
    usable = max(1, min(n, len(os.sched_getaffinity(0))))
    return usable, partitions * usable // n


def jvm_timeout(seconds, trace, elapsed, built):
    """Seconds after which a hung benchmark JVM is killed: what is left of
    the run's time limit, or, when --seconds asks for longer runs, an
    allowance for start-up, warm-up and checks plus three times the nominal
    length of each schedule the run times (a traced run times it twice)."""
    left = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - elapsed
    return max(left, FIXED_ALLOWANCE_S + (2 if trace else 1) * 3 * seconds)


def class_archive(jar, workload, trace):
    """JVM flags for the workload's class-data-sharing archive: the first
    untraced run of a workload on a build records the classes it loaded at
    exit, and the later runs start from them. A traced run never records:
    it is the longest run, and recording would add to it."""
    archive = os.path.join(os.path.dirname(jar), workload + ".jsa")
    if os.path.exists(archive):
        return ["-XX:SharedArchiveFile=" + archive]
    return [] if trace else ["-XX:ArchiveClassesAtExit=" + archive]


def run_jvm(jar, args, work, timeout):
    cmd = ["java", "-XX:-UsePerfData"] + class_archive(jar, args[0], args[3] == "1") + HEAP + [
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", ":".join([jar] + spark_classpath()), "graft.perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        launch_ns = time.time_ns()
        proc = subprocess.Popen(cmd + [str(launch_ns)] + [str(x) for x in slots(args[0])],
                                stdout=subprocess.PIPE,
                                stderr=log, text=True, cwd=work, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM exceeded {timeout} s", 1)
    result = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not result:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"benchmark JVM exited {proc.returncode} without a result:\n{tail}", 1)
    return json.loads(result[-1][len("PERFBENCH_RESULT "):])


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if SPARK_JARS is None:
        fail(f"no Spark distribution with Scala {SCALA_VERSION}: set SPARK_HOME")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.exists(spec_path):
        fail("run from the root of a checkout holding src/main/scala and BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")

    jar, built = build()
    stage_dir, staged = stage(a.workload, a.seed)
    work = os.path.join(OUT, "run", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(jar, [a.workload, str(a.seed), str(a.seconds), str(a.trace), stage_dir,
                            work, ROOT], work,
                      jvm_timeout(a.seconds, a.trace, time.monotonic() - start, built))
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(spans, os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"result lacks metrics {missing}", 1)
    diagnostics = dict(res["diagnostics"], input_digest=staged["digest"], staged=staged)
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps({
        "correct": bool(res["correct"]) and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
