#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine, one workload per run.

    python3 pipebench/run.py --workload accidents --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the engine's sources
(``src/main/scala``) together with the harness in ``pipebench/harness``
into ``.bench_build/``, using the Scala compiler that ships with Spark
(``$SPARK_HOME/jars``). Each run then generates its inputs from the seed,
starts one JVM on ``local[nproc]`` and prints, as its last line, a JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. The lines before it carry the host fingerprint, the pass
times and every stage or query timing by name.

Workloads (one client, closed loop):
  accidents  the paper's pipeline over a generated accidents CSV: clean,
             parquet, features, Random Forest, K-Means elbow and fit, kNN,
             JSON and CSV sinks; few plans, MLlib-bound.
  registry   one SparkEntry.queries entry per engine module at scale factor
             0.1, a streaming query included; many short queries, bound by
             build-time jobs, planning and scheduling.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "pipebench")
RUN_ROOT = os.path.join(ROOT, ".bench_run")
WORKLOADS = ("accidents", "registry")
ACCIDENT_ROWS = 10_000
# a fixed, pre-touched heap: the resident peak then varies with native
# memory and heap size only, not with when G1 chose to grow the heap
HEAP = "2g"
RUN_LIMIT_S = 170  # a run must end within 180 s, compilation excluded
# the engine's transient scratch roots, when /dev/shm is writable
SHM_SCRATCH = ("/dev/shm/graft-tmp", "/dev/shm/graft-spark-local")
ADD_OPENS = [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(1)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        fail("no Spark jars found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile engine + harness unless the sources are unchanged."""
    srcs = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                            recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    digest = hashlib.sha256()
    for p in srcs + jars:
        digest.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = ":".join(jars)
    t0 = time.time()
    res = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if res.returncode != 0:
        fail("compilation failed")
    print(f"pipebench: compiled {len(srcs)} files in {time.time() - t0:.1f} s",
          file=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def listing(d):
    try:
        return set(os.listdir(d))
    except OSError:
        return set()


def host(stamp, seed, workload, end):
    mem = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1])
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        sha = sha.stdout.strip() if sha.returncode == 0 else None
    except OSError:
        sha = None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem,
            "jdk": end.get("jdk"), "spark": end.get("spark"), "git_sha": sha,
            "source_sha256": stamp, "seed": seed, "workload": workload}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def check(passes, expected):
    """Per op execution in the timed passes: True when its output is right.

    An output must equal the recorded expectation where there is one, and
    must equal the same op's output in the first warm-up pass, so a
    result that drifts between passes counts as a failure."""
    first = {o["name"]: o["out"] for o in passes[0]["ops"]}
    verdicts = []
    for p in passes:
        if p["phase"] != "timed":
            continue
        outs = {o["name"]: o["out"] for o in p["ops"]}
        for name, out in outs.items():
            want = expected.get(name)
            if name == "ml.kmeans_fit":
                want = "clusters=" + outs["ml.kmeans_elbow"].split("=", 1)[1]
            ok = (not out.startswith("ERROR") and out == first[name]
                  and (want is None or out == want))
            if not ok:
                print(f"pipebench: {name} pass {p['index']}: got {out!r}, "
                      f"want {want or first[name]!r}", file=sys.stderr)
            verdicts.append(ok)
    return verdicts


def summarise(workload, passes, end, verdicts, traced):
    timed = [p for p in passes if p["phase"] == "timed"]
    attempted = len(verdicts)
    failed = verdicts.count(False)
    per_op = {}
    for p in timed:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(o["build_s"] + o["exec_s"])
    # stage timings for the pipeline, module build/exec sums for the slices
    layers = {}
    for p in timed:
        sums = {}
        for o in p["ops"]:
            if workload == "accidents":
                key = o["name"] + ("_build_s" if o["build_s"] else "_s")
                sums[key] = o["build_s"] + o["exec_s"]
            else:
                for kind in ("build", "exec"):
                    k = f"{o['layer']}.{kind}_s"
                    sums[k] = sums.get(k, 0.0) + o[kind + "_s"]
        for k, v in sums.items():
            layers.setdefault(k, []).append(v)
    layers = {k: median(v) for k, v in sorted(layers.items())}
    if not traced:
        metrics = {
            "setup_s": (end["setup_s"], "s"),
            "pass_s": (median([p["wall_s"] for p in timed]), "s"),
            "query_p50_s": (median([median(v) for v in per_op.values()]), "s"),
            "success_ratio": ((attempted - failed) / attempted, "ratio"),
            "peak_rss_mb": (end["peak_rss_mb"], "MB"),
        }
    else:
        on = [p for p in timed if p["traced"]]
        off = [p for p in timed if not p["traced"]]
        units = {"spark.jobs": "count", "spark.build_jobs": "count",
                 "spark.stages": "count", "spark.tasks": "count",
                 "spark.failed_tasks": "count", "catalyst.planning_ms": "ms"}
        metrics = {
            "build_s": (median([sum(o["build_s"] for o in p["ops"])
                                for p in on]), "s"),
            "exec_s": (median([sum(o["exec_s"] for o in p["ops"])
                               for p in on]), "s"),
        }
        for k in on[0]["trace"]:
            unit = units.get(k, "MB" if k.endswith("_mb") else "s")
            metrics[k] = (median([p["trace"][k] for p in on]), unit)
        metrics["trace.overhead_pct"] = (
            100 * (median([p["wall_s"] for p in on])
                   / median([p["wall_s"] for p in off]) - 1), "%")
    return attempted, failed, metrics, layers, per_op


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    jars = spark_jars()
    classes, stamp = build(jars)
    budget_start = time.time()

    sys.path.insert(0, HERE)
    import gen
    run_dir = os.path.join(RUN_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    work = os.path.join(run_dir, "work")
    for d in (data, out, local, tmp, work):
        os.makedirs(d)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)[args.workload]
    if args.workload == "accidents":
        rows = gen.accidents_csv(os.path.join(data, "accidents.csv"),
                                 args.seed, ACCIDENT_ROWS)
        expected["ml.features"] = f"rows={rows}"
    else:
        gen.engine_tables(data, args.seed)
    gen_s = time.time() - budget_start

    shm_before = {d: listing(d) for d in SHM_SCRATCH}
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=local)
    cmd = [java(), *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", ":".join([classes] + jars), "pipebench.Main",
           args.workload, data, out, str(args.seconds), str(args.trace),
           str(len(os.sched_getaffinity(0)))]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(
                timeout=max(10, RUN_LIMIT_S - (time.time() - budget_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s; log kept in {run_dir}")
    passes, end = [], None
    for line in stdout.splitlines():
        if line.startswith("@pb pass "):
            passes.append(json.loads(line[len("@pb pass "):]))
        elif line.startswith("@pb end "):
            end = json.loads(line[len("@pb end "):])
    if proc.returncode != 0 or end is None:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {proc.returncode}; log kept in {run_dir}")

    verdicts = check(passes, expected)
    # every scratch directory the engine made must be gone after the run
    leftovers = [os.path.join(d, n) for d in SHM_SCRATCH
                 for n in listing(d) - shm_before[d]]
    leftovers += [os.path.join(local, n) for n in listing(local)]
    leftovers += [os.path.join(tmp, n) for n in listing(tmp)
                  if n.startswith("graft")]
    for p in leftovers:
        print(f"pipebench: scratch left behind: {p}", file=sys.stderr)
    verdicts.append(not leftovers)
    shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, metrics, layers, per_op = summarise(
        args.workload, passes, end, verdicts, args.trace == 1)
    print(json.dumps({"host": host(stamp, args.seed, args.workload, end),
                      "gen_s": gen_s, "run_s": time.time() - t_start}))
    timed = [p for p in passes if p["phase"] == "timed"]
    print(json.dumps({
        "warmup_pass_s": [p["wall_s"] for p in passes
                          if p["phase"] == "warmup"],
        "timed_pass_s": [p["wall_s"] for p in timed],
        "traced": [p["traced"] for p in timed]}))
    print(json.dumps({
        "layers_s": layers,
        "op_median_s": {k: median(v) for k, v in per_op.items()},
        "outputs": {o["name"]: o["out"] for o in timed[-1]["ops"]}}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
