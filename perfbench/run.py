#!/usr/bin/env python3
"""graft benchmark: the reference ingest pipeline and the query surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds graft's main classes and the benchmark driver with the Scala
compiler shipped in the Spark jars (into ``.bench_build/``, reused while
the sources are unchanged), generates the workload's inputs from the
seed, runs the workload in a fresh JVM with every scratch directory
(Spark local dirs, ``java.io.tmpdir``, index store, checkpoints, Derby
log) private to the run, deletes them afterwards, and prints one JSON
line: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). See ``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def _spark_jars():
    """The Spark jars: $SPARK_HOME's, else those bundled with pyspark."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        import pyspark
    except ImportError:
        raise SystemExit("set SPARK_HOME to a Spark 4.1 distribution")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


SPARK_JARS = _spark_jars()

CORES = 4
JVM_HEAP = "2g"
# a run must end within 180 s of its start; the JVMs of a run (two when
# traced) share what is left of RUN_LIMIT_S after the build, and a JVM
# still running at the limit is killed and the run fails
RUN_LIMIT_S = 172
# a traced JVM takes up to this many times as long as the untraced one;
# a traced run that cannot fit in the limit stops before starting it
TRACE_COST = 1.5

# set-ups per run whose median is setup_s: a set-up of an ingest
# workload (session, sink table, catalog lookup) is cheap once the JVM
# is warm; one of query_surface builds or serves 16 shared indexes
INGEST_SETUPS = 5
SURFACE_SETUPS = 3
# ingest, drain phases: a backlog drained one file per micro-batch, before
# and after the paced phase. The DRAIN_WARM files warm the JVM and are not
# timed: the small one the per-batch paths (planning, scheduling,
# commits), the large ones the per-row paths (parse, formatting, Derby
# inserts). The second drain is a new query on a warm JVM; its one
# REDRAIN_WARM file warms the query. Then each drain times DRAIN_TIMED
# files of DRAIN_BATCH_ROWS rows.
DRAIN_WARM = [250, 3000, 3000]
REDRAIN_WARM = [250]
DRAIN_TIMED = 3
DRAIN_BATCH_ROWS = 1500
# ingest, paced phase: PACED_RATE rows/s, published every PACED_PERIOD_MS,
# with the drain's row cap per micro-batch. The first PACED_WARMUP_S
# seconds warm the new query's per-batch paths (its batches start at
# about twice their settled time) and are not timed; then --seconds
# seconds are.
PACED_RATE = 150
PACED_PERIOD_MS = 100
PACED_WARMUP_S = 4
# the paced query's processing-time trigger (the drain's is 0, back to
# back). Back to back, each batch's length sets the next one's size, so
# a slow phase of the host feeds back into latency; a 1 s trigger did
# the same once a slow phase stretched batches past 1 s. At 2 s a batch
# of 300 rows took at most 1.7 s in the slowest phase seen on a 4-vCPU
# host.
PACED_TRIGGER_MS = 2000
# query_surface: every SURFACE_STRIDE-th query of the sorted key set, on
# a corpus at SURFACE_SCALE x sf0.01 row counts
SURFACE_STRIDE = 15
SURFACE_SCALE = 1.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources(rel_dir):
    root = os.path.join(ROOT, rel_dir)
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(out_dir, classpath, sources):
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir, "-classpath", classpath,
           "@" + argfile]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    os.remove(argfile)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        raise SystemExit(f"compilation failed: {out_dir}")


def build():
    """Compiles graft (src/main/scala) and the driver (perfbench/src)
    unless the classes under .bench_build match the sources. Returns
    the runtime classpath."""
    graft_src = _sources("src/main/scala")
    bench_src = _sources("perfbench/src")
    if not graft_src:
        raise SystemExit("no graft sources under src/main/scala: run from a repository checkout")
    os.makedirs(BUILD, exist_ok=True)
    graft_dir = os.path.join(BUILD, "graft-classes")
    bench_dir = os.path.join(BUILD, "bench-classes")
    jars = os.path.join(SPARK_JARS, "*")
    stamp_file = os.path.join(BUILD, "stamp.json")
    want = {"graft": _stamp(graft_src), "bench": _stamp(bench_src)}
    have = {}
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            have = json.load(f)
    if have.get("graft") != want["graft"]:
        t0 = time.time()
        have = {}
        _scalac(graft_dir, jars, graft_src)
        log(f"compiled graft ({len(graft_src)} files) in {time.time() - t0:.0f}s")
    if have.get("bench") != want["bench"]:
        _scalac(bench_dir, os.pathsep.join([graft_dir, jars]), bench_src)
        log("compiled benchmark driver")
    with open(stamp_file, "w") as f:
        json.dump(want, f)
    return os.pathsep.join([bench_dir, graft_dir, jars])


# ------------------------------------------------------------------ inputs

def surface_queries():
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        prints = json.load(f)
    return sorted(prints)[::SURFACE_STRIDE]


def corpus():
    """The fixed surface corpus, written once per checkout (keyed by the
    generator's source) and only read by runs."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + str(SURFACE_SCALE).encode()).hexdigest()[:16]
    path = os.path.join(BUILD, f"corpus-{key}")
    if not os.path.exists(path):
        tmp = tempfile.mkdtemp(prefix="corpus-", dir=BUILD)
        gen.write_corpus(tmp, SURFACE_SCALE)
        try:
            os.rename(tmp, path)
        except OSError:  # another run wrote it first
            shutil.rmtree(tmp)
    return path


def make_inputs(workload, seed, seconds, data):
    """Writes the workload's inputs under ``data``; returns extra JVM args."""
    if workload == "ingest":
        timed = [DRAIN_BATCH_ROWS] * DRAIN_TIMED
        gen.write_ingest(os.path.join(data, "backlog"), seed, DRAIN_WARM + timed,
                         warm=len(DRAIN_WARM))
        gen.write_ingest(os.path.join(data, "backlog2"), seed + 2, REDRAIN_WARM + timed,
                         warm=len(REDRAIN_WARM))
        n_files = (PACED_WARMUP_S + seconds) * 1000 // PACED_PERIOD_MS
        per_file = PACED_RATE * PACED_PERIOD_MS // 1000
        gen.write_ingest(os.path.join(data, "paced"), seed + 1, [per_file] * n_files,
                         rate=PACED_RATE)
        return {"setups": str(INGEST_SETUPS),
                "paced-max-files": str(max(1, DRAIN_BATCH_ROWS // per_file)),
                "paced-trigger-ms": str(PACED_TRIGGER_MS),
                "warmup": str(PACED_WARMUP_S)}
    if workload == "query_surface":
        os.makedirs(data, exist_ok=True)
        os.symlink(corpus(), os.path.join(data, "corpus"))
        shutil.copy(os.path.join(HERE, "fingerprints.json"), os.path.join(data, "fingerprints.json"))
        return {"queries": ",".join(surface_queries()), "setups": str(SURFACE_SETUPS)}
    raise SystemExit(f"unknown workload: {workload}")


# ------------------------------------------------------------------ run

def jvm_opens():
    return [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(classpath, run_dir, args, timeout):
    """Runs the driver in a fresh JVM whose scratch state lives in its
    own directory under run_dir."""
    run_dir = tempfile.mkdtemp(prefix="jvm-", dir=run_dir)
    args = dict(args, run=run_dir)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(run_dir, f"result-{time.monotonic_ns()}.json")
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC"] + jvm_opens() + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.GraftBench"] +
        [x for k, v in args.items() for x in (f"--{k}", str(v))] + ["--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=tmp, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.DEVNULL,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    watchdog = threading.Timer(timeout, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    lines = []
    try:
        for line in proc.stderr:
            lines.append(line)
            if line.startswith("[perfbench]") or line.startswith("[index-build]"):
                sys.stderr.write(line)
        proc.wait()
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        watchdog.cancel()
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write("".join(lines[-60:]))
        raise SystemExit(f"benchmark JVM failed with exit code {proc.returncode}")
    with open(out) as f:
        return json.load(f)


# per-layer families a workload reports only where the layer takes part
# (the ingest layers on `ingest`, the shared indexes on `query_surface`);
# elsewhere they read 0
LAYER_ONLY = ("sources.", "streaming.", "ingest.", "sinks.", "index.", "bench.generator")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload: {a.workload}")
    load_1m = os.getloadavg()[0]
    classpath = build()
    started = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        t0 = time.time()
        extra = make_inputs(a.workload, a.seed, a.seconds, data)
        log(f"inputs generated in {time.time() - t0:.1f}s")
        args = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, cores=CORES,
                    data=data, **extra)
        t0 = time.time()
        plain = run_jvm(classpath, run_dir, dict(args, trace=0),
                        timeout=RUN_LIMIT_S - (time.time() - started))
        plain_s = time.time() - t0
        result = plain
        wanted = spec["end_to_end"]
        if a.trace:
            left = RUN_LIMIT_S - (time.time() - started)
            if plain_s * TRACE_COST > left:
                raise SystemExit(f"the untraced JVM took {plain_s:.0f}s; its traced run would "
                                 f"not end within the {RUN_LIMIT_S}s run limit")
            traced = run_jvm(classpath, run_dir, dict(args, trace=1), timeout=left)
            m = traced["metrics"]
            m["bench.trace_overhead_frac"] = (
                plain["metrics"]["throughput_per_s"] / traced["metrics"]["throughput_per_s"] - 1)
            m["bench.nproc"] = os.cpu_count()
            m["bench.load_1m"] = load_1m
            result = dict(traced, correct=plain["correct"] and traced["correct"],
                          attempted=plain["attempted"] + traced["attempted"],
                          failed=plain["failed"] + traced["failed"])
            wanted = spec["per_layer"]
        got = result["metrics"]
        missing = [x["name"] for x in wanted
                   if x["name"] not in got and not x["name"].startswith(LAYER_ONLY)]
        if missing:
            raise SystemExit(f"the benchmark JVM did not report: {', '.join(missing)}")
        metrics = {x["name"]: {"value": got.get(x["name"], 0), "unit": x["unit"]} for x in wanted}
        print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                          "failed": int(result["failed"]), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)



if __name__ == "__main__":
    main()
