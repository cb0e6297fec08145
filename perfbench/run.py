#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the program
and the benchmark harness from source into `.bench_build/`; inputs are
generated from the seed. Every output is verified before any number is
printed: on a mismatch the run prints `"correct": false` with no metrics
and exits 1. The last stdout line is the result JSON; host context (steal
seconds, cores) and the traced run's span file path go to stderr.

Workloads, metrics and the layer map: perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("pipeline_batch", "lakehouse_cdc")
BUILD = ".bench_build"
CPUS = 4
THREADS = 4            # DuckDB threads for the oracles (outside timing)
SF = 0.01              # pipeline_batch inputs
LAKE_ROWS = 100_000    # lakehouse seed table
# Minimum timed passes: pipeline_batch has six activities a pass, so two
# passes pool enough samples for steady medians; a lakehouse pass has 17 ops.
PASSES = {"pipeline_batch": 2, "lakehouse_cdc": 1}
JVM_TIMEOUT = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars (they include the Scala compiler):
    $SPARK_HOME/jars, else those of the `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in filter(None, homes):
        if glob.glob(os.path.join(h, "jars", "spark-core_*.jar")):
            return os.path.join(h, "jars")
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return [os.path.relpath(f) for f in files]


def build(jars):
    """Compile the program and the harness into `graft.jar` in a build
    directory keyed by the source digest; returns that directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob("src/main/resources/**/*", recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode() + b"\0" + open(f, "rb").read())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    jar = os.path.join(out, "graft.jar")
    if os.path.exists(jar):
        return out
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    log(f"building {len(srcs)} sources into {out}")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", cp, "-d", classes] + srcs,
                   check=True, stdout=sys.stderr, timeout=800)
    if os.path.isdir("src/main/resources"):
        shutil.copytree("src/main/resources", classes, dirs_exist_ok=True)
    # a jar, not a directory: the JVM's class-data sharing archives only jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    log(f"built in {time.time() - t0:.1f}s")
    return out


def metric_units(section):
    """Metric name -> unit, in the order BENCHMARK.json declares them."""
    with open("BENCHMARK.json") as f:
        return {e["name"]: e["unit"] for e in json.load(f)[section]}


def steal_ticks():
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else 0
    except OSError:
        return 0


def in_private_tmp(argv):
    """Re-run this script with /tmp bind-mounted to a directory inside the
    checkout: the program writes scratch state under /tmp (its shared io
    and stream directories), and the benchmark keeps every write inside
    the checkout. Returns the exit code, or None when no mount namespace
    can be made here (then the run proceeds in place)."""
    tmp = os.path.abspath(os.path.join(BUILD, f"tmp-{os.getpid()}"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PERFBENCH_PRIVATE_TMP="1")
    mount = 'mount --bind "$0" /tmp && exec "$@"'
    try:
        for flags in (["-m"], ["-r", "-m"]):
            probe = subprocess.run(["unshare", *flags, "sh", "-c", mount, tmp, "true"],
                                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            if probe.returncode == 0:
                return subprocess.run(["unshare", *flags, "sh", "-c", mount, tmp,
                                       sys.executable, os.path.abspath(__file__), *argv],
                                      env=env).returncode
        return None
    except FileNotFoundError:
        return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def harness(jars, build_dir, workload, data, out, seconds, trace, seed):
    cp = os.pathsep.join([os.path.join(build_dir, "graft.jar"), os.path.join(jars, "*")])
    # Class-data sharing: the first run after a build archives the classes
    # it loaded; later runs map that archive instead of loading Spark's
    # classes from jars, which takes session start from ~8 s to ~3 s.
    jsa = os.path.join(build_dir, "classes.jsa")
    share = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
             else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd = (["java", "-Xmx4g", share, "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graft.perfbench.Harness", "--workload", workload,
              "--data", data, "--out", out, "--seconds", str(seconds),
              "--passes", str(PASSES[workload]),
              "--trace", str(trace), "--seed", str(seed), "--cpus", str(CPUS),
              "--examples", "examples"])
    with open(os.path.join(out, "harness.log"), "w") as errlog:
        p = subprocess.Popen(cmd, stdout=errlog, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: harness exceeded {JVM_TIMEOUT}s")
    if rc != 0:
        sys.stderr.write(open(os.path.join(out, "harness.log")).read()[-4000:])
        raise SystemExit(f"perfbench: harness exited {rc}")
    return json.load(open(os.path.join(out, "result.json")))


def table_rows(d):
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{d}/*.parquet"))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("tools/compare.py")):
        raise SystemExit("perfbench: run from the root of a source checkout "
                         "(src/main/scala and tools/compare.py not found)")
    if os.environ.get("PERFBENCH_PRIVATE_TMP") != "1":
        rc = in_private_tmp(argv)
        if rc is not None:
            return rc
        log("no mount namespace available: the program's /tmp scratch is shared")

    import datagen  # numpy, pyarrow and duckdb load only where the run happens
    import measure
    import verify
    jars = spark_jars()
    build_dir = build(jars)
    w = args.workload
    run = os.path.abspath(os.path.join(BUILD, "runs", f"{w}-{args.seed}-{os.getpid()}"))
    data, out = os.path.join(run, "input"), os.path.join(run, "out")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(out)
    try:
        if w == "lakehouse_cdc":
            datagen.gen_cdc(data, LAKE_ROWS, args.seed)
        else:
            datagen.gen_tables(data, SF, args.seed)
        steal0, t0 = steal_ticks(), time.time()
        res = harness(jars, build_dir, w, data, out, args.seconds, args.trace, args.seed)
        host = {"cores": os.cpu_count(), "spark_cores": CPUS,
                "steal_s": (steal_ticks() - steal0) / 100.0,
                "pass_steal_s": [p.get("steal_s") for p in res["passes"]],
                "harness_s": round(time.time() - t0, 2)}
        log("host " + json.dumps(host))

        changed = 0
        if w == "lakehouse_cdc":
            errors, changed = verify.check_lakehouse(res, data, THREADS)
            with open(os.path.join(data, "ops.json")) as f:
                script = json.load(f)
            staged = [o["path"] for o in script["ops"] if "path" in o and o["op"] != "seed"]
            source_rows = table_rows(data)
            staged_bytes = sum(os.path.getsize(os.path.join(data, f)) for f in staged)
        else:
            errors = verify.check_activities(res, data, THREADS)
            source_rows = table_rows(data)
            staged_bytes = None
        ops = [o for p in res["passes"] for o in p["ops"] if o["activity"]]
        attempted, failed = len(ops), sum(1 for o in ops if o["error"])
        if errors:
            for e in errors:
                log("MISMATCH " + e)
            print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                              "metrics": {}}))
            return 1

        if args.trace:
            m = measure.per_layer(res, changed)
            spans = res.get("spans", [])
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tf = os.path.join(trace_dir, f"{w}-seed{args.seed}.json")
            with open(tf, "w") as f:
                json.dump({"workload": w, "seed": args.seed, "host": host,
                           "layer_self_s": measure.layer_self_times(spans),
                           "fields": ["id", "parent", "name", "start_ns", "end_ns", "pass"],
                           "spans": spans}, f)
            log(f"spans written to {tf}")
        else:
            m, ctx = measure.end_to_end(res, source_rows, staged_bytes)
            log("context " + json.dumps(ctx))
        declared = metric_units("per_layer" if args.trace else "end_to_end")
        metrics = {n: {"value": m[n], "unit": u} for n, u in declared.items()}
        print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
