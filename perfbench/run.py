#!/usr/bin/env python3
"""User-level benchmark of the Spark EncodeSrv port.

Usage (from the repository root):
  python3 perfbench/run.py --workload job_dispatch|corpus_ingest
                           --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with the Scala compiler
that ships with Spark (once per checkout, into perfbench/.build), makes the
seeded inputs, runs the workload in its own JVM (local[N], N = min(4, nproc)),
checks the outputs, and prints one JSON object as the last line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones of a traced run.
Everything the run writes stays under perfbench/.work, .build and .data.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("job_dispatch", "corpus_ingest")
RUN_LIMIT_S = 170  # a run not done this long after its build is killed and fails
GENDATA_VERSION = "v1"

END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("work_cpu_s", "s"), ("stream_cpu_s", "s")]
# process CPU of the timed sections, by the part of the workload they belong to
STREAM_PARTS = {"job_dispatch": ["phase_a"], "corpus_ingest": ["ingest_setup", "drain", "fold"]}
BATCH_PARTS = {"job_dispatch": ["phase_b"], "corpus_ingest": ["build"]}
# the drain whose wall time gives the items-per-second reference figure
WALL = {"job_dispatch": ("phase_a_wall_s", "jobs/s"), "corpus_ingest": ("drain_wall_s", "docs/s")}


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the Spark jars in {jars}")
    return os.path.join(jars, "*")


JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def build():
    """Compile the program's sources and the benchmark's into one class
    directory; skipped when neither changed since the last build."""
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit(f"program sources not found under {prog}")
    srcs = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    res = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(HERE, ".build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[build] compiled {len(srcs)} sources in {time.time() - t0:.1f}s", flush=True)
    return classes


# C1 only: the JIT reaches steady state within the first iteration, so
# process CPU is not dominated by C2 compilation (at default tiered
# settings a job_dispatch iteration spent ~40 of 57 CPU seconds compiling
# and its CPU varied 19% run to run). Parallel GC with a fixed young
# generation keeps the peak resident set a function of the work done.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-Xmn1g",
             "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData"]


def java_cmd(classes, main, xmx="3g", tmpdir=None):
    cmd = ["java", f"-Xmx{xmx}"] + JVM_FLAGS + ["-Dspark.ui.enabled=false",
                                               "-Dspark.sql.session.timeZone=UTC"]
    if tmpdir:
        cmd += [f"-Djava.io.tmpdir={tmpdir}", f"-Dspark.local.dir={tmpdir}"]
    return cmd + JAVA_OPENS + ["-cp", f"{classes}{os.pathsep}{spark_jars()}", main]


def gendata(classes):
    """GenData's base tables, made once per checkout (they do not depend on
    the seed)."""
    data = os.path.join(HERE, ".data")
    base = os.path.join(data, f"gendata-{GENDATA_VERSION}")
    if os.path.exists(os.path.join(base, "_OK")):
        return base
    tmpl = os.path.join(data, "template")
    gen.write_template(tmpl)
    tmp = base + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    scratch = os.path.join(data, "tmp")
    os.makedirs(scratch, exist_ok=True)
    t0 = time.time()
    r = subprocess.run(java_cmd(classes, "graft.GenData", "2g", scratch) + [tmpl, tmp, "1", "skew"],
                       cwd=data, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("GenData failed")
    shutil.rmtree(base, ignore_errors=True)
    os.rename(tmp, base)
    open(os.path.join(base, "_OK"), "w").close()
    print(f"[gendata] base tables in {time.time() - t0:.1f}s", flush=True)
    return base


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result):
    """End-to-end figures of the measured iterations (medians when a run
    has several)."""
    w = result["workload"]
    return {
        "setup_s": result["setup_cpu_s"],
        "peak_rss_mb": result["peak_rss_mb"],
        "work_cpu_s": part_cpu(result, STREAM_PARTS[w] + BATCH_PARTS[w]),
        "stream_cpu_s": part_cpu(result, STREAM_PARTS[w]),
    }


def part_cpu(result, parts):
    """Median over the measured iterations of the process CPU of `parts`."""
    return median([sum(sum(it["samples"].get(f"{p}_cpu_s", [])) for p in parts)
                   for it in result["iterations"]])


def reference_figures(result):
    """Printed by every run, not gated (see README): the set-up's wall
    time, the CPU of the batch part, and the wall-clock figures."""
    its = result["iterations"]
    w = result["workload"]
    s = lambda k: [x for it in its for x in it["samples"].get(k, [])]
    key, unit = WALL[w]
    items, wall = sum(s("items")), sum(s(key))
    return {"setup_wall_s": result["setup_wall_s"], "batch_cpu_s": part_cpu(result, BATCH_PARTS[w]),
            f"items_per_s ({unit})": items / wall if wall else 0.0,
            "batch_p50_ms": median(s("batch_ms")), "round_s": median(s("round_s"))}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build()
    base = gendata(classes)
    t_start = time.time()  # the time limit excludes the once-per-checkout build
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    makeup = gen.derive(a.workload, a.seed, base, inputs)
    print("[inputs] " + json.dumps(makeup), flush=True)

    cores = max(1, min(4, os.cpu_count() or 1))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    launched_ms = int(time.time() * 1000)
    cmd = java_cmd(classes, "graft.perfbench.Main", "3g", os.path.join(work, "tmp")) + [
        "--workload", a.workload, "--inputs", inputs, "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
        "--launched-ms", str(launched_ms)]
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        budget = RUN_LIMIT_S - (time.time() - t_start)
        out, _ = proc.communicate(timeout=max(10.0, budget))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log.close()
        raise SystemExit(f"{a.workload} did not finish within {RUN_LIMIT_S}s (log: {log.name})")
    log.close()
    sys.stdout.write(out)
    res_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        with open(log.name) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"{a.workload} JVM exited with {proc.returncode}")
    with open(res_path) as f:
        result = json.load(f)
    result["work"] = work
    result["out"] = os.path.join(work, "out")

    t_jvm = time.time()
    outcome = checks.CHECKS[a.workload](result, inputs)
    fails = outcome.fails
    for msg in fails:
        print(f"[check] FAIL {msg}", flush=True)
    if result.get("check_notes"):
        print("[check] " + json.dumps(result["check_notes"]), flush=True)
    n_iter = len(result["iterations"])
    print(f"[run] wall: before JVM {launched_ms / 1000 - t_start:.1f}s, JVM {t_jvm - launched_ms / 1000:.1f}s, "
          f"checks {time.time() - t_jvm:.1f}s", flush=True)
    e2e = end_to_end(result)
    print(f"[run] iterations={n_iter} measured_s={result['measured_s']:.2f} "
          + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()), flush=True)
    print("[run] reference " + " ".join(f"{k}={v:.4g}" for k, v in reference_figures(result).items()),
          flush=True)
    if a.trace:
        layers = result["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in per_layer_names()}
        with open(os.path.join(HERE, ".work", f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"end_to_end": e2e, "layers": layers, "spans": result["spans"],
                       "iterations": result["iterations"]}, f)
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    # operations: job_dispatch's requests and round claims, corpus_ingest's
    # arrivals (see checks.py); failed ones are those whose own check failed
    print(json.dumps({"correct": not fails, "attempted": outcome.attempted,
                      "failed": outcome.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
