#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as the last line.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source into `.bench_build/` (sbt, offline) and generates
the base tables; later runs reuse both. Every key's result is checked
against `goldens.json`. `--trace 0` prints the end-to-end metrics (and,
on the line before, the unbounded wall-clock figures), `--trace 1` the
per-layer metrics of a traced run, and writes the trace to
`.bench_build/traces/`.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
GOLDENS_PATH = os.path.join(HERE, "goldens.json")
BASE_SF = 0.1
HEAP = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no program sources under src/main/scala: run from the root of a checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    stamp = os.path.join(BUILD, "classes.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    log("building program and benchmark (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           env=dict(os.environ, COURSIER_MODE="offline"))
    if r.returncode != 0:
        fail(f"build failed, see {BUILD}/build.log", 3)
    open(stamp, "w").write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def classpath():
    return CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")


def java(main, args, work, log_path, timeout=JVM_TIMEOUT_S):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath(), main] + args)
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{main} exceeded {timeout} s, see {log_path}", 4)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


# -------------------------------------------------------------------- data

def base_data():
    d = os.path.join(BUILD, "data", f"base-sf{BASE_SF}")
    if not os.path.exists(os.path.join(d, "_done")):
        log("generating base tables")
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d, BASE_SF)
        open(os.path.join(d, "_done"), "w").close()
    return d


def stress_data(base, r):
    """StressGen x r copy of the base tables, generated once per checkout."""
    d = os.path.join(BUILD, "data", f"stress-x{r}")
    if not os.path.exists(os.path.join(d, "_done")):
        log(f"generating StressGen x{r}")
        shutil.rmtree(d, ignore_errors=True)
        work = os.path.join(BUILD, "tmp", "stressgen")
        os.makedirs(work, exist_ok=True)
        code = java("graft.tools.StressGen", [d, str(r), base], work,
                    os.path.join(BUILD, "logs", "stressgen.log"), timeout=600)
        shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            fail("StressGen failed", 5)
        open(os.path.join(d, "_done"), "w").close()
    return d


SINGLE_FILE = {"events", "region", "nation"}  # keys read these by file name
SPLIT_FILES = 8


def seeded_copy(stress, r, seed):
    """The StressGen output with rows permuted by the seed and split into
    SPLIT_FILES files at seed-chosen cut points (single-file tables stay
    one file)."""
    d = os.path.join(BUILD, "data", f"batch-x{r}-seed{seed}")
    if os.path.exists(os.path.join(d, "_done")):
        return d
    for old in glob.glob(os.path.join(BUILD, "data", "batch-x*-seed*")):
        shutil.rmtree(old, ignore_errors=True)
    rng = np.random.default_rng(seed)
    for name in gen.TABLES:
        src = os.path.join(stress, f"{name}.parquet")
        t = pq.read_table(src)
        t = t.take(rng.permutation(t.num_rows))
        if name in SINGLE_FILE:
            os.makedirs(d, exist_ok=True)
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))
            continue
        out = os.path.join(d, f"{name}.parquet")
        os.makedirs(out, exist_ok=True)
        inner = np.linspace(0, t.num_rows, SPLIT_FILES + 1)[1:-1]
        jitter = rng.uniform(-0.1, 0.1, inner.size) * t.num_rows / SPLIT_FILES
        cuts = np.concatenate([[0], (inner + jitter).astype(int), [t.num_rows]])
        for i in range(SPLIT_FILES):
            pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]),
                           os.path.join(out, f"part-{i:05d}.parquet"))
    open(os.path.join(d, "_done"), "w").close()
    return d


# --------------------------------------------------------------------- run

def run_jvm(workload, seed, seconds, trace, extra, timeout=JVM_TIMEOUT_S):
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(BUILD, "tmp", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(BUILD, "traces", f"{tag}.json")
    args = ["--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", out, "--trace-out", trace_out] + extra
    code = java("graft.perfbench.Main", args, work, os.path.join(BUILD, "logs", f"{tag}.log"), timeout)
    if code != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed (exit {code}), see {BUILD}/logs/{tag}.log", 6)
    result = json.load(open(out))
    shutil.copy(out, os.path.join(BUILD, "results", f"{tag}.json"))
    shutil.rmtree(work, ignore_errors=True)
    log(f"session {result['session_s']:.1f} s, set-up {result['setup_s']:.1f} s, "
        f"measured {result['measure_s']:.1f} s, check {result['check_s']:.1f} s "
        f"over {len({o['pass'] for o in result['ops']})} passes")
    spans = json.load(open(trace_out)) if trace else None
    return result, spans, trace_out


def check_keys(workload, checks):
    """Names the keys whose result differs from its golden."""
    goldens = json.load(open(GOLDENS_PATH)).get(workload, {}) if os.path.exists(GOLDENS_PATH) else {}
    bad = {}
    for k, c in checks.items():
        g = goldens.get(k)
        if "error" in c:
            bad[k] = c["error"]
        elif g is None:
            bad[k] = "no golden"
        elif (c["rows"], c["hash"], c["schema"]) != (g["rows"], g["hash"], g["schema"]):
            bad[k] = f"rows {c['rows']} vs golden {g['rows']}, hash or schema differs"
    return bad


def prepare():
    build()
    for d in ("logs", "traces", "results", "tmp"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="store this run's key hashes as the workload's goldens")
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]
    cores = os.cpu_count() or 1

    prepare()
    base = base_data()
    data = base
    keys = list(spec["keys"])
    random.Random(a.seed).shuffle(keys)
    extra = ["--keys", ",".join(keys)]
    if a.workload == "batch_scaled":
        data = seeded_copy(stress_data(base, spec["scale"]), spec["scale"], a.seed)
        if a.trace:
            extra += ["--base", base]
    extra += ["--data", data, "--cores", str(cores)]

    result, spans, trace_path = run_jvm(a.workload, a.seed, a.seconds, a.trace, extra)

    if a.record_goldens:
        record_goldens(a.workload, result["checks"])
    bad = check_keys(a.workload, result["checks"])
    if spans is not None:
        bad.update(layers.plan_check(spans))
    for k, why in sorted(bad.items()):
        log(f"check failed: {k}: {why}")

    ops = [o for o in result["ops"] if o["kind"] != "base"]
    failed_names = set(bad)
    attempted = len(ops)
    failed = sum(1 for o in ops if o["error"] or o["name"] in failed_names)
    for o in ops:
        if o["error"]:
            log(f"op failed: {o['name']}: {o['error']}")

    if a.trace:
        metrics = layers.per_layer(a.workload, result, spans, spec.get("scale"), cores)
        if a.workload == "batch_scaled":
            layers.write_floor_slope(result, spec["scale"], os.path.join(BUILD, "results"))
        log(f"trace written to {trace_path}")
    else:
        metrics = layers.end_to_end(result)
        # wall-clock figures, unbounded (see README), on a line of their own
        # before the result line: compare.py reads them
        print(json.dumps({"unbounded": {k: {"value": v, "unit": u} for k, (v, u)
                                        in layers.unbounded(result).items()}}))
    units = {m["name"]: m["unit"] for m in layers.declared("per_layer" if a.trace else "end_to_end")}
    out = {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()}
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def record_goldens(workload, checks):
    g = json.load(open(GOLDENS_PATH)) if os.path.exists(GOLDENS_PATH) else {}
    g[workload] = {k: v for k, v in sorted(checks.items()) if "error" not in v}
    with open(GOLDENS_PATH, "w") as f:
        json.dump(g, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {len(g[workload])} goldens for {workload}")


if __name__ == "__main__":
    # a terminated benchmark still stops the JVM it started (see java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
