#!/usr/bin/env python3
"""graft benchmark: an ETL day cycle and two gate-query mixes.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 12 --trace 0

It builds graft's main sources and the harness into .bench_build/, works in
.bench_run/, checks every op's output, and prints as its last stdout line
one JSON object: {"correct", "attempted", "failed", "metrics"}. --trace 0
gives the end-to-end metrics, --trace 1 the per-layer ones. Workloads,
metrics and recorded numbers: perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
RUN = os.path.join(ROOT, ".bench_run")
sys.path.insert(0, BENCH)

import fixture  # noqa: E402
import layers  # noqa: E402
import results  # noqa: E402

CORES = 4

# ETL fixture size: (full run, --smoke self-test run)
ETL_MULT = (20, 1)
BATCH_DATE = "2026-08-16"

OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]

# per_layer names of the layers a workload does not exercise; they read 0
NOT_EXERCISED = {"etl_daily": ("q.", "sched.", "exec.", "storage.", "shuffle."),
                 "query_mix": ("load.", "delta.")}


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark jar directory graft's build.sbt declares as unmanagedBase."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BenchError("no build.sbt at %s: run from a graft checkout" % ROOT)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
        raise BenchError("build.sbt names no Spark jar directory")
    return m.group(1)


def scalac(jars, classpath, sources, out):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=880)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Compiles src/main/scala and the harness; skipped when unchanged."""
    jars = spark_jars()
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(BENCH, "harness/*.scala")))
    if not main:
        raise BenchError("no graft sources under src/main/scala")
    h = hashlib.sha256(jars.encode())
    for p in main + harness:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    classes, hclasses = os.path.join(BUILD, "classes"), os.path.join(BUILD, "harness")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return jars
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    t0 = time.time()
    scalac(jars, os.path.join(jars, "*"), main, classes)
    scalac(jars, classes + os.pathsep + os.path.join(jars, "*"), harness, hclasses)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log("built in %.0f s" % (time.time() - t0))
    return jars


# ---------------------------------------------------------------- children

class Jvm:
    def __init__(self, jars, work):
        self.cp = os.pathsep.join([os.path.join(BUILD, "harness"),
                                   os.path.join(BUILD, "classes"),
                                   os.path.join(jars, "*")])
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.env = {k: v for k, v in os.environ.items()
                    if not k.startswith(("SPARK_", "GRAFT_", "JAVA_TOOL", "_JAVA"))}
        self.env.update(SPARK_MASTER="local[%d]" % CORES, SPARK_GRAFT_CPUS=str(CORES))
        self.log = open(os.path.join(work, "jvm.log"), "a")

    def run(self, main, args, heap="3g", props=(), timeout=170):
        """Runs one child JVM to completion; returns its @@ events."""
        cmd = (["java", "-XX:-UsePerfData", "-Xmx" + heap] + OPENS +
               ["-Djava.io.tmpdir=" + self.tmp, "-Dspark.local.dir=" + self.tmp,
                "-Dspark.ui.enabled=false"] + list(props) +
               ["-cp", self.cp, main] + list(args))
        p = subprocess.Popen(cmd, cwd=self.work, env=self.env, stdout=subprocess.PIPE,
                             stderr=self.log, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("%s timed out" % main)
        events = [json.loads(l[2:]) for l in out.splitlines() if l.startswith("@@")]
        if p.returncode != 0:
            raise BenchError("%s exited %d (see %s)" % (main, p.returncode, self.log.name))
        return events


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------- etl_daily

def etl_op(jvm, csv, out, evdir=None, probe=False, mode="full"):
    """One EtlMain invocation; returns its etl_end and transform events."""
    props = ["-Dspark.extraListeners=perfbench.StorageAtEnd"]
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        props += ["-Dspark.eventLog.enabled=true", "-Dspark.eventLog.dir=file://" + evdir,
                 "-Dspark.eventLog.rolling.enabled=false",
                 "-Dspark.eventLog.compress=false"]
    args = (["--probe-transform"] if probe else []) + [csv, out, BATCH_DATE,
                                                       "--mode", mode]
    events = jvm.run("perfbench.EtlOp", args, heap="2g", props=props)
    by_kind = {e["ev"]: e for e in events}
    if by_kind["etl_end"]["storage_end_mb"] is None:
        raise BenchError("EtlMain's session did not report its storage at the end")
    return by_kind["etl_end"], by_kind.get("transform")


def run_etl(jvm, seed, seconds, trace, smoke, plant_wrong):
    """Day cycles: a load into an empty output dir, then a delta. An op's
    time is the RunLog duration of its entity phases; the rest of its wall
    time is the CLI's fixed cost, reported as setup_s. A traced
    run makes one traced cycle, then times `--mode health` on an empty dir
    untraced and traced for trace_overhead (a second load would take the
    run near three minutes)."""
    mult = ETL_MULT[1 if smoke else 0]
    csv, day2 = os.path.join(jvm.work, "csv"), os.path.join(jvm.work, "day2")
    load_exp = fixture.write_day1(csv, mult, seed)
    delta_new = fixture.write_day2(day2, mult, seed)
    new_bytes = {"load": sum(v["bytes"] for v in load_exp.values()),
                 "delta": sum(v["bytes"] for v in delta_new.values())}
    log("etl_daily: %dx fixture, %d rows, seed %d"
        % (mult, sum(v["rows"] for v in load_exp.values()), seed))

    ops = {"load": [], "delta": []}  # entity-phase seconds of each op
    fixed, heaps, layer = [], [], {}
    attempted = failed = 0

    def op(kind, out, evdir=None, probe=False):
        nonlocal attempted, failed
        end, transform = etl_op(jvm, csv, out, evdir, probe)
        attempted += 1
        if plant_wrong and attempted == 1:
            results.plant_wrong_table(os.path.join(out, "customers"))
        want = {e: load_exp[e]["rows"] + (delta_new[e]["rows"] if kind == "delta" else 0)
                for e in fixture.ENTITIES}
        problems = results.check_etl(out, want, 4 if kind == "load" else 8)
        phases = sum(layers.runlog_durations(out).values())
        log("%s %.2f s, entity phases %.2f s%s"
            % (kind, end["s"], phases, " FAILED: " + "; ".join(problems) if problems else ""))
        failed += bool(problems)
        fixed.append(end["s"] - phases)
        heaps.append(end["heap_mb"])
        if evdir:
            layer[kind] = layers.etl_op(evdir, out, end, new_bytes[kind])
            layer[kind]["transform_s"] = transform and transform["s"]
        return phases

    def cycle(n, traced):
        out = os.path.join(jvm.work, "out%d" % n)
        for f in glob.glob(os.path.join(csv, "*_d2.csv")):
            os.remove(f)
        def evdir(kind):
            return os.path.join(jvm.work, "ev%d_%s" % (n, kind)) if traced else None
        ops["load"].append(op("load", out, evdir("load"), probe=traced))
        for f in os.listdir(day2):
            shutil.copy(os.path.join(day2, f), csv)
        ops["delta"].append(op("delta", out, evdir("delta")))

    if trace:
        cycle(0, True)
        empty = os.path.join(jvm.work, "empty")
        plain, _ = etl_op(jvm, csv, empty, mode="health")
        traced, _ = etl_op(jvm, csv, empty, os.path.join(jvm.work, "ev_health"),
                           mode="health")
        log("health %.2f s untraced, %.2f s traced" % (plain["s"], traced["s"]))
        return layers.etl_metrics(layer, traced["s"] / plain["s"]), attempted, failed

    t0 = time.perf_counter()
    while not ops["load"] or time.perf_counter() - t0 < seconds:
        cycle(len(ops["load"]), False)
    metrics = {
        "setup_s": median(fixed),
        "first_pass_s": median(ops["load"]),
        "pass_s": median(ops["delta"]),
        "query_geomean_s": geomean([median(ops["load"]), median(ops["delta"])]),
        "retained_heap_mb": median(heaps),
    }
    return metrics, attempted, failed


# ---------------------------------------------------------------- queries

def run_queries(jvm, seed, seconds, trace, smoke, plant_wrong):
    """One cold pass over the query list, warm-up passes, then measured
    passes in a seeded order until `seconds` have passed."""
    data = {q: layers.SMOKE_DATA if smoke else d for q, (_, d) in layers.QUERIES.items()}
    expected = {q: results.expected(d)[q] for q, d in data.items()}
    out = os.path.join(jvm.work, "results")
    log("query_mix: %s, seed %d" % (", ".join("%s on %s" % kv for kv in data.items()), seed))
    events = jvm.run("perfbench.QueryRun", [
        "--queries", ",".join("%s=%s" % (q, os.path.join(BENCH, "data", d))
                              for q, d in data.items()),
        "--out", out, "--seconds", str(seconds), "--seed", str(seed),
        "--trace", str(int(trace))])

    ops = [e for e in events if e["ev"] == "op"]
    if plant_wrong and ops and not ops[0]["err"]:
        results.plant_wrong_table(ops[0]["path"])
    failed = 0
    for op in ops:
        problem = op["err"] or results.check_query(op["path"], expected[op["q"]])
        log("pass %d %s %.2f s%s" % (op["pass"], op["q"], op["s"],
                                     " FAILED: " + problem if problem else ""))
        failed += bool(problem)

    if trace:
        return layers.query_metrics(events, CORES), len(ops), failed
    passes = [e for e in events if e["ev"] == "pass"]
    setup = next(e for e in events if e["ev"] == "setup")
    end = next(e for e in events if e["ev"] == "end")
    per_q = [median([o["s"] for o in ops if o["q"] == q and o["phase"] == "steady"])
             for q in data]
    metrics = {
        "setup_s": setup["s"],
        "first_pass_s": next(p["s"] for p in passes if p["phase"] == "cold"),
        "pass_s": median([p["s"] for p in passes if p["phase"] == "steady"]),
        "query_geomean_s": geomean(per_q),
        "retained_heap_mb": end["heap_mb"],
    }
    return metrics, len(ops), failed


# ---------------------------------------------------------------- main

WORKLOADS = {"etl_daily": run_etl, "query_mix": run_queries}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="self-test sizes: 1x ETL fixture, sf0.001 queries")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt the first op's output, to test the checks")
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        jars = build()
        work = os.path.join(RUN, "%s-%d" % (a.workload, os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        jvm = Jvm(jars, work)
        try:
            metrics, attempted, failed = WORKLOADS[a.workload](
                jvm, a.seed, a.seconds, a.trace, a.smoke, a.plant_wrong)
        except BenchError:
            log("work directory kept: %s" % work)
            raise
        finally:
            jvm.log.close()
        shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        log("error: %s" % e)
        return 2
    if a.trace:
        metrics["op_fail_ratio"] = failed / attempted
        for k in units:
            if k not in metrics and k.startswith(NOT_EXERCISED[a.workload]):
                metrics[k] = 0.0
    missing, unknown = set(units) - set(metrics), set(metrics) - set(units)
    if missing or unknown:
        log("error: metrics not measured: %s; not in BENCHMARK.json: %s"
            % (sorted(missing), sorted(unknown)))
        return 2
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
