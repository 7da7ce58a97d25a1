"""Per-layer metrics of a traced run.

Query workloads are traced by the harness's in-process SparkListener (one
"opstats" event per op); etl_daily by a Spark event log of each child JVM.
Every job is charged to the graft module of its call site: the root SQL
execution's call site, or the stage call site for RDD jobs. Each function
returns the names of the layers its workload exercises; run.py checks them
against the per_layer list of BENCHMARK.json.
"""
import collections
import glob
import json
import os
import statistics

from fixture import ENTITIES

# query -> (kind, data set); the --smoke self-test runs each on sf0.001
QUERIES = {
    "q_ref_integrity": ("stage-bound", "sf0.01"),
    "q_edit_join": ("kernel-bound", "sf0.1"),
}
SMOKE_DATA = "sf0.001"
ETL_MODULES = ("sources", "functions", "plans", "pipeline", "operators", "EtlMain")
MB = 1048576.0


def module_of(call_site):
    """Mirror of perfbench.Modules in the harness."""
    for line in (call_site or "").split("\n"):
        frame = line.strip().split("(")[0]
        if frame.startswith("graft.") and not frame.startswith("graft.package"):
            part = frame.split(".")[1]
            if part in ("sources", "functions", "plans", "pipeline", "operators",
                        "streaming"):
                return part
            return part.split("$")[0]
    return "result"


def covered_ms(spans, lo, hi):
    """Length of the union of [a, b] spans, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- queries

def query_metrics(events, cores):
    m = {}
    passes = [e for e in events if e["ev"] == "pass" and e["phase"] == "steady"]
    traced = [p for p in passes if p["traced"]]
    stats = {(e["pass"], e["q"]): e for e in events if e["ev"] == "opstats"}
    ops = [e for e in events if e["ev"] == "op" and e["traced"] and e["phase"] == "steady"]

    per_pass = []
    for p in traced:
        st = [s for (n, _), s in stats.items() if n == p["pass"]]
        spans = [tuple(x) for s in st for x in s["stage_spans"]]
        wall = (p["end_ms"] - p["start_ms"]) / 1000.0
        busy = sum(s["busy_s"] for s in st)
        stages = sum(s["stages"] for s in st)
        per_pass.append({
            "sched.stages": stages,
            "sched.jobs": sum(s["jobs"] for s in st),
            "sched.build_jobs": sum(s["build_jobs"] for s in st),
            "sched.driver_only_s":
                wall - covered_ms(spans, p["start_ms"], p["end_ms"]) / 1000.0,
            "exec.busy_s": busy,
            "exec.busy_per_stage_s": busy / stages if stages else 0.0,
            "exec.core_util": busy / (cores * wall),
            "exec.operators.busy_s":
                sum(s["busy_by_module"].get("operators", 0.0) for s in st),
            "exec.result.busy_s": sum(s["busy_by_module"].get("result", 0.0) for s in st),
            "shuffle.write_mb": sum(s["shuffle_write_b"] for s in st) / MB,
            "shuffle.spill_mb": sum(s["spill_b"] for s in st) / MB,
            "jvm.gc_s": p["gc_s"],
            "task.retries": sum(s["retries"] for s in st),
        })
    for k in per_pass[0] if per_pass else ():
        m[k] = _median([pp[k] for pp in per_pass])
    m["task.retries"] = sum(pp["task.retries"] for pp in per_pass)
    m["storage.cached_mb"] = max([o["cached_mb"] or 0.0 for o in ops] or [0.0])
    cold = next(e for e in events if e["ev"] == "cold")
    m["jvm.codegen_s"] = cold["codegen_s"]
    m["jvm.codegen_classes"] = cold["codegen_classes"]
    for q in QUERIES:
        mine = [o for o in ops if o["q"] == q]
        m["q.%s.s" % q] = _median([o["s"] for o in mine])
        m["q.%s.build_s" % q] = _median([o["build_s"] for o in mine if o["build_s"]])
        st = [stats[(o["pass"], q)] for o in mine if (o["pass"], q) in stats]
        m["q.%s.stages" % q] = _median([s["stages"] for s in st])
        m["q.%s.busy_s" % q] = _median([s["busy_s"] for s in st])
    # measured passes run in off/on/on/off blocks; within a block a steady
    # speed-up of the passes cancels out
    passes.sort(key=lambda p: p["pass"])
    blocks = [passes[i:i + 4] for i in range(0, len(passes) - 3, 4)]
    m["trace_overhead"] = _median([(b[1]["s"] + b[2]["s"]) / (b[0]["s"] + b[3]["s"])
                                   for b in blocks])
    return m


# ---------------------------------------------------------------- etl_daily

def _scans(stage_info, kinds):
    return any(r.get("Name") == "FileScanRDD" and
               json.loads(r.get("Scope") or "{}").get("name", "").startswith(kinds)
               for r in stage_info["RDD Info"])


def etl_op(evdir, out, end, new_csv_bytes):
    """Layer figures of one EtlMain op from its event log and RunLog."""
    files = glob.glob(os.path.join(evdir, "*"))
    if len(files) != 1:
        raise RuntimeError("expected one event log in %s, found %d" % (evdir, len(files)))
    sites, stage_mod = {}, {}
    spans, csv_stages, bin_stages = [], set(), set()
    read_by_stage = collections.Counter()
    r = {"jobs": 0, "stages": 0, "retries": 0, "write_b": 0,
         "busy": dict.fromkeys(ETL_MODULES, 0.0)}
    app = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                root = e.get("rootExecutionId", e["executionId"])
                sites[e["executionId"]] = sites.get(root, e["details"])
            elif kind == "SparkListenerJobStart":
                r["jobs"] += 1
                eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                site = sites.get(int(eid)) if eid is not None else None
                if site is None:
                    site = e["Stage Infos"][0]["Details"] if e["Stage Infos"] else ""
                mod = module_of(site)
                for s in e["Stage IDs"]:
                    stage_mod[s] = mod
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Failure Reason" not in si and "Completion Time" in si:
                    r["stages"] += 1
                    spans.append((si["Submission Time"], si["Completion Time"]))
                if _scans(si, ("Scan csv", "Scan text")):
                    csv_stages.add(si["Stage ID"])
                if _scans(si, ("Scan binaryFile",)):
                    bin_stages.add(si["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info, tm = e["Task Info"], e.get("Task Metrics") or {}
                if info["Attempt"] > 0:
                    r["retries"] += 1
                sid = e["Stage ID"]
                mod = stage_mod.get(sid)
                if mod in r["busy"]:
                    r["busy"][mod] += tm.get("Executor Run Time", 0) / 1000.0
                # a stage's scans are known only when it completes, so
                # input bytes are kept per stage and summed at the end
                read_by_stage[sid] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                r["write_b"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif kind == "SparkListenerApplicationStart":
                app["start"] = e["Timestamp"]
            elif kind == "SparkListenerApplicationEnd":
                app["end"] = e["Timestamp"]
    r["csv_scans"] = len(csv_stages)
    r["csv_b"] = sum(read_by_stage[s] for s in csv_stages)
    r["bin_b"] = sum(read_by_stage[s] for s in bin_stages)
    lo, hi = app["start"], app["end"]
    r["driver_only_s"] = (hi - lo - covered_ms(spans, lo, hi)) / 1000.0
    r["read_amp"] = r["csv_b"] / new_csv_bytes
    r["gc_s"] = end["gc_s"]
    r["storage_end_mb"] = end["storage_end_mb"]
    r["codegen_s"], r["codegen_classes"] = end["codegen_s"], end["codegen_classes"]
    r["entity_s"] = runlog_durations(out)
    return r


def runlog_durations(out):
    """Per-entity duration_ms of the newest run in <out>/_logs, in seconds."""
    rows = []
    for p in sorted(glob.glob(os.path.join(out, "_logs", "*.jsonl"))):
        with open(p) as f:
            rows += [json.loads(l) for l in f if l.strip()]
    if not rows:
        return {}
    last = rows[-1]["run_id"]
    return {x["entity"]: x["duration_ms"] / 1000.0 for x in rows
            if x["run_id"] == last and x.get("status") == "ok" and "duration_ms" in x}


def etl_metrics(layer, overhead):
    m = {}
    for op in ("load", "delta"):
        r = layer[op]
        m["%s.csv.scans" % op] = r["csv_scans"]
        m["%s.csv.read_amp" % op] = r["read_amp"]
        for e in ENTITIES:
            m["%s.%s_s" % (op, e)] = r["entity_s"].get(e, 0.0)
        for mod in ETL_MODULES:
            m["%s.%s.busy_s" % (op, mod)] = r["busy"][mod]
        m["%s.sched.jobs" % op] = r["jobs"]
        m["%s.sched.stages" % op] = r["stages"]
        m["%s.sched.driver_only_s" % op] = r["driver_only_s"]
        m["%s.jvm.gc_s" % op] = r["gc_s"]
        m["%s.storage.end_mb" % op] = r["storage_end_mb"]
    m["load.transform_s"] = layer["load"]["transform_s"]
    m["delta.tracker.hashed_mb"] = layer["delta"]["bin_b"] / MB
    m["delta.write_mb"] = layer["delta"]["write_b"] / MB
    m["task.retries"] = layer["load"]["retries"] + layer["delta"]["retries"]
    m["jvm.gc_s"] = layer["load"]["gc_s"] + layer["delta"]["gc_s"]
    m["jvm.codegen_s"] = layer["load"]["codegen_s"]
    m["jvm.codegen_classes"] = layer["load"]["codegen_classes"]
    m["trace_overhead"] = overhead
    return m
