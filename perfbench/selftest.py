#!/usr/bin/env python3
"""Self-test of the benchmark at smoke size (1x ETL fixture, sf0.001 queries).

    python3 perfbench/selftest.py

Checks, for each workload, that an untraced run prints every end_to_end
metric of BENCHMARK.json and a traced run every per_layer metric, each with
its unit and with all ops correct; that a planted wrong result (one data
file of the first op's output deleted) makes the run report a failed op and
a non-zero op_fail_ratio; and that the benchmark exits non-zero, printing
no result, in a directory that holds only BENCHMARK.json and perfbench/.
Takes about ten minutes on four cores.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def bench(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] +
                       [str(a) for a in args], cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else None), r.stderr


def expect(cond, what):
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    return bool(cond)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = True
    for w in [w["name"] for w in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = bench("--workload", w, "--seed", 7, "--seconds", 1,
                                   "--trace", trace, "--smoke")
            ok &= expect(code == 0 and res, "%s trace %d exits 0 with a result" % (w, trace))
            if not res:
                print(err[-2000:])
                continue
            got = res["metrics"]
            for m in spec[key]:
                v = got.get(m["name"])
                ok &= expect(v is not None and v["unit"] == m["unit"] and
                             isinstance(v["value"], (int, float)),
                             "%s trace %d prints %s in %s" % (w, trace, m["name"], m["unit"]))
            ok &= expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 2,
                         "%s trace %d: all %d ops correct" % (w, trace, res["attempted"]))
        code, res, _ = bench("--workload", w, "--seed", 7, "--seconds", 1, "--trace", 1,
                             "--smoke", "--plant-wrong")
        ok &= expect(code == 0 and res and not res["correct"] and res["failed"] >= 1 and
                     res["metrics"]["op_fail_ratio"]["value"] > 0,
                     "%s: planted wrong result is caught (op_fail_ratio %s)"
                     % (w, res and res["metrics"]["op_fail_ratio"]["value"]))

    bare = os.path.join(ROOT, ".bench_run", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = bench("--workload", "query_mix", "--seed", 1, "--seconds", 1,
                         "--trace", 0, cwd=bare)
    shutil.rmtree(bare)
    ok &= expect(code != 0 and res is None, "outside a checkout: exit %d, no result" % code)
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
