#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test.py        # from the repository root

1. SelfTest: quantiles, task skew, self time, span attachment and the
   seeded curate tables, checked on hand-made inputs.
2. A smoke run of every workload with tiny inputs, untraced and traced:
   each must pass its correctness gates and print exactly the metrics
   BENCHMARK.json declares, with their units. Every metric must be nonzero,
   except a layer the workload does not run (run.NOT_RUN) and the figures
   in MAY_BE_ZERO.
"""
import json
import os
import subprocess
import sys

import build
import run

HERE = os.path.dirname(os.path.abspath(__file__))

# Figures that count rare events (failures, steal, unparsed PDFs, GC, spill,
# shuffle fetch waits, checkpoints, graft_* expressions in a plan) and may
# be 0 on tiny inputs; by name or by a suffix that starts with ".".
MAY_BE_ZERO = ("fail_frac", "host.steal_frac", "pdf.unparsed_frac", ".gc_s", ".spill_mb",
               ".shuffle_fetch_wait_s", ".checkpoint_mb", ".graft_calls")
# extract_scan has no shuffle and no write by design
NO_SHUFFLE_OR_WRITE = ("pipeline.shuffle_write_mb", "pipeline.output_mb")


def may_be_zero(workload, name):
    return (any(name == n or (n.startswith(".") and name.endswith(n)) for n in MAY_BE_ZERO)
            or (workload == "extract_scan" and name in NO_SHUFFLE_OR_WRITE))


def main():
    build.build()
    subprocess.run(["java", "-cp", build.classpath(), "graft.perfbench.SelfTest"],
                   check=True, cwd=build.ROOT)
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
                check=True, cwd=build.ROOT, stdout=subprocess.PIPE, text=True).stdout
            res = json.loads(out.strip().splitlines()[-1])
            declared = spec["per_layer" if trace else "end_to_end"]
            assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, res
            assert sorted(res["metrics"]) == sorted(m["name"] for m in declared), res
            for m in declared:
                name, value = m["name"], res["metrics"][m["name"]]["value"]
                assert res["metrics"][name]["unit"] == m["unit"], m
                if trace and run.not_run(w["name"], name):
                    assert value == 0, (w["name"], name, value)
                elif not trace:
                    assert value > 0, (w["name"], name, value)
                elif not may_be_zero(w["name"], name):
                    # nonzero: trace_overhead_frac may read below 0
                    assert value != 0, (w["name"], name, value)
            print("smoke %s trace=%d: ok (%d operations)" % (w["name"], trace, res["attempted"]))


if __name__ == "__main__":
    main()
