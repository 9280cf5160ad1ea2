#!/usr/bin/env python3
"""Re-measure query_costs.json: the warm latency of every inventory query
on the benchmark's generated sf0.01 tables, which the workload plans use
only to stratify their seeded samples by cost.

    python3 perfbench/costs.py

Runs the driver once over the whole inventory (one warm-up, one timed pass)
and keeps each query's timed latency. Takes several minutes.
"""
import json
import os
import subprocess
import sys

import run


def main():
    java, inventory = run.build()
    run.gen.ensure_tables(os.path.join(run.WORK, "data"), ["0.01"])
    out = os.path.join(run.WORK, "costs")
    os.makedirs(out, exist_ok=True)
    plan = os.path.join(out, "plan.txt")
    lines = ["workload=query_tail", "seed=0", "seconds=0", "trace=0",
             "min_passes=1", "clients=1", f"data={os.path.join(run.WORK, 'data')}",
             "corpus=", "plant_failure=0", "stage="]
    lines += [f"op={n}\t0.01" for n in sorted(inventory)]
    with open(plan, "w") as f:
        f.write("\n".join(lines) + "\n")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        subprocess.check_call(java + [f"-Djava.io.tmpdir={tmp}", "graft.perfbench.Main", "run", plan, out],
                              stdout=log, stderr=subprocess.STDOUT, cwd=out,
                              env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    # a failing query keeps its time to failure: it stays in the pools
    costs = {o["name"]: round(o["lat_s"], 3) for o in run.read_jsonl(os.path.join(out, "ops.jsonl"))}
    with open(os.path.join(run.HERE, "query_costs.json"), "w") as f:
        json.dump(costs, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"{len(costs)} of {len(inventory)} queries measured")


if __name__ == "__main__":
    sys.exit(main())
