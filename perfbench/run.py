#!/usr/bin/env python3
"""Engine benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark driver from source (cached in the
checkout), generates the seeded inputs, runs the JVM driver, checks every
output against an independent reference, and prints the metrics; the last
stdout line is the JSON result. Exits non-zero when any operation failed or
any output was wrong. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

OP_TIMEOUT_S = 60.0  # = Main.OpTimeoutS
RUN_LIMIT_S = 170.0
HEAP = ["-Xms4g", "-Xmx4g"]

#: per workload: the table scales it reads, closed-loop clients, the
#: untimed whole passes that end set-up, and the fewest timed passes
WORKLOADS = {
    "mr_books": dict(scales=[], clients=1, warm_passes=1, min_passes=3),
    "query_tail": dict(scales=["0.01"], clients=1, warm_passes=1, min_passes=3),
    "iterative_rounds": dict(scales=["0.1"], clients=1, warm_passes=1, min_passes=2),
    "jobserver_mix": dict(scales=["0.01"], clients=3, warm_passes=2, min_passes=3),
}

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
              "peak_rss_mb": "MB"}

PER_LAYER = {
    "tables.resolve_s": "s", "build.s": "s", "build.jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "codegen.compile_s": "s",
    "codegen.classes": "count", "codegen.setup_compile_s": "s",
    "codegen.setup_classes": "count", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count",
    "exec.single_task_stages": "count", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.core_util": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_mem_mb": "MB",
    "exec.sched_delay_s": "s", "exec.failed_tasks": "count", "action.s": "s",
    "family_cache.stage_s": "s", "family_cache.hits": "count",
    "family_cache.misses": "count", "stream.batches": "count",
    "stream.input_rows": "count", "stream.rows_per_s": "1/s",
    "stream.batch_p95_ms": "ms", "textanalysis.wordcount_s": "s",
    "textanalysis.invindex_s": "s", "mapreduce.wordcount_s": "s",
    "mapreduce.invindex_s": "s", "kvshuffle.wordcount_s": "s",
    "kv.keys": "count", "kv.bytes": "bytes", "jobserver.submit_ms": "ms",
    "jobserver.queue_wait_s": "s", "jobserver.run_s": "s",
    "jobserver.poll_lag_s": "s", "jobserver.output_bytes": "bytes",
    "op.self_s": "s", "build.self_s": "s", "action.self_s": "s",
    "exec.self_s": "s", "catalyst.self_s": "s", "jobserver.self_s": "s",
    "trace.overhead_s": "s", "trace.wall_s": "s", "trace.untraced_wall_s": "s",
}

MR_JOB_METRIC = {"ta_wordcount": "textanalysis.wordcount_s",
                 "ta_invindex": "textanalysis.invindex_s",
                 "mr_wordcount": "mapreduce.wordcount_s",
                 "mr_invindex": "mapreduce.invindex_s",
                 "kv_wordcount": "kvshuffle.wordcount_s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def _stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("src/main", "build.sbt", "project/build.properties")]
    tops += [os.path.join(HERE, p) for p in ("src", "build.sbt", "project/build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine and the driver unless the sources are unchanged
    since the last build in this checkout; return the java command prefix
    and the inventory ({query name: oracle SQL or None})."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/ (build.sbt, src/main/scala)")
    os.makedirs(WORK, exist_ok=True)
    stamp, stamp_file = _stamp(), os.path.join(WORK, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    inventory = os.path.join(WORK, "inventory.json")
    fresh = (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
             and os.path.exists(launch) and os.path.exists(inventory))
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos}")
        log = os.path.join(WORK, "build.log")
        try:
            with open(log, "w") as out:
                rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                      "compile", "writeLaunch"],
                                     cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, timeout=600)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        if rc != 0:
            fail(f"build failed (exit {rc}); see {log}")
    lines = open(launch).read().split("\n")
    java = ["java"] + HEAP + [x for x in lines[1:] if x] + ["-cp", lines[0]]
    if not fresh:
        rc = subprocess.call(java + ["graft.perfbench.Main", "list", inventory],
                             stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                             stdin=subprocess.DEVNULL, timeout=120)
        if rc != 0:
            fail("could not list the query inventory")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return java, gen.load_json(inventory)


# ---- one run ---------------------------------------------------------------

def write_plan(path, workload, seed, seconds, trace, ops, corpus, plant):
    cfg = WORKLOADS[workload]
    lines = [f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
             f"trace={trace}", f"warm_passes={cfg['warm_passes']}",
             f"min_passes={cfg['min_passes']}",
             f"clients={cfg['clients']}", f"data={os.path.join(WORK, 'data')}",
             f"corpus={corpus or ''}", f"plant_failure={1 if plant else 0}",
             "stage=" + ",".join(sorted({n for n, _ in ops if n in gen.CACHE_CONSUMERS}))]
    lines += [f"op={n}\t{s}" for n, s in ops]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check(workload, res, inventory):
    """(mismatched (name, scale) keys, verdict lines, unchecked count)."""
    v = res["verify"]
    bad, lines, unchecked = set(), [], 0
    for e in v.get("warmup_errors", []) + res.get("warm_pass_errors", []):
        lines.append(f"warm-up error: {e}")
    import verify
    if workload == "mr_books":
        ref = gen.load_json(v["reference"])
        for job, d in sorted(v["jobs"].items()):
            verdict = d["error"] or verify.check_mr(job, gen.load_json(d["path"]), ref)
            lines.append(f"{job}: {verdict}")
            if verdict != "ok":
                bad.add((job, "corpus"))
        return bad, lines, unchecked
    verdicts, rows = verify.check_dumps(v["dumps"], inventory, os.path.join(WORK, "oracle"))
    outputs = {(o["name"], o["scale"]): o for o in v.get("outputs", [])}
    for key, verdict in sorted(verdicts.items()):
        out = outputs.get(key)
        if verdict == "ok" and out is not None:
            # the job server's TSV must be one output, as long as the oracle's
            if out["digests"] > 1:
                verdict = f"job outputs differ across submissions ({out['digests']} digests)"
            elif key in rows and any(n != rows[key] for n in out["lines"]):
                verdict = f"TSV lines {out['lines']} != oracle rows {rows[key]}"
        if verdict == "no-oracle":
            unchecked += 1
        elif verdict != "ok":
            bad.add(key)
        lines.append(f"{key[0]}@sf{key[1]}: {verdict}")
    return bad, lines, unchecked


def flag_drift(workload, seed, passes):
    """Record this run's timed-phase cache misses and codegen compiles and
    flag them if another run of the same seed saw different counts."""
    hist = os.path.join(WORK, "history", f"{workload}-{seed}.jsonl")
    os.makedirs(os.path.dirname(hist), exist_ok=True)
    now = {"family_cache_misses": sum(p["family_cache_misses"] for p in passes) / len(passes),
           "codegen_classes": sum(p["codegen_classes"] for p in passes) / len(passes)}
    flags = [f"FLAG {k}: {now[k]:g} per pass here, {old[k]:g} in an earlier run of this seed"
             for old in read_jsonl(hist) for k in now if old[k] != now[k]]
    with open(hist, "a") as f:
        f.write(json.dumps(now) + "\n")
    return flags[:4]


def per_layer(res, ops, spans):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    tpass = {p["index"] for p in traced}
    tops = [o for o in ops if o["pass"] in tpass]
    m = {k: 0.0 for k in PER_LAYER}
    for k in PER_LAYER:
        vals = [row[k] for row in res["layers"] if k in row]
        if vals:
            m[k] = stats.mean_or(vals)
    setup = res["setup"]
    m["tables.resolve_s"] = setup["resolve_s"]
    m["family_cache.stage_s"] = setup["stage_s"]
    m["codegen.setup_compile_s"] = setup["codegen_ms"] / 1e3
    m["codegen.setup_classes"] = setup["codegen_classes"]
    m["codegen.compile_s"] = stats.mean_or([p["codegen_ms"] / 1e3 for p in traced])
    m["codegen.classes"] = stats.mean_or([p["codegen_classes"] for p in traced])
    m["family_cache.hits"] = stats.mean_or([p["family_cache_hits"] for p in traced])
    m["family_cache.misses"] = stats.mean_or([p["family_cache_misses"] for p in traced])
    for job, name in MR_JOB_METRIC.items():
        m[name] = stats.median_or([o["lat_s"] for o in tops if o["name"] == job])
    kv = [o for o in tops if "kv_keys" in o]
    m["kv.keys"] = stats.mean_or([o["kv_keys"] for o in kv])
    m["kv.bytes"] = stats.mean_or([o["kv_bytes"] for o in kv])
    for f in ("submit_ms", "queue_wait_s", "run_s", "poll_lag_s", "output_bytes"):
        m[f"jobserver.{f}"] = stats.median_or([o.get(f) for o in tops])
    windows = [(p["start_ms"], p["end_ms"]) for p in traced]
    inside = [s for s in spans if any(a <= s["start_ms"] <= b for a, b in windows)]
    selfs = stats.self_times(inside)
    for layer in ("op", "build", "action", "exec", "catalyst", "jobserver"):
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0) / max(1, len(traced))
    m["trace.wall_s"] = stats.median_or([p["wall_s"] for p in traced])
    m["trace.untraced_wall_s"] = stats.median_or([p["wall_s"] for p in untraced])
    m["trace.overhead_s"] = m["trace.wall_s"] - m["trace.untraced_wall_s"]
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="self-test: add a query that always throws")
    a = ap.parse_args(argv)
    java, inventory = build()
    t_start = time.time()  # the run limit starts after a build

    cfg = WORKLOADS[a.workload]
    gen.ensure_tables(os.path.join(WORK, "data"), cfg["scales"])
    corpus = gen.ensure_corpus(os.path.join(WORK, "corpus"), a.seed) \
        if a.workload == "mr_books" else None
    costs = gen.load_json(os.path.join(HERE, "query_costs.json"))
    ops = gen.plan_ops(a.workload, a.seed, inventory, costs)
    if a.plant_failure:
        ops.append(("planted_failure", cfg["scales"][0] if cfg["scales"] else "corpus"))

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan = os.path.join(run_dir, "plan.txt")
    write_plan(plan, a.workload, a.seed, a.seconds, a.trace, ops, corpus, a.plant_failure)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    budget = RUN_LIMIT_S - (time.time() - t_start)
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            rc = subprocess.call(java + [f"-Djava.io.tmpdir={tmp}", "graft.perfbench.Main",
                                         "run", plan, run_dir],
                                 cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, timeout=max(10.0, budget))
    except subprocess.TimeoutExpired:
        fail(f"driver exceeded the run limit; see {run_dir}/jvm.log")
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"driver exited {rc} without a result; see {run_dir}/jvm.log")
    res = gen.load_json(result_file)
    all_ops = read_jsonl(os.path.join(run_dir, "ops.jsonl"))
    spans = read_jsonl(os.path.join(run_dir, "spans.jsonl"))

    bad, verdicts, unchecked = check(a.workload, res, inventory)
    passes = [p for p in res["passes"] if not p["traced"]]
    timed = [o for o in all_ops if o["pass"] in {p["index"] for p in passes}]
    failed = stats.failures(all_ops, bad)
    warm_errors = res["verify"].get("warmup_errors", []) + res.get("warm_pass_errors", [])
    correct = not bad and not failed and not warm_errors
    lat = stats.op_latencies(timed, OP_TIMEOUT_S)
    tail_p = stats.highest_percentile(len(lat))
    wall = stats.median_or([p["wall_s"] for p in passes])
    e2e = {
        "setup_s": res["setup"]["total_s"],
        "wall_s": wall,
        "op_p50_s": stats.percentile(lat, 50),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    extra = {"error_rate": stats.error_rate(all_ops, bad)}
    if tail_p is not None and tail_p > 50:
        extra[f"op_p{tail_p:g}_s"] = stats.percentile(lat, tail_p)
    if a.workload == "mr_books":
        tokens = res["verify"]["tokens"] * len(ops)
        extra["tokens_per_s"] = tokens / wall

    print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} "
          f"cores={res['cores']} passes={len(passes)} ops={len(timed)} "
          f"latency_samples={len(lat)}")
    print("ops per pass: " + " ".join(f"{n}@{s}" for n, s in ops))
    for k, v in e2e.items():
        print(f"metric {k} = {v:.6g} {END_TO_END[k]}")
    for k, v in extra.items():
        unit = {"error_rate": "ratio", "tokens_per_s": "tokens/s"}.get(k, "s")
        print(f"metric {k} = {v:.6g} {unit}")
    print("set-up steps (s): " + " ".join(f"{k}={v:.3f}" for k, v in sorted(res["setup"].items())
                                         if k.endswith("_s")))
    print(f"pass walls (s): {[round(p['wall_s'], 3) for p in res['passes']]}")
    for line in verdicts:
        print(f"check {line}")
    if unchecked:
        print(f"check {unchecked} (query, scale) results have no oracle SQL; only their run is checked")
    for o in failed[:10]:
        print(f"FAILED {o['name']}@{o['scale']} pass={o['pass']} status={o['status']} {o['error']}")
    for line in flag_drift(a.workload, a.seed, passes or res["passes"]):
        print(line)
    print("spark_conf " + json.dumps(res["spark_conf"], sort_keys=True))
    print(f"correct: {str(correct).lower()}")

    if a.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in per_layer(res, all_ops, spans).items()}
        print(f"spans: {os.path.join(run_dir, 'spans.jsonl')} ({len(spans)} spans)")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": len(all_ops),
                      "failed": len(failed), "metrics": metrics}))
    shutil.rmtree(tmp, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
