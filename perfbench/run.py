#!/usr/bin/env python3
"""The repository's benchmark: end-to-end and per-layer figures for the
nightly tick and a mixed suite of registry queries.

    python3 perfbench/run.py --workload nightly|suite --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run it from the repository root. It compiles the program's sources and
its own harness (`perfbench/scala`) into `.bench_build/`, generates the
inputs, runs one JVM that sets the workload up, warms it up with `WARM`
untimed passes and then measures it closed-loop for `--seconds`, checks
every output, and prints one JSON line last: `{"correct", "attempted",
"failed", "metrics"}`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
every second pass is traced (listener, plan walk, spans) and the metrics
are the per-layer ones plus the tracing overhead. Exit code 0 means every check passed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
CORES = max(1, min(4, os.cpu_count() or 1))
WARM = {"nightly": 10, "suite": 3}   # untimed passes at the end of set-up
STORES = 1000         # nightly: stores per tick, two days each
SF = 0.1              # suite: scale of the relational tables
DOCS, VECS = 5000, 2000
RUN_LIMIT_S = 170     # a run must end well inside 180 s

WORKLOADS = {
    "nightly": [],
    "suite": [
        # relational reads: date-range scan, latest-wins merge, full outer
        # join, grouping sets
        "q03", "q12", "q73", "q98",
        # mart write: overwrite refresh
        "q19",
        # dedup and similarity search: exact dedup, cosine top-k,
        # edit-distance near-duplicates
        "q24", "q26", "q84",
    ],
}
# counters that must be identical in every traced pass of a run and in
# every run of the same seed and build (a tick's shuffle bytes depend on
# its night's figures, so they are exact only on the suite)
EXACT = {
    "nightly": ["pipeline.jobs_per_tick", "engine.output_files", "sources.fetch.requests"],
    "suite": ["engine.jobs", "engine.shuffle_write_bytes", "engine.output_files"],
}
ENGINE = ["jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
          "scheduler_delay_s", "gc_s", "input_rows", "input_bytes",
          "shuffle_write_bytes", "shuffle_records", "shuffle_fetch_wait_s",
          "spill_bytes", "output_bytes", "output_files", "task_retries"]
FETCH = ["requests", "error_envelopes", "server_busy_s", "phase_s",
         "inflight_max", "connections"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def java_cmd(classes, jars, a, run_dir, data_dir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run", run_dir, "--cores", str(CORES), "--warm", str(WARM[a.workload]),
            "--stores", str(STORES), "--t0-ms", str(int(time.time() * 1000))]
    if data_dir:
        cmd += ["--data", data_dir, "--ops", ",".join(WORKLOADS[a.workload])]
    return cmd


def run_jvm(a, classes, jars, run_dir, deadline):
    data_dir = None
    if a.workload != "nightly":
        import datagen
        data_dir = os.path.join(run_dir, "data")
        datagen.write(data_dir, sf=SF, docs=DOCS, vecs=VECS)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=data_dir or "")
    out = os.path.join(run_dir, "jvm.log")
    with open(out, "w") as f:
        try:
            rc = subprocess.run(java_cmd(classes, jars, a, run_dir, data_dir),
                                cwd=run_dir, env=env, stdout=f, stderr=subprocess.STDOUT,
                                timeout=max(10, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(out, errors="replace") as f:
            log("".join(f.readlines()[-40:]))
        raise RuntimeError(f"harness JVM failed ({rc})")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f), data_dir


def checks(a, res, run_dir, data_dir):
    """Returns ({op: result rows}, attempted, [failures])."""
    if a.workload == "nightly":
        err = check.check_mart(res["mart_dir"], a.seed, res["stores"], res["night"])
        return {}, 1, [err] if err else []
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    rows, fails = check.check_suite(res["check_dir"], data_dir, oracle, res["ops"])
    return rows, len(res["ops"]), fails


def metric(v, unit):
    return {"value": float(v), "unit": unit}


def end_to_end(a, res, rows):
    ops = res["timed"]
    ts = [o["t"] for o in ops]
    p, tail, n = stats.tail(ts)
    passes = {}
    for o in ops:
        passes[o["pass"]] = o["pass_wall_s"]
    if a.workload == "nightly":
        landed = sum(o.get("decoded", 0) for o in ops)
    else:
        landed = sum(rows.get(o["op"], 0) for o in ops)
    print(f"op_tail_s is p{p} of n={n} ops; pass times "
          f"{[round(passes[k], 3) for k in sorted(passes)]}")
    by_op = {}
    for o in ops:
        by_op.setdefault(o["op"], []).append(o["t"])
    print("op medians: " + " ".join(f"{k}={stats.median(v):.3f}" for k, v in sorted(by_op.items())))
    return {
        "setup_s": metric(res["setup_s"], "s"),
        "op_p50_s": metric(stats.median(ts), "s"),
        "op_tail_s": metric(tail, "s"),
        "pass_s": metric(stats.median(list(passes.values())), "s"),
        "rows_per_s": metric(landed / sum(ts), "1/s"),
        "heap_peak_mb": metric(max(res["heap_mb"]), "MB"),
    }


def union(jobs, pred):
    return stats.union_length([(j["start"], j["end"]) for j in jobs if j["end"] > 0 and pred(j)])


def per_pass(a, ops, cores, spans):
    """Per-layer figures of one traced pass (one tick on nightly)."""
    m = {}
    eng = {}
    for o in ops:
        for k, v in o.get("engine", {}).items():
            eng[k] = max(eng.get(k, 0.0), v) if k == "stage_skew" else eng.get(k, 0.0) + v
    jobs = [j for o in ops for j in o.get("jobs", [])]
    wall = ops[0]["pass_wall_s"]
    tick = a.workload == "nightly"
    t = ops[0] if tick else {}
    fetch = t.get("fetch", {})
    m["pipeline.tick_s"] = t.get("t", 0.0)
    m["pipeline.jobs_per_tick"] = eng.get("jobs", 0.0) if tick else 0.0
    m["pipeline.decoded_rows"] = t.get("decoded", 0)
    m["pipeline.merged_rows"] = t.get("merged", 0)
    m["pipeline.gate_pass_ratio"] = t.get("gate_pass_ratio", 0.0)
    m["pipeline.commit_s"] = union(jobs, lambda j: j["commit"]) if tick else 0.0
    m["pipeline.gate_s"] = union(jobs, lambda j: j["name"].startswith("collect at NightlyRun")) if tick else 0.0
    m["pipeline.files_written_per_tick"] = t.get("files_written", 0)
    m["pipeline.partitions_swapped_per_tick"] = t.get("partitions_swapped", 0)
    for k in FETCH:
        m["sources.fetch." + k] = fetch.get(k, 0.0)
    m["sources.worklist.tasks"] = eng.get("dsv2_scan_tasks", 0.0) if tick else 0.0
    m["queries.build_s"] = sum(o.get("build_s", 0.0) for o in ops)
    m["queries.conf_leaks"] = sum(o.get("conf_leaks", 0) for o in ops)
    m["plans.plan_s"] = eng.get("plan_s", 0.0)
    for k in ["exchanges", "broadcasts", "codegen_stages", "aqe_skew_splits"]:
        m["plans." + k] = eng.get(k, 0.0)
    for k in ENGINE:
        m["engine." + k] = eng.get(k, 0.0)
    m["engine.exec_s"] = sum(o.get("exec_s", 0.0) for o in ops)
    m["engine.stage_skew"] = eng.get("stage_skew", 0.0)
    m["engine.core_busy_ratio"] = eng.get("executor_run_s", 0.0) / (cores * wall)
    out_rows = eng.get("output_rows", 0.0)
    m["engine.stored_bytes_per_row"] = eng.get("output_bytes", 0.0) / out_rows if out_rows else 0.0
    for layer in ["pipeline", "sources", "queries", "plans", "engine"]:
        m["layer.jobs." + layer] = eng.get("jobs." + layer, 0.0)
    ids = {f"traced/{o['pass']}/{o['op']}" for o in ops}
    selft = stats.self_times([s for s in spans if s["op"] in ids],
                             {f"traced/{o['pass']}/{o['op']}": o.get("jobs", []) for o in ops})
    for name in ["op", "queries.build", "plans.plan", "engine.exec", "pipeline.tick"]:
        m[f"self.{name}_s"] = selft.get(name, 0.0)
    return m


UNITS = {"_s": "s", "_rows": "rows", "_bytes": "B", "_ratio": "ratio",
         "_per_row": "B", "_skew": "ratio"}


def unit_of(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def per_layer(a, res, run_dir):
    traced = [o for o in res["timed"] if o["traced"]]
    path = os.path.join(run_dir, "spans.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    trace_dir = os.path.join(BUILD_DIR, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    shutil.copy(path, os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    passes = {}
    for o in traced:
        passes.setdefault(o["pass"], []).append(o)
    rows = [per_pass(a, ops, res["cores"], spans) for _, ops in sorted(passes.items())]
    out = {k: metric(stats.median([r[k] for r in rows]), unit_of(k)) for k in rows[0]}
    exact = {k: rows[0][k] for k in EXACT[a.workload]}
    mism = [k for k in exact if len({r[k] for r in rows}) > 1]
    for k in mism:
        log(f"[perfbench] {k} differs between traced passes: {[r[k] for r in rows]}")
    # the first traced run of a seed on a build records the counts; later
    # ones must repeat them
    with open(os.path.join(BUILD_DIR, "classes.stamp")) as f:
        stamp = f.read()[:16]
    path = os.path.join(BUILD_DIR, "counts", f"{stamp}-{a.workload}-{a.seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        for k in exact:
            if k not in mism and before.get(k) != exact[k]:
                log(f"[perfbench] {k} = {exact[k]} differs from an earlier run of this seed: {before.get(k)}")
                mism.append(k)
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(exact, f)
    out["repeat.mismatches"] = metric(len(mism), "count")
    untraced = [o["t"] for o in res["timed"] if not o["traced"]]
    traced_t = [o["t"] for o in traced]
    out["trace.overhead_ratio"] = metric(
        stats.median(traced_t) / stats.median(untraced) - 1.0, "ratio")
    print(f"traced passes {len(rows)}, untraced ops {len(untraced)}, traced ops {len(traced_t)}, "
          f"spans {len(spans)}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        sys.exit(selftest.main(ROOT, BUILD_DIR))
    if not a.workload:
        ap.error("--workload is required")
    try:
        classes, jars = build.build(ROOT, BUILD_DIR)
    except build.BuildError as e:
        log(f"[perfbench] build failed: {e}")
        sys.exit(2)
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        res, data_dir = run_jvm(a, classes, jars, run_dir, deadline)
        t1 = time.time()
        rows, n_checks, check_fails = checks(a, res, run_dir, data_dir)
        log(f"[perfbench] JVM {t1 - t0:.1f} s (set-up {res['setup_s']:.1f} s), "
            f"checks {time.time() - t1:.1f} s")
        for msg in check_fails:
            log(f"[perfbench] check failed: {msg}")
        timed = res["timed"]
        attempted = len(timed) + res["setup_attempted"] + n_checks
        failed = sum(1 for o in timed if not o["ok"]) + res["setup_failures"] + len(check_fails)
        metrics = per_layer(a, res, run_dir) if a.trace else end_to_end(a, res, rows)
    except Exception as e:
        log(f"[perfbench] run failed: {e}")
        sys.exit(3)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for k, v in metrics.items():
        print(f"{k:40s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
