#!/usr/bin/env python3
"""The repo benchmark: two workloads against the program's public APIs,
one fresh JVM per run with a single driver thread at local[<cores>].

  python3 perfbench/run.py --workload <dag_backfill|query_mix>
      --seed <n> --seconds <s> --trace <0|1>

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones (see BENCHMARK.json and README.md). Any
failed op, wrong answer or harness error makes the exit code non-zero.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_lib  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dag_backfill", "query_mix")
MODULES = ("flights", "engine", "ops", "ext", "functions", "plans", "sources", "streaming")
JVM_TIMEOUT_S = 170
# C1 only: a fresh JVM never reaches C2's steady state within a run, and
# C2's background compiles take CPU that moves with the host's load. The
# code cache gets the tiered JVM's default size back (C1-only defaults to
# 48 MB, which filled mid-run and made the JVM flush and recompile). Few
# GC threads, so the JVM runs no more threads at once than it has cores;
# a fixed heap, so G1 does not size itself differently from run to run.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=1", "-XX:ReservedCodeCacheSize=240m",
             "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-Xms2g", "-Xmx2g"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def work_units(seconds, unit_s):
    """The timed pass is a whole number of fixed work units, so the same
    --seconds always asks for the same work, whatever the host's speed."""
    return max(1, round(seconds / unit_s))


def make_plan(workload, seed, seconds, trace, work, cfg):
    units = work_units(seconds, cfg["unit_seconds"])
    plan = {"workload": workload, "cores": cores(),
            "trace": bool(trace), "work_dir": work}
    if workload == "dag_backfill":
        w = cfg["dag_backfill"]
        ops = [{"kind": "day", "phase": "backfill", "day": d} for d in w["days"]]
        ops.append({"kind": "check", "after": "backfill"})
        for u in range(units):
            ops += [{"kind": "day", "phase": "replay", "day": d}
                    for d in bench_lib.replay_order(seed, w["days"], u)[:w["replays_per_unit"]]]
        ops.append({"kind": "check", "after": "replay"})
        plan.update(kind="dag", fraction=w["fraction"], ops=ops,
                    warehouse_dir=os.path.join(work, "warehouse"),
                    setup=[{"source_dir": os.path.join(work, f"source{k}")}
                           for k in range(w["setup_reps"])])
    else:
        w = cfg[workload]
        selection = w["queries"] + [w["stream"]]
        ops = bench_lib.query_order(seed, selection, w["repeat"], w["repeat_rounds"], units)
        # inputs are made here, before the JVM starts, and are not timed:
        # the timed tables, and one small warm-up input per set-up
        # repetition, each from its own generator seed so that no session
        # memo carries one repetition's work over to the next
        data_dir = os.path.join(work, "data")
        gen.write(cfg["data_scale"], data_dir)
        setup = []
        for k in range(w["setup_reps"]):
            warm_dir = os.path.join(work, f"warm{k}")
            gen.write(cfg["warm_scale"], warm_dir, seed=gen.DATA_SEED + 1 + k)
            setup.append({"warm_dir": warm_dir})
        plan.update(kind="queries", ops=ops, warm=selection, setup=setup, data_dir=data_dir,
                    stream=w["stream"], heap_every=w["heap_every"])
    return plan


def cores():
    """The CPUs this process may use (nproc)."""
    return len(os.sched_getaffinity(0))


def run_jvm(plan, work):
    classpath = build.build()
    plan_path = os.path.join(work, "plan.json")
    out_path = os.path.join(work, "out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no perf-data file: the JVM would write it outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + JVM_FLAGS
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS]
           + ["-cp", classpath, "perfbench.Harness", "run", plan_path, out_path])
    log_path = os.path.join(work, "jvm.log")
    t0 = time.perf_counter()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM/KeyboardInterrupt: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    print(f"jvm: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(log_path, errors="replace") as f:
        log_lines = f.readlines()
    if code != 0 or not os.path.exists(out_path):
        sys.stderr.write("".join(log_lines[-40:]))
        raise SystemExit(f"harness JVM failed ({code})")
    # the harness's timeline: "[t <seconds since JVM start>] <step>"
    sys.stderr.write("".join(line for line in log_lines if line.startswith("[t ")))
    with open(out_path) as f:
        return json.load(f)


def expected_lookup(workload, expected):
    if workload == "dag_backfill":
        return lambda r: None
    answers = expected["queries"]
    return lambda r: answers.get(r["name"], {"rows": "unpinned", "hash": "unpinned"})


def star_failures(out, expected):
    """Every star table after the backfill and after the replay must
    match the pinned star answers."""
    bad = []
    for check in out.get("checks", []):
        star = check["star"]
        if "error" in star:
            bad.append(f"star check after {check['after']}: {star['error']}")
            continue
        for table, want in expected["star"].items():
            got = star.get(table)
            if got is None or got["rows"] != want["rows"] or str(got["hash"]) != str(want["hash"]):
                bad.append(f"star {table} after {check['after']}: got {got}, expected {want}")
    if len(out.get("checks", [])) != 2:
        bad.append("star checks missing")
    return bad


def end_to_end(out, passed):
    stats = bench_lib.op_stats(passed)
    heap = out["heap_mb"][1:] or out["heap_mb"]
    return {
        "setup_s": (statistics.median(out["setup_s"]), "s"),
        "cpu_s": (sum(r["cpu_s"] for r in passed), "s"),
        "op_cpu_p50_s": (stats["p50"] if stats else 0.0, "s"),
        "op_cpu_p90_s": (stats["tail"] if stats else 0.0, "s"),
        "live_heap_mb": (max(heap), "MB"),
    }, stats


def memo_metrics(passed):
    """First call of each query against its later (memo-warm) calls."""
    by_query = {}
    for r in sorted(passed, key=lambda r: r["i"]):
        by_query.setdefault(r["name"], []).append(r["seconds"])
    repeated = {q: t for q, t in by_query.items() if len(t) > 1}
    first = sum(t[0] for t in repeated.values())
    ratio = sum(statistics.median(t[1:]) for t in repeated.values()) / first if first else 0.0
    return first, ratio


def per_layer(out, passed, wall, n_cores):
    layers = out["layers"]
    c = layers.get("counts", {})
    g = lambda k: c.get(k, 0.0)  # noqa: E731
    first, ratio = memo_metrics(passed) if out.get("kind") != "dag" else (0.0, 0.0)
    batches = layers.get("streaming_batch_s", [])
    self_t = bench_lib.self_times(out.get("spans", []))
    m = {
        "registry.build_s": (sum(r.get("build_s", 0.0) for r in passed), "s"),
        "spark.plan_s": (sum(r.get("plan_s", 0.0) for r in passed), "s"),
        "spark.exec_s": (sum(r.get("exec_s", 0.0) for r in passed), "s"),
        "spark.jobs": (g("spark.jobs"), "count"),
        "spark.stages": (g("spark.stages"), "count"),
        "spark.tasks": (g("spark.tasks"), "count"),
        "spark.task_run_s": (g("spark.task_run_s"), "s"),
        "spark.task_cpu_s": (g("spark.task_cpu_s"), "s"),
        "spark.gc_s": (g("spark.gc_s"), "s"),
        "spark.task_wait_s": (g("spark.task_wait_s"), "s"),
        "spark.cores_busy_ratio": (g("spark.task_run_s") / (wall * n_cores) if wall else 0.0, "ratio"),
        "spark.serial_stage_s": (g("spark.serial_stage_s"), "s"),
        "spark.shuffle_write_mb": (g("spark.shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (g("spark.shuffle_read_mb"), "MB"),
        "spark.spill_mb": (g("spark.spill_mb"), "MB"),
        "spark.input_mb": (g("spark.input_mb"), "MB"),
        "engine.Pin.pins": (layers.get("pins", 0), "count"),
        "engine.Pin.pin_mb": (max([r.get("pin_mb", 0.0) for r in out["ops"]] or [0.0]), "MB"),
        "memo.first_call_s": (first, "s"),
        "memo.warm_cold_ratio": (ratio, "ratio"),
        "flights.Pipeline.load_s": (g("cat.load_s"), "s"),
        "flights.StarSchema.transform_s": (g("cat.transform_s"), "s"),
        "engine.Sources.csv_edge_s": (g("cat.csv_edge_s"), "s"),
        "engine.Sinks.output_mb": (g("out.sinks_mb"), "MB"),
        "engine.Sinks.write_amp": (g("out.sinks_mb") / g("out.csv_mb") if g("out.csv_mb") else 0.0,
                                   "ratio"),
        "engine.Incremental.rows_extracted": (sum(r.get("rows_extracted", 0) for r in passed), "count"),
    }
    for mod in MODULES:
        m[f"{mod}.task_s"] = (g(f"{mod}.task_s"), "s")
    m.update({
        "streaming.batches": (len(batches), "count"),
        "streaming.batch_p50_s": (statistics.median(batches) if batches else 0.0, "s"),
        "streaming.state_rows": (layers.get("streaming_state_rows", 0), "count"),
        "trace.wall_s": (wall, "s"),
        "trace.cpu_s": (sum(r["cpu_s"] for r in passed), "s"),
        "trace.op_self_s": (self_t.get("op", 0.0), "s"),
        "trace.phase_self_s": (sum(self_t.get(k, 0.0) for k in ("build", "plan", "exec")), "s"),
        "trace.job_self_s": (self_t.get("job", 0.0), "s"),
        "trace.stage_s": (self_t.get("stage", 0.0), "s"),
        "trace.spans": (len(out.get("spans", [])), "count"),
    })
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cfg = load_json("workloads.json")
    expected = load_json("expected.json")
    build.build()
    work = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan = make_plan(args.workload, args.seed, args.seconds, args.trace, work, cfg)
        out = run_jvm(plan, work)
        out["kind"] = plan["kind"]
        print("setup reps: " + " ".join(f"{t:.2f}" for t in out["setup_s"]) + " s", file=sys.stderr)
        expected_for = expected_lookup(args.workload, expected)
        attempted, failures, passed = bench_lib.account(out["ops"], expected_for)
        problems = [f"op {r['i']} {r['name']}: {why}" for r, why in failures]
        problems += [f"setup: {e}" for e in out.get("setup_errors", [])]
        if args.workload == "dag_backfill":
            problems += star_failures(out, expected)
        wall = sum(r["seconds"] for r in passed)
        if args.trace:
            metrics = per_layer(out, passed, wall, plan["cores"])
            trace_dir = os.path.join(build.build_dir(), "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"spans": out.get("spans", []), "ops": out["ops"]}, f)
        else:
            metrics, stats = end_to_end(out, passed)
            if stats:
                print(f"ops (wall/CPU s): n={stats['n']} tail=p{round(stats['tail_pct'] * 100)}: "
                      + " ".join(f"{r['name']}={r['seconds']:.2f}/{r['cpu_s']:.2f}" for r in passed),
                      file=sys.stderr)
        for p in problems:
            print(f"FAIL {p}", file=sys.stderr)
        correct = not problems
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main())
