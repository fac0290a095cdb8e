#!/usr/bin/env python3
"""Re-pins the expected answers in `expected.json`.

  python3 perfbench/regen.py

It refuses to write anything unless the answers first pass the repo's
correctness gate on the benchmark's own inputs:

1. `graft.Verify` dumps every selected query over the generated tables and
   `scripts/local_verify.py` compares each one that has a DuckDB twin
   against DuckDB (offline), exactly as the repo's oracle gate does;
2. the harness runs every selected query once; its row count must equal
   the row count of the oracle-checked dump, and the row count and content
   hash it computes become the pinned answer;
3. the streaming op (an AvailableNow catch-up load of the events, whose
   ids are unique) must reproduce its input exactly: same row count and
   content hash as the input read as a batch, and as many rows as DuckDB
   counts in the events table;
4. the flights DAG is backfilled and replayed through `Pipeline.runFor`;
   every star table must equal the same transform applied directly to the
   staged source, and those answers are pinned.

Run it only when the program's answers are meant to change (or the inputs
did); a mismatch found by `run.py` is otherwise a program defect.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def java(classpath, work, *args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in run.JDK_OPENS]
           + ["-cp", classpath] + list(args))
    subprocess.run(cmd, check=True, cwd=work, stdout=sys.stderr, stderr=subprocess.DEVNULL)


def main():
    cfg = run.load_json("workloads.json")
    classpath = build.build()
    work = os.path.join(build.build_dir(), "regen")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    dump = os.path.join(work, "verify")
    gen.write(cfg["data_scale"], data)
    queries = cfg["query_mix"]["queries"]

    # 1. the oracle gate on the benchmark's inputs
    java(classpath, work, "graft.Verify", data, dump, ",".join(queries))
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    oracled = sorted(q for q in queries if q in oracles)
    subprocess.run([sys.executable, os.path.join(build.ROOT, "scripts", "local_verify.py"),
                    data, dump, ",".join(queries)], check=True, stdout=sys.stderr)

    # 2. pinned query answers, tied to the oracle-checked dump by row count
    import duckdb
    stream = cfg["query_mix"]["stream"]
    plan = run.make_plan("query_mix", 0, cfg["unit_seconds"], 0, os.path.join(work, "q"), cfg)
    plan["ops"] = list(queries) + [stream]
    plan["stream_source"] = True
    os.makedirs(plan["work_dir"], exist_ok=True)
    out = run.run_jvm(plan, plan["work_dir"])
    answers = {}
    for r in out["ops"]:
        if r["status"] != "ok":
            raise SystemExit(f"regen: {r['name']} failed: {r.get('error')}")
        if r["name"] == stream:
            continue
        dumped = duckdb.connect().execute(
            f"SELECT count(*) FROM read_parquet('{dump}/{r['name']}/*.parquet')").fetchone()[0]
        if dumped != r["rows"]:
            raise SystemExit(f"regen: {r['name']} rows {r['rows']} != verified dump {dumped}")
        answers[r["name"]] = {"rows": r["rows"], "hash": r["hash"]}

    # 3. the streaming op reproduces its input
    [r] = [r for r in out["ops"] if r["name"] == stream]
    source = out["stream_source"]
    events = duckdb.connect().execute(
        f"SELECT count(*), count(DISTINCT event_id) FROM read_parquet('{data}/events.parquet')"
    ).fetchone()
    if events[0] != events[1] or (r["rows"], r["hash"]) != (source["rows"], source["hash"]) \
            or r["rows"] != events[0]:
        raise SystemExit(f"regen: {stream} gave {r['rows']} rows / {r['hash']}, its input "
                         f"{source['rows']} / {source['hash']}, DuckDB {events}")
    answers[stream] = {"rows": r["rows"], "hash": r["hash"]}

    # 4. star answers: the DAG's output must equal the direct transform
    plan = run.make_plan("dag_backfill", 0, cfg["unit_seconds"], 0, os.path.join(work, "d"), cfg)
    days = cfg["dag_backfill"]["days"]
    plan["ops"] = ([{"kind": "day", "phase": "backfill", "day": d} for d in days]
                   + [{"kind": "check", "after": "backfill"}]
                   + [{"kind": "day", "phase": "replay", "day": d} for d in reversed(days)]
                   + [{"kind": "check", "after": "replay"}])
    plan["direct_star"] = True
    os.makedirs(plan["work_dir"], exist_ok=True)
    out = run.run_jvm(plan, plan["work_dir"])
    bad = [r for r in out["ops"] if r["status"] != "ok"]
    if bad:
        raise SystemExit(f"regen: DAG op failed: {bad[0].get('error')}")
    for check in out["checks"]:
        if check["star"] != out["direct_star"]:
            raise SystemExit(f"regen: star after {check['after']} differs from the direct transform")

    expected = {
        "inputs": {"data_scale": cfg["data_scale"], "data_seed": gen.DATA_SEED,
                   "dag_fraction": cfg["dag_backfill"]["fraction"]},
        "oracle_checked": oracled,
        "queries": dict(sorted(answers.items())),
        "star": dict(sorted(out["direct_star"].items())),
    }
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=2)
        f.write("\n")
    print(f"regen: pinned {len(answers)} op answers ({len(oracled)} oracle-checked) "
          f"and {len(expected['star'])} star tables")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
