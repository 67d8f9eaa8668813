"""Feature-store benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source (perfbench/build.py), times
set-up in fresh JVMs, generates the workload's inputs from the seed, runs
it in one more JVM on local[4] for the given seconds, checks every output,
and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"} with every end-to-end metric
of BENCHMARK.json (--trace 0) or every per-layer metric (--trace 1).
Everything the run writes stays under perfbench/.work and is removed at the
end; a traced run keeps its spans in perfbench/.traces.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

WORKLOADS = ("offline_medallion", "query_suite")
# set-up is timed in this many fresh JVMs per run; setup_s is their median
SETUP_PROCESSES = 3
TIME_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def oracle_row_counts(fixture, oracle_sql):
    """Row count of each query's DuckDB oracle twin over the fixture."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(Path(fixture).glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM parquet_scan('{f}')")
    return {q: con.execute(f"SELECT count(*) FROM ({sql.rstrip().rstrip(';')})")
            .fetchone()[0] for q, sql in oracle_sql.items()}


def java(classes, work, args, log, deadline):
    """Run perfbench.Main in a fresh JVM; `--start-ms` passes the launch
    time, from which the JVM measures set-up."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS
                     for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
           *args, "--work", str(work), "--out", str(work / "result.json"),
           "--start-ms", str(int(time.time() * 1000))]
    with open(log, "w") as lf:
        r = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                           timeout=max(30, deadline - time.time()))
    if r.returncode != 0 or not (work / "result.json").exists():
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"benchmark JVM exited with {r.returncode}")
    return json.loads((work / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + TIME_LIMIT_S
    e2e, per_layer = declared()
    classes = build.build()
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        # cold set-ups in processes of their own; the run's JVM is one more
        setups = [java(classes, work / f"setup-{k}", args + ["--setup-only", "1"],
                       work / f"setup-{k}.log", deadline)["setup_s"]
                  for k in range(SETUP_PROCESSES - 1)]
        if a.workload == "query_suite":
            import fixture
            fixture.write(work / "fixture", a.seed)
            args += ["--fixture", str(work / "fixture")]
        res = java(classes, work / "run", args, work / "run.log", deadline)
        got = res["metrics"]
        setups.append(got["setup_s"]["value"])
        got["setup_s"]["value"] = statistics.median(setups)
        correct = res["correct"]
        notes = res["notes"]
        notes["setup_processes_s"] = setups
        if a.workload == "query_suite":
            want = oracle_row_counts(work / "fixture", notes["oracle_sql"])
            for q in notes["sample"]:
                n = notes["query_rows"].get(q)
                if q not in want or n != want[q]:
                    correct = False
                    res["errors"].append(f"{q}: {n} rows, oracle {want.get(q)}")
        for e in res["errors"]:
            print(f"WRONG: {e}", file=sys.stderr)
        print(json.dumps({k: v for k, v in notes.items() if k != "oracle_sql"}),
              file=sys.stderr)
        if a.trace:
            traces = HERE / ".traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "run" / "spans.json",
                        traces / f"{a.workload}-{a.seed}.spans.json")
        if a.trace:
            # a layer the workload bypasses does no work: it reads 0
            metrics = {k: {"value": got[k]["value"] if k in got else 0.0, "unit": u}
                       for k, u in per_layer.items()}
        else:
            missing = [k for k in e2e if k not in got]
            if missing:
                raise SystemExit(f"end-to-end metrics not measured: {missing}")
            metrics = {k: {"value": got[k]["value"], "unit": u} for k, u in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
