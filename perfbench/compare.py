"""Compare two sets of benchmark runs, or check one set's spread.

A set of runs is a JSON-lines file; each line is
{"workload": ..., "seed": ..., "result": <the JSON line run.py printed>}.

    python3 perfbench/compare.py record <set.jsonl> <workload> <seed> [--trace 1]
        run the benchmark once and append the run to the set
    python3 perfbench/compare.py spread <set.jsonl>
        per workload and metric: median, quartiles, and the spread
        (Q3 - Q1) / median against the metric's bound in BENCHMARK.json
    python3 perfbench/compare.py diff <parent.jsonl> <change.jsonl>
        per workload and metric: each side's median and quartiles, the
        share of seed-paired runs the change won, and a verdict

Verdicts (a change claims a gain only by the pairs rule): "improved" when
the change wins at least 9 of 10 pairs (ties count for neither side) and
the medians differ by more than the parent's own Q3 - Q1; "within bound"
when the change's median is no worse than the parent's by more than the
bound; "worse" when it is; "unresolved" when either side's spread is wider
than the bound, unless every change run beats every parent run. Per-layer
metrics have no bound: they read "moved" or "no clear change".
"""
import json
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load_spec():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def load_runs(path):
    """(workload, metric) -> {seed: value}"""
    runs = defaultdict(dict)
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        r = json.loads(line)
        for name, m in r["result"]["metrics"].items():
            runs[(r["workload"], name)][r["seed"]] = m["value"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def verdict(parent, change, better, bound):
    """parent, change: {seed: value}. Returns (won share, verdict)."""
    sign = 1 if better == "lower" else -1
    seeds = sorted(set(parent) & set(change))
    wins = sum(sign * (parent[s] - change[s]) > 0 for s in seeds)
    won = wins / len(seeds) if seeds else 0.0
    a, b = list(parent.values()), list(change.values())
    q1, ma, q3 = quartiles(a)
    mb = statistics.median(b)
    if won >= 0.9 and sign * (ma - mb) > q3 - q1:
        return won, "improved"
    if bound is None:
        moved = won <= 0.1 and sign * (mb - ma) > q3 - q1
        return won, "moved" if moved else "no clear change"
    if all(sign * (y - x) < 0 for x in a for y in b):
        return won, "within bound"
    if spread(a) > bound or spread(b) > bound:
        return won, "unresolved"
    worse = sign * (mb - ma) / ma if ma else 0.0
    return won, "worse" if worse > bound else "within bound"


def cmd_record(path, workload, seed, trace="0"):
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
         "--trace", trace], capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"run failed ({workload}, seed {seed}):\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    # run.py prints the run's notes (sample counts, per-unit times) as a
    # JSON line on stderr
    notes = [json.loads(l) for l in out.stderr.splitlines() if l.startswith("{")]
    with open(path, "a") as f:
        f.write(json.dumps({"workload": workload, "seed": int(seed),
                            "result": result,
                            "notes": notes[-1] if notes else {}}) + "\n")
    print(json.dumps(result))


def cmd_spread(path):
    spec = load_spec()
    for (w, name), vals in sorted(load_runs(path).items()):
        xs = list(vals.values())
        q1, med, q3 = quartiles(xs)
        bound = spec.get(name, {}).get("bound")
        s = spread(xs)
        flag = "" if bound is None else (
            "ok" if s <= bound / 3 else "within bound" if s <= bound else "TOO WIDE")
        print(f"{w:22s} {name:36s} n={len(xs):2d} median={med:<12.5g} "
              f"q1={q1:<12.5g} q3={q3:<12.5g} spread={s:.3f} "
              f"{'' if bound is None else f'bound={bound}'} {flag}")


def cmd_diff(parent_path, change_path):
    spec = load_spec()
    parent, change = load_runs(parent_path), load_runs(change_path)
    for key in sorted(set(parent) & set(change)):
        w, name = key
        m = spec.get(name, {})
        won, v = verdict(parent[key], change[key], m.get("better", "lower"),
                         m.get("bound"))
        pa, ca = quartiles(list(parent[key].values())), quartiles(list(change[key].values()))
        print(f"{w:22s} {name:36s} parent={pa[1]:<11.5g}[{pa[0]:.5g}, {pa[2]:.5g}] "
              f"change={ca[1]:<11.5g}[{ca[0]:.5g}, {ca[2]:.5g}] won={won:.2f} {v}")


if __name__ == "__main__":
    cmd, *args = sys.argv[1:] or ["help"]
    if cmd == "record":
        trace = args[4] if len(args) > 4 and args[3] == "--trace" else "0"
        cmd_record(args[0], args[1], args[2], trace)
    elif cmd == "spread":
        cmd_spread(args[0])
    elif cmd == "diff":
        cmd_diff(args[0], args[1])
    else:
        print(__doc__)
        sys.exit(2)
