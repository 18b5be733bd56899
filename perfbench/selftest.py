"""Self-tests of the benchmark itself (not of the library).

    python3 perfbench/selftest.py spread --workload sql_facade --seeds 1-10
    python3 perfbench/selftest.py trace --workload curation_chain --seed 3

``spread`` runs ``run.py`` once per seed and reports, per end-to-end
metric, the median and the interquartile range as a share of the median
(the figure each metric's ``bound`` in BENCHMARK.json is judged against),
plus every run's wall time.

``trace`` alternates two traced and two untraced runs with the same seed
and checks that

- span self times cover each operation: the self time of the
  benchmark's own spans (time under no library or pyspark span) stays
  below 5% of the operations' wall time;
- ``exec.jobs``, ``exec.stages`` and ``exec.tasks`` repeat exactly across
  the two traced runs (both values are listed);
- the tracing overhead, traced over untraced ``op_p50_ms`` (means of
  the two runs each), is reported.

Both print one JSON document and exit non-zero when a check fails. Run
from the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
BOUNDS = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1]), time.perf_counter() - t0


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(args) -> bool:
    values: dict[str, list[float]] = {}
    walls, ok = [], True
    for seed in args.seeds:
        res, wall = run(args.workload, seed, args.seconds, 0)
        walls.append(round(wall, 1))
        ok &= res["correct"] and res["failed"] == 0
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.0f}s {json.dumps(res)}", file=sys.stderr, flush=True)
    report = {"workload": args.workload, "seeds": args.seeds, "run_wall_s": walls, "metrics": {}}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        rel = (q[2] - q[0]) / med
        bound = BOUNDS.get(k)
        report["metrics"][k] = {
            "median": med,
            "iqr_share": round(rel, 4),
            "bound": bound,
            "within_third_of_bound": bound is None or rel < bound / 3,
        }
    print(json.dumps(report, indent=1))
    return ok


def trace(args) -> bool:
    # traced and untraced runs alternate, so host load drift hits both
    runs = [run(args.workload, args.seed, args.seconds, t)[0] for t in (1, 0, 1, 0)]
    first, second = runs[0]["metrics"], runs[2]["metrics"]
    counts = {
        k: [first[k]["value"], second[k]["value"]]
        for k in ("exec.jobs", "exec.stages", "exec.tasks")
    }
    repeat = all(x == y for x, y in counts.values())
    unattributed = max(m["trace.unattributed_pct"]["value"] for m in (first, second))
    traced = statistics.mean(m["trace.op_p50_ms"]["value"] for m in (first, second))
    untraced = statistics.mean(r["metrics"]["op_p50_ms"]["value"] for r in runs[1::2])
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "correct": [r["correct"] for r in runs],
        "exec_counts_per_op": counts,
        "exec_counts_repeat": repeat,
        "max_unattributed_pct": round(unattributed, 3),
        "traced_op_p50_ms": round(traced, 1),
        "untraced_op_p50_ms": round(untraced, 1),
        "tracing_overhead_pct": round(100 * (traced / untraced - 1), 2),
        "per_layer": {k: v["value"] for k, v in first.items()},
    }
    print(json.dumps(report, indent=1))
    return all(report["correct"]) and unattributed < 5.0


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    sp.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    tp = sub.add_parser("trace")
    tp.add_argument("--workload", required=True)
    tp.add_argument("--seed", type=int, default=1)
    tp.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    args = ap.parse_args()
    ok = spread(args) if args.cmd == "spread" else trace(args)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
