"""Steadiness record and tracing overhead, from interleaved runs of one commit.

    python3 perfbench/steady.py --runs 10 --sets 2 [--workloads wrm_feed ...]
    python3 perfbench/steady.py --pairs 5 [--workloads wrm_feed ...]

Run from the root of a checkout.

Record mode: set ``k`` uses seeds ``1000*k + 1 ...``; runs alternate between
sets and workloads, so host drift lands on every set alike. The table
printed at the end gives, per workload, metric and set, the median,
quartiles and spread (interquartile distance over median) next to the
metric's bound in BENCHMARK.json, and the shift of each set's median from
the first set's.

Pairs mode: for each seed ``3001 ...`` and workload, one untraced and one
traced run of the same seed back to back, in alternating order. The
tracing overhead of a gated metric is the traced run's value over the
untraced one's, minus 1, with its median over the pairs.

Every run's record is appended to ``.perfbench/steady/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from run import _cpu_jiffies  # noqa: E402

OUT_DIR = os.path.join(".perfbench", "steady")


def run_one(bench: dict, workload: str, seed: int, trace: int, **tags) -> dict:
    """One benchmark run; its gated end-to-end values under ``metrics``
    (a traced run's come from its trace file)."""
    t, cpu0 = time.time(), _cpu_jiffies()
    proc = subprocess.run(
        [*bench["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    cpu1 = _cpu_jiffies()
    if trace:
        with open(os.path.join(".perfbench", "traces", f"{workload}-{seed}.json")) as fh:
            line["metrics"] = {k: {"value": v} for k, v in json.load(fh)["end_to_end"].items()}
    rec = {"workload": workload, "seed": seed, "trace": trace, **tags,
           "rc": proc.returncode, "wall_s": time.time() - t,
           "steal_share": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), **line}
    with open(os.path.join(OUT_DIR, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    print(f"{workload} seed={seed} trace={trace} rc={proc.returncode} "
          f"wall={rec['wall_s']:.1f}s steal={rec['steal_share']:.3f} "
          + " ".join(f"{m}={v['value']:.4g}" for m, v in line["metrics"].items()),
          flush=True)
    return rec


def record(bench: dict, workloads: list[str], runs: int, sets: int) -> list[dict]:
    records = [
        run_one(bench, w, 1000 * (k + 1) + i + 1, 0, set=k)
        for i in range(runs) for w in workloads for k in range(sets)
    ]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"\n{'workload':<16} {'metric':<18} set {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6} {'shift':>7}")
    for w in workloads:
        for m, bound in bounds.items():
            first = None
            for k in range(sets):
                vals = [r["metrics"][m]["value"] for r in records
                        if r["workload"] == w and r["set"] == k]
                q1, _, q3 = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                first = med if first is None else first
                print(f"{w:<16} {m:<18} {k:>3} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
                      f"{stats.spread(vals):>7.3f} {bound:>6} {med / first - 1:>+7.3f}")
    return records


def pairs(bench: dict, workloads: list[str], n: int) -> list[dict]:
    records, overhead = [], {}
    for i in range(n):
        seed = 3001 + i
        for w in workloads:
            order = (0, 1) if i % 2 == 0 else (1, 0)
            runs = {t: run_one(bench, w, seed, t, pair=i) for t in order}
            records += runs.values()
            for m in ("latency_p50_s", "throughput_per_s"):
                ratio = (runs[1]["metrics"][m]["value"] / runs[0]["metrics"][m]["value"])
                overhead.setdefault((w, m), []).append(ratio - 1)
    print(f"\n{'workload':<16} {'metric':<18} {'traced/untraced - 1 per pair':<40} median")
    for (w, m), vals in overhead.items():
        print(f"{w:<16} {m:<18} {' '.join(f'{v:+.3f}' for v in vals):<40} "
              f"{statistics.median(vals):+.3f}")
    return records


def main() -> None:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--pairs", type=int, default=0, help="measure tracing overhead instead")
    p.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    a = p.parse_args()

    os.makedirs(OUT_DIR, exist_ok=True)
    if a.pairs:
        records = pairs(bench, a.workloads, a.pairs)
    else:
        records = record(bench, a.workloads, a.runs, a.sets)
    bad = [r for r in records if r["rc"] != 0 or not r["correct"] or r["failed"]]
    print(f"\n{len(records)} runs, {len(bad)} with a wrong output, a failure or a non-zero exit; "
          f"run wall median {statistics.median(r['wall_s'] for r in records):.1f}s")


if __name__ == "__main__":
    main()
