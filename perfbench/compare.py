#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. the parent commit (A) and a
change (B).

    python3 perfbench/compare.py A_DIR B_DIR

Each directory holds, per workload, `<workload>.jsonl`: the last stdout line
of each untraced run (`run.py ... --trace 0 | tail -1 >> <workload>.jsonl`),
and optionally `<workload>.ledger.json`: the per-operation ledger a traced
run writes with `run.py ... --trace 1 --ledger <file>`.

Per workload and end-to-end metric it prints both sides' median and
quartiles, the share of runs paired in order that B wins, and a verdict
under the rules of the choosing-metrics guide:

* "gain": B wins at least 9/10 of the pairs (ties count for neither) and
  the medians differ by more than A's own quartile spread;
* "regression": B's median is worse than A's by more than the metric's bound;
* "unresolved": A's quartile spread (as a share of its median) is wider than
  the bound, unless every B run beats every A run;
* "no change": within the bound.

Per operation (from the ledgers) it prints Spark job, stage and task counts
and shuffle bytes, labelled "work changed" when any count differs and
"wall only" when only the time does.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def load_runs(path: Path) -> list:
    runs = []
    for line in path.read_text().splitlines():
        line = line.strip()
        if line.startswith("{"):
            runs.append(json.loads(line))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    sign = 1 if better == "higher" else -1
    q1, ma, q3 = quartiles(a)
    mb = statistics.median(b)
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) < 0)
    win_share = wins / len(pairs) if pairs else 0.0
    spread = (q3 - q1) / ma if ma else 0.0
    worse_by = -sign * (mb - ma) / ma if ma else 0.0
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if win_share >= 0.9 and abs(mb - ma) > (q3 - q1) and sign * (mb - ma) > 0:
        v = "gain"
    elif worse_by > bound:
        v = "regression"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "no change"
    return v, win_share, losses, spread


def compare_metrics(a_dir: Path, b_dir: Path, wl: str) -> None:
    a_runs, b_runs = load_runs(a_dir / f"{wl}.jsonl"), load_runs(b_dir / f"{wl}.jsonl")
    print(f"\n== {wl}: {len(a_runs)} runs in A, {len(b_runs)} runs in B")
    print(f"{'metric':<24}{'A median [q1, q3]':>34}{'B median [q1, q3]':>34}"
          f"{'B wins':>8}  verdict")
    for m in SPEC["end_to_end"]:
        n = m["name"]
        a = [r["metrics"][n]["value"] for r in a_runs if n in r["metrics"]]
        b = [r["metrics"][n]["value"] for r in b_runs if n in r["metrics"]]
        if not a or not b:
            continue
        v, win, _, spread = verdict(a, b, m["better"], m["bound"])
        qa, qb = quartiles(a), quartiles(b)
        print(f"{n:<24}{qa[1]:>14.6g} [{qa[0]:.4g}, {qa[2]:.4g}]"
              f"{qb[1]:>14.6g} [{qb[0]:.4g}, {qb[2]:.4g}]"
              f"{win:>8.0%}  {v} (A spread {spread:.1%}, bound {m['bound']:.0%})")
    fa = sum(r["failed"] for r in a_runs) / max(1, sum(r["attempted"] for r in a_runs))
    fb = sum(r["failed"] for r in b_runs) / max(1, sum(r["attempted"] for r in b_runs))
    print(f"{'failed_share':<24}{fa:>14.4g}{'':>20}{fb:>14.4g}")


def compare_ledgers(a_dir: Path, b_dir: Path, wl: str) -> None:
    pa, pb = a_dir / f"{wl}.ledger.json", b_dir / f"{wl}.ledger.json"
    if not (pa.exists() and pb.exists()):
        return
    la, lb = json.loads(pa.read_text()), json.loads(pb.read_text())
    print(f"\n-- {wl}: per operation (A -> B)")
    for op in sorted(set(la) | set(lb)):
        if op not in la or op not in lb:
            print(f"{op:<32} only in {'A' if op in la else 'B'}")
            continue
        x, y = la[op], lb[op]
        changed = [c for c in COUNTERS if x[c] != y[c]]
        label = "work changed" if changed else "wall only"
        detail = ", ".join(f"{c} {x[c]:.0f}->{y[c]:.0f}" for c in changed)
        print(f"{op:<32} {label:<13} ms {x['ms']:.0f}->{y['ms']:.0f}"
              + (f"  ({detail})" if detail else ""))


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    a_dir, b_dir = Path(sys.argv[1]), Path(sys.argv[2])
    for w in SPEC["workloads"]:
        wl = w["name"]
        if (a_dir / f"{wl}.jsonl").exists() and (b_dir / f"{wl}.jsonl").exists():
            compare_metrics(a_dir, b_dir, wl)
        compare_ledgers(a_dir, b_dir, wl)
    return 0


if __name__ == "__main__":
    sys.exit(main())
