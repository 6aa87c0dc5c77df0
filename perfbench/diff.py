#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/diff.py <A> <B>

A and B are result directories (or single result files) written by
perfbench/run.py under .bench_build/perfbench/results/. For each workload
and each metric it prints both sides' median and quartiles and the pair
win rate of B over A: runs are paired by seed (by order where seeds do not
match), and a pair is a win when B is better in the metric's direction from
BENCHMARK.json; ties count for neither side. For traced runs it then splits
the median op-time delta by op, and each op's delta by stage (a stage is
named by its op and its ordinal within the op's execution).
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = defaultdict(list)
    for f in files:
        r = json.loads(f.read_text())
        if "workload" in r:
            r["_file"] = f
            runs[(r["workload"], r["trace"])].append(r)
    return runs


def directions():
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    except OSError:
        return {}
    return {m["name"]: m["better"] for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def values(runs, metric):
    out = []
    for r in runs:
        m = (r["end_to_end"] if not r["trace"] else r["layers"] or {})
        v = m.get(metric)
        v = v["value"] if isinstance(v, dict) else v
        if v is not None:
            out.append((r["seed"], v))
    return out


def pairs(a, b):
    bs = dict(b)
    if all(s in bs for s, _ in a):
        return [(v, bs[s]) for s, v in a]
    return list(zip([v for _, v in a], [v for _, v in b]))


def spans(run):
    f = Path(str(run["_file"]).replace(".json", ".spans.jsonl"))
    if not f.exists():
        return []
    return [json.loads(line) for line in f.read_text().splitlines() if line.strip()]


def op_breakdown(runs):
    """Median warm duration per op, and per (op, stage ordinal) self time."""
    per_op = defaultdict(list)
    per_stage = defaultdict(list)
    for r in runs:
        ops = defaultdict(list)
        stages = defaultdict(list)
        for s in spans(r):
            if s["pass"] == 0:  # the cold pass
                continue
            if s["name"] == "op":
                ops[s["op"]].append(s["dur_ms"])
            elif s["name"] == "stage":
                stages[s["span"].split("/")[0]].append(s)
        for op, d in ops.items():
            per_op[op].append(statistics.median(d))
        for op_id, st in stages.items():
            st.sort(key=lambda s: s["start_ms"])
            for i, s in enumerate(st):
                per_stage[(s["op"], i)].append(s["self_ms"])
    med = lambda d: {k: statistics.median(v) for k, v in d.items()}
    return med(per_op), med(per_stage)


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    A, B = load(sys.argv[1]), load(sys.argv[2])
    better = directions()
    for key in sorted(set(A) | set(B)):
        wl, trace = key
        a, b = A.get(key, []), B.get(key, [])
        print(f"== {wl} ({'traced' if trace else 'untraced'}): A {len(a)} runs, B {len(b)} runs")
        if not a or not b:
            continue
        metrics = (list(a[0]["end_to_end"]) if not trace else sorted(a[0]["layers"] or {}))
        print(f"  {'metric':28s} {'A q1/med/q3':>30s} {'B q1/med/q3':>30s} {'delta':>8s} {'B wins':>7s}")
        for m in metrics:
            va, vb = values(a, m), values(b, m)
            if not va or not vb:
                continue
            qa, qb = quartiles([v for _, v in va]), quartiles([v for _, v in vb])
            ps = pairs(va, vb)
            sign = -1 if better.get(m, "lower") == "lower" else 1
            wins = sum(1 for x, y in ps if sign * (y - x) > 0)
            delta = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"  {m:28s} {fmt(qa):>30s} {fmt(qb):>30s} {delta:+8.1%} {wins:>3d}/{len(ps):<3d}")
        if trace:
            oa, sa = op_breakdown(a)
            ob, sb = op_breakdown(b)
            deltas = sorted(((ob.get(k, 0) - oa.get(k, 0), k) for k in set(oa) | set(ob)),
                            key=lambda x: -abs(x[0]))
            print("  op-time delta by op (median warm ms, B - A):")
            for d, op in deltas[:15]:
                print(f"    {op:32s} {oa.get(op, 0):10.1f} -> {ob.get(op, 0):10.1f} {d:+10.1f}")
                st = sorted(((sb.get(k, 0) - sa.get(k, 0), k[1]) for k in set(sa) | set(sb)
                             if k[0] == op), key=lambda x: -abs(x[0]))
                for sd, i in st[:3]:
                    print(f"      stage #{i:<3d} self {sd:+10.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
