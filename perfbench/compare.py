"""Compare two sets of benchmark results written under .perfbench/results/.

    python3 perfbench/compare.py BASE.json [...] -- NEW.json [...]

Prints, per workload and metric, each side's median and quartiles and the
ratio of the medians. Refuses (exit 2) to compare results taken on machines
with a different number of CPUs.
"""

from __future__ import annotations

import json
import statistics
import sys


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(base: list[dict], new: list[dict]) -> list[dict]:
    nprocs = {r["info"]["machine"]["nproc"] for r in base + new}
    if len(nprocs) != 1:
        raise ValueError(f"results come from machines with different nproc: {sorted(nprocs)}")
    rows = []
    workloads = sorted({r["info"]["workload"] for r in base + new})
    for w in workloads:
        b = [r for r in base if r["info"]["workload"] == w]
        n = [r for r in new if r["info"]["workload"] == w]
        for metric in sorted({k for r in b + n for k in r["metrics"]}):
            bv = [r["metrics"][metric]["value"] for r in b if metric in r["metrics"]]
            nv = [r["metrics"][metric]["value"] for r in n if metric in r["metrics"]]
            if not bv or not nv:
                continue
            bq, nq = _quartiles(bv), _quartiles(nv)
            rows.append({
                "workload": w, "metric": metric, "base": bq, "new": nq,
                "ratio": nq[1] / bq[1] if bq[1] else None, "n": (len(bv), len(nv)),
            })
    return rows


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    try:
        rows = compare(_load(argv[:i]), _load(argv[i + 1:]))
    except ValueError as e:
        print(f"compare: refused: {e}", file=sys.stderr)
        return 2
    for r in rows:
        ratio = "n/a" if r["ratio"] is None else f"{r['ratio']:.3f}"
        print(f"{r['workload']:<14} {r['metric']:<18} base {r['base'][1]:.4g} "
              f"[{r['base'][0]:.4g}, {r['base'][2]:.4g}]  new {r['new'][1]:.4g} "
              f"[{r['new'][0]:.4g}, {r['new'][2]:.4g}]  ratio {ratio}  n={r['n']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
