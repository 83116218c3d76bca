"""Compare two sets of benchmark records.

    python3 perfbench/compare.py A.jsonl B.jsonl

Each file holds records appended by ``run.py --out``. For every
workload it prints, per end-to-end metric, the median and quartiles of
each side, B's change against A's median and whether that change is
beyond the metric's bound; the same for the pass's wall and CPU
seconds, which are not gated; then the per-layer medians of the traced
records and their deltas. Exact counts (jobs, stages, tasks,
supersteps, ...) that do not repeat within one side are flagged
``unsteady``; they are reported, not judged.
"""

from __future__ import annotations

import json
import statistics
import sys

from run import is_exact, load_spec


def _load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _values(records, workload, trace, name) -> list[float]:
    return [r["metrics"][name] for r in records
            if r["workload"] == workload and r["trace"] == trace and name in r["metrics"]]


def _pass_seconds(records, workload, key) -> list[float]:
    """Median over each untraced record's passes of the summed ``key``."""
    return [statistics.median(sum(c[key] for c in p) for p in r["passes"])
            for r in records if r["workload"] == workload and r["trace"] == 0]


def _change(a: float, b: float) -> str:
    return f"{(b - a) / a:+.1%}" if a else "n/a"


def compare(a: list[dict], b: list[dict]) -> None:
    spec = load_spec()
    for w in sorted({r["workload"] for r in a + b}):
        print(f"== {w}")
        for label, recs in (("A", a), ("B", b)):
            controls = [r["control"] for r in recs if r["workload"] == w]
            if controls:
                print(f"   {label}: {len(controls)} runs, control spread median "
                      f"{statistics.median(c['spread'] for c in controls):.3f}, steal median "
                      f"{statistics.median(c['steal_frac'] for c in controls):.1%}")
        print(f"   {'metric':<24}{'A median [q1, q3]':>34}{'B median [q1, q3]':>34}"
              f"{'change':>9}  verdict")
        for m in spec["end_to_end"]:
            name, better, bound = m["name"], m["better"], m["bound"]
            va, vb = _values(a, w, 0, name), _values(b, w, 0, name)
            if not va or not vb:
                continue
            (a1, am, a3), (b1, bm, b3) = _quartiles(va), _quartiles(vb)
            worse = (bm - am) if better == "lower" else (am - bm)
            verdict = "worse beyond bound" if am and worse / am > bound else "within bound"
            print(f"   {name:<24}{f'{am:.4g} [{a1:.4g}, {a3:.4g}]':>34}"
                  f"{f'{bm:.4g} [{b1:.4g}, {b3:.4g}]':>34}{_change(am, bm):>9}  {verdict}")
        for name, key in (("pass wall s", "s"), ("pass CPU s", "cpu_s")):
            va, vb = _pass_seconds(a, w, key), _pass_seconds(b, w, key)
            if va and vb:
                (a1, am, a3), (b1, bm, b3) = _quartiles(va), _quartiles(vb)
                print(f"   {name:<24}{f'{am:.4g} [{a1:.4g}, {a3:.4g}]':>34}"
                      f"{f'{bm:.4g} [{b1:.4g}, {b3:.4g}]':>34}{_change(am, bm):>9}  not gated")
        traced = [(n, _values(a, w, 1, n), _values(b, w, 1, n)) for n in (m["name"] for m in spec["per_layer"])]
        if not any(va and vb for _, va, vb in traced):
            continue
        print(f"   {'layer metric':<36}{'A':>12}{'B':>12}{'change':>9}")
        for name, va, vb in traced:
            if not va or not vb or not (any(va) or any(vb)):
                continue
            am, bm = statistics.median(va), statistics.median(vb)
            flag = ""
            if is_exact(name) and (len(set(va)) > 1 or len(set(vb)) > 1):
                flag = "  unsteady"
            print(f"   {name:<36}{am:>12.4g}{bm:>12.4g}{_change(am, bm):>9}{flag}")


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    compare(_load(sys.argv[1]), _load(sys.argv[2]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
