"""A/B compare of two sets of result records (``run.py --out`` files).

For every workload and end-to-end metric it reports each side's median and
quartiles, the share of pairs the change won (the i-th base run against
the i-th change run; ties count for neither side) and a verdict:

- ``better``: the change won at least 9/10 of the pairs and the medians
  differ by more than the base's own quartile spread;
- ``worse``: the change's median is worse than the base's by more than
  the metric's bound in BENCHMARK.json;
- ``unresolved``: either side's quartile spread is wider than the bound,
  unless every change run beats (or loses to) every base run;
- ``same``: none of the above.
"""

from __future__ import annotations

import json
import os
import statistics

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload → metric → values of the untraced records, in file order."""
    out: dict[str, dict[str, list[float]]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            rec = json.loads(line)
            if rec.get("trace") or not rec.get("correct"):
                continue
            per = out.setdefault(rec["workload"], {})
            for name, (value, _unit) in rec["metrics"].items():
                per.setdefault(name, []).append(value)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def verdict(base: list[float], change: list[float], better: str,
            bound: float) -> dict:
    sign = -1.0 if better == "lower" else 1.0  # sign * value: higher wins
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    sb, sc = [sign * v for v in base], [sign * v for v in change]
    pairs = list(zip(sb, sc))
    won = sum(c > b for b, c in pairs) / len(pairs)
    all_better, all_worse = min(sc) > max(sb), max(sc) < min(sb)
    spread = max((b3 - b1) / abs(bm), (c3 - c1) / abs(cm)) if bm and cm else 0
    if won >= 0.9 and sign * (cm - bm) > b3 - b1:
        v = "better"
    elif sign * (bm - cm) > bound * abs(bm):
        v = "worse"
    elif spread > bound and not (all_better or all_worse):
        v = "unresolved"
    else:
        v = "same"
    return {"base": (b1, bm, b3), "change": (c1, cm, c3), "won": won,
            "pairs": len(pairs), "verdict": v}


def main(base_path: str, change_path: str) -> int:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json"),
              encoding="utf-8") as fh:
        spec = json.load(fh)
    base, change = load(base_path), load(change_path)
    print(f"{'workload':14s} {'metric':20s} {'base q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'won':>5s}  verdict")
    for w in spec["workloads"]:
        for m in spec["end_to_end"]:
            b = base.get(w["name"], {}).get(m["name"])
            c = change.get(w["name"], {}).get(m["name"])
            if not b or not c:
                continue
            r = verdict(b, c, m["better"], m["bound"])
            fmt = "{:9.4g} {:9.4g} {:9.4g}".format
            print(f"{w['name']:14s} {m['name']:20s} {fmt(*r['base']):>30s} "
                  f"{fmt(*r['change']):>30s} {r['won']:5.2f}  {r['verdict']}"
                  f" ({r['pairs']} pairs)")
    return 0
