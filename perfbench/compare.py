#!/usr/bin/env python3
"""Compare two sets of benchmark records: a parent and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the run records ``perfbench/run.py`` writes under
``.perfbench_work/results/`` (untraced runs only are compared). For every
workload x end-to-end metric it prints one row: each side's median and
quartiles, the change/parent ratio with its base, the wins over pairs of
runs, and a verdict:

* ``improved``      the change won at least 9/10 of the pairs (ties count
                    for neither) and the medians differ by more than the
                    parent's own quartile spread, in the better direction;
* ``worse``         the change's median is worse than the parent's by more
                    than the metric's bound in BENCHMARK.json;
* ``unresolved``    the parent's own spread is wider than the bound and
                    every change run does not beat every parent run;
* ``within bound``  otherwise.

Runs are paired by seed where both sides ran it, else in time order, so
alternating-order runs pair up. The input digests must match on both
sides (else the two sides measured different inputs) and so must the
output digests; a mismatch is printed above the table. Host-noise figures
(steal, iowait, cgroup quota, load) are shown per side so a throttled
window is not read as a regression.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict[str, list[dict]]:
    """Untraced records under ``path`` by workload, oldest first."""
    out: dict[str, list[dict]] = {}
    files = sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True), key=os.path.getmtime)
    for f in files:
        with open(f) as fh:
            try:
                r = json.load(fh)
            except json.JSONDecodeError:
                continue
        if isinstance(r, dict) and r.get("trace") == 0 and "metrics" in r:
            out.setdefault(r["workload"], []).append(r)
    return out


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def pairs(a: list[dict], b: list[dict]) -> list[tuple[dict, dict]]:
    by_seed_b = {}
    for r in b:
        by_seed_b.setdefault(r["seed"], []).append(r)
    out, left_a, used = [], [], set()
    for r in a:
        cand = [x for x in by_seed_b.get(r["seed"], []) if id(x) not in used]
        if cand:
            used.add(id(cand[0]))
            out.append((r, cand[0]))
        else:
            left_a.append(r)
    left_b = [x for x in b if id(x) not in used]
    out.extend(zip(left_a, left_b))
    return out


def verdict(pv: list[float], cv: list[float], won: int, n_pairs: int, lower_better: bool, bound: float) -> str:
    p1, pm, p3 = quartiles(pv)
    cm = statistics.median(cv)
    worse_by = (cm - pm) / pm if lower_better else (pm - cm) / pm
    better = (cm < pm) if lower_better else (cm > pm)
    all_better = all((c < p) if lower_better else (c > p) for c in cv for p in pv)
    if n_pairs and won >= 0.9 * n_pairs and better and abs(cm - pm) > (p3 - p1):
        return "improved"
    if worse_by > bound:
        return "worse"
    if (p3 - p1) / pm > bound and not all_better:
        return "unresolved"
    return "within bound"


def digest_issues(parent: list[dict], change: list[dict]) -> list[str]:
    issues = []
    for key in ("input_digest",):
        p = {r["seed"]: r["inputs"].get(key) for r in parent}
        c = {r["seed"]: r["inputs"].get(key) for r in change}
        for s in sorted(set(p) & set(c)):
            if p[s] != c[s]:
                issues.append(f"seed {s}: {key} differs ({p[s]} vs {c[s]})")
    p = {r["seed"]: json.dumps(r["check"].get("output_digest"), sort_keys=True) for r in parent}
    c = {r["seed"]: json.dumps(r["check"].get("output_digest"), sort_keys=True) for r in change}
    for s in sorted(set(p) & set(c)):
        if p[s] != c[s]:
            issues.append(f"seed {s}: output digest differs")
    for side, recs in (("parent", parent), ("change", change)):
        bad = [r["seed"] for r in recs if not r.get("correct")]
        if bad:
            issues.append(f"{side}: output check failed on seeds {bad}")
    return issues


def noise(recs: list[dict]) -> str:
    def med(k):
        v = [r["host"][k] for r in recs if k in r.get("host", {})]
        return statistics.median(v) if v else float("nan")

    return (f"steal {med('steal_frac'):.3f}  iowait {med('iowait_frac'):.3f}  "
            f"quota {med('cpu_quota'):.1f}  load {med('loadavg_1m'):.2f}")


def compare(parent_dir: str, change_dir: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    parent, change = load(parent_dir), load(change_dir)
    report: dict = {}
    for wl in sorted(set(parent) & set(change)):
        pr, cr = parent[wl], change[wl]
        prs = pairs(pr, cr)
        rows = []
        for name, m in spec.items():
            lower = m["better"] == "lower"
            pv = [r["metrics"][name]["value"] for r in pr]
            cv = [r["metrics"][name]["value"] for r in cr]
            won = sum(
                1 for a, b in prs
                if (b["metrics"][name]["value"] < a["metrics"][name]["value"]) == lower
                and b["metrics"][name]["value"] != a["metrics"][name]["value"]
            )
            p1, pm, p3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            rows.append({
                "metric": name, "unit": m["unit"], "better": m["better"], "bound": m["bound"],
                "parent": {"median": pm, "q1": p1, "q3": p3, "runs": len(pv)},
                "change": {"median": cm, "q1": c1, "q3": c3, "runs": len(cv)},
                "ratio": cm / pm, "base": pm,
                "wins": won, "pairs": len(prs),
                "verdict": verdict(pv, cv, won, len(prs), lower, m["bound"]),
            })
        report[wl] = {
            "rows": rows,
            "issues": digest_issues(pr, cr),
            "noise": {"parent": noise(pr), "change": noise(cr)},
        }
    return report


def _side(x: dict) -> str:
    return f"{x['median']:.4g} [{x['q1']:.4g}, {x['q3']:.4g}] {x['runs']}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="compare parent and change benchmark records")
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    report = compare(args.parent, args.change)
    for wl, r in report.items():
        print(f"== {wl}")
        for issue in r["issues"]:
            print(f"   ! {issue}")
        print(f"   host parent: {r['noise']['parent']}")
        print(f"   host change: {r['noise']['change']}")
        print(f"   {'metric':20s} {'parent median [q1, q3] n':34s} {'change median [q1, q3] n':34s} "
              f"{'change/parent (base)':30s} {'wins':7s} verdict")
        for row in r["rows"]:
            base = f"{row['ratio']:.3f} (of {row['base']:.4g} {row['unit']})"
            print(f"   {row['metric']:20s} {_side(row['parent']):34s} {_side(row['change']):34s} {base:30s} "
                  f"{row['wins']}/{row['pairs']:<5d} {row['verdict']}")
    if not report:
        print("no workload has untraced records on both sides", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
