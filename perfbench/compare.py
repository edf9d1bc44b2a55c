#!/usr/bin/env python3
"""Interleaved A/B compare of two checkouts with one copy of the benchmark.

    python3 perfbench/compare.py --base ../parent --change . [--pairs 10]
        [--workloads pack_sf01,pg_serving] [--seed 100] [--out ab.json]

Both sides run this file's ``run.py`` (same harness, inputs and settings),
each from its own checkout root, so only the program differs.  Pair ``i``
uses seed ``seed + i`` on both sides; the side that runs first alternates.
Per workload and end-to-end metric it reports each side's median and
quartiles, the share of pairs the change won (ties count for neither), and
a verdict:

* ``better`` -- over at least 10 pairs, the change won at least 9/10 of
  them and the medians differ by more than the base's own quartile spread;
* ``worse`` -- the change's median is worse than the base's by more than
  the metric's bound in BENCHMARK.json;
* ``unresolved`` -- the base's quartile spread, as a share of its median,
  is wider than the bound, and not every change run beats every base run;
* ``same`` -- otherwise: within the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")


def load_contract():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines:
        return {"ok": False, "rc": p.returncode}
    out = json.loads(lines[-1])
    out["ok"] = True
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, better, bound):
    """Return (verdict, wins share) for one metric's paired samples."""
    wins = sum(1 for b, c in zip(base, change) if (c < b if better == "lower" else c > b))
    share = wins / len(base)
    bq1, bmed, bq3 = quartiles(base)
    cmed = statistics.median(change)
    spread = (bq3 - bq1) / bmed if bmed else float("inf")
    worse_by = (cmed - bmed) / bmed if better == "lower" else (bmed - cmed) / bmed
    all_beat = (max(change) < min(base)) if better == "lower" else (min(change) > max(base))
    if len(base) >= 10 and share >= 0.9 and abs(cmed - bmed) > (bq3 - bq1):
        return "better", share
    if spread > bound and not all_beat:
        return "unresolved", share
    if worse_by > bound:
        return "worse", share
    return "same", share


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", required=True, help="checkout root of the parent commit")
    ap.add_argument("--change", required=True, help="checkout root of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma list (default: all in BENCHMARK.json)")
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--out", default=None, help="write every run and the verdicts as JSON here")
    a = ap.parse_args()
    if a.pairs < 10:
        print("note: fewer than 10 pairs cannot support a claim", file=sys.stderr)
    contract = load_contract()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in contract["workloads"]]
    metrics = {m["name"]: m for m in contract["end_to_end"]}
    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    runs = {w: {"base": [], "change": []} for w in workloads}
    for w in workloads:
        for i in range(a.pairs):
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for side in order:
                r = run_once(sides[side], w, a.seed + i, contract["run_seconds"])
                runs[w][side].append(r)
                print("%s pair %d %s: %s" % (w, i, side, "ok" if r["ok"] and r.get("correct") else
                                             "FAILED (%s)" % r.get("rc", "incorrect")), file=sys.stderr)
    report = {}
    for w in workloads:
        print("\n== %s (%d pairs)" % (w, a.pairs))
        print("%-18s %-6s %12s %12s %12s | %12s %12s %12s | %5s %s" % (
            "metric", "better", "base q1", "base med", "base q3", "chg q1", "chg med", "chg q3", "won", "verdict"))
        pairs = [(b, c) for b, c in zip(runs[w]["base"], runs[w]["change"]) if b["ok"] and c["ok"]]
        fails = {s: sum(1 for r in runs[w][s] if not r["ok"] or not r.get("correct")) for s in sides}
        failed_ops = {s: sum(r.get("failed", 0) for r in runs[w][s] if r["ok"]) for s in sides}
        report[w] = {"failed_runs": fails, "failed_ops": failed_ops, "metrics": {}}
        for name, m in metrics.items():
            bs = [b["metrics"][name]["value"] for b, _ in pairs if name in b["metrics"]]
            cs = [c["metrics"][name]["value"] for _, c in pairs if name in c["metrics"]]
            if not bs or len(bs) != len(cs):
                continue
            v, share = verdict(bs, cs, m["better"], m["bound"])
            bq, cq = quartiles(bs), quartiles(cs)
            report[w]["metrics"][name] = {"base": bq, "change": cq, "won": share, "verdict": v}
            print("%-18s %-6s %12.4f %12.4f %12.4f | %12.4f %12.4f %12.4f | %5.2f %s" % (
                name, m["better"], bq[0], bq[1], bq[2], cq[0], cq[1], cq[2], share, v))
        print("failed or incorrect runs: base %d, change %d; failed operations: base %d, change %d"
              % (fails["base"], fails["change"], failed_ops["base"], failed_ops["change"]))
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "report": report}, f, indent=1)


if __name__ == "__main__":
    main()
