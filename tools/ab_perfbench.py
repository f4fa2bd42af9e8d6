#!/usr/bin/env python3
"""A/B the end-to-end benchmark between two commits.

    python3 tools/ab_perfbench.py --parent HEAD~1 --change HEAD \\
        --workdir /tmp/ab --pairs 10 --seed 9100 \\
        --workload ann_serve_ingest --claim op_p50_s@ann_serve_ingest

Both commits are exported with `git archive` into --workdir. For each of
--pairs pairs, `python3 perfbench/run.py --trace 0` runs once in each
copy with the same seed (pair i uses seed + i), alternating which side
runs first. The run length is BENCHMARK.json's `run_seconds`, read from
the parent, which this script never edits.

Per workload and end-to-end metric it prints each side's median and
quartiles, the pairs the change won, and a verdict:

- a claimed metric (--claim metric@workload) is a gain only when the
  change won at least nine tenths of all pairs run (ties count for
  neither side), over at least ten pairs, and the medians differ in the
  better direction by more than the parent's interquartile range;
- every other metric must keep the change's median within the metric's
  BENCHMARK.json bound of the parent's median, taken relative to the
  parent's median.

Exit status: 0 when every verdict holds, 1 otherwise, 2 on bad usage.
"""

import argparse
import json
import os
import subprocess
import sys
import tarfile
import io

MIN_PAIRS = 10
WIN_SHARE = 0.9


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")

    def at(p):
        pos = p * (len(s) - 1)
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)

    return at(0.25), at(0.5), at(0.75)


def better(a, b, direction):
    """True when value a is strictly better than b."""
    return a < b if direction == "lower" else a > b


def claim_verdict(pairs, direction):
    """The gain rule on (parent, change) value pairs.

    Returns a dict with the win count, the median gap (positive when the
    change is better), the parent's interquartile range and `ok`."""
    n = len(pairs)
    wins = sum(1 for p, c in pairs if better(c, p, direction))
    p1, pm, p3 = quartiles([p for p, _ in pairs])
    _, cm, _ = quartiles([c for _, c in pairs])
    gap = pm - cm if direction == "lower" else cm - pm
    iqr = p3 - p1
    ok = n >= MIN_PAIRS and wins >= WIN_SHARE * n and gap > iqr
    return {"wins": wins, "n": n, "gap": gap, "iqr": iqr, "ok": ok}


def bound_verdict(parent, change, bound, direction):
    """The no-regression rule: the change's median is worse than the
    parent's by at most `bound`, relative to the parent's median."""
    pm = quartiles(parent)[1]
    cm = quartiles(change)[1]
    worse = (cm - pm) if direction == "lower" else (pm - cm)
    rel = worse / abs(pm) if pm else (0.0 if worse <= 0 else float("inf"))
    return {"worse_rel": rel, "ok": rel <= bound}


def export(repo, rev, dest):
    """Writes the committed files of `rev` into `dest`."""
    os.makedirs(dest, exist_ok=True)
    data = subprocess.run(["git", "-C", repo, "archive", "--format=tar", rev],
                          check=True, stdout=subprocess.PIPE).stdout
    with tarfile.open(fileobj=io.BytesIO(data)) as tar:
        tar.extractall(dest)


def run_once(side_dir, workload, seed, seconds):
    """One benchmark run; returns its last-line JSON, or None on failure."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=side_dir, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(f"run failed in {side_dir} ({workload}, seed {seed}):\n"
                         f"{proc.stderr[-2000:]}\n")
        return None
    res = json.loads(lines[-1])
    return res if res.get("correct") else None


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=".")
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workdir", required=True,
                    help="empty directory that receives both exported commits")
    ap.add_argument("--pairs", type=int, default=MIN_PAIRS)
    ap.add_argument("--seed", type=int, required=True,
                    help="first seed; pair i runs seed + i on both sides")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: every workload)")
    ap.add_argument("--claim", action="append", default=[],
                    help="metric@workload claimed as a gain (repeatable)")
    a = ap.parse_args()

    sides = {"parent": os.path.join(a.workdir, "parent"),
             "change": os.path.join(a.workdir, "change")}
    for name, rev in (("parent", a.parent), ("change", a.change)):
        if os.path.exists(sides[name]):
            print(f"ab_perfbench: {sides[name]} exists; use an empty --workdir",
                  file=sys.stderr)
            return 2
        export(a.repo, rev, sides[name])
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    claims = set(a.claim)
    for c in claims:
        m, _, w = c.partition("@")
        if m not in metrics or w not in workloads:
            print(f"ab_perfbench: unknown claim {c}", file=sys.stderr)
            return 2
    if claims and a.pairs < MIN_PAIRS:
        print(f"ab_perfbench: a claim needs at least {MIN_PAIRS} pairs", file=sys.stderr)
        return 2

    # values[workload][metric][side] -> list, aligned by pair
    values = {w: {m: {"parent": [], "change": []} for m in metrics} for w in workloads}
    failed = {w: {"parent": 0, "change": 0} for w in workloads}
    for w in workloads:
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {s: run_once(sides[s], w, a.seed + i, bench["run_seconds"]) for s in order}
            for s in order:
                if got[s] is None:
                    failed[w][s] += 1
            if any(got[s] is None for s in order):
                continue
            for m in metrics:
                for s in order:
                    values[w][m][s].append(got[s]["metrics"][m]["value"])
            print(f"# {w} pair {i + 1}/{a.pairs} ({order[0]} first): " + ", ".join(
                f"{m} {fmt(values[w][m]['parent'][-1])} -> {fmt(values[w][m]['change'][-1])}"
                for m in metrics), flush=True)

    all_ok = True
    print("workload | metric | parent median [q1, q3] | change median [q1, q3] "
          "| change won | rule | verdict")
    for w in workloads:
        if failed[w]["parent"] or failed[w]["change"]:
            print(f"{w} | failed runs: parent {failed[w]['parent']}, "
                  f"change {failed[w]['change']}")
            all_ok = all_ok and failed[w]["change"] <= failed[w]["parent"]
        for m, spec in metrics.items():
            p, c = values[w][m]["parent"], values[w][m]["change"]
            if not p:
                print(f"{w} | {m} | no complete pair")
                all_ok = False
                continue
            p1, pm, p3 = quartiles(p)
            c1, cm, c3 = quartiles(c)
            direction = spec["better"]
            wins = sum(1 for x, y in zip(p, c) if better(y, x, direction))
            if f"{m}@{w}" in claims:
                v = claim_verdict(list(zip(p, c)), direction)
                rule = f"gain: gap {fmt(v['gap'])} vs parent IQR {fmt(v['iqr'])}"
            else:
                v = bound_verdict(p, c, spec["bound"], direction)
                rule = f"bound {spec['bound']}: worse by {v['worse_rel']:+.3f}"
            all_ok = all_ok and v["ok"]
            print(f"{w} | {m} | {fmt(pm)} [{fmt(p1)}, {fmt(p3)}] | "
                  f"{fmt(cm)} [{fmt(c1)}, {fmt(c3)}] | {wins}/{len(p)} | {rule} | "
                  f"{'PASS' if v['ok'] else 'FAIL'}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
