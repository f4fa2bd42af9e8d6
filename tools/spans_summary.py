#!/usr/bin/env python3
"""Summarize the span file of a traced benchmark run, per span name.

    python3 tools/spans_summary.py perfbench/.work/results/spans-ann_serve_ingest-seed7.json
    python3 tools/spans_summary.py BEFORE.json AFTER.json

A span file is what `perfbench/run.py --trace 1` writes: a JSON list of
spans, each with a `name`, `start_us`/`end_us`, `self_us` (wall time
not covered by child spans) and `jobs` (the ids of the Spark jobs the
span itself started; a parent span does not repeat its children's).

For each span name the script prints how many spans carry it and the
median wall time, self time and job count over them, in the order the
names first appear. Given two files it prints both sides of each
figure, `before -> after`, with `-` for a name one side lacks.

Exit status: 0, or 2 on bad usage or an unreadable file.
"""

import argparse
import json
import statistics
import sys


def summarize(spans):
    """{name: {"n", "wall_s", "self_s", "jobs"}}, in first-start order."""
    groups = {}
    for s in sorted(spans, key=lambda s: (s["start_us"], s.get("id", 0))):
        groups.setdefault(s["name"], []).append(s)
    return {
        name: {
            "n": len(g),
            "wall_s": statistics.median((s["end_us"] - s["start_us"]) / 1e6 for s in g),
            "self_s": statistics.median(s["self_us"] / 1e6 for s in g),
            "jobs": statistics.median(len(s.get("jobs", [])) for s in g),
        }
        for name, g in groups.items()
    }


def fmt(key, value):
    if value is None:
        return "-"
    if key in ("wall_s", "self_s"):
        return f"{value:.3f}"
    return f"{value:g}"


COLUMNS = [("n", "count"), ("wall_s", "wall_s"), ("self_s", "self_s"), ("jobs", "jobs")]


def table(rows):
    """Left-aligned first column, right-aligned rest."""
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    return [
        "  ".join(c.ljust(w) if i == 0 else c.rjust(w) for i, (c, w) in enumerate(zip(r, widths)))
        for r in rows
    ]


def render(summary):
    rows = [["span"] + [title for _, title in COLUMNS]]
    for name, fig in summary.items():
        rows.append([name] + [fmt(k, fig[k]) for k, _ in COLUMNS])
    return table(rows)


def render_pair(before, after):
    names = list(before) + [n for n in after if n not in before]
    rows = [["span"] + [title for _, title in COLUMNS]]
    for name in names:
        a, b = before.get(name, {}), after.get(name, {})
        rows.append([name] + [f"{fmt(k, a.get(k))} -> {fmt(k, b.get(k))}" for k, _ in COLUMNS])
    return table(rows)


def load(path):
    with open(path) as f:
        spans = json.load(f)
    if not isinstance(spans, list):
        raise ValueError(f"{path}: expected a JSON list of spans")
    return spans


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="+", metavar="SPANS_JSON",
                    help="one span file, or two for a before/after view")
    args = ap.parse_args(argv)
    if len(args.files) > 2:
        ap.error("give one span file, or two (before, after)")
    try:
        summaries = [summarize(load(p)) for p in args.files]
    except (OSError, ValueError, KeyError, TypeError) as e:
        print(f"spans_summary: {e}", file=sys.stderr)
        return 2
    lines = render(summaries[0]) if len(summaries) == 1 else render_pair(*summaries)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
