#!/usr/bin/env python3
"""Decode graft.Bench's compact stdout line and compare two bench files.

    python3 perfbench/bench_decode.py BENCH_r20.json BENCH_r21.json

graft.Bench prints one compact JSON line whose per-key seconds ride as a
values-only `qsec` array, ordered by the ascending list of keys that
succeeded, plus `qsec_keys_crc32`, the CRC-32 of that list joined with
commas. The key names themselves are not on the line. This tool finds
the key list for each file, checks it against the CRC before trusting
positions, joins `qsec` to the names, and prints per-key ratios (second
over first) and their geometric mean.

Each argument may be a recorded snapshot (`{"parsed": <line>, "tail": ...}`),
a bare Bench line, or a full Bench record with a named `queries` map
(BENCH_LOCAL.json, a BENCH_HISTORY.jsonl line). Key lists are taken from
the named records of the history file (default: BENCH_HISTORY.jsonl
beside the first argument), which every Bench run appends to.
"""

import argparse
import json
import math
import os
import sys
import zlib


class DecodeError(Exception):
    pass


def keys_crc32(keys):
    """CRC-32 of the ascending key list joined with commas, as Bench computes it."""
    return zlib.crc32(",".join(sorted(keys)).encode("utf-8"))


def bench_line(doc):
    """The Bench line inside a recorded snapshot, or the document itself."""
    if "metric" in doc:
        return doc
    if doc.get("parsed"):
        return doc["parsed"]
    for line in reversed(str(doc.get("tail", "")).splitlines()):
        line = line.strip()
        if line.startswith('{"metric"'):
            try:
                return json.loads(line)
            except ValueError:
                continue
    raise DecodeError("no Bench line found (no 'parsed' object and none in 'tail')")


def load(path):
    with open(path) as fh:
        return bench_line(json.load(fh))


def key_lists(path):
    """CRC → ascending key list, from every named record in the JSONL
    file at `path` (none when it does not exist)."""
    out = {}
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                rec = json.loads(line) if line.strip() else None
                q = rec.get("queries") if isinstance(rec, dict) else None
                if isinstance(q, dict) and q:
                    keys = sorted(q)
                    out[keys_crc32(keys)] = keys
    return out


def per_key(line, lists):
    """{key: seconds} for one Bench line, and how the keys were found."""
    q = line.get("queries")
    if isinstance(q, dict) and q:
        return dict(q), "named"
    qsec = line.get("qsec")
    if not isinstance(qsec, list):
        raise DecodeError(f"line carries neither a queries map nor a qsec array: {qsec!r}")
    if line.get("qsec_order", "keys-asc") != "keys-asc":
        raise DecodeError(f"unknown qsec_order {line.get('qsec_order')!r}")
    crc = line.get("qsec_keys_crc32")
    if crc is None:
        raise DecodeError("qsec without qsec_keys_crc32: positions cannot be checked")
    keys = lists.get(crc)
    if keys is None:
        raise DecodeError(f"no key list with crc32 {crc} in the history")
    if keys_crc32(keys) != crc or len(keys) != len(qsec):
        raise DecodeError(f"key list of crc32 {crc} has {len(keys)} keys, qsec has {len(qsec)}")
    return dict(zip(keys, qsec)), f"qsec, crc32 {crc} checked"


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def compare(a, b):
    """Per-key (key, a, b, b/a) over keys timed positive in both, and the geomean."""
    rows = [(k, a[k], b[k], b[k] / a[k]) for k in sorted(set(a) & set(b)) if a[k] > 0 and b[k] > 0]
    return rows, geomean([r[3] for r in rows])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("first")
    ap.add_argument("second")
    ap.add_argument("--history", help="BENCH_HISTORY.jsonl to take key lists from")
    a = ap.parse_args(argv)
    history = a.history or os.path.join(os.path.dirname(os.path.abspath(a.first)),
                                         "BENCH_HISTORY.jsonl")
    lists = key_lists(history)
    try:
        la, lb = load(a.first), load(a.second)
        pa, how_a = per_key(la, lists)
        pb, how_b = per_key(lb, lists)
    except (DecodeError, OSError, ValueError) as e:
        print(f"bench_decode: {e}", file=sys.stderr)
        return 1
    print(f"# first  {a.first}: {len(pa)} keys ({how_a}), total {la.get('value')} s, "
          f"cpus {la.get('cpus')}")
    print(f"# second {a.second}: {len(pb)} keys ({how_b}), total {lb.get('value')} s, "
          f"cpus {lb.get('cpus')}")
    rows, g = compare(pa, pb)
    print(f"{'key':40s} {'first_s':>9s} {'second_s':>9s} {'ratio':>7s}")
    for k, x, y, r in sorted(rows, key=lambda r: r[3]):
        print(f"{k:40s} {x:9.3f} {y:9.3f} {r:7.3f}")
    only = sorted(set(pa) ^ set(pb))
    if only:
        print(f"# in one file only: {', '.join(only)}")
    print(f"# geomean ratio (second/first) over {len(rows)} keys: {g:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
