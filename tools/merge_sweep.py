#!/usr/bin/env python3
"""Merge tools/sweep.sh logs into one labelled per-query record.

    python3 tools/merge_sweep.py LOG... [-o OUT.json] [--vs BASE.json]

Each query's entry is its minimum `[timeone]` time over reps and logs. A
query counts as failed in a batch when an `OutOfMemory` or `Exception in
thread` line is printed while it runs, or when the batch ends before all its
reps are timed; failed runs contribute no time and every failure is listed
under "failed". The record carries the SF, commit and date from the log
headers. With --vs, the per-decade slope of each shared query against that
record (time ratio to the power 1/decades of SF between the two) is added
and printed; it is the plain time ratio when the two SFs are equal or
unreadable.
"""
import argparse
import json
import math
import re
import sys

HEADER = re.compile(r"== sweep sf=(\S+) reps=(\d+) commit=(\S+) date=(\S+)")
TIMED = re.compile(r"\[timeone\] (\S+) rep\d+ ([0-9.]+) s")
ERROR = re.compile(r"OutOfMemory|Exception in thread")


def parse_log(lines):
    """Return (label, times, failed) for one sweep log.

    label: {"sf", "reps", "commit", "date"} from the header (None if absent);
    times: query -> min over its reps, for complete runs only;
    failed: query -> reason.
    """
    label = {"sf": None, "reps": None, "commit": None, "date": None}
    times, failed = {}, {}
    batch, counts, errors = None, {}, {}

    def close_batch():
        if batch is None:
            return
        for q in batch:
            got = counts.get(q, [])
            if q in errors:
                failed[q] = errors[q]
            elif label["reps"] is not None and len(got) < label["reps"]:
                failed[q] = f"{len(got)}/{label['reps']} reps timed"
            elif got:
                times[q] = min(got)
            else:
                failed[q] = "no rep timed"

    for raw in lines:
        line = raw.strip()
        m = HEADER.match(line)
        if m:
            label = {"sf": m.group(1), "reps": int(m.group(2)),
                     "commit": m.group(3), "date": m.group(4)}
            continue
        if line.startswith("== batch: "):
            close_batch()
            batch = line[len("== batch: "):].split(",")
            counts, errors = {}, {}
            continue
        m = TIMED.search(line)
        if m:
            counts.setdefault(m.group(1), []).append(float(m.group(2)))
            continue
        if ERROR.search(line) and batch is not None:
            reps = label["reps"] or 1
            inflight = next((q for q in batch
                             if len(counts.get(q, [])) < reps), batch[-1])
            errors.setdefault(inflight, line)
    close_batch()
    return label, times, failed


def sf_number(sf):
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)", sf or "")
    return float(m.group(1)) if m else None


def slopes(record, base):
    """(slope per query shared by `record` and `base`, its unit)."""
    a, b = sf_number(record.get("sf")), sf_number(base.get("sf"))
    decades = math.log10(a / b) if a and b and a != b else None
    out = {}
    for q, t in record["queries"].items():
        t0 = base["queries"].get(q)
        if t0:
            r = t / t0
            out[q] = round(r ** (1 / decades) if decades else r, 2)
    return out, "x/decade" if decades else "x"


def merge(paths):
    merged = {"sf": None, "commits": set(), "date": None}
    queries, failed = {}, {}
    for p in paths:
        with open(p) as f:
            label, times, fails = parse_log(f)
        if merged["sf"] and label["sf"] and label["sf"] != merged["sf"]:
            raise SystemExit(f"{p}: sf {label['sf']} != {merged['sf']}")
        merged["sf"] = merged["sf"] or label["sf"]
        if label["commit"]:
            merged["commits"].add(label["commit"])
        if label["date"] and (merged["date"] is None or label["date"] > merged["date"]):
            merged["date"] = label["date"]
        for q, t in times.items():
            queries[q] = min(queries.get(q, t), t)
        failed.update(fails)
    return {
        "metric": "total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": {q: round(t, 3) for q, t in sorted(queries.items())},
        "n_queries": len(queries),
        "failed": dict(sorted(failed.items())),
        "sf": merged["sf"],
        "commit": ",".join(sorted(merged["commits"])) or None,
        "date": merged["date"],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("logs", nargs="+")
    ap.add_argument("-o", "--out", help="record path (default: stdout)")
    ap.add_argument("--vs", help="earlier record to compute slopes against")
    args = ap.parse_args(argv)
    rec = merge(args.logs)
    if args.vs:
        with open(args.vs) as f:
            base = json.load(f)
        rec["slopes_vs"] = base.get("sf")
        rec["slopes"], rec["slope_unit"] = slopes(rec, base)
    text = json.dumps(rec, indent=1) + "\n"
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
    print(f"{rec['n_queries']} queries, total {rec['value']} s, "
          f"{len(rec['failed'])} failed", file=sys.stderr)
    for q, why in rec["failed"].items():
        print(f"  FAILED {q}: {why}", file=sys.stderr)
    for q, s in sorted(rec.get("slopes", {}).items(), key=lambda kv: -kv[1]):
        print(f"  {s:6.2f}{rec['slope_unit']}  {q} ({rec['queries'][q]:.1f}s)",
              file=sys.stderr)


if __name__ == "__main__":
    main()
