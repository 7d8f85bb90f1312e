#!/usr/bin/env python3
"""Per-query job-count gate, beside bench_ceiling.py.

Wall time on a shared box moves by tens of percent for identical code;
the number of Spark jobs a query starts does not. This gate compares
the `counters` block of a bench record (written by `graft.Bench`) with
the last bench_history.jsonl row that has counters at the same sf and
cpus, and fails if any query's `jobs` grew. Counts are exact, so there
is no threshold. A query that failed on either side (`ok` false) is
listed and skipped: a failed run's count is not a measurement. The
record's own history row (the same line) is not an earlier row.

Usage: tools/counter_gate.py [bench_out.json] [--history bench_history.jsonl]
Exit 0 = no job count grew, or there is no earlier row to compare with;
1 = some query's jobs grew (listed); 2 = bad input.
"""
import json
import sys


def scale(record):
    return record.get("sf"), record.get("provenance", {}).get("cpus")


def main(argv=None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    path, history = "bench_out.json", "bench_history.jsonl"
    while args:
        a = args.pop(0)
        if a == "--history":
            history = args.pop(0)
        else:
            path = a
    try:
        with open(path) as f:
            record = json.load(f)
        counters = record["counters"]
        with open(history) as f:
            rows = [json.loads(line)["line"] for line in f if line.strip()]
        earlier = [r for r in rows if "counters" in r and scale(r) == scale(record) and r != record]
        base = earlier[-1]["counters"] if earlier else {}
        pairs = {q: (base[q], c) for q, c in counters.items() if q in base}
        grown = {q: (b["jobs"], c["jobs"]) for q, (b, c) in pairs.items()
                 if b.get("ok", True) and c.get("ok", True) and c["jobs"] > b["jobs"]}
    except (OSError, KeyError, TypeError, AttributeError, json.JSONDecodeError) as e:
        print(f"[counter_gate] cannot read counters from {path} / {history}: {e!r}")
        return 2
    sf, cpus = scale(record)
    if not earlier:
        print(f"[counter_gate] no earlier row with counters at sf={sf} cpus={cpus}: nothing to compare, pass")
        return 0
    failed = sorted(q for q, (b, c) in pairs.items() if not (b.get("ok", True) and c.get("ok", True)))
    print(f"[counter_gate] {len(pairs)} queries against the row of {earlier[-1].get('provenance', {}).get('git_sha')} "
          f"(sf={sf} cpus={cpus}); {len(failed)} skipped as failed{': ' + ', '.join(failed) if failed else ''}")
    if grown:
        for q, (b, c) in sorted(grown.items()):
            print(f"[counter_gate] GREW {q}: jobs {b} -> {c}")
        return 1
    print("[counter_gate] clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
