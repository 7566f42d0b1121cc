#!/usr/bin/env python3
"""Minima-merge a bench artifact into bench_baseline.json.

Usage: python3 tools/merge_baseline.py <artifact.json> [baseline.json]

Merge rather than copy an artifact over bench_baseline.json: a
deadline-truncated or BENCH_ONLY-filtered run lacks rows, and replacing
the baseline with it would drop their entries, so those rows would pay
full iterations the next run (the adaptive gate and the requery outlier
gate both key off the committed baseline). This tool keeps every
existing key and takes the min where the artifact has a lower reading (a
query cannot be faster than it is; host contention only ever inflates).

Suite rows merge from "queries"; sf1 canaries merge from the artifact's
top-level sf1_* numbers. The baseline's sf/cpus stamp must match the
artifact's or the merge refuses (numbers from a different scale or core
count are not comparable).
"""
import json
import os
import sys
import tempfile


def main(artifact_path, baseline_path="bench_baseline.json"):
    art = json.load(open(artifact_path))
    base = json.load(open(baseline_path))
    if art.get("sf") != base.get("sf") or art.get("cpus") != base.get("cpus"):
        print(f"REFUSED: artifact sf/cpus ({art.get('sf')},{art.get('cpus')})"
              f" != baseline ({base.get('sf')},{base.get('cpus')})")
        return 1
    merged = 0
    for k, v in art.get("queries", {}).items():
        if not isinstance(v, (int, float)):
            continue
        old = base["queries"].get(k)
        if not isinstance(old, (int, float)) or v < old:
            base["queries"][k] = v
            merged += 1
    for k, v in art.items():
        # older artifacts also carry an integer "sf1_rotation" field
        if k.startswith("sf1_") and isinstance(v, (int, float)) \
                and k != "sf1_rotation":
            old = base.get(k)
            if not isinstance(old, (int, float)) or v < old:
                base[k] = v
                merged += 1
    # the top-level "value" is the committed suite floor — recompute it
    # from the queries sum on EVERY merge (VERDICT r17 #2: row additions
    # moved the sum while "value" kept an older total, leaving the file
    # self-inconsistent), then write-temp-then-rename (ADVICE r16: an
    # in-place json.dump truncates first, so a crash mid-write would
    # corrupt the committed baseline every adaptive/requery gate keys off)
    suite = sum(v for v in base["queries"].values()
                if isinstance(v, (int, float)))
    base["value"] = round(suite, 3)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(os.path.abspath(
        baseline_path)) or ".", suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(base, f)
    os.replace(tmp, baseline_path)
    assert base["value"] == round(suite, 3)
    print(f"merged {merged} lower readings; suite floor now {suite:.1f}s "
          f"over {len(base['queries'])} rows")
    return 0


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(*sys.argv[1:3]))
