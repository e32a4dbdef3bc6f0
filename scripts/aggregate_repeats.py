"""Aggregate per-rep bench_scale JSONs (one JVM per query per rep) into
min/median/max distributions per query — the repeat-protocol readout
for SCALING.md / OPTIMIZATION_r{N}.md.

Errored reps (the per-rep JSON carries an ``error`` key — e.g. a
broadcast OOM) are EXCLUDED from the timing/row statistics: their
``sec`` is a time-to-failure, not a query wall time, and their
missing rows/shuffle metrics must not collapse into "consistent"
None values (ADVICE r11: the old aggregator laundered 6 failed sf10
all-pairs reps into a clean-looking distribution).  Each query's
summary records ``errors`` (count) and ``error_texts``; a loud FAILED
marker is printed and the process exits nonzero if any rep errored
(override with --allow-errors).

The output JSON carries ``"schema": SCHEMA``.  Under schema 2, a
query's ``n`` counts ALL its reps, errored ones included, and ``n_ok``
counts the clean ones the statistics are taken over (schema 1 files,
which have no marker, counted only what they treated as clean in ``n``).

Usage: python scripts/aggregate_repeats.py <glob> [out.json] [--allow-errors]
       e.g. python scripts/aggregate_repeats.py 'sf100_r12_rep*.json' BENCH_scale_sf100_r12.json
Run without a glob, it prints this usage and exits 2.
"""

from __future__ import annotations

import glob
import json
import statistics
import sys

SCHEMA = 2
USAGE = "usage: python scripts/aggregate_repeats.py <glob> [out.json] [--allow-errors]"


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--allow-errors"]
    allow_errors = "--allow-errors" in sys.argv[1:]
    if not args:
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    pattern = args[0]
    out = args[1] if len(args) > 1 else None
    per_query: dict[str, list[dict]] = {}
    files = sorted(glob.glob(pattern))
    for f in files:
        with open(f) as fh:
            d = json.load(fh)
        for q, m in d.get("queries", {}).items():
            per_query.setdefault(q, []).append(
                {
                    "file": f,
                    "sec": m["sec"],
                    "rows": m.get("rows"),
                    "shuffle_read_mb": m.get("shuffle_read_mb"),
                    "spill_disk_mb": m.get("spill_disk_mb"),
                    "error": m.get("error"),
                }
            )
    any_errors = False
    summary = {}
    for q, reps in sorted(per_query.items()):
        ok = [r for r in reps if not r.get("error")]
        bad = [r for r in reps if r.get("error")]
        secs = [r["sec"] for r in ok]
        rows = {r["rows"] for r in ok if r["rows"] is not None}
        n_rows_missing = sum(1 for r in ok if r["rows"] is None)
        summary[q] = {
            "n": len(reps),
            "n_ok": len(ok),
            "errors": len(bad),
            "error_texts": [str(r["error"])[:300] for r in bad],
            "min": min(secs) if secs else None,
            "median": statistics.median(secs) if secs else None,
            "max": max(secs) if secs else None,
            # rows_consistent only means something when every OK rep
            # reported a row count; missing counts are tallied, not
            # collapsed into the set
            "rows_consistent": (len(rows) == 1 and n_rows_missing == 0)
            if ok
            else False,
            "rows": sorted(rows),
            "n_rows_missing": n_rows_missing,
            "max_spill_disk_mb": max((r["spill_disk_mb"] or 0 for r in ok), default=0),
            "max_shuffle_read_mb": max(
                (r["shuffle_read_mb"] or 0 for r in ok), default=0
            ),
            "reps": reps,
        }
        if bad:
            any_errors = True
            print(
                f"{q}: *** FAILED {len(bad)}/{len(reps)} reps *** "
                f"first error: {str(bad[0]['error'])[:200]}"
            )
        if secs:
            print(
                f"{q}: n_ok={len(secs)}/{len(reps)} min={min(secs):.1f} "
                f"med={statistics.median(secs):.1f} max={max(secs):.1f} "
                f"rows_consistent={summary[q]['rows_consistent']} "
                f"max_spill_disk={summary[q]['max_spill_disk_mb']:.0f}MB"
            )
        elif not bad:
            print(f"{q}: no reps")
    if out:
        with open(out, "w") as fh:
            json.dump(
                {
                    "schema": SCHEMA,
                    "pattern": pattern,
                    "files": files,
                    "any_errors": any_errors,
                    "queries": summary,
                },
                fh,
                indent=1,
            )
        print(f"written {out}")
    if any_errors and not allow_errors:
        print("AGGREGATE FAILED: at least one rep errored (see markers above)")
        sys.exit(1)


if __name__ == "__main__":
    main()
