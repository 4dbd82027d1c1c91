#!/usr/bin/env python3
"""Executed-work diff between two `Explain --audit` AUDIT.json files.

Usage: python3 tools/audit_diff.py OLD_AUDIT.json NEW_AUDIT.json [OUT.json]

For every query present in both audits, compares the executed
counters both files carry: `rt_jobs` and `rt_stages` of the measured
pass, and the plan census (shuffles, bhj/smj/shj/nlj) over the final
plans of every SQL execution. A record that carries only some of them
(an older runtime-only audit with just the `rt_*` keys) is compared on
the shared keys. Purpose: make bench-drift disputes artifact-
decidable — a query whose executed work is identical across rounds but
whose driver bench reading is slower is WINDOW DRIFT by construction
(hot box during the sweep), not a code regression, so the re-measure
protocol applies without debate.

Output (OUT.json, default AUDIT_diff.json):
  {"old_sf": ..., "new_sf": ..., "keys": [...],
   "old_src_tree": ..., "new_src_tree": ...,         # code each audit ran
                                                     # (null if unrecorded)
   "n_common": N, "n_identical": K,
   "totals": {"old": {key: sum}, "new": {key: sum}},  # over common queries
   "changed": {q: {"old": {...}, "new": {...}}},      # executed-work deltas
   "added": [q...], "removed": [q...]}
"""
import json
import sys

KEYS = ("rt_jobs", "rt_stages", "shuffles", "bhj", "smj", "shj", "nlj")


def carried(queries):
    """Counter keys every query row of an audit carries."""
    rows = list(queries.values())
    return [k for k in KEYS if rows and all(k in r for r in rows)]


def main(argv):
    old_path, new_path = argv[1], argv[2]
    out_path = argv[3] if len(argv) > 3 else "AUDIT_diff.json"
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    oq, nq = old["queries"], new["queries"]
    for path, q in ((old_path, oq), (new_path, nq)):
        if "rt_jobs" not in carried(q):
            sys.exit(f"{path}: no rt_jobs on every query; "
                     "not an executed-plan audit")
    keys = [k for k in carried(oq) if k in carried(nq)]
    common = sorted(set(oq) & set(nq))
    changed = {}
    for q in common:
        a = {k: oq[q][k] for k in keys}
        b = {k: nq[q][k] for k in keys}
        if a != b:
            changed[q] = {"old": a, "new": b}
    out = {
        "old_sf": old.get("sf"), "new_sf": new.get("sf"), "keys": keys,
        "old_src_tree": old.get("src_tree"),
        "new_src_tree": new.get("src_tree"),
        "n_common": len(common),
        "n_identical": len(common) - len(changed),
        "totals": {side: {k: sum(qs[q][k] for q in common) for k in keys}
                   for side, qs in (("old", oq), ("new", nq))},
        "changed": changed,
        "added": sorted(set(nq) - set(oq)),
        "removed": sorted(set(oq) - set(nq)),
    }
    json.dump(out, open(out_path, "w"), indent=1, sort_keys=True)
    print(f"keys={','.join(keys)} common={len(common)} "
          f"identical={out['n_identical']} changed={len(changed)} "
          f"added={len(out['added'])} removed={len(out['removed'])} "
          f"-> {out_path}")
    print(f"  totals: {out['totals']['old']} -> {out['totals']['new']}")
    for q, d in changed.items():
        print(f"  {q}: {d['old']} -> {d['new']}")


if __name__ == "__main__":
    main(sys.argv)
