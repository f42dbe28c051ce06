"""Fold per-query sf0.1 residue records into CORRECTNESS_SF01.json.

Round-9 closure of the r8 sf0.1 residue (VERDICT r8 #1): each residue
query was re-gated at sf0.1 with the full differential harness
(tools/check_oracle.py --json, one process per query so a slow DuckDB
oracle cannot stall the batch). This tool merges those per-query JSON
records as ``phase4_queries`` and recomputes the residue list.

Usage:
    python tools/merge_sf01_phase4.py /tmp/sf01_residue
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    src_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf01_residue"
    path = os.path.join(ROOT, "CORRECTNESS_SF01.json")
    doc = json.load(open(path))

    phase4 = doc.setdefault("phase4_queries", {})
    for f in sorted(glob.glob(os.path.join(src_dir, "*.json"))):
        rec = json.load(open(f))
        for name, row in rec.get("queries", {}).items():
            row = dict(row)
            row["source"] = "r09 per-query sf0.1 differential gate (full hash record)"
            phase4[name] = row

    ok4 = sum(1 for r in phase4.values() if r.get("hash_match"))
    failed4 = sum(
        1 for r in phase4.values() if r.get("err") and not r.get("hash_match")
    )
    # Only a PASSING phase-4 row discharges a residue entry: a failed
    # re-gate (err set, hash_match false) must stay visible in
    # sf01_residue_queries until it passes (ADVICE r9).
    passed4 = {q for q, r in phase4.items() if r.get("hash_match")}
    residue = [q for q in doc.get("sf01_residue_queries", []) if q not in passed4]
    doc["sf01_residue_queries"] = residue
    doc["summary"]["phase4_ok"] = ok4
    doc["summary"]["phase4_failed"] = failed4
    # Idempotent: recompute from the union of per-phase passing names
    # instead of incrementing (rerunning the merge must not inflate it).
    verified: set[str] = set()
    for key, rows in doc.items():
        if key.startswith("phase") and key.endswith("_queries") and isinstance(rows, dict):
            # phase1 rows record ``ok``; later phases ``hash_match``.
            verified.update(
                q for q, r in rows.items() if r.get("hash_match") or r.get("ok")
            )
    doc["summary"]["distinct_queries_sf01_verified"] = len(verified)
    phase4_note = (
        " Phase 4 (round 9): the residue queries re-gated one process per"
        " query at sf0.1 with full hash records; remaining residue (if any)"
        " is listed in sf01_residue_queries with per-query ADRs in COVERAGE.md."
    )
    if phase4_note not in doc["note"]:
        doc["note"] += phase4_note
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(
        f"merged {len(phase4)} phase4 rows ({ok4} ok, {failed4} failed); "
        f"residue now {residue}"
    )
    return 1 if failed4 else 0


if __name__ == "__main__":
    raise SystemExit(main())
