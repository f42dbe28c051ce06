"""Compute the next registry-rotation front.

The driver's correctness gate samples the FIRST 50 registered queries
each round (CORRECTNESS_r{N}.json). Rounds 1-8 rotated 50
never-yet-sampled queries to the front each round; after round 8 the
never-sampled pool is EMPTY (every registry query has at least one hard
driver-verified correctness row).

From round 9 on the rotation optimizes for EVIDENCE FRESHNESS instead:
every query is ranked by the round it was last driver-sampled
(staleness), and the front is the 50 queries with the OLDEST evidence.
This is the standing invariant: code under r01-front queries has been
refactored for 7+ rounds without re-verification by the external
harness; fronting the stalest 50 each round re-validates the whole
registry on a ~6-round clock.

Ordering within the front is deterministic: ascending last-sampled
round, then query name — so the suggested _R{N}_FRONT can be
reproduced mechanically from the CORRECTNESS_r*.json evidence record
alone and can't drift from it.

Usage:
    python tools/rotation.py [--limit 50]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def last_sampled_rounds(max_round: int | None = None) -> dict[str, int]:
    """Map query name -> latest round with a driver correctness row.

    ``max_round`` bounds the evidence window — the _R{N}_FRONT derivation
    uses rounds 1..N-1, so the pinning test stays reproducible after
    later rounds add their own CORRECTNESS files.
    """
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if not m:  # skips CORRECTNESS_LOCAL_* and CORRECTNESS_SF01
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        for name in json.load(open(f)):
            last[name] = max(last.get(name, 0), rnd)
    return last


def stalest_front(queries: list[str], limit: int = 50, max_round: int | None = None) -> list[str]:
    """The mechanically-derived front: ascending last-sampled round,
    then name. This IS the rotation invariant from round 9 on."""
    last = last_sampled_rounds(max_round)
    return sorted(queries, key=lambda n: (last.get(n, 0), n))[:limit]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--limit", type=int, default=50)
    args = ap.parse_args()

    from chicago_business_owners_data_engineering_spark import registry

    queries = registry.get_queries()
    oracles = registry.get_oracles()
    last = last_sampled_rounds()

    never = [n for n in queries if n not in last]
    staleness = stalest_front(list(queries), limit=len(queries))

    by_round = defaultdict(list)
    for n in queries:
        by_round[last.get(n, 0)].append(n)

    print(f"registry={len(queries)} oracle-backed={len(oracles)} "
          f"never-sampled={len(never)}")
    print("evidence age histogram (last-sampled round -> #queries):")
    for rnd in sorted(by_round):
        label = "never" if rnd == 0 else f"r{rnd:02d}"
        print(f"  {label}: {len(by_round[rnd])}")
    print()

    pick = staleness[: args.limit]
    if never:
        # Never-sampled queries (new registrations) always sort first
        # via last.get(n, 0) == 0, so they are auto-fronted.
        print(f"never-sampled (auto-fronted): {sorted(never)}")
    print(f"suggested _R_NEXT_FRONT ({len(pick)}), stalest first:")
    for n in pick:
        print(f'    "{n}",  # last r{last.get(n, 0):02d}')


if __name__ == "__main__":
    main()
