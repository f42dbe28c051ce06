"""Guard for the bench's final headline line.

The external harness that runs ``python bench.py`` keeps only a
2,000-char stdout tail and parses the LAST JSON line, so that line must
stay well under the tail at any plausible per-query value.
"""

from __future__ import annotations

import json

import bench


def test_final_headline_line_fits_driver_tail():
    """The final headline line (per-query 2-decimal medians) must fit
    with headroom even at implausibly slow per-query values."""
    line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": 99999.999,
            "value_min": 99999.999,
            "unit": "sec",
            "sf": 0.1,
            "queries": {n: 999.99 for n in bench.BENCH_QUERIES},
        }
    )
    assert len(line) < 1800, len(line)
