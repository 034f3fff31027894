"""bench.py's compact final line (the driver's per-query channel).

Round-14 regression: the compact line inherited the full
run_policy.noisy_min_of_2 list (64 names), the base line alone hit
1796/1800 chars and the keep-loop evicted every query, so the driver
received ``"queries":{}`` and the whole round's per-query comparison
was blinded.  These tests replay that record shape and pin the
contract: the compact line always fits the tail capture AND always
carries a useful number of the slowest queries.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _compact_record  # noqa: E402


def _r14_like_full(n_queries=221, n_noisy=64):
    timings = {f"family_query_name_{i:03d}": 0.5 + (i % 40) * 0.33
               for i in range(n_queries)}
    noisy = sorted(timings)[:n_noisy]
    return {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "errors": {},
        "sf": 0.1,
        "run_policy": {
            "noisy_min_of_2": noisy,
            "noise_rule": "min-of-2 when any round-over-round delta "
            ">1.5x in the last 3 BENCH_r records, or no history",
            "loadavg_before": [9.33642578125, 4.62353515625, 3.32763671875],
            "loadavg_after": [4.43505859375, 5.05810546875, 4.18212890625],
        },
        "superlinear_vs_sibling": {
            "vs_sf": 0.01,
            "data_ratio": 10.0,
            "flagged": {},
        },
    }, timings


def test_compact_line_fits_and_carries_queries():
    full, timings = _r14_like_full()
    compact = _compact_record(full, timings, {})
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1800
    # the whole point: a meaningful slice of per-query timings survives
    assert len(compact["queries"]) >= 20
    # and it is the SLOWEST ones that survive
    slowest = sorted(timings, key=lambda n: -timings[n])
    assert set(compact["queries"]) == set(slowest[: len(compact["queries"])])
    assert compact["queries_truncated"] is True
    assert compact["n_queries"] == len(timings)
    # run_policy is summarized, not enumerated
    assert compact["run_policy"]["noisy_min_of_2_count"] == 64
    assert len(compact["run_policy"]["noisy_min_of_2_first"]) == 3
    assert "noisy_min_of_2" not in compact["run_policy"]


def test_compact_line_bounds_every_metadata_channel():
    full, timings = _r14_like_full()
    # adversarial: long error messages, many superlinear flags,
    # record_errors noise — none of it may evict the queries
    errors = {f"broken_query_{i}": "X" * 500 for i in range(6)}
    full["errors"] = errors
    full["superlinear_vs_sibling"] = {
        "vs_sf": 0.01,
        "data_ratio": 10.0,
        "flagged": {f"flagged_query_{i:02d}": 20.0 + i for i in range(30)},
        "record_errors": ["Y" * 300, "Z" * 300, "W" * 300],
    }
    compact = _compact_record(full, timings, errors)
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1800
    assert len(compact["queries"]) >= 10
    assert compact["n_errors"] == 6
    sls = compact["superlinear_vs_sibling"]
    assert len(sls["flagged"]) == 10
    assert sls["flagged_truncated_of"] == 30
    # the 10 WORST flags survive
    assert "flagged_query_29" in sls["flagged"]
    assert all(len(e) <= 80 for e in sls["record_errors"])


def test_compact_line_small_run_untruncated():
    timings = {f"q{i}": 1.0 for i in range(10)}
    full, _ = _r14_like_full(n_queries=0, n_noisy=0)
    full["queries"] = timings
    full["run_policy"]["noisy_min_of_2"] = []
    compact = _compact_record(full, timings, {})
    assert compact["queries_truncated"] is False
    assert len(compact["queries"]) == 10
    assert compact["run_policy"]["noisy_min_of_2_count"] == 0


def test_compact_line_many_errors_keep_queries():
    # ~20 failures: the error dict has a fixed sub-budget, so it can
    # never push every query timing off the line
    full, timings = _r14_like_full()
    errors = {f"broken_query_{i:02d}": "E" * 500 for i in range(20)}
    full["errors"] = errors
    compact = _compact_record(full, timings, errors)
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1800
    assert len(compact["queries"]) >= 10
    assert compact["n_errors"] == 20
    assert 0 < len(compact["errors"]) < 20


def test_compact_line_shape_without_timings():
    # an all-errored run has the same record shape as a normal one
    full, _ = _r14_like_full(n_queries=0, n_noisy=0)
    errors = {f"broken_query_{i}": "X" * 100 for i in range(3)}
    full["errors"] = errors
    empty = _compact_record(full, {}, errors)
    assert empty["queries"] == {}
    assert empty["queries_truncated"] is False
    assert empty["n_queries"] == 0
    full2, timings = _r14_like_full(n_queries=5, n_noisy=0)
    assert set(empty) == set(_compact_record(full2, timings, {}))
