"""The driver records only a 2000-char tail of bench stdout and JSON-parses
it; rounds 1-4 shipped a ~5 KB line whose head got cut off there ("parsed":
null every round). compact_bench_line is the fix — these tests pin its
contract without needing a SparkSession."""
import json

import bench


def _full(n_queries):
    return {
        "metric": "total_wall_seconds_all_queries",
        "value": 142.6,
        "unit": "sec",
        "queries": {f"query_name_number_{i:04d}": round(0.1 + i * 0.017, 3)
                    for i in range(n_queries)},
        "recall": {f"tier_{i}@10": 1.0 for i in range(7)},
        "recall_adversarial": {f"adv_tier_{i}@10": 0.9 for i in range(6)},
        "recall_realistic": {f"real_tier_{i}@10": 0.8 for i in range(8)},
        "sf": 0.1,
    }


def test_line_fits_tail_window_at_registry_scale():
    line = bench.compact_bench_line(_full(200))
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] == 142.6
    assert parsed["queries_total"] == 200
    assert parsed["queries_total"] - parsed["queries_omitted"] == len(parsed["queries"])
    assert parsed["queries_omitted"] > 0
    assert parsed["full_results"] == "BENCH_FULL.json"
    # recall blocks survive intact
    assert len(parsed["recall"]) == 7 and len(parsed["recall_adversarial"]) == 6
    assert len(parsed["recall_realistic"]) == 8


def test_truncation_keeps_the_slowest_queries():
    full = _full(200)
    parsed = json.loads(bench.compact_bench_line(full))
    kept = set(parsed["queries"])
    slowest = sorted(full["queries"], key=lambda k: -full["queries"][k])[: len(kept)]
    assert kept == set(slowest)


def test_small_suite_is_not_truncated():
    parsed = json.loads(bench.compact_bench_line(_full(10)))
    assert parsed["queries_omitted"] == 0
    assert len(parsed["queries"]) == 10


def test_parses_even_when_tail_starts_midline():
    # driver behavior: keep the LAST 2000 chars; the line must still be
    # wholly inside that window (plus its newline)
    line = bench.compact_bench_line(_full(200))
    tail = (("x" * 5000) + "\n" + line + "\n")[-2000:]
    last = [l for l in tail.splitlines() if l.strip()][-1]
    assert json.loads(last)["metric"] == "total_wall_seconds_all_queries"


def test_bench_ratchet_compare():
    sys_path_tools = __import__("sys").path
    import os
    sys_path_tools.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from bench_ratchet import compare

    old = {
        "queries": {"q1": 2.0, "q2": 1.0, "gone": 3.0},
        "query_shuffle_mb": {"q1": 100.0, "q2": 4.0},
        "query_spill_disk_mb": {"q1": 0.0, "q2": 0.0},
    }
    new = {
        "queries": {"q1": 3.5, "q2": 1.2},   # q1 regressed >1.5x
        "query_shuffle_mb": {"q1": 150.0, "q2": 4.5},   # q1 shuffle >1.3x; q2 under 5MB floor
        "query_spill_disk_mb": {"q1": 0.0, "q2": 8.0},  # q2 spills where it didn't
    }
    flags = compare(old, new, time_tol=1.5, shuffle_tol=1.3)
    kinds = sorted(f.split()[0] for f in flags)
    assert kinds == ["SHUFFLE", "SPILL", "TIME"], flags
    assert all("q2" in f or "q1" in f for f in flags)
    # clean run: no flags
    assert compare(old, old, 1.5, 1.3) == []


def test_bench_ratchet_exempts_recall_line_on_rotation_change():
    """Archives up to r14 measured one recall block a round; newer records
    measure all three (~2-3x the one-block wall time). The ratchet must not
    flag that as a TIME regression — the exemption applies only when the
    measured-block sets differ."""
    import os
    import sys as _sys
    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from bench_ratchet import compare

    base = {
        "queries": {"ann_recall_combined": 6.0, "q1": 1.0},
        "recall_measured_blocks": ["recall"],
    }
    refresh = {
        "queries": {"ann_recall_combined": 13.5, "q1": 1.0},
        "recall_measured_blocks": ["recall", "recall_adversarial", "recall_realistic"],
    }
    assert compare(base, refresh, 1.5, 1.3) == []  # rotation change: exempt
    same_blocks = dict(refresh, recall_measured_blocks=["recall"])
    flags = compare(base, same_blocks, 1.5, 1.3)
    assert flags and "ann_recall_combined" in flags[0]  # real regression: flagged
