"""Plan-regression ratchet as a GATE (VERDICT r7 stretch #8): the working
BENCH_FULL.json must not regress against the newest archived round record
BENCH_FULL_r{N}.json under the committed tolerances (raw time 1.5x,
shuffle bytes 1.3x, new disk spill). Archive a round's final record with
`cp BENCH_FULL.json BENCH_FULL_r{N}.json` at round close."""

import glob
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from bench_ratchet import compare, epoch_ratio_from_control  # noqa: E402

REPO = os.path.join(os.path.dirname(__file__), "..")


def _epoch_ratio_for(old_path: str) -> float:
    """Host-epoch correction for comparisons against the archive named in
    BENCH_EPOCH.json: the ratio is COMPUTED from the committed same-code
    control record (the old archive's exact commit re-benched on the
    current host — r10: reboot between rounds, identical code uniformly
    ~1.30x slower, BLAS factor nearly unchanged). Applies ONLY to the named
    archive; any other comparison runs unadjusted."""
    manifest = os.path.join(REPO, "BENCH_EPOCH.json")
    if not os.path.isfile(manifest):
        return 1.0
    with open(manifest) as fh:
        m = json.load(fh)
    if os.path.basename(old_path) != m.get("applies_to_archive"):
        return 1.0
    control_path = os.path.join(REPO, m.get("control_record", ""))
    if not os.path.isfile(control_path):
        return 1.0
    with open(old_path) as fh:
        old = json.load(fh)
    with open(control_path) as fh:
        control = json.load(fh)
    return epoch_ratio_from_control(old, control)


def test_bench_ratchet_vs_previous_round_record():
    prevs = sorted(glob.glob(os.path.join(REPO, "BENCH_FULL_r*.json")))
    if not prevs:
        pytest.skip("no archived round record to ratchet against")
    with open(os.path.join(REPO, "BENCH_FULL.json")) as fh:
        new = json.load(fh)
    # At the round-close commit the newest archive IS the working record; a
    # self-comparison proves nothing (VERDICT r9 "What's wrong #2"), so fall
    # back to the previous round's archive — HEAD always does a real compare.
    old = old_path = None
    for prev in reversed(prevs):
        with open(prev) as fh:
            cand = json.load(fh)
        if cand != new:
            old, old_path, prevs = cand, prev, [prev]
            break
    if old is None:
        pytest.skip("every archived record is byte-identical to the working one")
    epoch = _epoch_ratio_for(old_path)
    if old.get("sf") != new.get("sf"):
        pytest.skip("records at different scale factors")
    # Two-tier TIME thresholds (VERDICT r8 #2 — the single 2.5s floor
    # false-positived on the driver's own r8 record: dedup_degree_profile
    # 1.90->2.85s with bit-identical 0.29 MB shuffle and zero
    # spill, i.e. pure wall noise straddling the floor). A TIME regression
    # CORROBORATED by a shuffle/spill delta flags at floor 2.5s / 1.5x; one
    # with no plan-signal change must clear 4.0s AND 2.0x — beyond the
    # observed host-wave noise band (sub-2.5s queries swing ~2x; relative
    # swing shrinks with query size). Uniform slowdowns that dodge both are
    # still caught by the 1.15x aggregate guard below, and plan-shape
    # regressions by the shuffle/spill ratchets, which have no noise problem.
    flags = compare(old, new, time_tol=1.5, shuffle_tol=1.3, time_floor=2.5,
                    uncorroborated_floor=4.0, uncorroborated_tol=2.0,
                    epoch_ratio=epoch)
    assert not flags, "bench ratchet regressions vs previous round:\n" + "\n".join(flags)
    # aggregate guard: many small sub-floor drifts still must not compound.
    # Compare the SHARED-query sums — registry growth adds legitimate new
    # mass to the raw total every round (r9: +11 entries = +19.6s pushed
    # the naive total ratio to 1.157 while the like-for-like ratio was
    # 1.051). The epoch correction (same-code control, see
    # _epoch_ratio_for) divides the new side the same way compare() does.
    ot, nt = old["queries"], new["queries"]
    shared = set(ot) & set(nt)
    so, sn = sum(ot[q] for q in shared), sum(nt[q] for q in shared) / epoch
    assert sn <= 1.15 * so, (
        f"shared-query total regressed: {so:.1f} -> {sn:.1f} "
        f"({sn / so:.3f}x over {len(shared)} shared queries, "
        f"epoch-adjusted /{epoch:.3f})"
    )


def _rec(queries, shuffle, spill=None, **extra):
    rec = {
        "sf": 0.1,
        "queries": dict(queries),
        "query_shuffle_mb": dict(shuffle),
        "query_spill_disk_mb": dict(spill or {q: 0.0 for q in queries}),
    }
    rec.update(extra)
    return rec


def test_ratchet_wall_noise_without_plan_delta_not_flagged():
    """The r8 false positive as a fixture: a sub-floor query's wall time
    swings 1.9->2.85s while shuffle bytes are bit-identical and there is no
    spill — the gate must stay quiet (host noise, not a regression)."""
    old = _rec({"dedup_degree_profile": 1.902}, {"dedup_degree_profile": 0.29})
    new = _rec({"dedup_degree_profile": 2.853}, {"dedup_degree_profile": 0.29})
    assert compare(old, new, time_tol=1.5, shuffle_tol=1.3, time_floor=2.5,
                   uncorroborated_floor=4.0, uncorroborated_tol=2.0) == []


def test_ratchet_genuine_plan_regression_still_flagged():
    """A genuinely regressed plan — shuffle bytes blow up alongside the wall
    time — must flag TIME (corroborated tier) AND SHUFFLE."""
    old = _rec({"q": 2.0}, {"q": 0.3})
    new = _rec({"q": 5.0}, {"q": 80.0})
    flags = compare(old, new, time_tol=1.5, shuffle_tol=1.3, time_floor=2.5,
                    uncorroborated_floor=4.0, uncorroborated_tol=2.0)
    assert any(f.startswith("TIME q:") for f in flags), flags
    assert any(f.startswith("SHUFFLE q:") for f in flags), flags


def test_ratchet_large_cpu_regression_flags_without_plan_delta():
    """A pure-CPU regression big enough to outrun the noise band (e.g. a
    row-at-a-time UDF sneaking into a 4s query) must still flag even with
    identical shuffle bytes: > 4.0s AND > 2x."""
    old = _rec({"q": 4.5}, {"q": 1.0})
    new = _rec({"q": 10.0}, {"q": 1.0})
    flags = compare(old, new, time_tol=1.5, shuffle_tol=1.3, time_floor=2.5,
                    uncorroborated_floor=4.0, uncorroborated_tol=2.0)
    assert flags == ["TIME q: 4.5s -> 10.0s (> 2.0x) [no shuffle/spill delta]"]


def test_epoch_ratio_computed_from_control_and_clamped():
    """The epoch ratio comes from the MEDIAN per-query ratio of the paired
    same-code control vs the archive, clamped to [1.0, 2.0]; too few shared
    queries -> 1.0 (noise, not an epoch)."""
    n = 30
    old = _rec({f"q{i}": 1.0 for i in range(n)}, {f"q{i}": 0.1 for i in range(n)})
    control = _rec({f"q{i}": 1.3 for i in range(n)}, {f"q{i}": 0.1 for i in range(n)})
    assert abs(epoch_ratio_from_control(old, control) - 1.3) < 1e-9
    # a faster host must never TIGHTEN the gate via a <1 ratio
    faster = _rec({f"q{i}": 0.5 for i in range(n)}, {f"q{i}": 0.1 for i in range(n)})
    assert epoch_ratio_from_control(old, faster) == 1.0
    # absurd claims clamp at 2x
    crazy = _rec({f"q{i}": 5.0 for i in range(n)}, {f"q{i}": 0.1 for i in range(n)})
    assert epoch_ratio_from_control(old, crazy) == 2.0
    # 3 shared queries is not an epoch measurement
    small_o = _rec({"a": 1.0, "b": 1.0, "c": 1.0}, {"a": 0.1, "b": 0.1, "c": 0.1})
    small_c = _rec({"a": 1.5, "b": 1.5, "c": 1.5}, {"a": 0.1, "b": 0.1, "c": 0.1})
    assert epoch_ratio_from_control(small_o, small_c) == 1.0


def test_epoch_adjustment_relaxes_uniform_shift_but_keeps_real_regressions():
    """A uniform 1.3x host shift under a 1.3 epoch ratio produces no flags;
    a genuine 4x single-query regression still flags straight through the
    same adjustment."""
    n = 25
    oldq = {f"q{i}": 3.0 for i in range(n)}
    old = _rec(oldq, {f"q{i}": 0.1 for i in range(n)})
    shifted = _rec({k: v * 1.3 for k, v in oldq.items()},
                   {f"q{i}": 0.1 for i in range(n)})
    assert compare(old, shifted, time_tol=1.5, shuffle_tol=1.3, time_floor=2.5,
                   uncorroborated_floor=4.0, uncorroborated_tol=2.0,
                   epoch_ratio=1.3) == []
    regq = dict(oldq); regq["q7"] = 12.0  # 4x, no shuffle delta
    reg = _rec({k: v * 1.3 if k != "q7" else v for k, v in regq.items()},
               {f"q{i}": 0.1 for i in range(n)})
    flags = compare(old, reg, time_tol=1.5, shuffle_tol=1.3, time_floor=2.5,
                    uncorroborated_floor=4.0, uncorroborated_tol=2.0,
                    epoch_ratio=1.3)
    assert len(flags) == 1 and flags[0].startswith("TIME q7:"), flags


def test_ratchet_new_spill_corroborates_time():
    """New disk spill both flags on its own and lowers the TIME tier back to
    the corroborated thresholds."""
    old = _rec({"q": 2.0}, {"q": 1.0}, spill={"q": 0.0})
    new = _rec({"q": 3.4}, {"q": 1.0}, spill={"q": 50.0})
    flags = compare(old, new, time_tol=1.5, shuffle_tol=1.3, time_floor=2.5,
                    uncorroborated_floor=4.0, uncorroborated_tol=2.0)
    assert any(f.startswith("SPILL q:") for f in flags), flags
    assert any(f.startswith("TIME q:") and "[no shuffle" not in f for f in flags), flags


def test_ratchet_remeasured_shuffle_baseline():
    """r12 close find: the pre-r12 tracker UNDERCOUNTED sweepline's shuffle
    (an async straggler stage of its own jobs was lost) — 5.39 MB archived
    vs 8.33 MB on every correctly-attributed isolated run. The corrected
    baseline must not flag against the archived undercount, while growth
    PAST the corrected value still must, and the correction never papers
    over an old record that already read >= the corrected value."""
    q = "session_concurrency_sweepline"
    old = _rec({q: 2.0}, {q: 5.39})
    good = _rec({q: 2.0}, {q: 8.33})
    assert compare(old, good, time_tol=1.5, shuffle_tol=1.3) == []
    grown = _rec({q: 2.0}, {q: 12.0})
    assert any("SHUFFLE" in f for f in
               compare(old, grown, time_tol=1.5, shuffle_tol=1.3))
    # once the archive itself carries the corrected value, the plain
    # ratchet applies unmodified
    old_corrected = _rec({q: 2.0}, {q: 8.33})
    assert any("SHUFFLE" in f for f in
               compare(old_corrected, grown, time_tol=1.5, shuffle_tol=1.3))
    assert compare(old_corrected, good, time_tol=1.5, shuffle_tol=1.3) == []
