"""Round-over-round bench ratchet: compare two BENCH_FULL.json records.

Wall time on a shared host is noisy (same-code totals spanned 147-448 s in
round 6), so the durable regression signals are per-query SHUFFLE BYTES and
SPILL, which track the plan shape, not the host; raw seconds are compared
with tolerances wide enough to outrun the noise, optionally divided by a
same-code epoch-control ratio. This tool flags, per query present in both
records:

  - raw time regression         > --time-tol   (default 1.5x, min 1 s)
  - shuffle-bytes regression    > --shuffle-tol (default 1.3x, min 5 MB)
  - NEW disk spill              (> 1 MB where the old record had none)

Exit status 1 when anything is flagged (CI-gateable). Queries only in one
record are listed informationally (window rotation adds/removes entries).

Usage: python tools/bench_ratchet.py OLD_BENCH_FULL.json NEW_BENCH_FULL.json
"""

from __future__ import annotations

import argparse
import json
import sys


def _plan_signal_changed(q: str, old: dict, new: dict) -> bool:
    """True when query q's PLAN-SHAPE telemetry moved between records:
    shuffle bytes grew materially, or disk spill appeared. Wall time with
    no plan-signal change is overwhelmingly host noise on this box (r8:
    dedup_degree_profile swung 1.90<->2.85s calibrated across two driver
    runs with bit-identical 0.29 MB shuffle and zero spill)."""
    osh = old.get("query_shuffle_mb", {}).get(q)
    nsh = new.get("query_shuffle_mb", {}).get(q)
    if osh is not None and nsh is not None and nsh > osh * 1.1 + 0.5:
        return True
    osp = old.get("query_spill_disk_mb", {}).get(q, 0.0)
    nsp = new.get("query_spill_disk_mb", {}).get(q, 0.0)
    return nsp > 1.0 and osp <= 1.0


def epoch_ratio_from_control(old: dict, control: dict) -> float:
    """Host-EPOCH correction factor from a paired same-code control run: the
    control record is the OLD archive's exact code re-benched on the current
    host (r10: the box rebooted between rounds and identical code slowed
    ~1.30x uniformly while the BLAS factor moved only 0.906->0.868 — the
    contention-shape non-transfer BASELINE.md documents). The ratio is the
    MEDIAN per-query raw timing ratio over the shared queries —
    computed from the committed control record, never read as a trusted
    scalar — and clamped to [1.0, 2.0]: an epoch correction may only relax
    the gate for a measured SLOWDOWN, never tighten it or excuse more than
    2x (a >2x 'epoch' claim needs a new baseline, not a multiplier)."""
    if control.get("calibration_unstable") or control.get("calibration_out_of_range"):
        # an unstable control (host speed changed mid-run) measures its own
        # wobble, not the epoch — applying it could ratchet a genuine
        # uniform regression through green (r10 review). Only controls
        # benched before the probes were removed carry these flags.
        return 1.0
    ot, ct = old.get("queries", {}), control.get("queries", {})
    shared = sorted(set(ot) & set(ct))
    ratios = sorted(ct[q] / ot[q] for q in shared if ot[q] > 0.05)
    if len(ratios) < 20:  # too few pairs to call it an epoch, not noise
        return 1.0
    med = ratios[len(ratios) // 2]
    return max(1.0, min(2.0, med))


# Shuffle baselines CORRECTED by the r12 attribution fix — query ->
# corrected MB. The pre-r12 time-windowed StageMetricsTracker systematically
# UNDERCOUNTED these queries: an async straggler stage of the query's OWN
# jobs (sweepline: ~2.9 MB, its materialized session relation) completed
# after the snapshot and was lost or misattributed, so the values archived
# through r12's first record (5.39 MB) are measurement artifacts, not plan
# baselines — job-group attribution with an adequate settle reads the
# corrected value on EVERY isolated run (r12 close, 3 consecutive isolated
# re-measurements). compare() substitutes the corrected baseline when the
# OLD record carries the undercount, so the correction itself never flags
# while any growth PAST the corrected value still does.
SHUFFLE_REMEASURED: dict[str, float] = {"session_concurrency_sweepline": 8.33}


def compare(old: dict, new: dict, time_tol: float, shuffle_tol: float,
            time_floor: float = 1.0, uncorroborated_floor: float | None = None,
            uncorroborated_tol: float | None = None,
            epoch_ratio: float = 1.0) -> list[str]:
    """uncorroborated_floor/_tol: stricter thresholds applied to a TIME
    regression NOT corroborated by a shuffle/spill delta (VERDICT r8 #2 —
    the plain floor false-positived on wall noise straddling it). Default
    None keeps the single-threshold behavior.

    epoch_ratio: divide the NEW record's timings by this before the TIME
    checks (see epoch_ratio_from_control). Shuffle/spill ratchets are host-
    independent and are never scaled."""
    if uncorroborated_floor is None:
        uncorroborated_floor = time_floor
    if uncorroborated_tol is None:
        uncorroborated_tol = time_tol
    flags: list[str] = []
    ot, nt = old.get("queries", {}), new.get("queries", {})
    # ann_recall_combined's wall time depends on which recall blocks the run
    # measured (archives up to r14 measured one block a round, newer records
    # measure all three, a failed block measures none) — comparing across
    # different measured-block sets would flag a change of workload as a
    # regression, so the TIME check only applies when both records measured
    # the same blocks
    measured_differs = (
        old.get("recall_measured_blocks") != new.get("recall_measured_blocks")
    )
    for q in sorted(set(ot) & set(nt)):
        if q == "ann_recall_combined" and measured_differs:
            continue
        # time_floor: a single run's per-query seconds at the ~1s scale move
        # up to ~2x with the box's CPU waves while shuffle bytes stay fixed —
        # gates that must stay green on one honest run use a higher floor
        # (the sweep gate uses 2.5s) so only regressions big enough to
        # outrun the noise flag on wall time; smaller plan regressions are
        # still caught by the shuffle/spill ratchets below
        corroborated = _plan_signal_changed(q, old, new)
        floor = time_floor if corroborated else uncorroborated_floor
        tol = time_tol if corroborated else uncorroborated_tol
        adj = round(nt[q] / epoch_ratio, 3)
        if adj > max(floor, tol * ot[q]):
            tag = "" if corroborated else " [no shuffle/spill delta]"
            if epoch_ratio != 1.0:
                tag += f" [epoch-adjusted /{epoch_ratio:.3f}]"
            flags.append(f"TIME {q}: {ot[q]}s -> {adj}s (> {tol}x){tag}")
    osh, nsh = old.get("query_shuffle_mb", {}), new.get("query_shuffle_mb", {})
    for q in sorted(set(osh) & set(nsh)):
        baseline = osh[q]
        corrected = SHUFFLE_REMEASURED.get(q)
        if corrected is not None and baseline < corrected:
            # the archived value is a known pre-r12 tracker undercount:
            # ratchet against the corrected measurement instead (growth
            # past IT still flags)
            baseline = corrected
        if nsh[q] > max(5.0, shuffle_tol * baseline):
            flags.append(f"SHUFFLE {q}: {osh[q]}MB -> {nsh[q]}MB written (> {shuffle_tol}x)")
    osp, nsp = old.get("query_spill_disk_mb", {}), new.get("query_spill_disk_mb", {})
    for q in sorted(set(osp) & set(nsp)):
        if nsp[q] > 1.0 and osp[q] <= 1.0:
            flags.append(f"SPILL {q}: {osp[q]}MB -> {nsp[q]}MB disk spill (new)")
    return flags


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--time-tol", type=float, default=1.5)
    ap.add_argument("--shuffle-tol", type=float, default=1.3)
    ap.add_argument("--time-floor", type=float, default=1.0)
    ap.add_argument("--uncorroborated-floor", type=float, default=None,
                    help="higher floor for TIME flags with no shuffle/spill delta")
    ap.add_argument("--uncorroborated-tol", type=float, default=None,
                    help="higher ratio for TIME flags with no shuffle/spill delta")
    ap.add_argument("--epoch-control", default=None,
                    help="paired same-code control record for a host-epoch "
                         "correction (see epoch_ratio_from_control); by default "
                         "BENCH_EPOCH.json next to OLD is auto-discovered when "
                         "its applies_to_archive names OLD")
    args = ap.parse_args()
    old = json.load(open(args.old))
    new = json.load(open(args.new))

    # CLI/pytest-gate parity (r10 review: the gate applied the epoch
    # correction while this CLI printed 21 false TIME flags on the same
    # record pair): resolve the control record the same way the gate does.
    epoch = 1.0
    control_path = args.epoch_control
    if control_path is None:
        import os

        old_dir = os.path.dirname(os.path.abspath(args.old))
        manifest = os.path.join(old_dir, "BENCH_EPOCH.json")
        if os.path.isfile(manifest):
            with open(manifest) as fh:
                m = json.load(fh)
            if os.path.basename(args.old) == m.get("applies_to_archive"):
                cand = os.path.join(old_dir, m.get("control_record", ""))
                if os.path.isfile(cand):
                    control_path = cand
    if control_path:
        epoch = epoch_ratio_from_control(old, json.load(open(control_path)))
        if epoch != 1.0:
            print(f"# epoch correction /{epoch:.3f} from same-code control "
                  f"{control_path}")

    only_old = sorted(set(old.get("queries", {})) - set(new.get("queries", {})))
    only_new = sorted(set(new.get("queries", {})) - set(old.get("queries", {})))
    if only_old:
        print(f"# queries only in old ({len(only_old)}): {', '.join(only_old[:10])}...")
    if only_new:
        print(f"# queries only in new ({len(only_new)}): {', '.join(only_new[:10])}...")

    flags = compare(old, new, args.time_tol, args.shuffle_tol, args.time_floor,
                    args.uncorroborated_floor, args.uncorroborated_tol,
                    epoch_ratio=epoch)
    for f in flags:
        print(f)
    print(f"{len(flags)} regression flag(s)")
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
