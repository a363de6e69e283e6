"""Alternating parent/change pairs of the repository benchmark.

    python tools/ab_pairs.py PARENT_REV CHANGE_REV --workload chat_rag \
        --seeds 601-610 --held-out 611 [--seconds 5] [--work DIR]

Each revision is exported once with ``git archive`` into its own directory
under --work (default: a fresh directory under $TMPDIR), so the runs read
committed files only and the checkout is never touched. Then, for every
seed, one ``ragbench/run.py`` run per side, alternating which side runs
first (even pairs parent first, odd pairs change first), and one more pair
on the held-out seed, which the claim must also hold on. A revision equal
on both sides is an A/A control: its ratios are the host's noise floor.

For each end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the change/parent ratio of the medians, the change's wins
over the pairs (ties count for neither side), whether the median gap
exceeds the parent's interquartile range, the metric's bound, and the
held-out pair. A gain is claimable when the change wins at least nine
tenths of the pairs and the gap exceeds the parent's IQR; a median worse
than the parent's by more than the bound is flagged REGRESSION. Failed
operations are summed per side. Exit status 1 when any run failed its
output checks or any metric is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """'601-610' or '601,605,609' (or a mix) -> seeds in order."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), linearly interpolated like ragbench's quantile."""
    s = sorted(xs)

    def q(p: float) -> float:
        pos = p * (len(s) - 1)
        i = int(pos)
        return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (pos - i)

    return q(0.25), q(0.5), q(0.75)


def export(rev: str, work: str) -> tuple[str, str]:
    """`git archive` of rev into work/<sha>; returns (short sha, dir)."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", rev],
                         check=True, capture_output=True, text=True).stdout.strip()
    path = os.path.join(work, sha)
    if not os.path.isdir(path):
        os.makedirs(path)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", path], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise RuntimeError(f"git archive {rev} failed")
    return sha, path


def run_once(tree: str, workload: str, seed: int, seconds: int) -> dict:
    """One untraced benchmark run in `tree`: its JSON record, plus `exit`."""
    proc = subprocess.run(
        [sys.executable, "ragbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    rec = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 0,
                                               "failed": 0, "metrics": {}}
    rec["exit"] = proc.returncode
    return rec


def better(a: float, b: float, lower: bool) -> bool:
    return a < b if lower else a > b


def report(metrics: list[dict], pairs: list[tuple[dict, dict]], held: tuple[dict, dict] | None,
           header: str) -> bool:
    """Print the table; True when nothing is flagged."""
    print(header)
    print(f"{'metric':<11} {'parent median [q1, q3]':<28} {'change median [q1, q3]':<28} "
          f"{'ratio':>6} {'wins':>6} {'gap>IQR':>7} {'bound':>5}  held-out")
    ok = True
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["metrics"][name]["value"] for p, _c in pairs]
        b = [c["metrics"][name]["value"] for _p, c in pairs]
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        wins = sum(better(y, x, lower) for x, y in zip(a, b))
        gap = abs(bm - am) > (a3 - a1)
        ratio = bm / am if am else float("nan")
        worse = (ratio - 1.0) if lower else (1.0 - ratio)
        flag = "  REGRESSION" if worse > m["bound"] else ""
        ok &= not flag
        h = ""
        if held is not None:
            x, y = (s["metrics"][name]["value"] for s in held)
            h = f"{x:.4g} -> {y:.4g} ({y / x if x else float('nan'):.3f})"
        print(f"{name:<11} {f'{am:.4g} [{a1:.4g}, {a3:.4g}]':<28} "
              f"{f'{bm:.4g} [{b1:.4g}, {b3:.4g}]':<28} {ratio:>6.3f} "
              f"{f'{wins}/{len(pairs)}':>6} {'yes' if gap else 'no':>7} {m['bound']:>5}  {h}{flag}")
    return ok


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 601-610")
    ap.add_argument("--held-out", type=int, default=None)
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--work", default=None, help="export directory (default: a temp dir)")
    args = ap.parse_args(argv)
    work = args.work or tempfile.mkdtemp(prefix="ab_pairs_")
    (psha, ptree), (csha, ctree) = export(args.parent, work), export(args.change, work)
    with open(os.path.join(ptree, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    seeds = parse_seeds(args.seeds)
    if args.held_out is not None and args.held_out in seeds:
        ap.error("--held-out must not be one of --seeds")

    def pair(i: int, seed: int) -> tuple[dict, dict]:
        sides = [("parent", ptree), ("change", ctree)]
        got = {}
        for side, tree in (sides if i % 2 == 0 else sides[::-1]):
            got[side] = run_once(tree, args.workload, seed, seconds)
            rec = got[side]
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in rec["metrics"].items())
            print(f"  seed {seed} {side}: exit {rec['exit']} failed {rec['failed']}/"
                  f"{rec['attempted']} {vals}", flush=True)
        return got["parent"], got["change"]

    pairs = [pair(i, s) for i, s in enumerate(seeds)]
    held = pair(len(seeds), args.held_out) if args.held_out is not None else None
    runs = pairs + ([held] if held else [])
    bad = [r for p in runs for r in p if r["exit"] != 0 or not r["metrics"]]
    if bad:
        print(f"{len(bad)} run(s) failed their output checks; no table")
        return 1
    ok = report(bench["end_to_end"], pairs, held,
                f"{args.workload}: {len(pairs)} pairs (seeds {args.seeds}), parent {psha} vs "
                f"change {csha}, --seconds {seconds}"
                + (f", held-out seed {args.held_out}" if held else ""))
    for k, side in ((0, "parent"), (1, "change")):
        f = sum(p[k]["failed"] for p in runs)
        n = sum(p[k]["attempted"] for p in runs)
        print(f"failed operations, {side}: {f}/{n}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
