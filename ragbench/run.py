"""The repository benchmark: one command per (workload, seed) run.

    python3 ragbench/run.py --workload chat_rag --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates its inputs from --seed, sets
up a local Spark session, measures the workload for --seconds, checks the
engine's outputs, and prints a table of metrics followed by one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything it writes stays under .ragbench/ in the current directory. The
exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

T0 = time.perf_counter()
ROOT = os.getcwd()
WORKLOADS = ("chat_rag", "registry_mix")
DRIVER_MEM = "3g"

# name -> unit, reported with --trace 0 in this order (NOTES.md defines each)
END_TO_END = {"p50_ms": "ms", "tail_ms": "ms", "work_per_s": "1/s", "setup_s": "s"}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: int
    tracer: object
    work: str


@dataclass
class Result:
    """What a workload hands back: operation samples, counts, checks."""

    op_ms: list[float]
    # the workload's (p50_ms, tail_ms, how tail_ms was taken)
    latency: tuple[float, float, str]
    work_units: float
    window_s: float
    attempted: int
    failed: int
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    setup_s: float = 0.0
    detail: dict = field(default_factory=dict)  # workload-named figures
    raw: dict = field(default_factory=dict)  # what layer_metrics needs
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced run)


def quantile(samples: list[float], q: float) -> float:
    """The q-quantile of samples, linearly interpolated between order
    statistics."""
    xs = sorted(samples)
    pos = q * (len(xs) - 1)
    i = int(pos)
    if i + 1 >= len(xs):
        return xs[-1]
    return xs[i] + (xs[i + 1] - xs[i]) * (pos - i)


def tail_q(n: int) -> float:
    """The highest percentile with at least ten samples beyond it; below 20
    samples, where none lies above the median, the 90th (the maximum of so
    few samples moved by a quarter between runs)."""
    return 0.9 if n < 20 else 1.0 - 10.0 / n


def configure_env(work: str) -> dict:
    """Spark settings for this host, chosen here rather than in the package:
    cores from the CPU affinity mask, a driver heap that fits a small host,
    the repository on the Python workers' path, and every scratch directory
    inside the run's own work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: a run's JVM lives about a minute, and with C2 the timed
        # window lands in the middle of its compilation, which moved
        # set-up by a third between runs
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    py_path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=conf["spark.local.dir"],
        PYTHONPATH=os.pathsep.join(py_path),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell",
    )
    return {"SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.environ["PYTHONPATH"], **conf}


def peak_rss_mb(spark) -> dict[str, float]:
    """VmHWM, in MB, of this process and of the Spark JVM it launched."""
    pids = {"python": os.getpid()}
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids["jvm"] = proc.pid
    out = {}
    for name, pid in pids.items():
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out[name] = int(line.split()[1]) / 1024.0
    return out


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any wait failure ends in a kill
            proc.kill()
            proc.wait()


def report(workload: str, res: Result, peak_mb: dict, trace: bool, env: dict) -> dict:
    p50, tail, tail_note = res.latency
    values = {
        "p50_ms": (p50, len(res.op_ms), "p50"),
        "tail_ms": (tail, len(res.op_ms), tail_note),
        "work_per_s": (res.work_units / res.window_s, len(res.op_ms),
                       f"{res.work_units:g} units / {res.window_s:.2f} s"),
        "setup_s": (res.setup_s, 1, ""),
    }
    print(f"workload {workload}  settings {json.dumps(env, sort_keys=True)}")
    for name, unit in END_TO_END.items():
        v, n, note = values[name]
        print(f"  {name:<14} {v:>14.4f} {unit:<4} n={n:<6} {note}")
    # printed, not gated: the JVM's peak moves by 10-20 % between runs
    print(f"  {'peak_rss_mb':<14} {sum(peak_mb.values()):>14.4f} MB   "
          + " + ".join(f"{k} {v:.0f}" for k, v in peak_mb.items()))
    for name, v in res.detail.items():
        print(f"  {name:<28} {v}")
    for name, ok, detail in res.checks:
        print(f"  check {name:<30} {'ok' if ok else 'FAILED'}  {detail}")
    if trace:
        from ragbench.layers import UNITS

        if "_accounting" in res.layers:
            print(f"  accounting {json.dumps(res.layers['_accounting'])}")
        # every per-layer metric; a layer this workload does not exercise reads 0
        metrics = {k: {"value": float(res.layers.get(k, 0.0)), "unit": u}
                   for k, u in UNITS.items()}
    else:
        metrics = {k: {"value": float(values[k][0]), "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": all(ok for _n, ok, _d in res.checks),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "oaim_sandbox_spark", "__init__.py")):
        print("ragbench: run from the repository root; oaim_sandbox_spark/ is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".ragbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = configure_env(work)

    import importlib

    from ragbench import trace as T

    mod = importlib.import_module(f"ragbench.{args.workload}")
    from oaim_sandbox_spark.session import get_spark

    spark = get_spark(f"ragbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = T.Tracer(spark, enabled=bool(args.trace))
    # NumPy seeds must be non-negative; every other seed maps to itself
    ctx = Ctx(spark, args.seed % 2**63, args.seconds, tracer, work)
    try:
        res = mod.run(ctx, t0=T0)
        peak = peak_rss_mb(spark)
        if args.trace:
            tracer.restore()
            jobs = T.harvest(spark)
            res.layers.update(mod.layer_metrics(ctx, res, jobs))
            res.layers.update(T.spark_totals(jobs))
            res.layers["spark.peak_rss_mb"] = sum(peak.values())
            T.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"),
                   tracer.spans, jobs)
    except Exception:  # noqa: BLE001 - the boundary: report and fail the run
        traceback.print_exc()
        return 1
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    out = report(args.workload, res, peak, bool(args.trace), env)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
