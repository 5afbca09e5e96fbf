"""driftspark benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload validate_images --seed 1 --seconds 25 --trace 0

Runs from the root of a source checkout (``driftspark/`` beside
``perfbench/``) at ``local[<cores / 2>]``.  Set-up (session start, the median
of three seeded input generations, and the warm-up units) is billed to
``setup_s``; then units of work run for about ``--seconds``, and each unit's
outputs are checked against counts derived from the generator's parameters.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` first measures
untraced for half the time, then restarts the SparkContext with the event log
on, calls every layer serially inside spans, measures traced units for the
other half, and prints the per-layer metrics.

stdout ends with two JSON lines: the host context with a readable summary,
then the result ``{"correct", "attempted", "failed", "metrics"}``.
Everything written goes under ``.perfbench_work/`` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
GENERATIONS = 3  # inputs are generated this often and the median time reported


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _task_slots() -> int:
    """Spark task slots: half the cores.  A unit is bound by per-job fixed
    cost, so local[2] on 4 cores runs it no slower than local[4], and fewer
    task threads leave the other cores to the JVM's JIT compiler threads,
    which use about as much CPU per unit as the tasks do."""
    return max(1, _cores() // 2)


def _loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _git_commit():
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        target = ROOT / ".git" / ref[5:]
        return target.read_text().strip() if target.is_file() else None
    return ref


def start_session(work: Path, event_dir: Path | None = None):
    from driftspark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{_task_slots()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_hwm_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def shutdown() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Run:
    """Counts units attempted and failed; a unit fails when it raises, when
    a check fails, or when its verdict digest differs from the first one."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.digest = None

    def unit(self, fn):
        try:
            u = fn()
        except Exception:  # a failing unit is counted, and the run goes on
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            return None
        if self.digest is None:
            self.digest = u.digest
        if u.digest != self.digest:
            u.errors.append(f"verdict digest {u.digest} != {self.digest}")
        for e in u.errors:
            print(f"check failed: {e}", file=sys.stderr)
        self.attempted += 1
        self.failed += 1 if u.errors else 0
        return u

    def until(self, seconds: float, fn):
        """Run units for about ``seconds``: a unit starts only while its
        expected midpoint (from the previous unit and its checks) is before
        the deadline."""
        units, deadline, last = [], time.perf_counter() + seconds, 0.0
        while not units or time.perf_counter() + last / 2 < deadline:
            t = time.perf_counter()
            u = self.unit(fn)
            if u is None:
                if time.perf_counter() >= deadline:
                    break
                continue
            units.append(u)
            last = time.perf_counter() - t
        return units


def _traced_unit(wl, tr):
    with tr.span("trace.unit"):
        return wl.traced_unit(tr)


def measure(args, work: Path):
    from workloads import WORKLOADS

    run = Run()
    t = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t

    wl = WORKLOADS[args.workload](args.seed)
    gen_s = []
    for k in range(GENERATIONS):
        t = time.perf_counter()
        wl.generate(spark, str(work / f"inputs-{k}"))
        gen_s.append(time.perf_counter() - t)
    inputs = work / "inputs"
    (work / f"inputs-{GENERATIONS - 1}").rename(inputs)
    for k in range(GENERATIONS - 1):
        shutil.rmtree(work / f"inputs-{k}")
    t = time.perf_counter()
    wl.open(spark, str(inputs))
    warm = [run.unit(wl.unit) for _ in range(wl.warmup_units)]
    setup_s = session_s + statistics.median(gen_s) + (time.perf_counter() - t)
    if None in warm:
        raise RuntimeError("a warm-up unit failed")

    seconds = args.seconds / 2 if args.trace else args.seconds
    units = run.until(seconds, wl.unit)
    wall_s = statistics.median(u.wall for u in units)
    summary = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "rows_per_s": units[0].rows / wall_s,
        "unit_walls": [u.wall for u in units],
        "warmup_walls": [u.wall for u in warm],
        "session_s": session_s,
        "generate_s": gen_s,
    }
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "rows_per_s": (summary["rows_per_s"], "rows/s"),
        }
        return run, metrics, summary

    # ---- traced half: same process, SparkContext restarted with the event log
    from spans import SPARK_STATS, Tracer, attribute
    from workloads import EXTRA_LAYER_METRICS, LAYERS

    wl.prepare_trace()
    spark.stop()
    event_dir = work / "eventlog"
    event_dir.mkdir()
    spark = start_session(work, event_dir)
    tr = Tracer()
    with tr.span("trace.run"):
        with tr.span("trace.open"):
            wl.open(spark, str(inputs))
        layer_errors = wl.layers(tr)
        traced = run.until(seconds, lambda: _traced_unit(wl, tr))
    for e in layer_errors:
        print(f"check failed: {e}", file=sys.stderr)
    run.attempted += 1
    run.failed += 1 if layer_errors else 0
    hwm = jvm_hwm_mb()
    spark.stop()
    attr = attribute(tr, str(event_dir), root="trace.run")

    metrics = {}
    for name, heavy in LAYERS:
        metrics[f"{name}.wall_s"] = (tr.wall_s(name), "s")
        if heavy:
            for stat, unit in SPARK_STATS.items():
                metrics[f"{name}.{stat}"] = (attr.get(name, {}).get(stat, 0.0), unit)
    traced_wall_s = statistics.median(u.wall for u in traced)
    extra = {
        "session.get_spark.wall_s": session_s,
        "session.jvm_hwm_mb": hwm,
        "trace.unattributed_run_s": attr["unattributed"]["run_s"],
        "trace.overhead_s": traced_wall_s - wall_s,
        **wl.layer_metrics(tr),
    }
    for name, unit in EXTRA_LAYER_METRICS:
        metrics[name] = (extra.get(name, 0.0), unit)
    summary["traced_unit_walls"] = [u.wall for u in traced]
    return run, metrics, summary


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "driftspark" / "__init__.py").is_file():
        print(f"perfbench: no driftspark package in {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    # Python workers import driftspark from this checkout; all scratch stays in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # every JVM, the launcher's too: no hsperfdata files, temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"

    import pyspark

    steal = _steal_s()
    host = {
        "loadavg_before": _loadavg(),
        "nproc": _cores(),
        "task_slots": _task_slots(),
        "spark": pyspark.__version__,
        "git_commit": _git_commit(),
    }
    try:
        run, metrics, summary = measure(args, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass  # another run still uses it
    host["loadavg_after"] = _loadavg()
    host["cpu_steal_s"] = _steal_s() - steal
    summary["failed_frac"] = run.failed / run.attempted
    summary["digest"] = run.digest
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "host": host, "summary": summary}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
