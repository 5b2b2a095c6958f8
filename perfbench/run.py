"""Benchmark entry point: one seeded workload, closed-loop timed passes.

    python3 perfbench/run.py --workload kg_scale --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run starts its own Spark session
(local[k], k = min(4, CPU-affinity count)), generates the workload's input
from ``--seed`` into parquet under ``.perfbench_work/``, runs the workload's
untimed warm-up passes, then runs timed passes until ``--seconds`` have
elapsed.
Every pass's outputs are checked; a pass that raises or fails a check is a
failed operation.

``--trace 0`` reports the end-to-end metrics, each the median over the timed
passes except ``setup_s``: ``wall_s``, ``cpu_s`` and ``peak_rss_mb`` of the
process tree (Python driver, JVM, Python workers), ``output_mb`` left on
disk, and ``setup_s`` from process start to warm-up done (input generation
included). ``--trace 1`` runs the same timed passes, then restarts the
session with the event log on and runs one traced pass whose spans split
the work into layers; it reports the per-layer metrics (see eventlog.py).

The last stdout line is the result JSON. The line before it is a context
record: effective Spark conf, per-pass values, host drift (steal/iowait
deltas and load average) and, for traced runs, the per-layer table with the
base of every ratio. The same record is written to
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".perfbench_work"
PINS = Path(__file__).resolve().parent / "pinned.json"
DRIVER_MEMORY = "2g"
MAX_CORES = 4
# stop starting timed passes once a run would pass this, whatever --seconds
# says: a run must end within 180 s
RUN_DEADLINE_S = 140.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment() -> None:
    """Fix what the host environment could otherwise change: thread pools
    of the Python workers, conf overlays, temp and scratch locations (all
    inside the checkout) and the import path the workers see."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "ARROW_NUM_THREADS"):
        os.environ[var] = "1"
    # session conf overlays and the program's own debug/tuning switches
    for var in [v for v in os.environ if v.startswith("OPENIE_")] + ["SPARK_GRAFT_EXTRA_CONF"]:
        os.environ.pop(var, None)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def session_conf(event_log_dir: Path | None) -> dict:
    tmp = WORK / "tmp"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # the heap is committed and touched at its fixed size up front, so
        # the tree's resident memory does not wander with the heap's
        # adaptive growth from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        conf[f"spark.executorEnv.{var}"] = "1"
    if event_log_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log_dir.as_uri(),
            }
        )
    return conf


def warm_python_workers(spark) -> None:
    """Fork the Python workers once so no timed span pays their start."""
    n = 2 * spark.sparkContext.defaultParallelism
    spark.range(n * 10, numPartitions=n).mapInPandas(lambda batches: batches, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


class Pass:
    """One checked pass of a workload and its process-tree readings."""

    def __init__(self, wl, out: Path, timed: bool = True):
        """Untimed passes are the warm-up on the small input: a raise counts,
        but their outputs are not the benchmark's and are not checked."""
        from perfbench import host
        from perfbench.workloads import clear_dir, dir_mb

        clear_dir(out)
        host.reset_peak_rss()
        cpu0 = host.tree_cpu()
        t0 = time.perf_counter()
        self.error = None
        try:
            wl.run_pass(out)
        except Exception:
            self.error = traceback.format_exc()
        self.wall_s = time.perf_counter() - t0
        self.cpu_s = host.cpu_delta(cpu0, host.tree_cpu())
        self.peak_rss_mb = host.tree_peak_rss_mb()
        self.output_mb = dir_mb(out)
        self.problems = run_check(wl, out) if timed and not self.error else []
        if self.error:
            print(self.error, file=sys.stderr)
        self.timed = timed

    @property
    def ok(self) -> bool:
        return self.error is None and not self.problems

    def record(self) -> dict:
        return {
            "timed": self.timed,
            "ok": self.ok,
            "wall_s": self.wall_s,
            "cpu_s": self.cpu_s,
            "peak_rss_mb": self.peak_rss_mb,
            "output_mb": self.output_mb,
            "problems": self.problems,
        }


def run_check(wl, out: Path) -> list[str]:
    try:
        return wl.check(out)
    except Exception:
        return ["check raised: " + traceback.format_exc()]


def traced_run(wl, spark, cores: int, untraced_wall_s: float):
    """Restart the session with the event log on, run one traced pass and
    turn its log into the per-layer metrics. → (metrics, table, problems)."""
    from openie_spark.session import build_session
    from perfbench.eventlog import LAYERS, find_event_log, layer_table, per_layer_metric_names
    from perfbench.workloads import Tracer, clear_dir

    log_dir = WORK / wl.name / "eventlog"
    clear_dir(log_dir)
    spark.stop()
    spark = build_session(master=f"local[{cores}]", extra_conf=session_conf(log_dir))
    warm_python_workers(spark)
    wl.reopen(spark)
    out = WORK / wl.name / "passes" / "traced"
    clear_dir(out)
    tracer = Tracer(spark)
    t0 = time.perf_counter()
    extras = wl.traced_pass(tracer, out)
    traced_wall_s = time.perf_counter() - t0
    problems = run_check(wl, out)
    app_id = spark.sparkContext.applicationId
    spark.stop()  # closes and renames the event log
    table = layer_table(find_event_log(log_dir, app_id), tracer.spans)

    spanned = set(table)
    for layer in wl.stressed:
        if layer not in spanned or table[layer]["jobs"] <= 0:
            problems.append(f"stressed layer {layer} ran no Spark job")
    for layer in sorted(spanned - set(wl.stressed)):
        problems.append(f"layer {layer} has a span on a workload that bypasses it")

    extras["trace.overhead_s"] = (
        traced_wall_s - untraced_wall_s,
        f"traced pass {traced_wall_s:.3f} s minus untraced median {untraced_wall_s:.3f} s",
    )
    metrics = {}
    for name, unit in per_layer_metric_names().items():
        layer, _, metric = name.rpartition(".")
        if name in extras:
            value = extras[name][0]
        elif layer in table:
            value = table[layer][metric]
        else:
            value = 0  # the workload bypasses this layer
        metrics[name] = {"value": value, "unit": unit}
    bases = {name: base for name, (_, base) in extras.items()}
    rows = {layer: table[layer] for layer in LAYERS if layer in table}
    return metrics, {"layers": rows, "extras_base": bases}, problems


def shutdown() -> None:
    """Stop the active session and the JVM, and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    from perfbench import host

    pids = [p for p in host.tree_pids() if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    host.stop_tree(pids)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import openie_spark  # the program under test

        from perfbench import host
        from perfbench.workloads import WORKLOADS, clear_dir
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if Path(openie_spark.__file__).resolve().parents[1] != ROOT.resolve():
        print(f"perfbench: openie_spark is not the one in {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    pin_environment()
    drift = host.HostDrift()
    from openie_spark.session import build_session

    spark = build_session(master=f"local[{cores}]", extra_conf=session_conf(None))
    try:
        conf = dict(sorted(spark.sparkContext.getConf().getAll()))
        data_dir = WORK / args.workload / "input"
        clear_dir(data_dir)
        pins = json.loads(PINS.read_text()).get(args.workload, {}) if PINS.is_file() else {}
        wl = WORKLOADS[args.workload](spark, data_dir, args.seed, pins)
        wl.generate()
        passes_dir = WORK / args.workload / "passes"
        wl.open(wl.warmup_input)
        passes = [Pass(wl, passes_dir / f"warmup{i}", timed=False) for i in range(wl.warmup_passes)]
        wl.open("main")
        setup_s = host.seconds_since_process_start()

        t_measure = time.monotonic()
        while True:  # closed loop: the next pass starts when one ends
            passes.append(Pass(wl, passes_dir / f"pass{len(passes)}"))
            elapsed = time.monotonic() - t_measure
            next_end = host.seconds_since_process_start() + passes[-1].wall_s
            if elapsed >= args.seconds or next_end > RUN_DEADLINE_S:
                break
        timed = [p for p in passes if p.timed]

        def med(attr):
            return statistics.median(getattr(p, attr) for p in timed)

        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "spark_conf": conf,
            "passes": [p.record() for p in passes],
            "observed": wl.observed,
        }
        traced = None
        if args.trace:
            try:
                metrics, table, problems = traced_run(wl, spark, cores, med("wall_s"))
                traced = {"ok": not problems, "problems": problems}
                context["per_layer"] = table
            except Exception:
                traced = {"ok": False, "problems": [traceback.format_exc()]}
                metrics = {}
            context["traced_pass"] = traced
        else:
            metrics = {
                "wall_s": {"value": med("wall_s"), "unit": "s"},
                "cpu_s": {"value": med("cpu_s"), "unit": "s"},
                "peak_rss_mb": {"value": med("peak_rss_mb"), "unit": "MB"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "output_mb": {"value": med("output_mb"), "unit": "MB"},
            }
    finally:
        shutdown()
    context["host_drift"] = drift.finish()

    oks = [p.ok for p in passes] + ([traced["ok"]] if traced else [])
    result = {
        "correct": all(oks),
        "attempted": len(oks),
        "failed": oks.count(False),
        "metrics": metrics,
    }
    results_dir = WORK / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    record = json.dumps({"context": context, "result": result}, default=str)
    (results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(record)
    clear_dir(WORK / args.workload)
    print(json.dumps({"perfbench_context": context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
