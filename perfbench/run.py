"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,search} --seed N \
        --seconds S --trace {0,1} [--scale F]

Run from the repository root. Builds the workload's inputs from ``--seed``,
starts one Spark session on ``local[<cores>]``, sets up three times (the
median is ``setup_s``), then times one closed-loop client for ``--seconds``
and checks every output.
Human-readable lines go to standard error and the last line of standard
output is the JSON result. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics from a traced run and writes
its spans to ``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/`` and its scratch directory is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="multiplies every input size; the smoke test runs at a small scale",
    )
    a = p.parse_args(argv)
    if a.seed < 0 or a.seconds <= 0 or a.scale <= 0:
        p.error("--seed must be >= 0, --seconds and --scale > 0")
    return a


def _stop_spark(spark, tree) -> None:
    """Stop the session, then the JVM gateway, and wait until every process
    the run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    started = [p for p in tree.pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return False
    return raw[raw.rfind(")") + 2] != "Z"


def main(argv=None) -> int:
    args = _args(argv)
    work = os.path.join(
        ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    try:
        return _main(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _main(args: argparse.Namespace, work: str) -> int:
    try:
        import ocr_search_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing: {exc}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    base = os.path.dirname(work)
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every file the JVM, the Python workers and tempfile write inside
    # the run's scratch directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)

    from perfbench import workloads
    from perfbench.trace import ProcTree, Tracer
    from ocr_search_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    tree = ProcTree()
    spark = None
    try:
        spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        run = workloads.Run(
            spark=spark, cores=cores, work=work, seed=args.seed, scale=args.scale,
            seconds=args.seconds, tree=tree, t_start=T_START,
            tracer=Tracer(spark, tree) if args.trace else None,
        )
        run.mark("session")
        run.layer["session.start_s"] = run.report["marks_s"]["session"]
        workloads.WORKLOADS[args.workload](run)
        _stop_spark(spark, tree)
        spark = None
        run.mark("stopped")
        if args.trace:
            logs = [os.path.join(work, "events", f) for f in os.listdir(os.path.join(work, "events"))]
            workloads.event_log_metrics(run, logs[0])
    finally:
        if spark is not None:
            _stop_spark(spark, tree)

    run.e2e["setup_s"] = run.setup_s
    error_rate = run.failed / run.attempted if run.attempted else 1.0
    report = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "attempted": run.attempted, "failed": run.failed, "error_rate": error_rate,
        **run.report,
    }
    if args.trace:
        metrics = {
            name: {"value": float(run.layer.get(name, 0.0)), "unit": unit}
            for name, (unit, _span, _target) in PER_LAYER.items()
        }
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        trace_path = os.path.join(base, "traces", f"{args.workload}-{args.seed}-{os.getpid()}.json")
        run.tracer.dump(trace_path, {"report": report, "layer": run.layer, "e2e": run.e2e})
        _print_layer_report(run, args.workload, trace_path)
    else:
        metrics = {
            name: {"value": float(run.e2e[name]), "unit": unit}
            for name, unit in END_TO_END.items()
        }
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"error_rate = {error_rate:.6g} ratio ({run.failed}/{run.attempted})", file=sys.stderr)
    print(json.dumps(report, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _print_layer_report(run, workload: str, trace_path: str) -> None:
    by_name = run.report.get("spans_by_name", {})
    print(f"per-layer report ({workload}); spans in {trace_path}", file=sys.stderr)
    print(f"{'metric':44} {'value':>14} {'self s':>12}  moves", file=sys.stderr)
    for name, (_unit, span, target) in PER_LAYER.items():
        self_s = by_name.get(span, {}).get("self_s") if span else None
        self_txt = f"{self_s:12.4f}" if self_s is not None else f"{'-':>12}"
        print(
            f"{name:44} {run.layer.get(name, 0.0):14.6g} {self_txt}  {target}",
            file=sys.stderr,
        )


if __name__ == "__main__":
    sys.exit(main())
