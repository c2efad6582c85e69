"""Benchmark entry point: one workload, one seed, one result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Builds a ``local[4]`` session, makes the workload's inputs from the
seed, times set-up, runs the workload in a closed loop for ``--seconds``
and checks every output. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (see ``perfbench/README.md``). The line before
it records the host, Spark version and session config. Everything the
run writes stays under ``.perfbench_work/`` in the repository root;
only the traced run's spans file is kept there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import proctree  # noqa: E402
from perfbench.collector import Spans, StatusStoreCollector  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: set-up repetitions per run; their median is the middle part of ``setup_s``
SETUP_REPS = 3
HEAP = "1g"


def host_calibration() -> float:
    """A fixed Spark-free CPU workload (numpy matmuls, best of 3): a
    host-speed sentinel for comparing runs made at different times.
    The same kernel as ``bench.py``'s, at a sixth of its size."""
    import numpy as np

    a = np.random.default_rng(7).random((512, 512))
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = a
        for _ in range(10):
            x = x @ a
            x /= np.abs(x).max()
        walls.append(time.perf_counter() - t0)
    return min(walls)


def build_session(work: Path):
    from pyspark.sql import SparkSession

    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    # an inherited SPARK_LOCAL_DIRS would win over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("curies-spark-perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        # a fixed-size heap: peak RSS then does not depend on when the
        # collector decides to grow the heap
        .config("spark.driver.memory", HEAP)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(local))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        # no hsperfdata file in the system /tmp: the run writes only
        # inside the repository
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{HEAP} -Djava.io.tmpdir={local} -XX:-UsePerfData",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # plan text keeps whole paths, so scans can be attributed by path
        .config("spark.sql.maxMetadataStringLength", "4096")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(spark, calibration: float) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "spark_version": spark.version,
        "python": sys.version.split()[0],
        "session_conf": {
            k: v for k, v in sorted(conf.items())
            if not k.endswith((".id", "Time", ".port", "extraJavaOptions"))
        },
        "host_calibration_s": calibration,
    }


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the program under test must be importable from the checkout; a
    # directory holding only the benchmark fails here, before any work
    import curies_spark  # noqa: F401
    import __spark_entry__  # noqa: F401

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir()

    calibration = host_calibration()
    me = os.getpid()
    rss = proctree.PeakRss(me).start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(work)
        session_start = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work / "wl", args.seed)
        spans = Spans(f"{args.workload}-{args.seed}-{me}")
        result = _measure(wl, args, spans, StatusStoreCollector(spark) if args.trace else None)
        raw = result["metrics_raw"]
        raw["setup.session_start_s"] = session_start
        raw["setup_s"] = session_start + raw["setup.inputs_s"] + raw["setup.cold_run_s"]
        raw["host.calibration_s"] = calibration
        info = environment(spark, calibration)
    finally:
        if spark is not None:
            stop_session(spark)
        peak = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    metrics = result.pop("metrics_raw")
    metrics["peak_rss_mb"] = peak / (1 << 20)
    # the metric names and units are those BENCHMARK.json declares
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        spans_dir = base / "spans"
        spans_dir.mkdir(exist_ok=True)
        spans_path = spans_dir / f"{args.workload}-seed{args.seed}-trace.json"
        spans.write(str(spans_path))
        info["spans_file"] = str(spans_path.relative_to(ROOT))
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    info.update(result.pop("info"))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "info": info}))
    print(json.dumps({
        **result,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }))
    return 0


def _measure(wl, args, spans: Spans, collector) -> dict:
    me = os.getpid()
    setup_walls = []
    for rep in range(SETUP_REPS):
        with spans.span("setup", rep=rep):
            t0 = time.perf_counter()
            wl.setup()
            setup_walls.append(time.perf_counter() - t0)
    with spans.span("expect"):
        wl.expect()

    attempted = failed = 0
    failures: list[str] = []

    def one(i: int, traced: bool):
        nonlocal attempted, failed
        mark = collector.mark() if traced else None
        cpu0 = proctree.cpu_seconds(me)
        t0 = time.perf_counter()
        start = time.time()
        try:
            outcome = wl.run(i)
        except Exception as exc:  # a failed operation is counted, not fatal
            wall = time.perf_counter() - t0
            attempted += wl.OPS
            failed += wl.OPS
            failures.append(f"run {i}: {type(exc).__name__}: {exc}")
            spans.add("operation", start, time.time(), iteration=i, failed=True)
            return None, wall, 0.0, None
        layer = None
        if traced:
            executions = collector.executions_since(mark)
            stages = collector.stages([s for e in executions for s in e.stage_ids])
        wall = time.perf_counter() - t0
        cpu = proctree.cpu_seconds(me) - cpu0
        op = spans.add("operation", start, time.time(), iteration=i, traced=traced)
        with spans.span("check", parent=op):
            wl.check(outcome)
        if traced:
            layer = wl.common_layers(executions, stages, wall)
            layer.update(wl.layers(executions, stages, wall, outcome))
            layer["io.bytes_written_per_input_byte"] = wl.written / wl.input_bytes
            spans.add_executions(executions, op, wl.phase)
        attempted += wl.OPS
        if outcome.failures:
            failed += wl.OPS
            failures.extend(f"run {i}: {f}" for f in outcome.failures)
        return outcome, wall, cpu, layer

    # the cold run: the first operation in a fresh JVM, checked like the rest
    _, cold_wall, _, _ = one(-1, False)

    walls: dict[bool, list[float]] = {False: [], True: []}
    cpus: list[float] = []
    layers: list[dict] = []
    loop_start = time.perf_counter()
    i = 0
    # a traced run alternates untraced and traced operations
    min_ops = max(wl.TIMED_OPS, 2) if args.trace else wl.TIMED_OPS
    while i < min_ops or time.perf_counter() - loop_start < args.seconds:
        traced = bool(args.trace) and i % 2 == 1
        outcome, wall, cpu, layer = one(i, traced)
        if outcome is not None:
            walls[traced].append(wall)
            cpus.append(cpu)
            if layer is not None:
                layers.append(layer)
        i += 1

    raw = {
        "wall_s": statistics.median(walls[False]) if walls[False] else 0.0,
        "cpu_s": statistics.median(cpus) if cpus else 0.0,
        "setup.inputs_s": statistics.median(setup_walls),
        "setup.cold_run_s": cold_wall,
    }
    if args.trace:
        if layers:
            for key in layers[0]:
                raw[key] = statistics.median(layer[key] for layer in layers)
        if walls[True] and walls[False]:
            raw["trace.overhead_s"] = statistics.median(walls[True]) - raw["wall_s"]
        with spans.span("probes"):
            raw.update(wl.probes())
    info = {
        "cold_wall_s": cold_wall,
        "op_walls_s": walls[False],
        "op_cpu_s": cpus,
        "operations_traced": len(walls[True]),
        "setup_walls_s": setup_walls,
        "input_shares": getattr(wl, "shares", None),
        "failures": failures[:20],
    }
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics_raw": raw,
        "info": info,
    }


if __name__ == "__main__":
    sys.exit(main())
