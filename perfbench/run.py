"""Benchmark entry point.

    python3 perfbench/run.py --workload sensor_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. Every run times a fixed amount of work
per workload (see perfbench/README.md); ``--seconds`` is accepted for
the benchmark contract and not used. Prints one JSON object as the last line
of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything it writes goes under
``.perfbench_work/`` in the current directory; the per-run diagnostics
and, for traced runs, the span file are kept in ``.perfbench_work/out/``.
See perfbench/README.md for how to read them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_PROC = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("sensor_stream", "sensor_api", "corpus_queries")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted and not used: the timed work is fixed per workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside ``work``; turn on
    the event log (submit time) for a traced run."""
    import tracing

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        args += tracing.eventlog_confs(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        a if " " not in a else f'"{a}"' for a in args) + " pyspark-shell"


def _stop() -> None:
    """Stop the Spark context and the JVM it launched, and wait for the
    JVM to exit. Does nothing the second time."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw, SparkContext._gateway = SparkContext._gateway, None
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    a = _args(argv)
    cwd = os.getcwd()
    sys.path.insert(0, cwd)
    try:
        import sensor_data_pipeline___spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {cwd}: {e}", file=sys.stderr)
        return 2

    base = os.path.join(cwd, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    _environment(work, bool(a.trace))
    # a plain SIGTERM would skip the clean-up below and orphan the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = _run(a, work, out_dir)
    finally:
        _stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(a, work: str, out_dir: str) -> dict:
    """One run: inputs, set-up, the timed phase and the checks; returns
    the result object."""
    import common
    import layers
    import tracing
    import wl_api
    import wl_corpus
    import wl_stream
    from sensor_data_pipeline___spark.session import get_spark

    tracer = tracing.Tracer(bool(a.trace))
    layers.instrument(tracer)
    n_cpus = common.cpus()
    diag = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": n_cpus,
            "loadavg_start": common.loadavg()}

    # the seeded inputs, before the session: their generation is the
    # benchmark's own cost, timed apart and left out of setup_s
    cls = {"sensor_stream": wl_stream, "sensor_api": wl_api,
           "corpus_queries": wl_corpus}[a.workload].Workload
    t0 = time.perf_counter()
    wl = cls(os.path.join(work, "wl"), a.seed)
    diag["gen_s"] = time.perf_counter() - t0

    # set-up: process start to the first timed operation, less the
    # generation -- the JVM and session, then the workload's untimed
    # warmup (a first pass through the layers it uses)
    t0 = time.perf_counter()
    with tracer.span("session.get_spark", op="setup"):
        spark = get_spark("perfbench", cpus=n_cpus)
        tracer.bind(spark)
    diag["get_spark_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("session.warmup", op="setup"):
        wl.warmup(spark, tracer)
    diag["warmup_s"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_PROC - diag["gen_s"]

    tracer.phase = "timed"
    epoch0, t0 = time.time(), time.perf_counter()
    wl.run()
    diag["timed_s"] = time.perf_counter() - t0
    timed_window = (epoch0 * 1e3, time.time() * 1e3)  # event-log clock
    tracer.phase = "check"

    errors = wl.check()
    rss = common.peak_rss_mb(spark)
    diag["calib_scan_s"] = common.calib_scan_s(spark)
    diag["loadavg_end"] = common.loadavg()
    app_id = spark.sparkContext.applicationId
    per_layer = layers.collect(tracer, wl) if a.trace else None
    _stop()  # flushes the event log

    attempted = wl.attempted()
    failed = wl.failed + (1 if errors else 0)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_ms_gmean": (common.gmean(wl.ops_ms()), "ms"),
        "pass_s": (common.median(wl.passes), "s"),
    }
    diag.update(detail=wl.detail(), errors=errors, peak_rss_mb=rss, attempted=attempted,
                failed=failed, setup_s=setup_s, passes=wl.passes, ops_ms=wl.ops_ms(),
                end_to_end={k: v for k, (v, _) in metrics.items()})
    if a.trace:
        ev = tracing.read_eventlog(os.path.join(work, "eventlog"), app_id)
        per_layer.update(layers.from_eventlog(ev, wl, timed_window, diag))
        per_layer["trace.pass_s"] = (metrics["pass_s"][0], "s")
        per_layer["trace.op_ms_gmean"] = (metrics["op_ms_gmean"][0], "ms")
        per_layer["session.peak_rss_mb"] = (rss, "MB")
        per_layer["host.calib_scan_s"] = (diag["calib_scan_s"], "s")
        metrics = per_layer
        tracer.dump(os.path.join(out_dir, f"spans-{a.workload}-s{a.seed}.json"),
                    {"diagnostics": diag})
    with open(os.path.join(out_dir, f"run-{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(diag, f, indent=1, default=str)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    return {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
