"""Shared pieces of the benchmark: statistics, host diagnostics, memory,
and the layer calls the workloads share with their warmups (stream
drain, GET)."""

from __future__ import annotations

import math
import os
import resource
import statistics
import time

import gen


def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean(xs):
    """Geometric mean: every value moves it by the same share, whatever
    its rank, so unlike operations can share one figure."""
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    return os.getloadavg()[0]


def calib_scan_s(spark) -> float:
    """Host anchor: a fixed range aggregate, best of three (the same
    shape as the drift anchor in bench.py)."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 20_000_000, 1, 4).selectExpr("sum(id * 7 % 13)").collect()
        best = min(best, time.perf_counter() - t)
    return best


def peak_rss_mb(spark) -> float:
    """The JVM's peak resident set (VmHWM) plus this Python process's
    maximum RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


# --------------------------------------------------------------------------
# layer calls shared by the warmups and the workloads


def drain(spark, drop_dir: str, wh, ckpt: str, reject_dir: str, tracer, n_files: int):
    """Drain every file in ``drop_dir`` through ``streaming.pipeline
    .ingest_stream`` (one file per micro-batch, availableNow); ``n_files``
    of them are new. Returns the progress events of the batches that
    read a file. Raises if the stream died or read another number of
    files."""
    from sensor_data_pipeline___spark.streaming import pipeline

    lines = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(drop_dir)
    with tracer.span("stream.drain"):
        q = pipeline.ingest_stream(spark, None, wh, ckpt, reject_dir=reject_dir, lines=lines)
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream died: {q.exception()}")
    got = [p for p in q.recentProgress if p.numInputRows > 0]
    if len(got) != n_files:
        raise RuntimeError(f"drain: {len(got)} batches for {n_files} files")
    return got


def get(wh, d0: int, d1: int, tracer, op_id: str | None):
    """One ``GET /data?from=&to=`` for the days ``[d0, d1)`` (the API's
    date-only ``to`` is inclusive): the serving query over the
    warehouse tables, in wire format, fetched through Arrow. Returns
    (arrow table, build seconds, fetch seconds)."""
    from sensor_data_pipeline___spark.operators import serving
    from sensor_data_pipeline___spark.warehouse import GOLD, SILVER

    with tracer.op("serving.get", op_id) if op_id else tracer.span("serving.get"):
        t0 = time.perf_counter()
        with tracer.span("serving.build"):
            df = serving.to_wire_format(
                serving.readings_by_date_range(
                    wh.read(SILVER), wh.read(GOLD), gen.day_str(d0), gen.day_str(d1 - 1))
            )
        t1 = time.perf_counter()
        with tracer.span("serving.fetch"):
            tbl = df.toArrow()
        t2 = time.perf_counter()
    tracer.note("serving.get_ms_long" if d1 - d0 > 1 else "serving.get_ms_short",
                (t2 - t0) * 1e3)
    tracer.note("serving.rows_per_get", tbl.num_rows)
    return tbl, t1 - t0, t2 - t1
