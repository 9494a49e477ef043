"""Per-layer metrics of a traced run, named after the program's modules.

Every workload reports every metric, over its timed phase. A metric of
a layer the workload bypasses is 0; perfbench/README.md names the
workload that owns each metric.
"""

from __future__ import annotations

import functools
import statistics

import common
import tracing

STREAM_PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "getBatch",
                 "queryPlanning")


def instrument(tracer) -> None:
    """Wrap the program's public layer functions in spans (traced run
    only): the incremental DAG steps and the warehouse reads and
    writes. ``run_pipeline`` also records how many silver bytes each
    call rewrote against how many it added."""
    if not tracer.enabled:
        return
    from sensor_data_pipeline___spark.operators import incremental
    from sensor_data_pipeline___spark.warehouse import SILVER, Warehouse

    tracer.wrap(incremental, "run_silver", "incremental.run_silver")
    tracer.wrap(incremental, "run_gold", "incremental.run_gold")
    tracer.wrap(Warehouse, "read", "warehouse.read")
    tracer.wrap(Warehouse, "write", "warehouse.write")
    fn = incremental.run_pipeline

    @functools.wraps(fn)
    def run_pipeline(wh, *a, **kw):
        before = wh.file_stats(SILVER) if wh.exists(SILVER) else {}
        with tracer.span("incremental.run_pipeline"):
            out = fn(wh, *a, **kw)
        after = wh.file_stats(SILVER)
        rewritten = sum(b for p, (n, b) in after.items() if before.get(p) != (n, b))
        added = sum(b for _, b in after.values()) - sum(b for _, b in before.values())
        tracer.note("silver.rewrite", (rewritten, added))
        return out

    incremental.run_pipeline = run_pipeline


def _p(xs, q):
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def collect(tracer, wl) -> dict:
    spans: dict[str, list] = {}
    for s in tracer.spans:
        spans.setdefault((s["phase"], s["name"]), []).append(s["end"] - s["start"])

    def dur(name):
        return spans.get(("timed", name), [])

    def timed(kind):
        return [v for ph, v in tracer.notes.get(kind, []) if ph == "timed"]

    def per(name, key):
        gs = [g for g in tracer.groups.values() if g["name"] == name]
        return common.median([g[key] for g in gs]) if gs else 0

    m: dict[str, tuple] = {}
    m["session.get_spark_s"] = (spans[("setup", "session.get_spark")][0], "s")
    m["session.warmup_s"] = (spans[("setup", "session.warmup")][0], "s")

    m["ingest.post_ms_p50"] = (common.median(dur("ingest.post")) * 1e3, "ms")
    m["ingest.jobs_per_post"] = (per("ingest.post", "jobs"), "count")
    m["ingest.tasks_per_post"] = (per("ingest.post", "tasks"), "count")

    batches = getattr(wl, "batches", None) or []
    trig = [b["durations"]["triggerExecution"] for b in batches]
    m["stream.batch_ms_p50"] = (common.median(trig), "ms")
    m["stream.batch_ms_p90"] = (_p(trig, 90), "ms")
    for kind in ("late", "inorder"):
        m[f"stream.batch_ms_p50_{kind}"] = (common.median(
            [b["durations"]["triggerExecution"] for b in batches if b["kind"] == kind]), "ms")
    for ph in STREAM_PHASES:
        m[f"stream.{ph}_ms_p50"] = (common.median(
            [b["durations"].get(ph, 0) for b in batches]), "ms")

    m["incremental.run_pipeline_ms_p50"] = (
        common.median(dur("incremental.run_pipeline")) * 1e3, "ms")
    m["incremental.run_silver_s_p50"] = (common.median(dur("incremental.run_silver")), "s")
    m["incremental.run_gold_s_p50"] = (common.median(dur("incremental.run_gold")), "s")
    m["incremental.tick_s_p50"] = (common.median(dur("incremental.tick")), "s")
    m["incremental.jobs_per_tick"] = (per("incremental.tick", "jobs"), "count")
    rw = timed("silver.rewrite")
    added = sum(a for _, a in rw)
    m["silver.bytes_rewritten_per_byte_added"] = (
        sum(r for r, _ in rw) / added if added > 0 else 0.0, "ratio")

    gets = dur("serving.get")
    m["serving.get_ms_p50"] = (common.median(gets) * 1e3, "ms")
    m["serving.get_ms_p90"] = (_p(gets, 90) * 1e3, "ms")
    m["serving.get_ms_p50_short"] = (common.median(timed("serving.get_ms_short")), "ms")
    m["serving.get_ms_p50_long"] = (common.median(timed("serving.get_ms_long")), "ms")
    m["serving.build_ms_p50"] = (common.median(dur("serving.build")) * 1e3, "ms")
    m["serving.fetch_ms_p50"] = (common.median(dur("serving.fetch")) * 1e3, "ms")
    m["serving.jobs_per_get"] = (per("serving.get", "jobs"), "count")
    m["serving.rows_per_get_p50"] = (common.median(timed("serving.rows_per_get")), "count")

    wh = getattr(wl, "wh", None)
    for t in ("bronze", "silver", "gold"):
        n = 0
        if wh is not None:
            from sensor_data_pipeline___spark import warehouse as W

            table = {"bronze": W.BRONZE, "silver": W.SILVER, "gold": W.GOLD}[t]
            n = sum(c for c, _ in wh.file_stats(table).values()) if wh.exists(table) else 0
        m[f"warehouse.files_{t}"] = (n, "count")
    in_bytes = getattr(wl, "input_bytes", 0)
    if wh is not None and in_bytes:
        from sensor_data_pipeline___spark import warehouse as W

        total = sum(b for t in (W.BRONZE, W.SILVER, W.GOLD) if wh.exists(t)
                    for _, b in wh.file_stats(t).values())
        m["warehouse.bytes_per_input_byte"] = (total / in_bytes, "ratio")
    else:
        m["warehouse.bytes_per_input_byte"] = (0.0, "ratio")
    m["warehouse.write_ms_p50"] = (common.median(dur("warehouse.write")) * 1e3, "ms")
    m["warehouse.read_ms_p50"] = (common.median(dur("warehouse.read")) * 1e3, "ms")

    recs = getattr(wl, "records", None) or []
    passes = sorted({r["pass"] for r in recs})

    def per_pass(key):
        return common.median([sum(r[key] for r in recs if r["pass"] == p) for p in passes])

    m["queries.construct_s"] = (per_pass("construct_s"), "s")
    m["queries.action_s"] = (per_pass("action_s"), "s")
    m["queries.jobs_construct"] = (per_pass("jobs_construct"), "count")
    m["queries.jobs_action"] = (per_pass("jobs_action"), "count")
    jobs = sum(r["jobs_construct"] + r["jobs_action"] for r in recs)
    m["queries.tasks_per_job"] = (sum(r["tasks"] for r in recs) / jobs if jobs else 0.0, "count")

    selfs = tracing.self_times([s for s in tracer.spans if s["phase"] == "timed"])
    for layer in ("ingest.post", "stream.drain", "incremental.run_pipeline",
                  "warehouse.read", "warehouse.write", "serving.build", "serving.fetch",
                  "queries.construct", "queries.action"):
        m[f"self_s.{layer}"] = (selfs.get(layer, 0.0), "s")
    return m


def from_eventlog(jobs: dict, wl, window: tuple, diag: dict) -> dict:
    """Executor-side totals over the timed phase, and stream jobs
    attributed to micro-batches by their batch id (the caller's job
    groups never see them: they run under the stream's own)."""
    lo, hi = window
    timed = [j for j in jobs.values() if j["submit_ms"] is not None and lo <= j["submit_ms"] <= hi]
    m = {
        "eventlog.jobs": (len(timed), "count"),
        "eventlog.tasks": (sum(j["tasks"] for j in timed), "count"),
        "eventlog.executor_cpu_s": (sum(j["cpu_s"] for j in timed), "s"),
        "eventlog.executor_run_s": (sum(j["run_s"] for j in timed), "s"),
        "eventlog.gc_s": (sum(j["gc_s"] for j in timed), "s"),
        "eventlog.shuffle_read_bytes": (sum(j["shuffle_read"] for j in timed), "B"),
        "eventlog.shuffle_write_bytes": (sum(j["shuffle_write"] for j in timed), "B"),
        "eventlog.spill_bytes": (sum(j["spill"] for j in timed), "B"),
    }
    batches = getattr(wl, "batches", None) or []
    runs = {b["run_id"] for b in batches}
    stream_jobs = [j for j in timed if j["group"] in runs]
    for b in batches:
        mine = [j for j in stream_jobs if j["group"] == b["run_id"]
                and j["batch"] == str(b["batch_id"])]
        b["jobs"], b["tasks"] = len(mine), sum(j["tasks"] for j in mine)
    diag["stream_jobs"] = len(stream_jobs)
    diag["stream_jobs_attributed"] = sum(b["jobs"] for b in batches)
    if diag["stream_jobs_attributed"] != diag["stream_jobs"]:
        raise RuntimeError(f"stream jobs: {diag['stream_jobs_attributed']} attributed to "
                           f"batches, {diag['stream_jobs']} in the drains")
    m["stream.jobs_per_batch"] = (common.median([b["jobs"] for b in batches]), "count")
    m["stream.tasks_per_batch"] = (common.median([b["tasks"] for b in batches]), "count")
    return m
