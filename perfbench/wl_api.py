"""``sensor_api``: the reference's request path, a closed loop with one
client.

The seeded generator makes the request script before the session
starts. The warmup sends ``PRELOAD`` one-day POST bodies through
``sources.ingest.ingest_batch`` into bronze, runs one hourly tick
(``operators.incremental.run_pipeline`` on the watermark path) to bring
silver and gold up to date, and sends one rejected POST and two GETs to
warm the other request kinds. The timed phase is ``PASSES`` passes. A
pass is ``CYCLES`` cycles of one POST (``LINES`` readings;
exactly one body per pass carries one invalid line and must raise
``IngestRejected``) and two GETs (one 1-day and one multi-week range
through ``operators.serving``, fetched through Arrow, each row count
checked against a model of what the last tick loaded), then one hourly
tick. No streaming.
"""

from __future__ import annotations

import os
import random
import time

import common
import gen
import tracing
import wl_stream

LINES = 2000
PRELOAD = 3
CYCLES = 3  # POSTs per tick, one of them rejected
PASSES = 2


class Workload:
    name = "sensor_api"

    def __init__(self, root, seed):
        self.root, self.seed = root, seed
        self.script = gen.api_script(seed, PRELOAD, PASSES, CYCLES, LINES)
        self.accepted: list[list[str]] = []  # bodies in bronze
        self.cycles: list[float] = []
        self.gets: list[dict] = []
        self.posts: list[float] = []
        self.ticks: list[float] = []
        self.passes: list[float] = []
        self.failed = self.rejected = self.n_ops = 0

    def warmup(self, spark, tracer) -> None:
        from sensor_data_pipeline___spark.sources.ingest import IngestRejected, ingest_batch
        from sensor_data_pipeline___spark.warehouse import BRONZE, Warehouse

        self.spark, self.tracer = spark, tracer
        self.wh = Warehouse(spark, os.path.join(self.root, "wh"))
        self.bronze = self.wh.path(BRONZE)
        for body in self.script["preload"]:
            ingest_batch(spark, body, self.bronze)
            self.accepted.append(body)
        self._tick(None)
        # untimed: warm the reject path and both GET shapes
        try:
            bad = gen._reject(random.Random(self.seed), self.script["preload"][-1])
            ingest_batch(spark, bad, self.bronze)
            raise RuntimeError("an invalid POST was accepted")
        except IngestRejected:
            pass
        last = PRELOAD - 1
        for d0, d1 in ((last, last + 1), (last - 14, last + 1)):
            rows = common.get(self.wh, d0, d1, tracing.Tracer(False), None)[0].num_rows
            if rows != sum(self._model.get(d, 0) for d in range(d0, d1)):
                raise RuntimeError(f"GET {d0}..{d1}: {rows} rows")

    def _tick(self, op_id) -> float:
        from sensor_data_pipeline___spark.operators import incremental

        t0 = time.perf_counter()
        with self.tracer.op("incremental.tick", op_id) if op_id else self.tracer.span("prep.tick"):
            incremental.run_pipeline(self.wh)
        # a GET sees what the last tick brought into silver and gold
        self._model = _day_counts(self.accepted)
        return time.perf_counter() - t0

    def _pass(self, p: int) -> None:
        from sensor_data_pipeline___spark.sources.ingest import IngestRejected, ingest_batch

        tr = self.tracer
        for c, post in enumerate(self.script["passes"][p]):
            op = f"{p}.{c}"
            t0 = time.perf_counter()
            rejected = False
            with tr.op("ingest.post", f"post{op}"):
                try:
                    ingest_batch(self.spark, post["lines"], self.bronze)
                except IngestRejected:
                    rejected = True
            t_post = time.perf_counter() - t0
            self.failed += rejected != post["reject"]
            if not rejected:
                self.accepted.append(post["lines"])
            gets = []
            for k, (d0, d1) in enumerate(post["gets"]):
                tbl, build, fetch = common.get(self.wh, d0, d1, tr, f"get{op}.{k}")
                want = sum(self._model.get(d, 0) for d in range(d0, d1))
                self.failed += tbl.num_rows != want
                gets.append({"ms": (build + fetch) * 1e3, "build_ms": build * 1e3,
                             "fetch_ms": fetch * 1e3, "rows": tbl.num_rows, "want": want,
                             "range": (d0, d1)})
            self.cycles.append(time.perf_counter() - t0)
            self.posts.append(t_post)
            self.rejected += rejected
            self.gets += gets
            self.n_ops += 3
        self.ticks.append(self._tick(f"tick{p}"))
        self.n_ops += 1

    def run(self) -> None:
        for p in range(PASSES):
            t0 = time.perf_counter()
            self._pass(p)
            self.passes.append(time.perf_counter() - t0)

    def ops_ms(self) -> list[float]:
        return [c * 1e3 for c in self.cycles]

    @property
    def input_bytes(self) -> int:
        return sum(len(ln) + 1 for body in self.accepted for ln in body)

    def attempted(self) -> int:
        return self.n_ops

    def check(self) -> list[str]:
        """The final gold table against the model of every accepted
        POST (a digest over days and rounded power values, then the
        values themselves), and the rejected-POST count."""
        import hashlib

        from sensor_data_pipeline___spark.warehouse import GOLD

        errors = []
        ref: dict[tuple, list] = {}
        for body in self.accepted:
            for ln in body:
                if ln.strip():
                    ts, name, val = ln.split()
                    day = gen.day_str((int(ts) - gen.BASE_EPOCH) // gen.DAY)
                    acc = ref.setdefault((day, name), [0, 0.0, 0])
                    acc[0] += 1
                    acc[1] += float(val)
        gold = self.wh.read(GOLD)
        got = sorted((str(r[0]), round(r[1], 6)) for r in
                     gold.select("reading_date", "metric_value").collect())
        self.gold_digest = hashlib.sha256(repr(got).encode()).hexdigest()[:16]
        errors += wl_stream.check_gold(gold, ref)
        want_rej = len(self.passes)  # one rejected POST per timed pass
        if self.rejected != want_rej:
            errors.append(f"rejected POSTs {self.rejected}, generated {want_rej}")
        if self.failed:
            errors.append(f"{self.failed} requests answered wrongly")
        return errors

    def detail(self) -> dict:
        return {"gets": self.gets, "posts_s": self.posts, "ticks_s": self.ticks,
                "gold_digest": getattr(self, "gold_digest", None)}


def _day_counts(bodies) -> dict[int, int]:
    """Rows a GET returns per day: one per reading, plus one gold row
    for a day that has both metrics."""
    counts: dict[int, int] = {}
    names: dict[int, set] = {}
    for body in bodies:
        for ln in body:
            if ln.strip():
                ts, name, _ = ln.split()
                d = (int(ts) - gen.BASE_EPOCH) // gen.DAY
                counts[d] = counts.get(d, 0) + 1
                names.setdefault(d, set()).add(name)
    for d, ns in names.items():
        if {"Voltage", "Current"} <= ns:
            counts[d] += 1
    return counts

