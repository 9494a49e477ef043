"""``sensor_stream``: the Spark-native ingest path, drained tick by tick.

Before the session starts, the seeded generator writes every tick's
files to a staging directory (5 files of ``LINES`` readings per tick:
three in order, one late, one rejected). The warmup drains tick 0, cut
to one file of each kind. Each of the ``TICKS`` timed ticks moves its
five files into the drop directory and drains them with
``streaming.pipeline.ingest_stream`` under ``availableNow``, one file
per micro-batch, as the hourly cron would. Serving and the registered
queries stay idle.
"""

from __future__ import annotations

import math
import os
import time

import common
import gen

LINES = 5000
TICKS = 2  # timed ticks after the warmup tick 0


class Workload:
    name = "sensor_stream"

    def __init__(self, root, seed):
        self.root = root
        self.ticks = gen.stream_ticks(seed, TICKS + 1, LINES)
        # the untimed tick 0 keeps one file of each kind: enough to warm
        # every path of the batch body
        first = next(f for f in self.ticks[0] if f["kind"] == "inorder")
        self.ticks[0] = [f for f in self.ticks[0] if f["kind"] != "inorder" or f is first]
        self.stage = os.path.join(root, "stage")
        self.drop = os.path.join(root, "drop")
        self.ckpt = os.path.join(root, "ckpt")
        self.rej = os.path.join(root, "rejects")
        os.makedirs(self.drop)
        mtime = time.time() - 10_000
        for t, files in enumerate(self.ticks):
            for j, f in enumerate(files):
                p = os.path.join(self.stage, f"t{t:02d}_{j}.txt")
                os.makedirs(self.stage, exist_ok=True)
                gen.write_lines(p, f["lines"])
                # the file source drains in modification-time order
                os.utime(p, (mtime, mtime))
                mtime += 1
        self.drained: list[dict] = []  # files in drain order
        self.batches: list[dict] = []  # per timed micro-batch
        self.passes: list[float] = []
        self.input_bytes = 0
        self.failed = 0  # a dead stream raises instead

    def warmup(self, spark, tracer) -> None:
        from sensor_data_pipeline___spark.warehouse import Warehouse

        self.spark, self.tracer = spark, tracer
        self.wh = Warehouse(spark, os.path.join(self.root, "wh"))
        self._tick(0)

    def _tick(self, t: int) -> list:
        for j in range(len(self.ticks[t])):
            n = f"t{t:02d}_{j}.txt"
            os.rename(os.path.join(self.stage, n), os.path.join(self.drop, n))
        got = common.drain(self.spark, self.drop, self.wh, self.ckpt, self.rej,
                           self.tracer, len(self.ticks[t]))
        self.drained.extend(self.ticks[t])
        self.input_bytes += sum(len(ln) + 1 for f in self.ticks[t] if f["kind"] != "reject"
                                for ln in f["lines"])
        return list(zip(got, self.ticks[t]))

    def run(self) -> None:
        for t in range(1, TICKS + 1):
            t0 = time.perf_counter()
            pairs = self._tick(t)
            self.passes.append(time.perf_counter() - t0)
            for p, f in pairs:
                d = p.durationMs
                self.batches.append({"kind": f["kind"], "ms": d["triggerExecution"],
                                     "durations": dict(d),
                                     "run_id": str(p.runId), "batch_id": p.batchId})

    def ops_ms(self) -> list[float]:
        return [b["ms"] for b in self.batches]

    def attempted(self) -> int:
        return len(self.batches)

    def detail(self) -> dict:
        return {"batches": self.batches}

    def check(self) -> list[str]:
        """Silver and gold against a reference built from the accepted
        generated lines (late rows included, rejected files excluded);
        the rejected-batch count against the files generated as
        rejects."""
        from pyspark.sql import functions as F
        from sensor_data_pipeline___spark.warehouse import GOLD, SILVER

        errors = []
        ref: dict[tuple, list] = {}
        for f in self.drained:
            if f["kind"] == "reject":
                continue
            for ln in f["lines"]:
                if not ln.strip():
                    continue
                ts, name, val = ln.split()
                day = (int(ts) - gen.BASE_EPOCH) // gen.DAY
                acc = ref.setdefault((gen.day_str(day), name), [0, 0.0, 0])
                acc[0] += 1
                acc[1] += float(val)
                acc[2] += int(ts)
        silver = self.wh.read(SILVER)
        got = {
            (str(r[0]), r[1]): (r[2], r[3], r[4], r[5])
            for r in silver.groupBy("reading_date", "metric_name").agg(
                F.count("*"), F.sum("metric_value"),
                F.sum(F.unix_timestamp("reading_time")), F.countDistinct("raw_id"),
            ).collect()
        }
        if set(got) != set(ref):
            errors.append(f"silver (day, metric) keys differ: {sorted(set(got) ^ set(ref))[:4]}")
        for k, (n, s, ts) in ref.items():
            g = got.get(k)
            if g and not (g[0] == n == g[3] and g[2] == ts and math.isclose(g[1], s, rel_tol=1e-9)):
                errors.append(f"silver {k}: got {g}, want {(n, s, ts)}")
        errors += check_gold(self.wh.read(GOLD), ref)
        n_rej = sum(f["kind"] == "reject" for f in self.drained)
        got_rej = len([d for d in os.listdir(self.rej) if d.startswith("batch_id=")]) \
            if os.path.isdir(self.rej) else 0
        if got_rej != n_rej:
            errors.append(f"rejected batches {got_rej}, generated {n_rej}")
        return errors


def check_gold(gold, ref: dict) -> list[str]:
    """Every gold day equals AVG(Voltage) x AVG(Current) of the
    reference, and exactly the days with both metrics are present."""
    want = {}
    for (day, name), (n, s, _) in ref.items():
        want.setdefault(day, {})[name] = s / n
    want = {d: m["Voltage"] * m["Current"] for d, m in want.items()
            if "Voltage" in m and "Current" in m}
    got = {str(r["reading_date"]): r["metric_value"]
           for r in gold.select("reading_date", "metric_value").collect()}
    if set(got) != set(want):
        return [f"gold days differ: {sorted(set(got) ^ set(want))[:4]}"]
    return [f"gold {d}: {got[d]} != {want[d]}" for d in want
            if not math.isclose(got[d], want[d], rel_tol=1e-9)]
