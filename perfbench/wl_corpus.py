"""``corpus_queries``: repeated passes over a fixed mix of registered
queries that have DuckDB oracles.

Before the session starts, the seeded generator writes the corpus
tables (the ``documents`` table and the TPC-H-shaped tables
``q5_region_revenue`` reads). The warmup is one untimed pass over the
mix; its results are checked against each query's ``ORACLE`` twin on
DuckDB. The timed phase is ``PASSES`` passes, each in a seeded query
order. Each query is timed in two parts: construction (the call that
returns the DataFrame, which runs any eager jobs) and the action
(``collect``).
"""

from __future__ import annotations

import decimal
import math
import os
import random
import time

import gen
import tracing

#: construction-bound (eager jobs before the query returns) ...
MIX = (
    "quality_classifier_eval",
    "temperature_mixture_tokens",
    "bpe_token_length_hist",
    "dsir_probe_index",
    # ... and cheap controls
    "q5_region_revenue",
    "dedup_exact",
)
N_DOCS = 500
N_ORDERS = 15000
PASSES = 2


class Workload:
    name = "corpus_queries"

    def __init__(self, root, seed):
        self.sf = os.path.join(root, "sf")
        self.tables = gen.write_corpus(self.sf, seed, N_DOCS, N_ORDERS)
        self.rng = random.Random(f"order:{seed}")
        self.records: list[dict] = []
        self.passes: list[float] = []
        self.failed = 0

    def warmup(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.warm = self._pass(timed=False)

    def _pass(self, timed: bool) -> dict:
        from sensor_data_pipeline___spark import queries

        order = list(MIX)
        self.rng.shuffle(order)
        results = {}
        p = len(self.passes)
        for name in order:
            op_id = f"{name}#{p}" if timed else None
            with self.tracer.op("queries.query", op_id) if timed else self.tracer.span("prep.query"):
                t0 = time.perf_counter()
                with self.tracer.span("queries.construct"):
                    df = queries.QUERIES[name](self.spark, self.sf)
                t1 = time.perf_counter()
                built = tracing.job_counts(self.spark.sparkContext, op_id) if op_id and \
                    self.tracer.enabled else {"jobs": 0}
                t2 = time.perf_counter()
                with self.tracer.span("queries.action"):
                    rows = df.collect()
                t3 = time.perf_counter()
            results[name] = (df.columns, [tuple(r) for r in rows])
            if timed:
                total = self.tracer.groups.get(op_id, {"jobs": 0, "tasks": 0})
                self.records.append({"query": name, "pass": p, "op": op_id,
                                     "construct_s": t1 - t0, "action_s": t3 - t2,
                                     "jobs_construct": built["jobs"],
                                     "jobs_action": total["jobs"] - built["jobs"],
                                     "tasks": total["tasks"]})
        return results

    def run(self) -> None:
        for _ in range(PASSES):
            t0 = time.perf_counter()
            self._pass(timed=True)
            self.passes.append(time.perf_counter() - t0)

    def ops_ms(self) -> list[float]:
        return [(r["construct_s"] + r["action_s"]) * 1e3 for r in self.records]

    def attempted(self) -> int:
        return len(self.records)

    def check(self) -> list[str]:
        """Each query's warmup-pass result against its DuckDB oracle:
        sorted column names, row count and the order-insensitive
        canonical row set (the canonicalisation of the repository's
        oracle tests)."""
        import duckdb
        from sensor_data_pipeline___spark.queries import ORACLE

        errors = []
        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.sf, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in MIX:
                cols, rows = self.warm[name]
                tbl = con.execute(ORACLE[name]).arrow()
                dcols = list(tbl.schema.names)
                drows = list(zip(*(tbl.column(c).to_pylist() for c in dcols)))
                if sorted(cols) != sorted(dcols):
                    errors.append(f"{name}: columns {cols} vs {dcols}")
                elif len(rows) != len(drows):
                    errors.append(f"{name}: {len(rows)} rows vs oracle {len(drows)}")
                elif _row_set(rows, cols) != _row_set(drows, dcols):
                    errors.append(f"{name}: values differ from the oracle")
        finally:
            con.close()
        return errors

    def detail(self) -> dict:
        return {"queries": self.records}


def _canon(value):
    if value is None:
        return "<null>"
    if isinstance(value, decimal.Decimal):
        return f"decimal:{value}"
    if isinstance(value, bool):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        if value == int(value) and abs(value) < 1e15:
            return str(int(value))
        return repr(value)
    return str(value)


def _row_set(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
