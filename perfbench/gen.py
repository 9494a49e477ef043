"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and returns (or writes) the same bytes for
the same seed, on any host: it uses only ``random.Random`` and fixed
formatting. The program under test only ever sees the generated files.
"""

from __future__ import annotations

import datetime as dt
import os
import random

#: 2024-03-01T00:00:00Z — day 0 of every generated sensor history.
BASE_EPOCH = 1709251200
DAY = 86400

# --------------------------------------------------------------------------
# sensor readings ("{unix_ts} {metric_name} {value}" lines)


def _reading_lines(rng: random.Random, t0: int, t1: int, n: int) -> list[str]:
    """``n`` Voltage/Current readings (half each) at seeded times in
    ``[t0, t1)``, in time order, with a couple of blank lines mixed in
    (blank lines are skipped by the ingest gate, not rejected)."""
    half = n // 2
    ts = sorted(rng.randrange(t0, t1) for _ in range(half))
    out: list[str] = []
    for t in ts:
        out.append(f"{t} Voltage {rng.uniform(220.0, 240.0):.2f}")
        out.append(f"{t} Current {rng.uniform(5.0, 15.0):.2f}")
    for _ in range(2):
        out.insert(rng.randrange(len(out) + 1), rng.choice(("", "   ")))
    return out


def _reject(rng: random.Random, lines: list[str]) -> list[str]:
    """Replace one non-blank line with an invalid one: the ingest gate
    rejects the whole batch (all-or-nothing)."""
    bad = rng.choice(
        ("{t} Voltage abc", "{t} Voltage", "{t} 9Voltage 1.0", "{t}.5 Current 2.0")
    )
    idx = [i for i, ln in enumerate(lines) if ln.strip()]
    i = rng.choice(idx)
    lines = list(lines)
    lines[i] = bad.format(t=lines[i].split()[0])
    return lines


def stream_ticks(seed: int, n_ticks: int, lines_per_file: int) -> list[list[dict]]:
    """Files for ``n_ticks`` drain ticks of the ``sensor_stream``
    workload. Every tick has the same make-up, in a seeded order:
    three in-order files (one new day each, so the history moves
    forward a day per file), one late file (rows for a day an earlier
    file already covered) and one file with one invalid line (rejected
    as a whole).

    Each file is ``{"kind": "inorder"|"late"|"reject", "lines": [...]}``.
    """
    rng = random.Random(f"stream:{seed}")
    ticks: list[list[dict]] = []
    day = 0
    for _ in range(n_ticks):
        files = []
        for _ in range(3):
            t0 = BASE_EPOCH + day * DAY
            files.append({"kind": "inorder",
                          "lines": _reading_lines(rng, t0, t0 + DAY, lines_per_file)})
            day += 1
        # a day behind the in-order front: re-opens that day
        t0 = BASE_EPOCH + rng.randrange(day) * DAY
        files.append({"kind": "late", "lines": _reading_lines(rng, t0, t0 + DAY, lines_per_file)})
        t0 = BASE_EPOCH + day * DAY
        files.append({"kind": "reject",
                      "lines": _reject(rng, _reading_lines(rng, t0, t0 + DAY, lines_per_file))})
        rng.shuffle(files)
        ticks.append(files)
    return ticks


def api_script(seed: int, n_preload: int, n_passes: int, cycles: int, lines: int) -> dict:
    """Request script for the ``sensor_api`` workload.

    ``preload``: POST bodies (one day each, in time order) loaded before
    any pass. ``passes``: per pass, ``cycles`` POSTs continuing the
    history one day per accepted POST; exactly one of them (at a seeded
    position) carries one invalid line. Each POST is followed by two
    GETs as ``(first_day, end_day)`` ranges: one 1-day and one
    14-to-21-day range, both ending inside the history posted so far."""
    rng = random.Random(f"api:{seed}")
    day = 0

    def body(reject: bool) -> list[str]:
        nonlocal day
        t0 = BASE_EPOCH + day * DAY
        out = _reading_lines(rng, t0, t0 + DAY, lines)
        if reject:
            return _reject(rng, out)
        day += 1
        return out

    preload = [body(False) for _ in range(n_preload)]
    passes = []
    for _ in range(n_passes):
        bad = rng.randrange(cycles)
        posts = []
        for c in range(cycles):
            lines_ = body(c == bad)
            last = day - 1
            d = rng.randrange(max(last - 3, 0), last + 1)
            e = rng.randrange(max(last - 2, 1), last + 2)
            span = rng.randrange(14, 22)
            posts.append({"lines": lines_, "reject": c == bad,
                          "gets": [(d, d + 1), (e - span, e)]})
        passes.append(posts)
    return {"preload": preload, "passes": passes}


def day_str(day: int) -> str:
    """Day offset from BASE_EPOCH as an ISO date."""
    return dt.datetime.fromtimestamp(BASE_EPOCH + day * DAY, dt.timezone.utc).strftime("%Y-%m-%d")


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


# --------------------------------------------------------------------------
# corpus tables (the schemas the registered queries read)
#
# Shapes measured on the sf0.1 test tables that bench.py reads (5000
# documents, 150k orders); see perfbench/README.md. The benchmark runs
# them at a tenth of that, the sf0.01 row counts.

#: the whole vocabulary of the measured documents, used uniformly
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
#: measured language mix, per mille
_LANGS = (("en", 412), ("zh", 151), ("es", 149), ("fr", 148), ("de", 140))
#: measured: 5.0% of documents repeat another document's text with " dup"
#: appended; 0.16% repeat an earlier document exactly
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016


def documents(rng: random.Random, n: int) -> dict:
    """``documents``: doc_id, text, lang, source, n_chars. Each text is
    10 to 99 words drawn uniformly from ``_WORDS``. ``NEAR_DUP_SHARE``
    of the documents (at seeded positions) copy another document's text
    and append ``dup``; ``EXACT_DUP_SHARE`` of them (at least one) copy
    an earlier document exactly."""
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(10, 100)))
             for _ in range(n)]
    n_near = round(NEAR_DUP_SHARE * n)
    n_exact = max(1, round(EXACT_DUP_SHARE * n))
    picked = rng.sample(range(1, n), n_near + n_exact)
    near, exact = picked[:n_near], sorted(picked[n_near:])
    # every copy has its own source, which is not itself a copy
    copies = set(picked)
    originals = [j for j in range(n) if j not in copies]
    for i, src in zip(near, rng.sample(originals, n_near)):
        texts[i] = texts[src] + " dup"
    for i in exact:
        texts[i] = texts[rng.choice([j for j in originals if j < i])]
    langs = [lg for lg, w in _LANGS for _ in range(w)]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


_DATE0, _DATE1 = dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)


def _date(rng: random.Random) -> dt.datetime:
    return _DATE0 + dt.timedelta(days=rng.randrange((_DATE1 - _DATE0).days + 1))


def tpch(rng: random.Random, n_orders: int) -> dict[str, dict]:
    """The TPC-H-shaped tables (region, nation, customer, supplier,
    orders, lineitem), scaled by ``n_orders`` with the measured ratios:
    a customer per 10 orders, a supplier per 150, a part per 7.5, 1 to 7
    line items per order (mean 4; measured 4.08), order dates from
    1995-01-01 to 2001-08-01."""
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 10), n_orders * 2 // 15
    region = {"r_regionkey": list(range(5)),
              "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    nation = {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
              "n_regionkey": [i % 5 for i in range(25)]}
    customer = {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                     "MACHINERY")) for _ in range(n_cust)],
    }
    supplier = {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)],
    }
    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")}
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        od = _date(rng)
        total = 0.0
        for ln in range(1, rng.randrange(2, 9)):
            qty = float(rng.randrange(1, 51))
            price = round(qty * rng.uniform(900, 2100), 2)
            total += price
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(price)
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(od + dt.timedelta(days=rng.randrange(1, 122)))
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(rng.randrange(n_cust))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(total, 2))
        orders["o_orderdate"].append(od)
        orders["o_orderpriority"].append(
            rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    return {"region": region, "nation": nation, "customer": customer, "supplier": supplier,
            "orders": orders, "lineitem": li}


#: Arrow types for the columns whose Python type is ambiguous.
_TYPES = {
    "r_regionkey": "int32", "n_nationkey": "int32", "n_regionkey": "int32",
    "c_nationkey": "int32", "s_nationkey": "int32", "l_linenumber": "int32",
    "o_orderdate": "timestamp[us]", "l_shipdate": "timestamp[us]",
}


def write_corpus(out_dir: str, seed: int, n_docs: int, n_orders: int) -> list[str]:
    """Write the corpus tables as ``{out_dir}/{name}.parquet``; returns
    the table names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus:{seed}")
    tables = {"documents": documents(rng, n_docs), **tpch(rng, n_orders)}
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = {}
        for c, vals in cols.items():
            t = _TYPES.get(c)
            if t == "int32":
                arrays[c] = pa.array(vals, pa.int32())
            elif t == "timestamp[us]":
                arrays[c] = pa.array(vals, pa.timestamp("us"))
            else:
                arrays[c] = pa.array(vals)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
    return list(tables)
