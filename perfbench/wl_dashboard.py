"""dashboard — the read path: the reference's two agent-metrics views, the
``run_sql`` door and TPC-H-shaped reporting queries over a seeded star
schema, issued by closed-loop clients sharing one SparkSession.

One op is one query, its full result fetched with ``toPandas()``. Each
client runs its own shuffle of the mix in each round, drawn from the round
and client number only: the input data varies with the seed, but which
queries overlap does not, since that alone moved throughput by about a tenth
from seed to seed. The run measures whole rounds (every client finishes its
pass), at least two and then until ``--seconds`` have passed, so every run
times the same multiset of queries. An op's input rows are
the rows of every table its plan scans.

Correctness: every op's result is digested (order-insensitive row-hash
sum) and must equal the digest of a result that matched the DuckDB
oracle from ``queries.all_oracles()`` exactly, cell for cell.
"""

from __future__ import annotations

import os
import random
import threading
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import canonical, clear_cache, digest, job_stats, now

SF = 0.02
CLIENTS = 2
MIN_ROUNDS = 2  # which queries overlap differs by round; average two
MIX = (
    "agent_metrics",
    "agent_metrics_2",
    "sql_agent_metrics",
    "sql_regional_revenue",
    "pricing_summary",
    "shipping_priority",
)
FACTS = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
COLORS = ("blue", "red", "green", "hot", "new", "small", "large", "old")
NOUNS = ("anvil", "bolt", "ring", "rod", "plate", "widget", "gear", "spring")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


# --- input generation -------------------------------------------------------

def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def generate(out: str, seed: int) -> dict[str, int]:
    """Seeded TPC-H-ish star schema plus the events fact, in the column
    layout of ``queries.tables`` (one parquet file per table)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5), i32), "r_name": list(REGIONS)},
        "nation": {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": _pick(rng, COLORS, n_part) + " " + _pick(rng, NOUNS, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 1),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        },
    }
    ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86_400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    # register_tables() maps every catalog table; the mix reads neither
    tables["documents"] = {
        "doc_id": pa.array(np.arange(4), i64),
        "text": ["a b c", "d e f", "g h i", "j k l"],
        "lang": ["en"] * 4,
        "source": ["web"] * 4,
        "n_chars": pa.array([5] * 4, i64),
    }
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(2), i64),
        "embedding": pa.array([[1.0, 0.0], [0.0, 1.0]], pa.list_(pa.float32())),
        "label": pa.array([0, 1], i32),
    }
    os.makedirs(out, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# --- correctness ------------------------------------------------------------

def oracle_frames(data_dir: str) -> dict[str, pd.DataFrame]:
    import duckdb

    from redshift_etl_spark import queries as Q

    oracles = Q.all_oracles()
    con = duckdb.connect(config={"threads": 2})
    for t in FACTS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {name: canonical(con.execute(oracles[name]).df()) for name in MIX}
    con.close()
    return out


def _input_rows(df, sizes: dict[str, int]) -> int:
    """Rows of every table the query's plan scans."""
    files = {os.path.basename(p.rstrip("/")).split(".")[0] for p in df.inputFiles()}
    return sum(sizes[t] for t in files if t in sizes)


# --- the workload -----------------------------------------------------------

def run(r) -> bool:
    from redshift_etl_spark import queries as Q
    from redshift_etl_spark.sql import register_tables

    data = os.path.join(r.work, "tpch")
    t = now()
    sizes = generate(data, r.seed)
    expected = oracle_frames(data)
    r.notes["generate_s"] = now() - t
    r.notes["input_rows"] = sizes
    catalog = Q.all_queries()
    in_rows: dict[str, int] = {}

    def register(spark):
        register_tables(spark, data)

    def warmup(spark):
        # every query once, the mix split across the clients
        def client(cid):
            for name in MIX[cid::CLIENTS]:
                df = catalog[name](spark, data)
                in_rows[name] = _input_rows(df, sizes)
                df.toPandas()

        with ThreadPoolExecutor(CLIENTS) as pool:
            for f in [pool.submit(client, c) for c in range(CLIENTS)]:
                f.result()

    r.setup(register, warmup)
    spark = r.spark
    tr = r.tracer
    lock = threading.Lock()
    results: list[tuple[str, tuple]] = []
    first: dict[str, pd.DataFrame] = {}
    layer = dict.fromkeys(("build", "collect", "rows", "bytes", "jobs", "tasks"), 0.0)

    def one(name: str, op: int) -> None:
        group = f"op{op}"
        if r.trace:
            spark.sparkContext.setJobGroup(group, name)
        t0 = now()
        try:
            with tr.span("op", op):
                with tr.span("queries.build", op):
                    df = catalog[name](spark, data)
                t1 = now()
                with tr.span("queries.collect", op):
                    pdf = df.toPandas()
        except Exception:  # a failed query is a failed op; the run goes on
            traceback.print_exc()
            with lock:
                r.record(now() - t0, False)
            return
        t2 = now()
        d = digest(pdf)
        with lock:
            r.record(t2 - t0, True, name)
            r.rows += in_rows[name]
            results.append((name, d))
            first.setdefault(name, pdf)
        if r.trace:
            jobs, tasks = job_stats(spark, group)
            size = int(pdf.memory_usage(index=False, deep=True).sum())
            with lock:
                for k, v in (("build", t1 - t0), ("collect", t2 - t1), ("rows", len(pdf)),
                             ("bytes", size), ("jobs", jobs), ("tasks", tasks)):
                    layer[k] += v

    def client(cid: int, rnd: int) -> None:
        order = list(MIX)
        random.Random(rnd * 10 + cid).shuffle(order)
        for i, name in enumerate(order):
            one(name, (rnd * CLIENTS + cid) * len(MIX) + i)

    r.begin()
    rnd = 0
    while rnd < MIN_ROUNDS or r.elapsed() < r.seconds:
        with ThreadPoolExecutor(CLIENTS) as pool:
            for f in [pool.submit(client, c, rnd) for c in range(CLIENTS)]:
                f.result()
        clear_cache(spark)
        rnd += 1
    r.end()

    # the first result of each query matches its oracle exactly; every
    # op's digest equals that verified result's digest
    ref = {}
    for name in MIX:
        got = canonical(first[name])
        if got.shape == expected[name].shape and got.equals(expected[name]):
            ref[name] = digest(first[name])
        else:
            r.notes.setdefault("oracle_mismatch", []).append(name)
    bad = sum(1 for name, d in results if ref.get(name) != d)
    r.failed += bad
    r.notes.update(rounds=rnd, clients=CLIENTS, mix=len(MIX), sf=SF)
    n = max(r.attempted, 1)
    r.layer.update({f"queries.{k}": v / n for k, v in (
        ("build_s", layer["build"]), ("collect_s", layer["collect"]),
        ("result_rows", layer["rows"]), ("result_bytes", layer["bytes"]),
        ("jobs_per_op", layer["jobs"]), ("tasks_per_op", layer["tasks"]),
    )})
    return bad == 0
