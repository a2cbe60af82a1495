"""Seeded tables for the ``dq_report`` workload and their DuckDB answers.

The tables have the schemas and value shapes of the repo's sf fixtures
(TESTDATA.md): a TPC-H-like star (nation, customer, orders, lineitem), an
``events`` stream and a ``documents`` corpus. They are written with
pyarrow straight from numpy, so generating them starts no Spark job. The
seed changes every value; sizes are fixed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "nation": 25,
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 20_000,
    "documents": 1_000,
}

# the entry queries the workload runs: the reference's four analyzers
# (quality checks, two-table checks, statistics/drift, time series) plus
# the corpus text queries, each with a DuckDB twin in oracle_sql()
QUERIES = (
    "missing_values",
    "pattern_mismatch",
    "fk_orphans",
    "join_integrity",
    "psi",
    "ks_drift",
    "correlation_pairs",
    "rolling_forecast",
    "sessionization",
    "spikes",
    "text_stats",
    "top_bigrams",
)

_WORDS = (
    "the a of and to in is it that for on with as data table query "
    "engine spark batch stream filter join scan sort merge hash window "
    "partition column row value key group order index cache memory disk "
    "network cluster node task stage shuffle report chart user page site "
    "link text word line token corpus crawl fetch parse small big fast slow"
).split()


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = (seconds * 1e6).astype("int64")
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(micros + epoch, pa.timestamp("us"))


def _days(rng, n, start, end) -> pa.Array:
    span = (end - start).days
    return _ts(start, rng.randint(0, span + 1, n).astype("float64") * 86400)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.RandomState(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    nk = np.arange(n["nation"], dtype="int32")
    out["nation"] = pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype("int32"),
    })
    ck = np.arange(n["customer"], dtype="int64")
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.randint(0, n["nation"], len(ck)).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(ck)), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], len(ck)),
    })
    ok = np.arange(n["orders"], dtype="int64")
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.randint(0, n["customer"], len(ok)).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(ok)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, len(ok)), 2),
        "o_orderdate": _days(rng, len(ok), dt.datetime(1995, 1, 1),
                             dt.datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            len(ok)),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.randint(0, n["orders"], m).astype("int64"),
        "l_partkey": rng.randint(0, 2000, m).astype("int64"),
        "l_suppkey": rng.randint(0, 100, m).astype("int64"),
        "l_linenumber": rng.randint(1, 8, m).astype("int32"),
        "l_quantity": rng.randint(1, 51, m).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, m), 2),
        "l_discount": np.round(rng.randint(0, 11, m) / 100, 2),
        "l_tax": np.round(rng.randint(0, 9, m) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, m, dt.datetime(1995, 1, 2),
                            dt.datetime(2001, 11, 4)),
    })
    e = n["events"]
    # strictly increasing timestamps over 30 days: every ordered window
    # (lag, rolling mean, sessions) has one well-defined order
    gaps = rng.uniform(1.0, 2.0, e)
    secs = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60)
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": rng.randint(0, 1500, e).astype("int64"),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.gamma(1.2, 40.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(rng.choice(_WORDS, rng.randint(20, 90)))
        for _ in range(d)
    ]
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], d),
        "source": [f"src{i}" for i in rng.randint(0, 18, d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    return out


def write_tables(sf_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``<sf_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


def oracle_answers(sf_dir: str, queries, fingerprint) -> dict[str, tuple]:
    """``{query: (sorted column names, row count, value fingerprint)}``
    from each query's DuckDB twin over the same parquet."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for name in SIZES:
            con.sql(
                f"create view {name} as select * from "
                f"'{os.path.join(sf_dir, name)}.parquet'"
            )
        out = {}
        for q in queries:
            rel = con.sql(sql[q])
            cols = list(rel.columns)
            rows = rel.fetchall()
            out[q] = (sorted(cols), len(rows), fingerprint(cols, rows))
        return out
    finally:
        con.close()
