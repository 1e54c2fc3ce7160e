"""The ``analytics`` workload: the nine headline queries over tables made
from the run's seed, checked against DuckDB running each query's
``oracle_sql()`` over the same parquet files.

The tables follow the layout of the repository's synthetic test data
(TPC-H-style star schema, an ``events`` stream, word-soup ``documents`` over
a 31-word vocabulary in 20 sources, 64-d ``embeddings``), one parquet file
and one row group per table, at ``SF`` times the row counts of sf=1.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import pb_spark

SF = 0.02
SMALL_SF = 0.002
RELATIONAL = [
    "q_pricing_summary",
    "q_broadcast_join_revenue",
    "q_three_way_join",
    "q_current_window",
    "q_daily_distinct",
    "q_top1_per_group",
]
SIMILARITY = ["q_dedup_minhash_lsh", "q_ann_bruteforce", "q_token_count"]
# MinHash-LSH finds candidate pairs by banding, so it can miss a pair the
# exact-Jaccard oracle keeps (a handful of ~6000 on some seeds). Its rows
# must all be oracle rows; the misses are counted and reported.
APPROXIMATE = {"q_dedup_minhash_lsh"}
# Rounds are counted from --seconds, so every run on every host attempts the
# same operations: ceil(seconds / NOMINAL_ROUND_S), 1 to MAX_ROUNDS.
NOMINAL_ROUND_S = 10.0
MAX_ROUNDS = 4
TABLES = ["supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split() + ["index"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_ADJ = ["red", "blue", "large", "small", "hot", "cold", "old", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _days(rng, lo: datetime.date, hi: datetime.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def make_tables(seed: int, out_dir: str, sf: float = SF) -> dict[str, int]:
    """Write the seed's tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_sup = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_cust = max(50, int(150_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_doc = max(40, int(50_000 * sf) // 20 * 20)
    n_emb = max(20, int(20_000 * sf))

    tables = {
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_sup, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
                "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_sup), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in zip(rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": [_TYPES[t] for t in rng.integers(0, len(_TYPES), n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
                "o_orderdate": _days(rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), n_ord),
                "o_orderpriority": rng.choice(_PRIOS, n_ord),
            }
        ),
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_sup, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), n_li),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": t0 + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENTS, n_ev),
            "value": np.round(rng.uniform(0, 200, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lens = rng.integers(10, 101, n_doc)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    texts, off = [], 0
    for n in lens:
        texts.append(" ".join(_VOCAB[w] for w in words[off : off + n]))
        off += n
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(0.0, 0.125, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables.items():
        tbl = t if isinstance(t, pa.Table) else pa.Table.from_pandas(t, preserve_index=False)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


def row_strings(df: pd.DataFrame) -> list[str]:
    """A result's rows as sorted strings: columns by name, floats to six
    decimals, so that row order and float noise below 1e-6 do not count."""
    df = df.sort_index(axis=1)
    cols = []
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            cols.append(s.map(lambda x: "" if pd.isna(x) else f"{x:.6f}"))
        else:
            cols.append(
                s.map(lambda x: "" if x is None or (isinstance(x, float) and pd.isna(x)) else str(x))
            )
    return sorted("\x1f".join(t) for t in zip(*[c.tolist() for c in cols])) if cols else []


def summary(df: pd.DataFrame) -> dict:
    """Row count, columns and an order-insensitive value hash."""
    h = hashlib.sha256("\x1e".join(row_strings(df)).encode()).hexdigest()[:16]
    return {"rows": len(df), "columns": sorted(df.columns), "hash": h}


def oracle_results(data_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    """DuckDB's answer to each query's ``oracle_sql()`` over ``data_dir``."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {n: con.execute(sql[n]).fetchdf() for n in names}
    finally:
        con.close()


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> tuple[str | None, int]:
    """(failure or None, oracle rows the engine missed). Exact queries must
    match the oracle's summary. ``APPROXIMATE`` ones must return only oracle
    rows; the rows they miss are counted, not failed (see README)."""
    if len(got) == 0:
        return f"{name}: empty result", 0
    if name not in APPROXIMATE:
        g, w = summary(got), summary(want)
        return (None if g == w else f"{name}: engine {g} != oracle {w}"), 0
    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}", 0
    g, w = row_strings(got), set(row_strings(want))
    extra = [r for r in g if r not in w]
    if extra or len(set(g)) != len(g):
        return f"{name}: {len(extra)} rows not in the oracle, {len(g) - len(set(g))} repeated", 0
    return None, len(w) - len(g)


def run_pass(spark, queries, data_dir: str, names: list[str], tracer) -> dict[str, pd.DataFrame]:
    """Run ``names`` once each and collect their results to the driver, as
    a user of the queries would."""
    out = {}
    for n in names:
        with tracer.span(f"plans.{n}", query=n) as a:
            t0 = time.time()
            df = queries[n](spark, data_dir)
            a["plan_build_s"] = time.time() - t0
            out[n] = df.toPandas()
    return out


def run(spark, rdir, seed, seconds, tracer, t_start, small=False, tamper=None) -> dict:
    """Set up, run the measured passes, check. ``tamper(results)``, when
    given, corrupts the collected results before the check (self-test)."""
    import __spark_entry__ as entry

    queries = entry.queries()
    names = RELATIONAL + SIMILARITY
    data_dir = os.path.join(rdir, "data")
    with tracer.span("setup.inputs"):
        rows = make_tables(seed, data_dir, sf=SMALL_SF if small else SF)
    # the warm-up pays JIT, Python-worker start-up and the dedup token-table
    # build; the second relational pass lets more of the relational plans'
    # JIT compilation finish before timing
    with tracer.span("setup.warmup"):
        run_pass(spark, queries, data_dir, names, tracer)
        run_pass(spark, queries, data_dir, RELATIONAL, tracer)
    setup_s = time.time() - t_start

    n_rounds = min(MAX_ROUNDS, max(1, math.ceil(seconds / NOMINAL_ROUND_S)))
    rounds = []
    got: dict[str, pd.DataFrame] = {}
    with tracer.span("measure"):
        for _ in range(n_rounds):
            rec = {}
            with tracer.span("step", step=len(rounds)):
                for group, qs in (("relational", RELATIONAL), ("similarity", SIMILARITY)):
                    with tracer.span(f"group.{group}"):
                        c0, t0 = pb_spark.tree_cpu_s(), time.time()
                        got.update(run_pass(spark, queries, data_dir, qs, tracer))
                        rec[group] = time.time() - t0
                        rec[f"{group}_cpu"] = pb_spark.tree_cpu_s() - c0
            rounds.append(rec)
            print("round " + json.dumps(rec), file=sys.stderr)

    # the results checked are the last measured round's, hashed after timing
    if tamper is not None:
        tamper(got)
    with tracer.span("check"):
        want = oracle_results(data_dir, names)
    failures, missed = [], {}
    for n in names:
        err, missed[n] = compare(n, got[n], want[n])
        if err:
            failures.append(err)
        if missed[n]:
            print(f"NOTE: {n} missed {missed[n]} of {len(want[n])} oracle rows", file=sys.stderr)
    # Timed in CPU seconds of the whole process tree, median over rounds:
    # on this shared 4-vCPU VM, CPU steal of 1-25% per run stretched the
    # wall time of the same round by up to 60% between runs, while the CPU
    # it used moved by ~15%. The rate is the nine queries per CPU-second of
    # a round: what a host with every core busy on them sustains per core.
    core = statistics.median(r["relational_cpu"] for r in rounds)
    payload = statistics.median(r["similarity_cpu"] for r in rounds)
    res = {
        "e2e": {
            "setup_s": setup_s,
            "core_s": core,
            "payload_s": payload,
            "rate_per_s": len(names) / (core + payload),
        },
        "attempted": (len(rounds) + 1) * len(names) + len(RELATIONAL),
        "failed": 0,
        "failures": failures,
    }
    if tracer.enabled:
        res["layers"] = analytics_layers(tracer.spans, rows)
        res["layers"]["plans.lsh_missed_pairs"] = missed["q_dedup_minhash_lsh"]
    return res


def analytics_layers(spans: list[dict], rows: dict[str, int]) -> dict:
    """Median wall of each query and of plan building over measured passes."""
    measure = next(s for s in spans if s["name"] == "measure")
    inside = [s for s in spans if s["start"] >= measure["start"] and s["end"] <= measure["end"]]
    out = {"rows": rows}
    n_pass = sum(1 for s in inside if s["name"] == "step")
    for s in inside:
        if s["name"].startswith("plans."):
            out.setdefault(f"{s['name']}_s", []).append(s["end"] - s["start"])
    build = sum(s["attrs"]["plan_build_s"] for s in inside if s["name"].startswith("plans."))
    out = {k: statistics.median(v) if isinstance(v, list) else v for k, v in out.items()}
    out["plans.plan_build_s"] = build / n_pass
    return out
