"""Seeded input generators.  The same seed always gives byte-identical
inputs; nothing here touches Spark, so generation stays outside every
timed region of the benchmark."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Event time starts at 2024-03-01T00:00:00Z and spans about one month.
T0 = 1_709_251_200
SPAN_S = 30 * 86_400


def user_events(rng: np.random.Generator, n: int, users: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` (uid, ts) events in arrival order.

    uid popularity is Zipf-like over ``users`` ids, so a few users are
    hot and the long tail keeps the day/week/month sketches dense.  ts
    advances by a random step per event (processor_test.go:31-41, with
    the step sized so the whole stream covers SPAN_S), and 1% of events
    arrive up to 9 minutes late -- inside the engine's 10-minute
    watermark, so no event is ever dropped as too late."""
    ranks = np.arange(1, users + 1, dtype=np.float64)
    weights = ranks ** -0.8
    uid = rng.choice(users, size=n, p=weights / weights.sum())
    steps = rng.uniform(0.0, 2.0 * SPAN_S / n, size=n)
    ts = T0 + np.floor(np.cumsum(steps)).astype(np.int64)
    late = rng.random(n) < 0.01
    ts[late] -= rng.integers(0, 540, size=int(late.sum()))
    ts = np.maximum(ts, T0)
    return uid, ts


def write_wire(path: str, seed: int, events: int, users: int, files: int,
               malformed: float) -> dict:
    """Write the wire dump as ``files`` JSONL files (one message per
    line, like a console-producer replay).  A ``malformed_share`` of
    lines is truncated mid-object: the engine must skip them (C3).
    Returns the well-formed events and line counts for the reference
    check."""
    n = events
    rng = np.random.default_rng(seed)
    uid, ts = user_events(rng, n, users)
    bad = rng.random(n) < malformed
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for f in range(files):
        lines = []
        for i in range(bounds[f], bounds[f + 1]):
            msg = json.dumps({"uid": f"user{uid[i]}", "ts": int(ts[i])})
            lines.append(msg[: len(msg) // 2] if bad[i] else msg)
        with open(os.path.join(path, f"part-{f:05d}.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    good = ~bad
    return {"uid": uid[good], "ts": ts[good], "lines": n, "malformed": int(bad.sum())}


def write_events_table(sf_dir: str, seed: int, rows: int, users: int, files: int) -> dict:
    """The fixture ``events`` table layout (event_id, ts, user_id,
    event_type, value, props) as a directory ``events.parquet`` of
    ``files`` parquet files, ts as TIMESTAMP(MICROS)."""
    n = rows
    rng = np.random.default_rng(seed)
    uid, ts_s = user_events(rng, n, users)
    ts_us = ts_s * 1_000_000 + rng.integers(0, 1_000_000, size=n)
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": pa.array(kinds[rng.integers(0, len(kinds), size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pc.binary_join_element_wise(
            '{"k": ', pc.cast(pa.array(rng.integers(0, 100, size=n)), pa.string()), "}", ""),
    })
    out = os.path.join(sf_dir, "events.parquet")
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for f in range(files):
        pq.write_table(table.slice(bounds[f], bounds[f + 1] - bounds[f]),
                       os.path.join(out, f"part-{f:05d}.parquet"))
    return {"uid": uid, "ts": ts_us // 1_000_000, "rows": n}


_WORDS = ("a the data spark stream batch query table row column key value "
          "hash join merge sort group agg filter scan window order line part "
          "customer vector big small fast slow").split()
_PART_WORDS = ("small large red blue green steel brass copper ring widget bolt "
               "gear plate spring valve pipe").split()


def _write(sf_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return table.num_rows


def write_mix_tables(sf_dir: str, seed: int, scale: float) -> dict:
    """The fixture tables the mix queries read, in the fixture schemas
    (TESTDATA.md / FIXTURES.md), at ``scale`` (1.0 = sf0.01 row counts).
    Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}

    n_docs = int(500 * scale)
    n_words = rng.integers(8, 100, size=n_docs)
    texts = [" ".join(rng.choice(_WORDS, size=k)) for k in n_words]
    langs = np.array(["en", "en", "en", "es", "fr", "de", "zh"])
    rows["documents"] = _write(sf_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), size=n_docs)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    n_vec, dim, labels = int(500 * scale), 64, 10
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, size=n_vec)
    vec = centers[label] + rng.normal(scale=2.0, size=(n_vec, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    rows["embeddings"] = _write(sf_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })

    rows["region"] = _write(sf_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    rows["nation"] = _write(sf_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    n_supp = int(100 * scale)
    rows["supplier"] = _write(sf_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_supp), 2)),
    })
    n_part = int(2000 * scale)
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    rows["part"] = _write(sf_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([" ".join(rng.choice(_PART_WORDS, size=2)) for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)]),
        "p_type": pa.array(types[rng.integers(0, len(types), size=n_part)]),
        "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    day = np.datetime64("1995-01-01", "us")
    n_ord = int(15000 * scale)
    rows["orders"] = _write(sf_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, int(1500 * scale), size=n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, size=n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n_ord), 2)),
        "o_orderdate": pa.array(day + rng.integers(0, 2404, size=n_ord) * np.timedelta64(1, "D")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, size=n_ord)]),
    })
    n_li = int(60000 * scale)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    rows["lineitem"] = _write(sf_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, size=n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n_li) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, size=n_li)]),
        "l_shipdate": pa.array(day + rng.integers(0, 2500, size=n_li) * np.timedelta64(1, "D")),
    })
    return rows
