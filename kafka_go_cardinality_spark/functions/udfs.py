"""[EXT E17] The Python UDF surface: scalar pandas UDF, grouped-map
``applyInPandas``, and grouped-agg pandas UDF.

The reference hard-wires its one transform as a Go closure
(``/root/reference/processor/processor.go:79``) — there is no user-function
extension point at all.  This module is the mandated extension surface
(SURVEY.md §2.3 E17), built on Arrow-batched pandas UDFs (the 10-100×
faster path vs row-at-a-time Python UDFs; still 10-100× slower than staying
JVM-side, which is why every *other* operator in this engine uses built-in
``pyspark.sql.functions`` — UDFs are demonstrations of the extension
mechanism, not the hot path).

Determinism rules for oracle-checkable UDFs (conftest/driver hash values):

- float math must be bit-identical to the DuckDB oracle → IEEE ops in the
  same order, ``floor``-based truncation (never ``round``: numpy uses
  half-even, DuckDB half-away-from-zero);
- per-group selections must totally order their input (explicit tie-break
  keys), because Arrow batch order is not deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

# Return types as DataType instances, not DDL strings: string types are
# parsed eagerly at decoration time and would require an active
# SparkSession just to import this module.


@pandas_udf(DoubleType())
def discounted_price(ep: pd.Series, disc: pd.Series) -> pd.Series:
    """Scalar pandas UDF: TPC-H revenue expression, truncated to cents.
    Arrow-vectorized; numpy ops keep IEEE-double bit-parity with the
    DuckDB oracle ``floor(l_extendedprice*(1-l_discount)*100)/100``."""
    return np.floor(ep * (1.0 - disc) * 100.0) / 100.0


@pandas_udf(DoubleType())
def dot64_seq(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched 64-dim dot product, BIT-IDENTICAL to
    ``functions.dot`` (the sequential-fold contract): the fold
    evaluates ``((0.0 + x0) + x1) + ...`` and this loop performs the
    same additions in the same order, vectorized ACROSS rows instead
    of within one — ``acc = acc + A[:,d]*B[:,d]`` is one IEEE multiply
    and one IEEE add per row per dim, exactly the fold's sequence (the
    np.zeros seed reproduces the fold's ``0.0 +`` first step, signed
    zeros included).  Exists for corpus-proportional PAIR verifies
    where the lambda-HOF ``aggregate`` is the measured bottleneck
    (858k band-collision pairs at sf0.1 cost ~3 s interpreted, ~1.4 s
    here; an unrolled 128-node codegen tree measured 4x SLOWER than
    the HOF — Arrow batching is the fast path, not expression
    unrolling).  Callers must pre-filter both sides to exactly 64
    finite dims (the engine's vec contract)."""
    A = np.vstack(a.to_numpy())
    B = np.vstack(b.to_numpy())
    acc = np.zeros(len(A))
    for d in range(A.shape[1]):
        acc = acc + A[:, d] * B[:, d]
    return pd.Series(acc)


@pandas_udf(DoubleType())
def pair_dot_seq(a: pd.Series, b: pd.Series) -> pd.Series:
    """:func:`dot64_seq` with the HOF fold's FULL length semantics —
    the pair-verify fast path for frames that are vec_finite-filtered
    but not pinned to 64 dims (the bulk-kNN candidate stage).  Rows
    where both sides are 64-dim take the vectorized column fold
    (identical IEEE sequence to ``functions.dot``); any other row
    replays ``zip_with``'s behavior exactly: equal lengths → a
    sequential Python fold over that length (same op order), unequal
    lengths or a NULL side → NULL (zip_with NULL-pads the shorter
    side, the product nulls, the fold absorbs).  Element-level NULLs
    are excluded upstream by vec_finite (shared caveat with
    cell_dots_udf: Arrow shows a NULL element as NaN)."""
    arrs_a = a.to_numpy()
    arrs_b = b.to_numpy()
    n = len(arrs_a)
    ok = np.fromiter(
        (
            x is not None and y is not None and len(x) == 64 and len(y) == 64
            for x, y in zip(arrs_a, arrs_b)
        ),
        dtype=bool,
        count=n,
    )
    out = np.empty(n, dtype=object)
    idx = np.flatnonzero(ok)
    if idx.size:
        A = np.vstack([np.asarray(arrs_a[i], dtype=np.float64) for i in idx])
        B = np.vstack([np.asarray(arrs_b[i], dtype=np.float64) for i in idx])
        acc = np.zeros(idx.size)
        for d in range(64):
            acc = acc + A[:, d] * B[:, d]
        for j, i in enumerate(idx):
            out[i] = acc[j]
    for i in np.flatnonzero(~ok):
        xa, xb = arrs_a[i], arrs_b[i]
        if xa is None or xb is None or len(xa) != len(xb):
            out[i] = None
        else:
            s = 0.0
            for x, y in zip(xa, xb):
                s = s + float(x) * float(y)
            out[i] = s
    return pd.Series(out)


def cell_dots_udf(seed_vecs):
    """Factory: Arrow-batched per-row dot products against EVERY
    centroid — the 2-D :func:`dot64_seq`.  ``acc[:, i] = (…(0.0 +
    v0·c_i0) + v1·c_i1)…`` performs the HOF fold's additions in the
    same order per (row, centroid), vectorized across rows × centroids
    instead of interpreted per element — the scale path of
    ``operators/similarity._centroid_scored_cells`` when the √N grid
    makes the interpreted fold the wall (79 of 89 s at the 128×
    probe).  Rows whose length differs from the centroid dim emit an
    all-None array — exactly the HOF path's zip_with null-padding
    collapse (any padded dim nulls the product; the fold is
    null-absorbing, so every centroid dot goes null).  Caller contract
    (shared with dot64_seq): elements are non-null — vec_finite runs
    upstream on every consumer — because Arrow surfaces a SQL NULL
    element as NaN, which this path cannot tell from a real NaN."""
    C = np.array([list(v) for v in seed_vecs], dtype=np.float64)
    n_cells, dim = C.shape
    Ct = np.ascontiguousarray(C.T)  # (dim, n_cells)

    @pandas_udf(ArrayType(DoubleType()))
    def dots(v: pd.Series) -> pd.Series:
        arrs = v.to_numpy()
        ok = np.fromiter(
            (a is not None and len(a) == dim for a in arrs),
            dtype=bool,
            count=len(arrs),
        )
        out = np.empty(len(arrs), dtype=object)
        idx = np.flatnonzero(ok)
        if idx.size:
            V = np.vstack(
                [np.asarray(arrs[i], dtype=np.float64) for i in idx]
            )
            acc = np.zeros((idx.size, n_cells))
            for d in range(dim):
                acc = acc + V[:, d : d + 1] * Ct[d]
            for j, i in enumerate(idx):
                out[i] = acc[j]
        for i in np.flatnonzero(~ok):
            out[i] = [None] * n_cells
        return pd.Series(out)

    return dots


# Pair-enumeration chunk bound for block_pair_cos: caps the fancy-index
# copies (A = V[ii]) so a degenerate block streams
# its N^2 pairs in bounded memory instead of materializing them all at
# once.  32k pairs = 2 sides x 32k x 64 dims x 8 B ≈ 33 MB of
# temporaries per chunk — measured r13: the previous 131k-pair chunks
# (134 MB of fresh allocations per chunk) hit multi-second page-fault /
# THP-compaction stalls in FRESH Python workers (432k-pair fold: 8.1 s
# at 131k chunks vs 0.94 s at 32k in a cold process, identical
# survivors), and every streaming micro-batch's workers are cold.
# Regular scale-aware blocks (~3N/(labels*sqrt(N)) rows, <=150 at the
# 128x probe) never reach the bound either way.
BLOCK_PAIR_CHUNK = 1 << 15


def block_pair_cos(min_cos: float, label_type: str | None = None):
    """Factory: grouped-map (``applyInPandas``) WITHIN-BLOCK pair
    cosine — the §8 'move the heavy bytes once' shape for blocked
    self-joins.  The equi-self-join form materializes every candidate
    pair as a row carrying BOTH 64-dim vectors (9M pairs x 128 doubles
    ≈ 9 GB through the exchange and, on the dot64_seq variant, through
    Arrow — measured 141 s at the 128x vectors probe vs 31 s for the
    interpreted fold it was meant to beat); this pass ships each block
    row ONCE (vec_id, v, nrm) and enumerates pairs inside numpy, so
    the Python boundary carries N rows in and only the ≥min_cos
    survivors out.

    Bit-parity contract (the dot64_seq device, per pair): the cosine
    is the sequential fold ``((0.0 + x0·y0) + x1·y1) + …`` vectorized
    ACROSS pairs — one IEEE multiply and add per dim in fold order —
    then one multiply (na·nb) and one divide, exactly
    ``cosine_pre(dot(a, b), na, nb)`` including the zero-norm guard's
    0.0.  Pairs are unordered with ``vec_a < vec_b`` (strict: equal
    ids never pair, mirroring the join's filter); each block's rows
    must be 64-dim finite (callers run with_planted_neighbors
    upstream).  ``min_cos`` is a PREFILTER — callers keep their exact
    Spark-side threshold/round semantics on the returned raw ``cos``
    and must pass a lower bound that can never exclude a survivor.

    Returns ``(fn, schema)`` for ``groupBy(...).applyInPandas``;
    ``label_type`` adds a constant-within-block passthrough column."""
    cols = ["vec_a", "vec_b"] + (["label"] if label_type else []) + ["cos"]
    schema = "vec_a bigint, vec_b bigint, " + (
        f"label {label_type}, " if label_type else ""
    ) + "cos double"

    def pairs_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = {
            "vec_a": np.empty(0, dtype=np.int64),
            "vec_b": np.empty(0, dtype=np.int64),
            "cos": np.empty(0, dtype=np.float64),
        }
        if label_type:
            empty["label"] = np.empty(0, dtype=object)
        if m < 2:
            return pd.DataFrame({c: empty[c] for c in cols})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        V = np.vstack(pdf["v"].to_numpy())
        ii_all, jj_all = np.triu_indices(m, k=1)
        keep = ids[ii_all] != ids[jj_all]
        ii_all, jj_all = ii_all[keep], jj_all[keep]
        outs = []
        for lo in range(0, len(ii_all), BLOCK_PAIR_CHUNK):
            ii = ii_all[lo : lo + BLOCK_PAIR_CHUNK]
            jj = jj_all[lo : lo + BLOCK_PAIR_CHUNK]
            A, B = V[ii], V[jj]
            acc = np.zeros(len(ii))
            for d in range(V.shape[1]):
                acc = acc + A[:, d] * B[:, d]
            na, nb = nrm[ii], nrm[jj]
            ok = (na > 0) & (nb > 0)
            prod = na * nb
            cos = np.where(ok, acc / np.where(ok, prod, 1.0), 0.0)
            sel = cos >= min_cos
            if not sel.any():
                continue
            si, sj = ii[sel], jj[sel]
            outs.append(
                (
                    np.minimum(ids[si], ids[sj]),
                    np.maximum(ids[si], ids[sj]),
                    cos[sel],
                )
            )
        if not outs:
            return pd.DataFrame({c: empty[c] for c in cols})
        va = np.concatenate([o[0] for o in outs])
        vb = np.concatenate([o[1] for o in outs])
        cs = np.concatenate([o[2] for o in outs])
        data = {"vec_a": va, "vec_b": vb, "cos": cs}
        if label_type:
            data["label"] = np.full(len(va), pdf["label"].iloc[0])
        return pd.DataFrame({c: data[c] for c in cols})

    return pairs_fn, schema


def topk_cells_udf(k: int, n_cells: int):
    """Factory: Arrow-batched top-k CELL INDICES of a per-row score
    array, ordered (score DESC, cell DESC) — value-identical to the
    interpreted ``reverse(array_sort(transform(ca, (c, i) → struct(c,
    i))))`` + slice idiom, whose per-row struct sort is the measured
    wall at scaled grids (70k rows × a 252-struct interpreted sort =
    ~18 s at the 128× probe; this path is one C argsort per row).  The
    tie rule rides a column REVERSAL: a stable ascending argsort of
    the reversed negated row keeps reversed positions (= higher cell
    first) among equal scores, exactly the struct sort's (cos, cell)
    descending order.  Rows whose array length differs from the
    caller-known ``n_cells`` (impossible post vec_finite; defensive)
    emit NULL."""
    from pyspark.sql.types import IntegerType

    @pandas_udf(ArrayType(IntegerType()))
    def topk(ca: pd.Series) -> pd.Series:
        arrs = ca.to_numpy()
        out = np.empty(len(arrs), dtype=object)
        if not len(arrs):
            return pd.Series(out)
        lens = np.fromiter(
            (len(a) if a is not None else -1 for a in arrs),
            dtype=np.int64,
            count=len(arrs),
        )
        ok = lens == n_cells
        idx = np.flatnonzero(ok)
        if idx.size and n_cells > 0:
            CA = np.vstack([np.asarray(arrs[i], dtype=np.float64) for i in idx])
            # Reverse columns so stable ties resolve to the HIGHER cell.
            order = np.argsort(-CA[:, ::-1], axis=1, kind="stable")[:, :k]
            cells = (n_cells - 1 - order).astype(np.int32)
            for j, i in enumerate(idx):
                out[i] = cells[j]
        for i in np.flatnonzero(~ok):
            out[i] = None
        return pd.Series(out)

    return topk


@pandas_udf(LongType())
def int_total_qty(qty: pd.Series) -> int:  # Series -> scalar = GROUPED_AGG
    """Grouped-agg pandas UDF: integer sum of (integral-valued) quantities.
    Integer accumulation is order-insensitive, so the result hash-matches
    any engine."""
    return int(qty.astype("int64").sum())


def top_order_per_customer(orders: DataFrame) -> DataFrame:
    """Grouped-map ``applyInPandas``: each customer's single largest order.

    Total order inside each group — (o_totalprice DESC, o_orderkey ASC) —
    makes the selection deterministic regardless of Arrow batch order.
    Equivalent SQL: QUALIFY row_number() OVER (...) = 1; expressed as a
    grouped-map UDF deliberately, to exercise the per-group pandas path.

    Scale note: grouping ``applyInPandas`` directly by customer would make
    one Python call per customer — per-call overhead (Arrow slice, pandas
    construction, function dispatch) dominates when groups are tiny, and at
    100 TB that is millions of wasted round-trips.  Instead we group by a
    COARSE hash chunk of the customer key (customers are disjoint across
    chunks, so per-customer results stay exact) and resolve all customers in
    a chunk with one vectorized pandas pass.  Same trick works for any
    per-key Python operator over high-cardinality keys.
    """

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        # One vectorized pass for every customer in the chunk: total order
        # (custkey, price DESC, orderkey ASC), then first row per customer.
        i = np.lexsort(
            (
                pdf["o_orderkey"].to_numpy(),
                -pdf["o_totalprice"].to_numpy(),
                pdf["o_custkey"].to_numpy(),
            )
        )
        ordered = pdf.iloc[i]
        return ordered[~ordered["o_custkey"].duplicated().to_numpy()]

    # Project BEFORE the grouped-map: applyInPandas ships every input
    # column through Arrow; pruning to the 3 needed columns shrinks the
    # shuffle and the Python-side transfer alike.
    pruned = orders.select("o_custkey", "o_orderkey", "o_totalprice")
    # Chunk count = a few groups per core: enough for parallelism and AQE
    # skew handling, few enough that each Python call amortizes its
    # constant over thousands of customers.
    n = orders.sparkSession.sparkContext.defaultParallelism * 4
    chunked = pruned.withColumn("chunk", F.pmod(F.xxhash64("o_custkey"), F.lit(n)))
    return (
        chunked.groupBy("chunk")
        .applyInPandas(
            pick,
            schema="o_custkey long, o_orderkey long, o_totalprice double, chunk long",
        )
        .drop("chunk")
    )


def make_chunker_udtf():
    """Python UDTF (Spark 4 user-defined TABLE function): one input doc
    row → one output row per 3-token chunk, with position.  The lateral
    per-row fan-out shape a scalar UDF cannot express — and the slow
    path done right: the UDTF is registered once and applied via
    ``LATERAL``, executing Arrow-batched per partition, so the Python
    boundary is crossed per-batch, not per-row."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, chunk string")
    class Chunker:
        def eval(self, doc_id: int, text: str):
            from kafka_go_cardinality_spark.functions import fold_py

            toks = fold_py(text).strip().split()
            for i in range(0, len(toks), 3):
                yield i // 3, " ".join(toks[i : i + 3])

    return Chunker
