"""Seeded input generators for the benchmark.

Every input is built here from ``--seed`` with NumPy and written with
pyarrow, never through ``optimizing_spark.sources``, so a change to the
program cannot change its own input. The same seed gives byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 1
HELD_OUT_SEED = 7919  # never used while tuning; for confirming a claimed gain

WORLD = 1 << 16          # the engine's power-of-two world edge
CELL6 = WORLD >> 6       # edge of a depth-6 grid cell

# sf0.1 row counts of the driver's TPC-H-shaped tables
TPCH_ROWS = {"orders": 150_000, "supplier": 1_000, "customer": 15_000, "nation": 25}

# docs_pipeline / checkpoint_commit corpus size
DOCS = 100_000
DOC_FILES = 4
# skewed_join sizes and planted skew
SKEW_OBJECTS = 600_000
SKEW_QUERIES = 600
SKEW_HOT_OBJECTS = 0.30
SKEW_HOT_QUERIES = 0.10

_KINDS = np.array(["text", "image", "audio", "video"])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str, row_groups: int = 1) -> None:
    rg = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rg)


def write_tpch(out_dir: str, seed: int) -> dict[str, int]:
    """lineitem / supplier / customer / nation with the driver's schema
    and sf0.1 row counts, one single-row-group file per table as the
    driver writes them. Keys are seeded samples, so the spatial tables
    the queries derive from them move with the seed."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)
    n_supp, n_cust, n_nat = (TPCH_ROWS[k] for k in ("supplier", "customer", "nation"))

    suppkeys = np.sort(r.choice(100_000, n_supp, replace=False) + 1).astype(np.int64)
    custkeys = np.sort(r.choice(1_500_000, n_cust, replace=False) + 1).astype(np.int64)

    n_orders = TPCH_ROWS["orders"]
    lines_per = r.integers(1, 8, n_orders)
    n = int(lines_per.sum())
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64) * 4, lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = r.integers(1, 20_001, n).astype(np.int64)
    suppkey = suppkeys[r.integers(0, n_supp, n)]
    qty = r.integers(1, 51, n).astype(np.float64)
    unit_cents = r.integers(90_000, 200_000, n)
    extprice = (qty * unit_cents).round() / 100.0
    discount = r.integers(0, 11, n) / 100.0
    tax = r.integers(0, 9, n) / 100.0
    shipdate = (np.datetime64("1992-01-02") + r.integers(0, 2400, n).astype("timedelta64[D]")
                ).astype("datetime64[us]")
    shipped = shipdate < np.datetime64("1995-06-17")
    returnflag = np.where(shipped, np.where(r.random(n) < 0.5, "R", "A"), "N")
    linestatus = np.where(shipped, "F", "O")
    _write(pa.table({
        "l_orderkey": orderkey, "l_partkey": partkey, "l_suppkey": suppkey,
        "l_linenumber": linenumber, "l_quantity": qty, "l_extendedprice": extprice,
        "l_discount": discount, "l_tax": tax,
        "l_returnflag": returnflag, "l_linestatus": linestatus,
        "l_shipdate": pa.array(shipdate, type=pa.timestamp("us")),
    }), os.path.join(out_dir, "lineitem.parquet"))

    _write(pa.table({
        "s_suppkey": suppkeys,
        "s_name": [f"Supplier#{k:09d}" for k in suppkeys],
        "s_nationkey": r.integers(0, n_nat, n_supp).astype(np.int32),
        "s_acctbal": r.integers(-99_999, 1_000_000, n_supp) / 100.0,
    }), os.path.join(out_dir, "supplier.parquet"))

    _write(pa.table({
        "c_custkey": custkeys,
        "c_name": [f"Customer#{k:09d}" for k in custkeys],
        "c_nationkey": r.integers(0, n_nat, n_cust).astype(np.int32),
        "c_acctbal": r.integers(-99_999, 1_000_000, n_cust) / 100.0,
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[r.integers(0, 5, n_cust)],
    }), os.path.join(out_dir, "customer.parquet"))

    _write(pa.table({
        "n_nationkey": np.arange(n_nat, dtype=np.int32),
        "n_name": [f"NATION{k:02d}" for k in range(n_nat)],
        "n_regionkey": (np.arange(n_nat) % 5).astype(np.int32),
    }), os.path.join(out_dir, "nation.parquet"))
    return {"lineitem": n, "supplier": n_supp, "customer": n_cust, "nation": n_nat}


def write_documents(path: str, seed: int) -> int:
    """DOCS interleaved text + media documents in the input_hint shape:
    (doc_id string, spans array<struct<kind, text, media_ref, offset>>),
    1-8 spans per document, written as DOC_FILES parquet files."""
    os.makedirs(path, exist_ok=True)
    r = _rng(seed, 2)
    n = DOCS
    n_spans = r.integers(1, 9, n)
    total = int(n_spans.sum())
    kind_idx = r.integers(0, 4, total)
    payload = np.char.mod("%016x", r.integers(0, 1 << 62, total, dtype=np.int64))
    is_text = kind_idx == 0
    lengths = r.integers(1, 65, total)
    starts = np.repeat(np.cumsum(n_spans) - n_spans, n_spans)
    cum = np.cumsum(lengths) - lengths
    offsets = (cum - cum[starts]).astype(np.int32)
    spans = pa.StructArray.from_arrays(
        [pa.array(_KINDS[kind_idx]),
         pa.array(np.where(is_text, np.char.add("t-", payload), "")),
         pa.array(np.where(~is_text, np.char.add("m-", payload), "")),
         pa.array(offsets, type=pa.int32())],
        names=["kind", "text", "media_ref", "offset"],
    )
    list_offsets = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)
    table = pa.table({
        "doc_id": [f"doc-{i:012d}" for i in range(n)],
        "spans": pa.ListArray.from_arrays(pa.array(list_offsets), spans),
    })
    per = -(-n // DOC_FILES)
    for f in range(DOC_FILES):
        _write(table.slice(f * per, per), os.path.join(path, f"part-{f:02d}.parquet"), 4)
    return n


def write_skewed_boxes(out_dir: str, seed: int) -> dict[str, int]:
    """objects(obj_id, min_x, min_y, max_x, max_y) and queries(query_id,
    ...): integer boxes in the 2^16 world. SKEW_HOT_OBJECTS of the
    objects and SKEW_HOT_QUERIES of the queries lie wholly inside one
    depth-6 cell; the rest are uniform. Both are stored in cell order."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 4)
    hx, hy = (int(v) for v in r.integers(8, 56, 2))  # the hot depth-6 cell

    def boxes(n: int, hot_frac: float, size_lo: int, size_hi: int) -> dict[str, np.ndarray]:
        n_hot = int(n * hot_frac)
        sx = r.integers(size_lo, size_hi, n)
        sy = r.integers(size_lo, size_hi, n)
        x = r.integers(0, WORLD - sx)
        y = r.integers(0, WORLD - sy)
        # hot boxes: shrink to fit the hot cell, then place them inside it
        sx[:n_hot] = np.minimum(sx[:n_hot], CELL6 // 2)
        sy[:n_hot] = np.minimum(sy[:n_hot], CELL6 // 2)
        x[:n_hot] = hx * CELL6 + r.integers(0, CELL6 - sx[:n_hot])
        y[:n_hot] = hy * CELL6 + r.integers(0, CELL6 - sy[:n_hot])
        # rows in depth-6 cell order, as a cell-clustered table stores
        # them: the hot cell's rows share a few row groups, hence tasks
        order = np.argsort((x // CELL6) * 64 + y // CELL6, kind="stable")
        x, y, sx, sy = x[order], y[order], sx[order], sy[order]
        return {"min_x": x.astype(np.int64), "min_y": y.astype(np.int64),
                "max_x": (x + sx).astype(np.int64), "max_y": (y + sy).astype(np.int64)}

    objs = boxes(SKEW_OBJECTS, SKEW_HOT_OBJECTS, 1, 98)
    qs = boxes(SKEW_QUERIES, SKEW_HOT_QUERIES, 256, 2049)
    _write(pa.table({"obj_id": np.arange(SKEW_OBJECTS, dtype=np.int64), **objs}),
           os.path.join(out_dir, "objects.parquet"), 8)
    _write(pa.table({"query_id": np.arange(SKEW_QUERIES, dtype=np.int64), **qs}),
           os.path.join(out_dir, "queries.parquet"))
    return {"objects": SKEW_OBJECTS, "queries": SKEW_QUERIES}


def candidate_pairs(objs: dict[str, np.ndarray], qs: dict[str, np.ndarray],
                    depth: int = 6) -> int:
    """Sum over depth-``depth`` grid cells of n_query * n_object, where
    each box counts in every cell it covers: the work a cell-partitioned
    range join does before its overlap filter."""
    n = 1 << depth
    size = WORLD / n

    def cell_counts(b: dict[str, np.ndarray]) -> np.ndarray:
        gx0, gx1, gy0, gy1 = (np.clip(np.floor(b[k] / size), 0, n - 1).astype(np.int64)
                              for k in ("min_x", "max_x", "min_y", "max_y"))
        grid = np.zeros((n + 1, n + 1), dtype=np.int64)
        # 2D difference array: +1 over [gx0, gx1] x [gy0, gy1]
        np.add.at(grid, (gx0, gy0), 1)
        np.add.at(grid, (gx1 + 1, gy0), -1)
        np.add.at(grid, (gx0, gy1 + 1), -1)
        np.add.at(grid, (gx1 + 1, gy1 + 1), 1)
        return grid.cumsum(0).cumsum(1)[:n, :n]

    return int((cell_counts(objs) * cell_counts(qs)).sum())
