"""Seeded benchmark inputs, written with numpy and pyarrow.

Every function here is pure in its arguments: the same seed gives
byte-identical parquet files (``tests/test_gen.py`` pins this). Nothing
here touches Spark or the program under test, so generation always runs
outside the benchmark's clocks.

Distributions follow ``tools/gen_sf.py`` (the repo's fixture
generator): uniform keys, 5-way categorical splits, ~4 lines per order
drawn as 1..7, prices in cents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark line column order sort scan hash value table query key group "
    "filter stream slow fast small large the a part customer agg vector "
    "batch join row plan shuffle cache"
).split()

#: Seconds since the epoch of 1995-01-01, the first order date.
_EPOCH_1995 = 788918400
_DAY = 86400


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream per (seed, table, part) so adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, *stream])


def _pick(rng: np.random.Generator, options: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)], pa.string())


def _cents(rng: np.random.Generator, lo: float, span_cents: int, n: int) -> np.ndarray:
    return np.round(lo + rng.integers(0, span_cents, n) / 100.0, 2)


def _ts_seconds(secs: np.ndarray) -> pa.Array:
    return pa.array(secs.astype("int64") * 1_000_000, pa.timestamp("us"))


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# -- TPC-H-shaped tables ---------------------------------------------------

def nation() -> pa.Table:
    ids = np.arange(25)
    return pa.table({
        "n_nationkey": pa.array(ids, pa.int32()),
        "n_name": [f"NATION_{i}" for i in ids],
        "n_regionkey": pa.array(ids % 5, pa.int32()),
    })


def customer(seed: int, n: int) -> pa.Table:
    r = _rng(seed, 1)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": ids,
        "c_name": [f"Customer#{i:09d}" for i in ids],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _cents(r, -1000.0, 1_100_000, n),
        "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    })


def supplier(seed: int, n: int) -> pa.Table:
    r = _rng(seed, 2)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": ids,
        "s_name": [f"Supplier#{i:09d}" for i in ids],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _cents(r, -1000.0, 1_100_000, n),
    })


def part(seed: int, n: int) -> pa.Table:
    r = _rng(seed, 3)
    adj = np.asarray(["large", "small", "hot", "cold", "old", "new", "blue", "red"], dtype=object)
    noun = np.asarray(["ring", "bolt", "plate", "screw", "wheel", "gear"], dtype=object)
    names = adj[r.integers(0, len(adj), n)] + " " + noun[r.integers(0, len(noun), n)]
    return pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)], pa.string()),
        "p_type": _pick(r, ["LARGE", "STANDARD", "MEDIUM", "ECONOMY", "SMALL", "PROMO"], n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": _cents(r, 900.0, 10_000, n),
    })


def orders(seed: int, n: int, n_cust: int) -> pa.Table:
    r = _rng(seed, 4)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": _pick(r, ["O", "P", "F"], n),
        "o_totalprice": _cents(r, 1000.0, 49_900_000, n),
        "o_orderdate": _ts_seconds(_EPOCH_1995 + r.integers(0, 2404, n) * _DAY),
        "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })


def lineitem(seed: int, order_lo: int, order_hi: int, n_part: int, n_supp: int) -> pa.Table:
    """Lines of orders ``[order_lo, order_hi)``, 1..7 per order, sorted by
    order key (so key-range batches carry tight min/max stats)."""
    r = _rng(seed, 5, order_lo)
    okeys = np.arange(order_lo, order_hi, dtype=np.int64)
    per = r.integers(1, 8, len(okeys))
    lo = np.repeat(okeys, per)
    n = len(lo)
    starts = np.repeat(np.cumsum(per) - per, per)
    return pa.table({
        "l_orderkey": lo,
        "l_partkey": r.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 10_410_000, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _ts_seconds(_EPOCH_1995 + _DAY + r.integers(0, 2498, n) * _DAY),
    })


# -- analyst_read ----------------------------------------------------------

#: analyst_read's scale: ~150k lineitem rows (sf0.025 of TPC-H).
ANALYST_SF = 0.025


def analyst(seed: int, out: str, n_batches: int) -> list[str]:
    """Dimension tables under ``<out>/dims`` and the lineitem fact split
    into ``n_batches`` order-key ranges under ``<out>/lineitem``; returns
    the batch paths in commit order."""
    n_cust, n_supp, n_part, n_ord = (int(n * ANALYST_SF) for n in (150_000, 10_000, 200_000, 1_500_000))
    write(nation(), f"{out}/dims/nation.parquet")
    write(customer(seed, n_cust), f"{out}/dims/customer.parquet")
    write(supplier(seed, n_supp), f"{out}/dims/supplier.parquet")
    write(part(seed, n_part), f"{out}/dims/part.parquet")
    write(orders(seed, n_ord, n_cust), f"{out}/dims/orders.parquet")
    bounds = np.linspace(0, n_ord, n_batches + 1).astype(int)
    paths = []
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        p = f"{out}/lineitem/batch-{i:03d}.parquet"
        write(lineitem(seed, int(lo), int(hi), n_part, n_supp), p)
        paths.append(p)
    return paths


# -- lake_ingest / cdc_freshness rows ------------------------------------------

#: Group-key domain of the keyed tables (the view's GROUP BY column).
N_GROUPS = 50


def keyed_rows(seed: int, stream: int, keys: np.ndarray) -> pa.Table:
    """Rows of the keyed tables that lake_ingest and cdc_freshness write:
    a unique ``k``, a group ``grp``, an integer measure ``v`` (integers so
    sums are exact in every engine) and a short tag ``s``."""
    r = _rng(seed, 9, stream)
    n = len(keys)
    return pa.table({
        "k": np.asarray(keys, dtype=np.int64),
        "grp": pa.array(r.integers(0, N_GROUPS, n), pa.int32()),
        "v": r.integers(0, 1_000_000, n).astype(np.int64),
        "s": _pick(r, WORDS, n),
    })

