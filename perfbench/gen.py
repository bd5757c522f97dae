"""Seeded input generators for the ingest benchmark.

Everything here is a pure function of the seed: the same seed gives the
same tables, raw files, batches and drops.  Nothing touches Spark, so
the program under test only ever sees files that already exist.

The relational tables follow the repository's fixture schemas (the
TPC-H-shaped star plus ``documents``, see FIXTURES.md) with the value
domains the registry queries filter on.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import os
from decimal import Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "green", "tiny"]
PART_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear"]

EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400_000_000
ORDER_DAY0 = (dt.datetime(1995, 1, 1) - EPOCH).days
ORDER_DAYS = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose...)."""
    return np.random.default_rng([seed, *stream])


def _money(rng, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def timestamps(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * DAY_US, type=pa.timestamp("us"))


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem at
    scale factor ``sf`` (lineitem ~ 6M x sf rows)."""
    rng = rng_for(seed, 1)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -99_999, 999_999, n_supp),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(
                rng.integers(0, len(PART_ADJ), n_part),
                rng.integers(0, len(PART_NOUN), n_part),
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    o_days = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": timestamps(o_days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_order)
    ship = o_days[l_order] + rng.integers(1, 122, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 90_000, 10_500_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": timestamps(ship),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def write_parquet_dir(tables: dict[str, pa.Table], out: Path) -> None:
    """One ``<name>.parquet`` per table — the layout the registry's
    ``sf_dir`` argument expects."""
    out.mkdir(parents=True, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, out / f"{name}.parquet")


def with_lower_qty_duplicates(
    lineitem: pa.Table, seed: int, share: float
) -> pa.Table:
    """Append, for a seeded ``share`` of (orderkey, linenumber) keys, a
    second version with a strictly lower ``l_quantity`` and a different
    price and return flag.  W1 orders by (qty, net_price, ship_ts) desc, so
    the original row survives and the stage oracle is unchanged."""
    rng = rng_for(seed, 2)
    n = lineitem.num_rows
    pick = np.sort(rng.choice(n, int(n * share), replace=False))
    dup = lineitem.take(pa.array(pick))
    qty = dup["l_quantity"].to_numpy()
    cols = {c: dup[c] for c in dup.column_names}
    cols["l_quantity"] = pa.array(qty - rng.integers(1, 5, len(pick)).clip(max=qty))
    cols["l_extendedprice"] = pa.array(_money(rng, 90_000, 10_500_000, len(pick)))
    cols["l_returnflag"] = pa.array(
        np.array(["A", "N", "R"])[rng.integers(0, 3, len(pick))]
    )
    dup = pa.table(cols, schema=lineitem.schema)
    both = pa.concat_tables([lineitem, dup])
    return both.take(pa.array(rng.permutation(both.num_rows)))


# -- raw zone -----------------------------------------------------------


def write_raw_csv_files(table: pa.Table, out_dir: Path, n_files: int) -> int:
    """Raw-zone drop: ``n_files`` gzip CSV files with header (the layout
    ``sources.csv.read_raw_csv`` reads).  Returns bytes written."""
    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for f in range(n_files):
        buf = io.BytesIO()
        pacsv.write_csv(table.slice(bounds[f], bounds[f + 1] - bounds[f]), buf)
        path = out_dir / f"part-{f:05d}.csv.gz"
        with open(path, "wb") as raw, gzip.GzipFile(
            fileobj=raw, mode="wb", compresslevel=1, mtime=0
        ) as gz:
            gz.write(buf.getvalue())
        total += path.stat().st_size
    return total


# -- incremental tables -------------------------------------------------


def month_add(yyyymm: int, k: int) -> int:
    y, m = divmod(yyyymm // 100 * 12 + yyyymm % 100 - 1 + k, 12)
    return y * 100 + m + 1


def current_period() -> int:
    """This month as YYYYMM, from the clock the pipeline's delete-window
    cutoff reads."""
    now = dt.datetime.now()
    return now.year * 100 + now.month


def net_price(ext: float, disc: float) -> float:
    """The stage's ``net_price``: exact decimal arithmetic, landed as
    double (what CAST(decimal AS DOUBLE) yields)."""
    return float(Decimal(repr(ext)) * (1 - Decimal(repr(disc))))


# -- documents and drops ------------------------------------------------

_VOCAB = [
    a + b
    for a in ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze",
              "ba", "do", "fi", "gu", "ha")
    for b in ("n", "r", "s", "t", "x", "la", "mo", "ne", "pi", "qu",
              "so", "ti", "va", "we")
]


class DocFeed:
    """Seeded document drops: (doc_id, text) with lowercase single-space
    tokens.  A ``dup_share`` of documents are near-copies of an earlier
    original (from this drop or an earlier one): an exact copy, or the
    copy with one trailing token appended or removed.  With 80 to 120
    tokens per original, any two documents of one family have a 3-gram
    Jaccard of at least 0.97, so MinHash recall is effectively 1 and the
    LSH candidate step cannot disagree with the exact pair relation the
    oracle uses; unrelated documents share almost no 3-grams."""

    def __init__(self, seed: int, dup_share: float):
        self.rng = rng_for(seed, 3)
        self.dup_share = dup_share
        self.originals: list[list[str]] = []
        self.ids: set[int] = set()

    def _text(self) -> str:
        rng = self.rng
        if self.originals and rng.random() < self.dup_share:
            toks = self.originals[int(rng.integers(0, len(self.originals)))]
            kind = int(rng.integers(0, 3))
            if kind == 1:
                toks = toks + [_VOCAB[int(rng.integers(0, len(_VOCAB)))]]
            elif kind == 2:
                toks = toks[:-1]
        else:
            toks = [_VOCAB[i] for i in
                    rng.integers(0, len(_VOCAB), int(rng.integers(80, 121)))]
            self.originals.append(toks)
        return " ".join(toks)

    def drop(self, n: int) -> list[tuple[int, str]]:
        rows = []
        for _ in range(n):
            d = int(self.rng.integers(0, 1 << 40))
            while d in self.ids:
                d = int(self.rng.integers(0, 1 << 40))
            self.ids.add(d)
            rows.append((d, self._text()))
        return sorted(rows)


def write_drop(rows: list[tuple[int, str]], path: Path, index: int) -> int:
    """One parquet file of a time-ordered drop: its mtime is pinned so the
    file stream (which takes files in modification-time order) sees drop
    ``index`` after drop ``index - 1``.  Returns bytes written."""
    path.parent.mkdir(parents=True, exist_ok=True)
    t = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
    })
    tmp = path.parent / f".{path.name}.tmp"  # hidden from the file stream
    pq.write_table(t, tmp)
    os.utime(tmp, (1_000_000 + index, 1_000_000 + index))
    os.rename(tmp, path)
    return path.stat().st_size
