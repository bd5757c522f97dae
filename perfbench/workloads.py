"""The ingest workloads.

Each workload has a ``setup`` (input generation and base tables), a
``round`` (a fixed amount of work, timed from the first input call to
the last commit or result) and a ``check`` of the program's outputs
against an oracle, run after the timed rounds.

Why these two (also recorded in BENCHMARK.json):

- ``incremental_merge``: small seeded batches into existing tables, so
  commit protocol, manifest and listing, plan construction and rewrite
  amplification dominate.  One of its tables is a document feed drained
  through ``streaming/``, so per-trigger planning, WAL and commit log,
  foreachBatch and the group commit are on this path too.
- ``lake_queries``: read-only; Catalyst, scans, shuffles and AQE do the
  work with zero commits, so a table, commit or streaming change should
  leave it unchanged.  Its set-up is the full load (raw gzip CSV through
  the DSL, W1 dedup and an overwrite) of the stage tables it reads.
"""

from __future__ import annotations

import datetime as dt
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa

import gen
from tracing import Tracer

from cdk_datalake_ingest_spark.dsl.compiler import BIGMAGIC, compile_transformation
from cdk_datalake_ingest_spark.operators.incremental import lookback_period_cutoff
from cdk_datalake_ingest_spark.operators.table import ManagedTable
from cdk_datalake_ingest_spark.plans.pipeline import StagePipeline
from cdk_datalake_ingest_spark.plans.planner import RunLog, RunPlanner
from cdk_datalake_ingest_spark.queries import (
    ORACLES,
    QUERIES,
    _STAGE_COLUMNS,
    _STAGE_TABLE,
)
from cdk_datalake_ingest_spark.sources.csv import read_raw_csv
from cdk_datalake_ingest_spark.specs import (
    ColumnSpec,
    ConfigCatalog,
    EndpointSpec,
    TableSpec,
)
from cdk_datalake_ingest_spark.streaming.neardup import stream_near_dup_ingest
from tools.check_parity import compare

#: Scale of each workload's inputs.  Chosen so that a run of set-ups and
#: several rounds fits the benchmark's time budget on 4 cores.
MERGE_SF = 0.003
QUERIES_SF = 0.005
#: share of lineitem keys that arrive twice, the second time with a lower
#: quantity (W1 keeps the original, so the oracle is unchanged)
DUP_SHARE = 0.05
#: documents per drop of the document feed, and the share of near-copies
DOCS_PER_DROP = 60
DOC_DUP_SHARE = 0.25

#: StagePipeline retries a failed write after ``retry_sleep_base * n`` s;
#: a minute-scale sleep would stall a timed run, so retries are fast.
RETRY_SLEEP = 0.2


@dataclass
class Ctx:
    spark: object
    seed: int
    work: Path
    tracer: Tracer
    nproc: int
    status: object = None
    listener: object = None


@dataclass
class RoundResult:
    start: float
    end: float
    #: latency of each operation of the round, by operation name
    ops: dict[str, float]
    rows: int
    source_bytes: int
    attempted: int
    failed: int
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Workload:
    name = ""
    #: fewest timed rounds per run
    rounds = 3
    #: untimed rounds before the timed ones: with run.JVM_OPTS the cold
    #: round compiles the hot code, and from the next round on round times
    #: are flat
    warmup = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer

    def span(self, name, **kw):
        return self.tracer.span(name, **kw)

    def setup(self) -> None:
        raise NotImplementedError

    def round(self) -> RoundResult:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def table_dirs(self) -> list[Path]:
        """ManagedTable roots whose snapshots and space are reported."""
        return []

    def compile_specs(self) -> list[list[ColumnSpec]]:
        """Column-spec sets one round compiles (for ``dsl.compile_s``)."""
        return []


def stage_loads(spark, loads: list[tuple[TableSpec, list[ColumnSpec], Path, Path]]
                ) -> None:
    """First loads of stage tables, run concurrently: raw CSV through the
    DSL and W1 into a fresh ManagedTable snapshot each."""

    def load(spec, cols, raw_dir, path):
        pipe = StagePipeline(spark, spec, cols, strict=True,
                             retry_sleep_base=RETRY_SLEEP)
        res = pipe.transform(read_raw_csv(spark, str(raw_dir)))
        if res.failed_columns:
            raise RuntimeError(f"{spec.target_table_name}: {res.failed_columns}")
        ManagedTable(spark, str(path)).write(
            res.df, partition_by=pipe.partition_columns or None)

    with ThreadPoolExecutor(len(loads)) as pool:
        for f in [pool.submit(load, *a) for a in loads]:
            f.result()


# -- incremental_merge ------------------------------------------------------


def _cents(v) -> int:
    return int((Decimal(str(v)) * 100).to_integral_value())


ORDERS_COLUMNS = [
    ColumnSpec("order_id", 1, "bigint", "o_orderkey", is_id=True),
    ColumnSpec("cust_id", 2, "bigint", "o_custkey"),
    ColumnSpec(
        "status", 3, "string",
        "fn_transform_Case_with_default(o_orderstatus,F->FINISHED,"
        "O->OPEN,P->PARTIAL,$UNKNOWN)",
    ),
    ColumnSpec("total", 4, "decimal(18,2)", "o_totalprice"),
    ColumnSpec("order_ts", 5, "timestamp_ntz", "o_orderdate"),
    ColumnSpec("order_month", 6, "string",
               "fn_transform_Date_to_String(o_orderdate,yyyyMM)",
               is_partition=True),
    ColumnSpec("upd_seq", 7, "bigint", "upd_seq", is_filter_date=True),
]

SALES_COLUMNS = [
    ColumnSpec("sale_id", 1, "bigint", "sale_id", is_id=True),
    ColumnSpec("cust_id", 2, "bigint", "cust_id"),
    ColumnSpec("amount", 3, "decimal(18,2)", "amount"),
    ColumnSpec("processperiod", 4, "int", "processperiod"),
    ColumnSpec("upd_seq", 5, "bigint", "upd_seq", is_filter_date=True),
]

#: months of history in the transactional table, rows per month
SALES_MONTHS, SALES_PER_MONTH = 24, 100


def neardup_keep_set(docs: list[tuple[int, str]], batch_of: dict[int, int]
                     ) -> dict[int, int]:
    """Reference keep set: doc_id -> micro-batch, unrolled level by level
    over the exact 3-gram Jaccard >= 0.5 pair relation (the survivor rule
    of streaming/neardup.py: a batch-i document is kept iff no smaller-id
    batch-i document is a near-dup of it and no document kept in an
    earlier batch is)."""
    sh = {}
    for d, text in docs:
        toks = text.split(" ")
        sh[d] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    inv: dict[str, list[int]] = {}
    for d, s in sh.items():
        for g in s:
            inv.setdefault(g, []).append(d)
    near: dict[int, set[int]] = {d: set() for d in sh}
    for d, s in sh.items():
        for o in {o for g in s for o in inv[g] if o != d}:
            inter = len(s & sh[o])
            if inter / (len(s) + len(sh[o]) - inter) >= 0.5:
                near[d].add(o)
    kept: dict[int, int] = {}
    for b in sorted(set(batch_of.values())):
        batch = {d for d in sh if batch_of[d] == b}
        kept.update({
            d: b for d in batch
            if not any(o < d for o in near[d] & batch)
            and not any(o in kept for o in near[d])
        })
    return kept


class IncrementalMerge(Workload):
    """Rounds of ``RunPlanner.run`` over four tables.  Each round merges a
    small seeded batch of updates and inserts into each of:

    - ``LINEITEM_INC``: unpartitioned (every merge rewrites the table),
      the registry's ``_STAGE_COLUMNS`` spec, with lower-qty duplicates
      in each batch for W1 to drop;
    - ``ORDERS_BY_MONTH``: partitioned by order month (the scoped-merge
      path); updates land in recent months, and a few keys arrive twice
      in a batch with an older ``upd_seq``;
    - ``SALES_TXN``: transactional (delete-window + merge);
    - ``DOC_FEED``: one new file drop of documents, drained availableNow
      through ``stream_near_dup_ingest`` (one micro-batch per round).

    The expected final state is kept alongside: the latest version per
    key with the delete window applied, and the near-dup keep set."""

    name = "incremental_merge"
    #: each round merges new data into grown tables, so Spark generates
    #: new code for a few rounds more
    warmup = 3

    def setup(self):
        w, seed = self.ctx.work, self.ctx.seed
        self.lake = w / "lake"
        self.raw = w / "raw"
        self.batch_no = 0
        self.dedup_frames = []
        self.rngs = {k: gen.rng_for(seed, 10 + i) for i, k in
                     enumerate(("li", "orders", "sales"))}
        common = dict(endpoint="bench", load_type="incremental", process_id="10")
        self.specs = {
            "LINEITEM_INC": (TableSpec(target_table_name="LINEITEM_INC",
                                       id_column="order_id,line_no", **common),
                             list(_STAGE_COLUMNS)),
            "ORDERS_BY_MONTH": (TableSpec(target_table_name="ORDERS_BY_MONTH",
                                          id_column="order_id", **common),
                                ORDERS_COLUMNS),
            "SALES_TXN": (TableSpec(target_table_name="SALES_TXN",
                                    id_column="sale_id", source_table_type="t",
                                    delay_incremental_ini=-2, **common),
                          SALES_COLUMNS),
            "DOC_FEED": (TableSpec(target_table_name="DOC_FEED", **common), []),
        }
        self.catalog = ConfigCatalog(
            endpoints=[EndpointSpec(endpoint_name="bench", bd_type="file")])
        for spec, cols in self.specs.values():
            self.catalog.add_table(spec, cols)
        self.concurrency = min(self.ctx.nproc, len(self.specs))
        self.run_log = RunLog(w / "runlog.jsonl")

        base = gen.tpch_tables(seed, MERGE_SF)
        lt = base["lineitem"]
        self.li_next_order = max(lt["l_orderkey"].to_pylist()) + 1
        self.li_model = {
            (r["l_orderkey"], r["l_linenumber"]):
                (r["l_quantity"], gen.net_price(r["l_extendedprice"], r["l_discount"]))
            for r in lt.to_pylist()
        }

        ot = base["orders"].append_column(
            "upd_seq", pa.array(np.zeros(base["orders"].num_rows, "int64")))
        self.orders_next = ot.num_rows
        self.orders_model = {
            r["o_orderkey"]: (0, _cents(r["o_totalprice"]),
                              r["o_orderdate"].strftime("%Y%m"))
            for r in ot.to_pylist()
        }
        self.orders_months = sorted({v[2] for v in self.orders_model.values()})

        # processperiod is placed relative to the month the pipeline's
        # delete-window cutoff reads, so the window covers the same rows
        # whatever the calendar says
        rng = self.rngs["sales"]
        cur = gen.current_period()
        n = SALES_MONTHS * SALES_PER_MONTH
        periods = np.array([gen.month_add(cur, -k) for k in range(SALES_MONTHS)])
        st = pa.table({
            "sale_id": pa.array(np.arange(n), pa.int64()),
            "cust_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "amount": rng.integers(100, 1_000_000, n) / 100.0,
            "processperiod": pa.array(periods[np.arange(n) % SALES_MONTHS],
                                      pa.int32()),
            "upd_seq": pa.array(np.zeros(n, "int64")),
        })
        self.sales_next = n
        self.sales_model = {
            r["sale_id"]: (0, _cents(r["amount"]), r["processperiod"])
            for r in st.to_pylist()
        }

        loads = []
        for name, tb in (("LINEITEM_INC", lt), ("ORDERS_BY_MONTH", ot),
                         ("SALES_TXN", st)):
            gen.write_raw_csv_files(tb, self.raw / "base" / name, 2)
            loads.append((*self.specs[name], self.raw / "base" / name,
                          self.lake / name))
        stage_loads(self.spark, loads)

        self.feed = gen.DocFeed(seed, DOC_DUP_SHARE)
        self.drops = w / "drops"
        self.drops.mkdir(parents=True)
        self.docs: list[tuple[int, str]] = []
        self.doc_batch: dict[int, int] = {}
        self.doc_dir = self.lake / "DOC_FEED"

    # -- batches -------------------------------------------------------
    def _batch_li(self, seq: int) -> pa.Table:
        rng = self.rngs["li"]
        keys = list(self.li_model)
        rows = [keys[i] for i in rng.choice(len(keys), 60, replace=False)]
        for _ in range(15):
            ok = self.li_next_order
            self.li_next_order += 1
            rows += [(ok, ln) for ln in range(1, 5)]
        n = len(rows)
        ship = gen.ORDER_DAY0 + rng.integers(0, gen.ORDER_DAYS, n)
        tb = pa.table({
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 50, n), pa.int64()),
            "l_linenumber": pa.array([r[1] for r in rows], pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": gen.timestamps(ship),
        })
        for r in tb.to_pylist():
            self.li_model[(r["l_orderkey"], r["l_linenumber"])] = (
                r["l_quantity"], gen.net_price(r["l_extendedprice"], r["l_discount"]))
        return gen.with_lower_qty_duplicates(
            tb, self.ctx.seed * 100_003 + seq, DUP_SHARE)

    def _batch_orders(self, seq: int) -> pa.Table:
        """Updates in the latest six months, inserts in the latest month,
        and for five keys a second, older version in the same batch (W1
        keeps the newer ``upd_seq``)."""
        rng = self.rngs["orders"]
        recent = set(self.orders_months[-6:])
        cand = sorted(k for k, v in self.orders_model.items() if v[2] in recent)
        keys = [cand[i] for i in rng.choice(len(cand), 40, replace=False)]
        keys += list(range(self.orders_next, self.orders_next + 20))
        self.orders_next += 20
        last = dt.datetime.strptime(self.orders_months[-1] + "01", "%Y%m%d")
        dates = [
            (dt.datetime.strptime(self.orders_model[k][2] + "01", "%Y%m%d")
             if k in self.orders_model else last)
            + dt.timedelta(days=int(rng.integers(0, 28)))
            for k in keys
        ]
        totals = rng.integers(100_000, 50_000_000, len(keys))
        for k, d, c in zip(keys, dates, totals):
            self.orders_model[k] = (seq * 10, int(c), d.strftime("%Y%m"))
        stale = rng.choice(len(keys), 5, replace=False)
        keys += [keys[i] for i in stale]
        dates += [dates[i] for i in stale]
        totals = np.concatenate([totals, rng.integers(100_000, 50_000_000, 5)])
        m = len(keys)
        return pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 750, m), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, m)],
            "o_totalprice": totals / 100.0,
            "o_orderdate": pa.array(dates, pa.timestamp("us")),
            "o_orderpriority": np.array(gen.PRIORITIES)[rng.integers(0, 5, m)],
            "upd_seq": pa.array([seq * 10] * (m - 5) + [seq * 10 - 1] * 5,
                                pa.int64()),
        })

    def _batch_sales(self, seq: int) -> pa.Table:
        """A re-extract of the lookback window (periods >= cutoff): every
        current window row, a few changed, a few gone at the source, a
        few new ones, plus a few updates to rows older than the window."""
        rng = self.rngs["sales"]
        cutoff = lookback_period_cutoff(
            self.specs["SALES_TXN"][0].delay_incremental_ini)
        cur = gen.current_period()
        model = self.sales_model
        window = sorted(k for k, v in model.items() if v[2] >= cutoff)
        older = sorted(k for k, v in model.items() if v[2] < cutoff)
        keep = [k for k in window if rng.random() >= 0.02]
        changed = set(rng.choice(keep, len(keep) // 20 + 1, replace=False).tolist())
        rows = []
        for k in keep:
            s, c, p = model[k]
            if k in changed:
                s, c = seq, int(rng.integers(100, 1_000_000))
            rows.append((k, c, p, s))
        rows += [(k, int(rng.integers(100, 1_000_000)), cur, seq)
                 for k in range(self.sales_next, self.sales_next + 12)]
        self.sales_next += 12
        rows += [(k, int(rng.integers(100, 1_000_000)), model[k][2], seq)
                 for k in (older[i] for i in rng.choice(len(older), 6, replace=False))]
        self.sales_model = {k: v for k, v in model.items() if v[2] < cutoff}
        self.sales_model.update({k: (s, c, p) for k, c, p, s in rows})
        n = len(rows)
        return pa.table({
            "sale_id": pa.array([r[0] for r in rows], pa.int64()),
            "cust_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "amount": np.array([r[1] for r in rows]) / 100.0,
            "processperiod": pa.array([r[2] for r in rows], pa.int32()),
            "upd_seq": pa.array([r[3] for r in rows], pa.int64()),
        })

    def _write_batches(self) -> tuple[dict[str, Path], int, int]:
        """The round's inputs, written before its timer starts."""
        seq = self.batch_no
        self.batch_no += 1
        dirs, rows, nbytes = {}, 0, 0
        for name, fn in (("LINEITEM_INC", self._batch_li),
                         ("ORDERS_BY_MONTH", self._batch_orders),
                         ("SALES_TXN", self._batch_sales)):
            tb = fn(seq + 1)
            dirs[name] = self.raw / f"b{seq:04d}" / name
            nbytes += gen.write_raw_csv_files(tb, dirs[name], 1)
            rows += tb.num_rows
        drop = self.feed.drop(DOCS_PER_DROP)
        self.docs += drop
        self.doc_batch.update({d: seq for d, _ in drop})
        nbytes += gen.write_drop(drop, self.drops / f"{seq:05d}.parquet", seq)
        return dirs, rows + len(drop), nbytes

    # -- the round -----------------------------------------------------
    def _ingest_docs(self) -> None:
        src = (self.spark.readStream.schema("doc_id long, text string")
               .option("maxFilesPerTrigger", "1").parquet(str(self.drops)))
        with self.span("streaming.neardup.stream_near_dup_ingest") as ing:
            # foreachBatch runs on another thread: its spans hang here
            self.tracer.fallback_parent = ing.sid if ing else None
            try:
                stream_near_dup_ingest(
                    self.spark, src, str(self.doc_dir / "kept"),
                    str(self.doc_dir / "index"), str(self.doc_dir / "ckpt"),
                    shuffle_partitions=self.ctx.nproc)
            finally:
                self.tracer.fallback_parent = None

    def _merge(self, spec: TableSpec, raw_dir: Path) -> None:
        name = spec.target_table_name
        with self.span("sources.csv.read_raw_csv"):
            raw = read_raw_csv(self.spark, str(raw_dir))
        pipe = StagePipeline(self.spark, spec, self.specs[name][1], strict=True,
                             retry_sleep_base=RETRY_SLEEP)
        with self.span("plans.pipeline.transform"):
            res = pipe.transform(raw)
        if res.failed_columns:
            raise RuntimeError(f"failed columns {res.failed_columns}")
        if self.tracer.enabled:
            self.dedup_frames.append((raw, res.df))
        with self.span("plans.pipeline.write"):
            pipe.write(res.df, str(self.lake / name))

    def round(self):
        self.dedup_frames = []
        batch_dirs, rows, nbytes = self._write_batches()
        n_prog = len(self.ctx.listener.progress)
        ops: dict[str, tuple[float, float]] = {}
        attempts = [0]
        t0 = time.time()
        with self.span("workload.round") as rs:
            with self.span("plans.planner.run") as ps:

                def runner(spec: TableSpec):
                    attempts[0] += 1
                    with self.span("plans.planner.table",
                                   parent=ps.sid if ps else None,
                                   table=spec.target_table_name):
                        s = time.time()
                        if spec.target_table_name == "DOC_FEED":
                            self._ingest_docs()
                        else:
                            self._merge(spec, batch_dirs[spec.target_table_name])
                        ops[spec.target_table_name] = (s, time.time())

                results = RunPlanner(
                    self.catalog, run_log=self.run_log,
                    max_concurrency=self.concurrency, max_attempts=3,
                    base_sleep=0.0,
                ).run(runner)
        t1 = time.time()
        self.ctx.status.drain()
        prog = [p for p in self.ctx.listener.progress[n_prog:]
                if p["numInputRows"] > 0]
        bad = [r for r in results if r.status != "SUCCEEDED"]
        return RoundResult(
            t0, t1, {k: e - s for k, (s, e) in ops.items()}, rows, nbytes,
            len(results), len(bad),
            {"rs": rs, "queue_wait": sum(s - t0 for s, _ in ops.values()),
             "busy": sum(e - s for s, e in ops.values()), "attempts": attempts[0],
             "tables": len(results), "concurrency": self.concurrency,
             "csv_files": len(batch_dirs), "progress": prog,
             "errors": [f"{r.table}: {r.error}" for r in bad]},
        )

    def keep_ratio(self) -> float:
        """W1 survivors over raw rows of the last round's batches
        (counted after the round)."""
        n_raw = sum(raw.count() for raw, _ in self.dedup_frames)
        return sum(df.count() for _, df in self.dedup_frames) / max(n_raw, 1)

    def doc_keep_ratio(self) -> float:
        """Documents of the last drop kept by the near-dup ingest, over
        the drop's documents (Spark's numInputRows counts every re-read of
        the batch inside foreachBatch, so it is not the denominator)."""
        kept = ManagedTable(self.spark, str(self.doc_dir / "kept")).read()
        return kept.filter(kept.ingest_batch == self.batch_no - 1).count() \
            / DOCS_PER_DROP

    def check(self):
        problems = []

        def read(name):
            return ManagedTable(self.spark, str(self.lake / name)).read().toPandas()

        df = read("LINEITEM_INC")
        tables = {
            "LINEITEM_INC": (df, self.li_model, {
                (int(a), int(b)): (float(q), float(p)) for a, b, q, p in
                zip(df.order_id, df.line_no, df.qty, df.net_price)}),
        }
        df = read("ORDERS_BY_MONTH")
        tables["ORDERS_BY_MONTH"] = (df, self.orders_model, {
            int(k): (int(s), _cents(v), str(m)) for k, s, v, m in
            zip(df.order_id, df.upd_seq, df.total, df.order_month)})
        df = read("SALES_TXN")
        tables["SALES_TXN"] = (df, self.sales_model, {
            int(k): (int(s), _cents(v), int(p)) for k, s, v, p in
            zip(df.sale_id, df.upd_seq, df.amount, df.processperiod)})
        df = ManagedTable(self.spark, str(self.doc_dir / "kept")).read() \
            .select("doc_id", "ingest_batch").toPandas()
        tables["DOC_FEED"] = (df, neardup_keep_set(self.docs, self.doc_batch), {
            int(d): int(b) for d, b in zip(df.doc_id, df.ingest_batch)})

        for name, (df, want, got) in tables.items():
            if len(df) != len(got):
                problems.append(f"{name}: {len(df)} rows for {len(got)} keys")
            if got != want:
                diff = sorted(k for k in set(got) | set(want)
                              if got.get(k) != want.get(k))
                k = diff[0]
                problems.append(f"{name}: {len(diff)} keys differ, e.g. {k}: "
                                f"got {got.get(k)} want {want.get(k)}")
        return [f"incremental_merge: {p}" for p in problems]

    def table_dirs(self):
        return [self.lake / n for n in ("LINEITEM_INC", "ORDERS_BY_MONTH",
                                        "SALES_TXN")] + \
            [self.doc_dir / "kept", self.doc_dir / "index"]

    def compile_specs(self):
        return [cols for _, cols in self.specs.values()]


# -- lake_queries -----------------------------------------------------------

#: The relational registry entries in the mix, with the fixture tables
#: each reads (for ``rows_per_s``).
QUERY_MIX = {
    "q01_pricing_summary": ["lineitem"],
    "q03_top_orders": ["customer", "orders", "lineitem"],
    "q05_region_revenue": ["region", "nation", "supplier", "customer",
                           "orders", "lineitem"],
    "sql_interface_q13": ["customer", "orders"],
    "orders_without_lineitems": ["orders", "lineitem"],
}

ORDERS_STAGE_COLUMNS = [
    ColumnSpec("order_id", 1, "bigint", "o_orderkey", is_id=True),
    ColumnSpec("cust_id", 2, "bigint", "o_custkey"),
    ColumnSpec("total", 3, "decimal(18,2)", "o_totalprice"),
    ColumnSpec("order_month", 4, "string",
               "fn_transform_Date_to_String(o_orderdate,yyyyMM)", is_partition=True),
]

#: ManagedTable reads in the mix: (table, Spark aggregate, DuckDB oracle
#: over the same source rows).
STAGE_READS = {
    "lineitem_stage": (
        "SELECT status_desc, COUNT(*) AS n, CAST(SUM(qty) AS DOUBLE) AS qty "
        "FROM t GROUP BY status_desc",
        "SELECT status_desc, COUNT(*) AS n, "
        "CAST(SUM(CAST(qty AS DECIMAL(12,2))) AS DOUBLE) AS qty "
        f"FROM ({ORACLES['stage_pipeline_lineitem']}) GROUP BY status_desc",
    ),
    "orders_stage": (
        "SELECT order_month, COUNT(*) AS n, CAST(SUM(total) AS DOUBLE) AS total "
        "FROM t WHERE order_month >= '2000' GROUP BY order_month",
        "SELECT strftime(o_orderdate, '%Y%m') AS order_month, COUNT(*) AS n, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders WHERE strftime(o_orderdate, '%Y%m') >= '2000' "
        "GROUP BY 1",
    ),
}


class LakeQueries(Workload):
    """A fixed mix of registry queries over generated ``QUERIES_SF``
    tables plus ManagedTable reads of stage tables full-loaded in set-up.
    The
    lineitem stage's raw CSV carries lower-qty duplicates for a seeded
    share of keys."""

    name = "lake_queries"
    rounds = 5

    def setup(self):
        w = self.ctx.work
        self.tables = gen.tpch_tables(self.ctx.seed, QUERIES_SF)
        self.sf_dir = w / "sf"
        gen.write_parquet_dir(self.tables, self.sf_dir)
        self.lake = w / "lake"
        self.raw_li = gen.with_lower_qty_duplicates(
            self.tables["lineitem"], self.ctx.seed, DUP_SHARE)
        loads = {
            "lineitem_stage": (_STAGE_TABLE, _STAGE_COLUMNS, self.raw_li),
            "orders_stage": (
                TableSpec(target_table_name="ORDERS_STAGE", id_column="order_id"),
                ORDERS_STAGE_COLUMNS, self.tables["orders"]),
        }
        for stage, (_, _, tb) in loads.items():
            gen.write_raw_csv_files(tb, w / "raw" / stage, 4)
        stage_loads(self.spark, [(spec, cols, w / "raw" / stage, self.lake / stage)
                                 for stage, (spec, cols, _) in loads.items()])
        rows = {k: v.num_rows for k, v in self.tables.items()}
        self.rows_per_round = sum(
            rows[t] for ts in QUERY_MIX.values() for t in ts
        ) + self.raw_li.num_rows + rows["orders"]

    def round(self):
        ops, failed, results, dfs = {}, 0, {}, []
        sf = str(self.sf_dir)
        t0 = time.time()
        with self.span("workload.round") as rs:
            for name in QUERY_MIX:
                s = time.time()
                try:
                    with self.span("queries.construct", query=name):
                        df = QUERIES[name](self.spark, sf)
                    with self.span("queries.action", query=name):
                        results[name] = df.toPandas()
                    dfs.append(df)
                except Exception as e:  # noqa: BLE001 - a failed op is counted
                    failed += 1
                    results[name] = e
                ops[name] = time.time() - s
            for stage, (sql, _) in STAGE_READS.items():
                s = time.time()
                try:
                    ManagedTable(self.spark, str(self.lake / stage)).read() \
                        .createOrReplaceTempView("t")
                    with self.span("queries.action", query=stage):
                        results[stage] = self.spark.sql(sql).toPandas()
                except Exception as e:  # noqa: BLE001
                    failed += 1
                    results[stage] = e
                ops[stage] = time.time() - s
        t1 = time.time()
        self.last = results
        return RoundResult(t0, t1, ops, self.rows_per_round, 0, len(ops), failed,
                           {"rs": rs, "dfs": dfs,
                            "errors": [f"{k}: {v!r}" for k, v in results.items()
                                       if isinstance(v, Exception)]})

    def check(self):
        con = duckdb.connect()
        for name, tb in self.tables.items():
            con.register(name, tb)
        problems = []
        for name, got in self.last.items():
            if isinstance(got, Exception):
                problems.append(f"{name}: error {got!r}")
                continue
            sql = ORACLES[name] if name in ORACLES else STAGE_READS[name][1]
            problems += [f"{name}: {p}" for p in
                         compare(name, got, con.execute(sql).df())]
        # the whole lineitem stage against the registry's stage oracle,
        # evaluated over the raw rows including the injected duplicates
        stage = ManagedTable(self.spark, str(self.lake / "lineitem_stage")) \
            .read().toPandas()
        stage["qty"] = stage["qty"].astype("float64")
        raw = duckdb.connect()
        raw.register("lineitem", self.raw_li)
        want = raw.execute(ORACLES["stage_pipeline_lineitem"]).df()
        problems += [f"lineitem_stage rows: {p}" for p in
                     compare("lineitem_stage", stage, want)]
        return [f"lake_queries: {p}" for p in problems]

    def table_dirs(self):
        return [self.lake / s for s in STAGE_READS]


WORKLOADS = {w.name: w for w in (IncrementalMerge, LakeQueries)}


def compile_all(specs: list[list[ColumnSpec]]) -> float:
    """Time to compile every column of ``specs`` through the DSL."""
    if not specs:
        return 0.0
    t0 = time.perf_counter()
    for cols in specs:
        for c in cols:
            compile_transformation(c.transformation or c.column_name,
                                   c.new_data_type, BIGMAGIC, strict=True)
    return time.perf_counter() - t0
