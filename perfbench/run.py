"""Ingest benchmark: one workload per run, closed loop, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root.  Spark runs ``local[nproc]``; the planner
runs at most ``nproc`` tables at a time.  Inputs are generated from the
seed under ``perfbench/_work/`` (removed at exit), and every temporary
file of the session goes there too.

A run sets the workload up twice (session start, input generation and
base tables; the first set-up also launches the JVM, the second restarts
the session in it) and reports the median as ``setup_s``.  It then runs
the workload's warm-up rounds, which are not timed, runs timed rounds
for ``--seconds`` and at least the workload's round count, and checks
the program's outputs.

``--trace 0`` prints the end-to-end metrics: ``wall_s`` (median round
time), ``rows_per_s`` (median of source rows per round over the round
time), ``op_p50_s`` (median operation latency: one planner table-batch
or one query; the median over operations of each one's median over the
rounds), ``peak_rss_mb`` (the Spark JVM plus Python) and ``setup_s``.

``--trace 1`` runs the warm-up rounds, then a traced, an untraced and a
traced round.  Traced rounds keep spans in memory, tag Spark jobs with
the span's job group and read Spark's status stores; the per-layer
metrics are means per traced round (a layer the workload does not use
reads 0), and the spans are written to
``perfbench/_traces/<workload>.jsonl`` at the end.  ``trace.overhead_s``
is the mean traced round minus the untraced round.

Layer times (``<layer>_s``) are span self times: the span's duration
minus the part its child spans cover.  ``op_p90_s`` (only with at least
100 operations in a run) and ``failed_ops_ratio`` are printed on a ``#``
line; failures also count in ``failed``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  The exit code is 1 when an
output check fails and 2 when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent

SETUP_REPEATS = 2

#: JIT and GC settings of the Spark JVM, so that round times are flat
#: after the warm-up instead of drifting for minutes:
#: - C1 only, with compile thresholds at 1 %: the hot methods of Spark
#:   and of its generated code are compiled within the first round (with
#:   the default tiers rounds keep getting faster for minutes, by an
#:   amount that differs from run to run);
#: - no code-cache flushing: the sweeper evicts the methods of queries
#:   that ran a round ago and every few rounds one round pays seconds of
#:   recompilation;
#: - the parallel collector, starting at the full heap: G1 treats Arrow
#:   and Parquet buffers as humongous objects and starts a concurrent
#:   cycle for many of them.
JVM_OPTS = (
    "-XX:TieredStopAtLevel=1",
    "-XX:CompileThresholdScaling=0.01",
    "-XX:-UseCodeCacheFlushing",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:+UseParallelGC",
)

END_TO_END = {
    "wall_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
    "peak_rss_mb": "MB", "setup_s": "s",
}

PER_LAYER = {
    "plans.planner.run_s": "s",
    "plans.planner.runner_s": "s",
    "plans.planner.queue_wait_s": "s",
    "plans.planner.slot_busy_ratio": "ratio",
    "plans.planner.attempts": "count",
    "plans.planner.retries": "count",
    "plans.pipeline.transform_s": "s",
    "plans.pipeline.write_s": "s",
    "dsl.compile_s": "s",
    "sources.csv.read_s": "s",
    "sources.csv.files": "count",
    "sources.csv.bytes": "B",
    "operators.dedup.keep_ratio": "ratio",
    "operators.table.write_s": "s",
    "operators.table.merge_s": "s",
    "operators.table.vacuum_s": "s",
    "operators.table.commits": "count",
    "operators.table.commit_s": "s",
    "operators.table.bytes_written": "B",
    "operators.table.files_written": "count",
    "operators.table.snapshots_live": "count",
    "operators.table.write_gap_s": "s",
    "operators.table.read_s": "s",
    "operators.table.write_amp": "ratio",
    "operators.table.space_amp": "ratio",
    "queries.construct_s": "s",
    "queries.action_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.task_s": "s",
    "spark.driver_gap_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.failed_tasks": "count",
    "spark.sql_executions": "count",
    "spark.storage_blocks_end": "count",
    "streaming.batches": "count",
    "streaming.ingest_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.rows_in": "count",
    "streaming.keep_ratio": "ratio",
    "session.tmp_leaked": "count",
    "session.jvm_start_s": "s",
    "session.cpu_s": "s",
    "trace.round_self_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "host.load_1m": "load",
}

#: span name -> per-layer self-time metric
SELF_TIME = {
    "plans.planner.run": "plans.planner.run_s",
    "plans.planner.table": "plans.planner.runner_s",
    "plans.pipeline.transform": "plans.pipeline.transform_s",
    "plans.pipeline.write": "plans.pipeline.write_s",
    "sources.csv.read_raw_csv": "sources.csv.read_s",
    "operators.table.write": "operators.table.write_s",
    "operators.table.merge_upsert": "operators.table.merge_s",
    "operators.table.vacuum": "operators.table.vacuum_s",
    "operators.table.commit": "operators.table.commit_s",
    "operators.table.read": "operators.table.read_s",
    "queries.construct": "queries.construct_s",
    "queries.action": "queries.action_s",
    "streaming.neardup.stream_near_dup_ingest": "streaming.ingest_s",
    "workload.round": "trace.round_self_s",
}

#: ManagedTable methods traced in traced rounds (span names above)
TABLE_SPANS = {
    "write": "operators.table.write",
    "merge_upsert": "operators.table.merge_upsert",
    "vacuum": "operators.table.vacuum",
    "_apply_manifest": "operators.table.commit",
    "read": "operators.table.read",
}

STREAM_DURATIONS = {
    "triggerExecution": "streaming.trigger_s",
    "addBatch": "streaming.add_batch_s",
    "walCommit": "streaming.wal_commit_s",
    "queryPlanning": "streaming.query_planning_s",
    "commitOffsets": "streaming.commit_offsets_s",
    "latestOffset": "streaming.latest_offset_s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if not args.self_test and not args.workload:
        ap.error("--workload is required")
    return args


class Session:
    """The SparkSession and its JVM, with every temporary path inside the
    work dir.  ``restart`` stops the session and starts a new one in the
    same JVM."""

    def __init__(self, work: Path, cores: int):
        self.work = work
        self.cores = cores
        self.tmp = work / "tmp"
        self.local = work / "spark-local"
        for d in (self.tmp, self.local):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.local)
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        import tempfile

        tempfile.tempdir = str(self.tmp)
        self.spark = None
        self.jvm_pid = None

    def start(self):
        from cdk_datalake_ingest_spark.session import default_driver_memory, get_spark

        heap = default_driver_memory() or "1g"  # get_spark's heap, or Spark's

        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=max(2 * self.cores, 8),
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.local.dir": str(self.local),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                    f"-Xms{heap} " + " ".join(JVM_OPTS),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            from pyspark import SparkContext

            self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    def close(self) -> None:
        """Stop the session, shut the JVM down and wait for it to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - make sure it ends
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def leaked_entries(sess: Session) -> int:
    return sum(len(os.listdir(d)) for d in (sess.tmp, sess.local) if d.is_dir())


def run(args) -> int:
    cores = nproc()
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    load1 = os.getloadavg()[0]
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} nproc={cores} "
          f"master=local[{cores}] planner_concurrency={min(cores, 4)} "
          f"loadavg={' '.join(f'{x:.2f}' for x in os.getloadavg())}",
          flush=True)
    try:
        sys.path.insert(0, str(ROOT))
        import tracing
        import workloads as W
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sess = Session(work, cores)
    try:
        return measure(args, W, tracing, sess, work, cores, load1)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass


def measure(args, W, tracing, sess, work, cores, load1) -> int:
    from cdk_datalake_ingest_spark.operators.table import ManagedTable

    tracer = tracing.Tracer(run_id=f"{args.workload}-{args.seed}")
    setup_s, wl = [], None
    jvm_start = 0.0
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = sess.start() if r == 0 else sess.restart()
        if r == 0:
            jvm_start = time.perf_counter() - t0
        status = tracing.SparkStatus(spark)
        listener = tracing.ProgressListener()
        spark.streams.addListener(listener)
        ctx = W.Ctx(spark, args.seed, work / f"setup{r}", tracer, cores,
                    status, listener)
        if wl is not None:
            shutil.rmtree(wl.ctx.work, ignore_errors=True)
        wl = W.WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s.append(time.perf_counter() - t0)
    tracer.sc = spark.sparkContext

    ledger = tracing.FileLedger(wl.lake)
    rounds, traced, untraced = [], [], []
    per_round: list[dict] = []

    def traced_round():
        tracer.enabled = True
        restore = tracing.wrap_methods(ManagedTable, tracer, TABLE_SPANS)
        n_spans = len(tracer.spans)
        ledger.new_since_last()
        cpu0 = tracing.cpu_s(sess.jvm_pid)
        try:
            res = wl.round()
        finally:
            restore()
            tracer.enabled = False
        res.extra["cpu_s"] = tracing.cpu_s(sess.jvm_pid) - cpu0
        per_round.append(layer_metrics(
            tracing, wl, res, tracer.spans[n_spans:], status, ledger, cores))
        traced.append(res)
        return res

    # the first rounds warm up (class loading, codegen, JIT): not timed
    for _ in range(wl.warmup):
        rounds.append(wl.round())
    if args.trace:
        # traced rounds on both sides of an untraced one, so the warm-up
        # trend does not bias the overhead
        for kind in "TUT":
            rounds.append(traced_round() if kind == "T" else wl.round())
            if kind == "U":
                untraced.append(rounds[-1])
    else:
        steal0 = tracing.steal_s()
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or len(untraced) < wl.rounds:
            untraced.append(wl.round())
        rounds += untraced
        steal = tracing.steal_s() - steal0
    attempted = sum(r.attempted for r in rounds)
    failed = sum(r.failed for r in rounds)
    problems = wl.check()
    attempted += 1
    failed += 1 if problems else 0
    for p in problems:
        print(f"# CHECK FAILED {p}", flush=True)
    for r in rounds:
        for e in r.extra.get("errors", []):
            print(f"# OP FAILED {e[:300]}", flush=True)
    peak = tracing.rss_peak_mb(sess.jvm_pid)
    blocks = status.storage_blocks()

    ops = [o for r in untraced for o in r.ops.values()]
    # each operation's median over the rounds, then the median operation.
    # The median of the pooled samples would fall between the samples of
    # two operations of different cost, on the slowest of the one and the
    # fastest of the other, which vary more than their medians.
    by_op: dict[str, list[float]] = {}
    for r in untraced:
        for k, v in r.ops.items():
            by_op.setdefault(k, []).append(v)
    metrics = {
        "wall_s": median([r.wall for r in untraced]),
        "rows_per_s": median([r.rows / r.wall for r in untraced]),
        "op_p50_s": median([median(v) for v in by_op.values()]),
        "peak_rss_mb": peak,
        "setup_s": median(setup_s),
    }
    units = END_TO_END
    n_ops = len(ops)
    p90 = f"{percentile(ops, 0.9):.4f} s" if n_ops >= 100 else "n/a"
    print(f"# rounds={len(untraced)} ops={n_ops} op_p90_s={p90} (n={n_ops}) "
          f"failed_ops_ratio={failed / attempted:.4f} "
          f"setups={[round(s, 3) for s in setup_s]} "
          f"walls={[round(r.wall, 3) for r in rounds]}", flush=True)
    if args.trace:
        traces = HERE / "_traces"
        traces.mkdir(exist_ok=True)
        tracer.dump(traces / f"{args.workload}.jsonl")
        layers = summarize_layers(per_round)
        layers["dsl.compile_s"] = W.compile_all(wl.compile_specs())
        layers["spark.storage_blocks_end"] = blocks
        layers["session.jvm_start_s"] = jvm_start
        layers["trace.wall_s"] = median([r.wall for r in traced])
        layers["trace.untraced_wall_s"] = metrics["wall_s"]
        layers["trace.overhead_s"] = layers["trace.wall_s"] - metrics["wall_s"]
        layers["host.load_1m"] = load1
        print(f"# traced rounds={len(traced)} spans={len(tracer.spans)} "
              f"coverage={layers.get('trace.coverage', 0):.4f} "
              f"overhead_s={layers['trace.overhead_s']:.4f}", flush=True)
        # leaks: what the session left in its temp dirs once it is closed
        sess.close()
        layers["session.tmp_leaked"] = leaked_entries(sess)
        metrics, units = layers, PER_LAYER
    else:
        print(f"# steal_s={steal:.2f} (CPU time the hypervisor took from this "
              f"machine's {cores} CPUs during the timed rounds)", flush=True)
        for name, unit in END_TO_END.items():
            print(f"# {name} = {metrics[name]:.6g} {unit}", flush=True)
    correct = not problems
    out = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if correct else 1


def layer_metrics(tracing, wl, res, spans, status, ledger, cores) -> dict:
    """Per-layer numbers of one traced round."""
    status.drain()
    jobs, stages = status.jobs(), status.stages()
    m = dict(tracing.spark_layer(jobs, stages, res.start, res.end, cores))
    m["spark.sql_executions"] = sum(
        1 for e in status.sql_executions()
        if res.start * 1000 <= int(e["submissionTime"]) <= res.end * 1000)
    selfs = tracing.self_times(spans)
    for s in spans:
        key = SELF_TIME.get(s.name)
        if key:
            m[key] = m.get(key, 0.0) + selfs[s.sid]
    root = res.extra["rs"]
    inner = [(s.start, s.end) for s in spans if s.sid != root.sid]
    m["session.cpu_s"] = res.extra["cpu_s"]
    m["trace.coverage"] = tracing.union_len(
        tracing.clip(inner, res.start, res.end)) / res.wall

    # write gap: outermost table-write spans minus the union of their jobs
    by_id = {s.sid: s for s in spans}
    groups = tracing.jobs_by_group(jobs)
    kids: dict[int, list[int]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s.sid)

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += kids.get(x, [])
        return out

    gap = 0.0
    for s in spans:
        if s.name in ("operators.table.write", "operators.table.merge_upsert") \
                and not by_id.get(s.parent, s).name.startswith("operators.table."):
            ivs = [iv for x in subtree(s.sid) for iv in groups.get(x, [])]
            gap += (s.end - s.start) - tracing.union_len(
                tracing.clip(ivs, s.start, s.end))
    m["operators.table.write_gap_s"] = gap
    m["operators.table.commits"] = sum(
        1 for s in spans if s.name == "operators.table.commit")

    files, nbytes = ledger.new_since_last()
    m["operators.table.files_written"] = files
    m["operators.table.bytes_written"] = nbytes
    m["_source_bytes"] = res.source_bytes
    tdirs = [d for d in wl.table_dirs() if d.is_dir()]
    m["operators.table.snapshots_live"] = sum(
        1 for d in tdirs for c in d.iterdir()
        if c.is_dir() and c.name[:1] == "v" and c.name[1:].isdigit())
    on_disk = sum(tracing.parquet_bytes(d) for d in tdirs)
    current = 0
    for d in tdirs:
        man = d / "_manifest.json"
        if man.exists():
            current += tracing.parquet_bytes(d / json.loads(man.read_text())["data_dir"])
    m["_disk_bytes"], m["_current_bytes"] = on_disk, current

    ex = res.extra
    if "csv_files" in ex:
        m["sources.csv.files"] = ex["csv_files"]
        m["sources.csv.bytes"] = res.source_bytes
    if wl.name == "incremental_merge":
        m["operators.dedup.keep_ratio"] = wl.keep_ratio()
    if "queue_wait" in ex:
        m["plans.planner.queue_wait_s"] = ex["queue_wait"]
        m["plans.planner.slot_busy_ratio"] = ex["busy"] / (ex["concurrency"] * res.wall)
        m["plans.planner.attempts"] = ex["attempts"]
        m["plans.planner.retries"] = ex["attempts"] - ex["tables"]
    for df in ex.get("dfs", []):
        ph = status.planning_phases(df)
        for k in ("analysis", "optimization", "planning"):
            m[f"catalyst.{k}_s"] = m.get(f"catalyst.{k}_s", 0.0) + ph.get(k, 0.0)
    if "progress" in ex:
        prog = ex["progress"]
        m["streaming.batches"] = len(prog)
        m["streaming.rows_in"] = sum(p["numInputRows"] for p in prog)
        for k, name in STREAM_DURATIONS.items():
            m[name] = sum(p["durationMs"].get(k, 0) for p in prog) / 1000
        m["streaming.keep_ratio"] = wl.doc_keep_ratio()
    return m


def summarize_layers(per_round: list[dict]) -> dict:
    """Per-round means; ratios recomputed from totals."""
    n = max(len(per_round), 1)
    keys = {k for m in per_round for k in m}
    tot = {k: sum(m.get(k, 0.0) for m in per_round) for k in keys}
    out = {k: v / n for k, v in tot.items() if not k.startswith("_")}
    src = tot.get("_source_bytes", 0)
    out["operators.table.write_amp"] = (
        tot.get("operators.table.bytes_written", 0) / src if src else 0.0)
    last = per_round[-1] if per_round else {}
    out["operators.table.space_amp"] = (
        last.get("_disk_bytes", 0) / last["_current_bytes"]
        if last.get("_current_bytes") else 0.0)
    out["operators.table.snapshots_live"] = last.get(
        "operators.table.snapshots_live", 0)
    return out


def self_test() -> int:
    """Shows at sf0.001 that the output checks catch a corrupted stage
    row and a wrong query row, and pass on the clean outputs."""
    sys.path.insert(0, str(ROOT))
    import tracing
    import workloads as W

    W.QUERIES_SF = 0.001
    cores = nproc()
    work = HERE / "_work" / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sess = Session(work, cores)
    try:
        spark = sess.start()
        from pyspark.sql import functions as F

        from cdk_datalake_ingest_spark.operators.table import ManagedTable

        lq = W.LakeQueries(W.Ctx(spark, 7, work / "lq", tracing.Tracer("st"), cores))
        lq.setup()
        lq.round()
        clean = lq.check()

        tbl = ManagedTable(spark, str(lq.lake / "lineitem_stage"))
        df = tbl.read()
        first = df.orderBy("order_id", "line_no").first()
        hit = (F.col("order_id") == first.order_id) & (F.col("line_no") == first.line_no)
        tbl.write(df.withColumn("status_desc", F.when(hit, F.lit("CORRUPT"))
                                .otherwise(F.col("status_desc"))).localCheckpoint())
        stage_row = [p for p in lq.check() if "lineitem_stage rows" in p]

        lq.round()
        q = lq.last["q01_pricing_summary"]
        q.loc[0, "count_order"] += 1
        query_row = [p for p in lq.check() if "q01_pricing_summary" in p]
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    print(f"# self-test clean outputs flagged: {clean or 'none'}")
    print(f"# self-test corrupted stage row caught: {stage_row[:1]}")
    print(f"# self-test wrong query row caught: {query_row[:1]}")
    ok = not clean and bool(stage_row) and bool(query_row)
    print(json.dumps({"self_test": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if args.self_test:
        return self_test()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
