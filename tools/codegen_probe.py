"""Count janino compiles and file-listing jobs per steady benchmark round.

    python tools/codegen_probe.py --workload incremental_merge --seed 1 --rounds 4

Sets one ``perfbench`` workload up the way ``perfbench/run.py`` does (same
session, JVM options and seeded inputs), runs its untimed warm-up rounds,
then runs ``--rounds`` more and reads, around each one:

- ``compiles``: generated classes compiled (Spark's
  ``CodegenMetrics.METRIC_COMPILATION_TIME`` count); a class found in the
  codegen cache is not compiled again;
- ``listing_jobs``: Spark jobs that list leaf files and directories
  (parallel partition discovery).

Prints one JSON line with both counts per round.  Run from the repository
root; the work dir is ``perfbench/_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH = ROOT / "perfbench"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="incremental_merge")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=4)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(BENCH)]
    import run as R
    import tracing
    import workloads as W

    cores = R.nproc()
    work = BENCH / "_work" / f"probe-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sess = R.Session(work, cores)
    try:
        spark = sess.start()
        status = tracing.SparkStatus(spark)
        listener = tracing.ProgressListener()
        spark.streams.addListener(listener)
        ctx = W.Ctx(spark, args.seed, work / "setup", tracing.Tracer(run_id="probe"),
                    cores, status, listener)
        wl = W.WORKLOADS[args.workload](ctx)
        wl.setup()
        for _ in range(wl.warmup):
            wl.round()
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        rounds = []
        for _ in range(args.rounds):
            before = compiles.getCount()
            res = wl.round()
            status.drain()
            listing = [
                j for j in status.jobs()
                if j.get("submissionTime") is not None
                and res.start * 1000 <= j["submissionTime"] <= res.end * 1000
                and "Listing leaf files" in (j.get("description") or j.get("name") or "")
            ]
            rounds.append({"compiles": compiles.getCount() - before,
                           "listing_jobs": len(listing),
                           "wall_s": round(res.wall, 3)})
        print(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "codegen_cache_max_entries": spark.sparkContext.getConf().get(
                "spark.sql.codegen.cache.maxEntries", "100 (default)"),
            "rounds": rounds,
        }), flush=True)
        return 0
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
