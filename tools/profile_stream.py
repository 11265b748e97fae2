"""Per-trigger cost breakdown for the streaming leg (r10 verdict item 9).

Synthesizes the SAME event feed as bench.stream_throughput (10k events,
50 blocks, 5 files), runs run_stream once with wall-clock instrumentation
wrapped (monkeypatched) around the pipeline's driver-visible sections:

- TableStore.stage / stage_range_replace (per table name)
- apply_appends / _apply_squash_fast (the squash, incl. its
  normalize_squash fallback) / recompute_candles / process_batch
- store.commit

Prints one line per section occurrence and a per-section total at the end.
Purely a measurement tool — no engine code changes.

Usage: python tools/profile_stream.py [runs]
"""
from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blockchain_postgres_sync_spark.session import get_spark  # noqa: E402
from blockchain_postgres_sync_spark.streaming import pipeline as P  # noqa: E402
from blockchain_postgres_sync_spark.streaming.store import TableStore  # noqa: E402

RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 2
TOTALS: dict[str, float] = defaultdict(float)
COUNTS: dict[str, int] = defaultdict(int)


def timed(name, fn):
    def wrap(*a, **k):
        t0 = time.time()
        try:
            return fn(*a, **k)
        finally:
            dt = time.time() - t0
            TOTALS[name] += dt
            COUNTS[name] += 1
            print(f"    {name}: {dt:.3f}s", flush=True)
    return wrap


def timed_stage(fn, label):
    def wrap(self, name, *a, **k):
        t0 = time.time()
        try:
            return fn(self, name, *a, **k)
        finally:
            dt = time.time() - t0
            key = f"{label}:{name}"
            TOTALS[key] += dt
            COUNTS[key] += 1
            print(f"      {key}: {dt:.3f}s", flush=True)
    return wrap


def main() -> None:
    import bench

    TableStore.stage = timed_stage(TableStore.stage, "stage")
    TableStore.stage_range_replace = timed_stage(
        TableStore.stage_range_replace, "range"
    )
    TableStore.commit = timed("commit", TableStore.commit)
    P.apply_appends = timed("apply_appends", P.apply_appends)
    P._apply_squash_fast = timed("squash", P._apply_squash_fast)
    P.recompute_candles = timed("recompute_candles", P.recompute_candles)
    orig_pb = P.process_batch

    def pb(store, batch_df, *a, **k):
        t0 = time.time()
        orig_pb(store, batch_df, *a, **k)
        dt = time.time() - t0
        TOTALS["process_batch"] += dt
        COUNTS["process_batch"] += 1
        print(f"  process_batch: {dt:.3f}s", flush=True)

    P.process_batch = pb

    os.environ["STREAM_RUNS"] = str(RUNS)
    spark = get_spark(app_name="profile_stream")
    sc = spark.sparkContext
    j0 = sc._jsc.sc().statusStore().jobsList(None).size()
    res = bench.stream_throughput(spark, "/root/testdata/sf0.01")
    jobs = sc._jsc.sc().statusStore().jobsList(None).size() - j0
    print(f"result: {res}  spark_jobs_total={jobs} (~{jobs // RUNS}/run)",
          flush=True)
    print("\n== per-section totals (all runs) ==")
    for k in sorted(TOTALS, key=lambda k: -TOTALS[k]):
        print(f"{TOTALS[k]:8.3f}s  x{COUNTS[k]:<3d} {k}")
    spark.stop()


if __name__ == "__main__":
    main()
