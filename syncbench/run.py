"""Sync benchmark of the blockchain-update consumer: the time a cold
consumer takes to sync a delivery, and the time the batch catalog takes to
answer its queries.

Run from the repository root::

    python3 syncbench/run.py --workload sync --seed 1 --seconds 45 --trace 0
    python3 syncbench/run.py --workload all --seed 1      # every workload

A run sizes the engine from this machine (``nproc`` cores, a driver heap
below physical memory, the repository on ``PYTHONPATH`` for the pandas-UDF
workers), generates its inputs from ``--seed`` outside the timed region,
then times the engine's cold start (``setup_s``: ``get_spark``, plus a
first file-source stream brought up and down for ``sync``) and the
workload's work (``work_s``).  Workloads:

- ``sync``: closed loop.  One delivery of 256 updates (the reference
  consumer's UPDATES_PER_REQUEST) is landed, then ``run_stream`` takes it
  into an empty store.  It catches up from a genesis block over
  SYNC_BLOCKS key blocks of 20-40 txs of all 18 types, starting just
  below a HEIGHT_BUCKET boundary, and ends at the tip: TAIL_ROUNDS key
  blocks each followed by TAIL_MICROBLOCKS microblocks (squashed by the
  next key block) and a rollback of depth 1-2 into the last microblocks.
  ``work_s`` runs from the delivery landing to its commit returning.
- ``catalog_batch``: passes over CATALOG_QUERIES, one ``plans.catalog``
  query for each of twelve ``operators`` modules, over seeded tables at
  about the 0.01 scale factor (``catalog_data.py``): a cold first pass,
  then warm ones (two passes at 45 s).  ``work_s`` is the wall time of
  all passes, each query collected to the driver.

``--seconds`` sets the work: above 45, further tip deliveries (``sync``,
one per 20 s); for ``catalog_batch``, one pass per 20 s beyond the first
25 s (see :func:`rounds`).
After the timed region every output is checked: typed and child tables
against the generator's ground truth, candles against an exact recompute,
SCD chains, served query results against DuckDB over the store's parquet,
and catalog results against their DuckDB oracle SQL.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (spans go to ``.syncbench_out/``).
Every metric is also printed above it as ``name value unit``, with the
workload's own named figures (``sync_tx_per_s``, ``freshness_s``,
``catalog_wall_s``, ``peak_rss_mb``, ``error_rate``) and ``#`` lines of
context.  The exit code is non-zero when a delivery, query or check
failed, and 2 when the engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import catalog_data  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from serve import QUERY_CLASSES, canonical, query_mix, store_dirs  # noqa: E402
from spans import Tracer, attribute_jobs, read_event_log  # noqa: E402

WORKLOADS = ("sync", "catalog_batch")
#: the sync delivery: 1 genesis + 246 key blocks + 2 x (key block + 3
#: microblocks) + 1 rollback = 256 updates
SYNC_BLOCKS = 247
SYNC_TXS = (20, 40)
TAIL_ROUNDS = 2
TAIL_MICROBLOCKS = 3
TAIL_TXS = 10
QUERY_ROUNDS = 2
BASE_SECONDS = 45
#: one catalog query per module it exercises (operators.smallstate runs
#: inside bpe_merge_pairs).  The other modules (uids, contamination, pii,
#: text, stats, multimodal, encoding, layout, skew, vectors, orders, codecs)
#: are left out: on a cold engine every module's first query costs 0.3-4 s
#: plus its oracle check, and the run budget has room for these twelve.
CATALOG_QUERIES = {
    "operators.candles": "candles_scaled",
    "operators.scd": "scd2_chain",
    "operators.dedup": "dedup_exact",
    "operators.sampling": "weighted_sample",
    "operators.similarity": "ann_bruteforce",
    "operators.temporal": "asof_quotes",
    "operators.packing": "pack_greedy",
    "operators.bpe": "bpe_merge_pairs",
    "operators.clustering": "kmeans_train",
    "operators.pq": "pq_encode",
    "operators.graph": "pagerank_sim",
    "operators.pca": "pca_project",
}

END_TO_END = {"setup_s": "s", "work_s": "s"}


def _env(work: str, cpus: int) -> dict:
    """Session sizing from this machine; the SPARK_GRAFT_STREAM_* knobs stay
    at the engine's defaults."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, mem_kb // (1024 * 1024) // 3))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_STREAM_"):
            del os.environ[k]
    time.tzset()
    return env


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.batches: list[dict] = []   # one per process_batch call
        self.queries: list[dict] = []   # served queries (traced sync run)
        self.catalog: list[dict] = []   # catalog queries
        self.failures: list[str] = []
        self.failed_checks = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.named: dict[str, tuple[float, str]] = {}  # printed, not in the JSON
        self.info: dict = {}
        self.delivery_bytes: list[int] = []
        self.late: list[float] = []  # landing time of each delivery file
        self.files: list = []
        self.sent: list[float] = []
        self.out_dir = os.path.join(ROOT, ".syncbench_out")
        self.event_log = os.path.join(work, "eventlog")

    # -- session ---------------------------------------------------------

    def start_session(self):
        from blockchain_postgres_sync_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.work}",
        }
        if self.args.trace:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_log,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(app_name="syncbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark, then the JVM it runs in, and wait for it to exit."""
        if getattr(self, "spark", None) is None:
            return
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()

    def jvm_pid(self):
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def setup(self, stream: bool) -> None:
        """``setup_s``: the engine's cold start as the workload meets it --
        ``get_spark`` in a fresh process and, for a consumer (``stream``), a
        first file-source stream started and drained over an empty
        directory.  A JVM starts once per process, so this is one sample per
        run."""
        from blockchain_postgres_sync_spark.sources.live_updates import file_updates

        d = os.path.join(self.work, "setup")
        os.makedirs(os.path.join(d, "events"))
        t0 = time.time()
        self.start_session()
        if stream:
            q = (file_updates(self.spark, os.path.join(d, "events"))
                 .writeStream.foreachBatch(lambda df, _id: None)
                 .option("checkpointLocation", os.path.join(d, "checkpoint"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        self.metric("setup_s", time.time() - t0, "s")

    # -- instrumentation -------------------------------------------------

    def install(self) -> None:
        """Wrap the engine's public entry points.  The batch wrapper is
        always on (it stamps commit times); the layer wrappers only when
        tracing."""
        from blockchain_postgres_sync_spark.streaming import pipeline
        from blockchain_postgres_sync_spark.streaming.store import TableStore

        orig = pipeline.process_batch
        run = self

        def process_batch(store, batch_df, *a, **kw):
            rec = {"index": len(run.batches), "enter": time.time(), "error": None}
            run.batches.append(rec)
            try:
                with run.tracer.request(f"batch-{rec['index']}", "pipeline.process_batch"):
                    orig(store, batch_df, *a, **kw)
            except Exception as e:  # noqa: BLE001
                rec["error"] = repr(e)
                raise
            finally:
                rec["exit"] = time.time()
            if run.args.trace:
                # after the batch's window, so this extra job and parse are
                # not charged to the batch
                rec["rows"] = batch_df.filter(batch_df.seq.isNotNull()).count()

        pipeline.process_batch = process_batch
        if not self.args.trace:
            return
        tr = self.tracer
        for fn, name in [
            ("apply_appends", "pipeline.apply_appends"),
            ("apply_rollback", "pipeline.apply_rollback"),
            ("recompute_candles", "pipeline.recompute_candles"),
            ("startup_rollback", "pipeline.startup_rollback"),
            ("_apply_squash_fast", "pipeline.normalize_squash"),
        ]:
            tr.wrap(pipeline, fn, name)

        seen: set = set()

        def after_stage(_out, args, _kw):
            store, name = args[0], args[1]
            v = store._staged.get(name)
            if v is None or (name, v) in seen:
                return
            seen.add((name, v))
            self._account_write(name, store._dir(name, v))

        tr.wrap(TableStore, "stage", lambda s, name, *a, **k: f"store.stage.{_family(name)}",
                after=after_stage)
        tr.wrap(TableStore, "stage_range_replace",
                lambda s, name, *a, **k: f"store.stage.{_family(name)}", after=after_stage)
        tr.wrap(TableStore, "commit", "store.commit")

    def _account_write(self, name: str, d: str) -> None:
        """Book what one staged write produced against the running batch:
        bytes, files and rows newly written, and partitions rewritten versus
        hardlinked forward from the previous version."""
        import pyarrow.parquet as pq

        written = linked = nbytes = files = rows = 0
        for root, _dirs, fs in os.walk(d):
            part_written = part_linked = False
            for fn in fs:
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                st = os.stat(p)
                if st.st_nlink > 1:
                    part_linked = True
                    continue
                part_written = True
                nbytes += st.st_size
                files += 1
                rows += pq.ParquetFile(p).metadata.num_rows
            written += part_written
            linked += part_linked and not part_written
        fam = _family(name)
        counts = {"bytes": nbytes, "files": files, "rewritten": written, "linked": linked}
        if fam == "txs" and name != "tx_ids":
            counts[f"ingest.rows_out.{_tx_family(int(name.split('_')[1]))}"] = rows
        elif fam in ("candles", "scd"):
            counts[f"{fam}.rows_written_per_batch"] = rows
        if not self.batches:  # a write outside any delivery (startup ladder)
            return
        with self.tracer._lock:  # the write wave stages tables concurrently
            w = self.batches[-1].setdefault("writes", {})
            for k, v in counts.items():
                w[k] = w.get(k, 0) + v

    # -- sync --------------------------------------------------------------

    def sync_inputs(self) -> gen.Chain:
        """The chain and its deliveries (each a list of updates).  Heights start just below a HEIGHT_BUCKET boundary, so the delivery
        rewrites a sealed bucket and opens a new one."""
        seed = self.args.seed
        chain = gen.Chain(seed, 1000 * (3 + seed % 5) - 8)
        self.files = [gen.sync_file(chain, SYNC_BLOCKS, *SYNC_TXS, TAIL_ROUNDS,
                                    TAIL_MICROBLOCKS, TAIL_TXS, 1 + seed % 2)]
        for i in range(1, rounds(self.args.seconds, BASE_SECONDS, 20)):
            self.files.append(gen.tail_file(chain, TAIL_MICROBLOCKS, TAIL_TXS,
                                            1 + (seed + i) % 2))
        return chain

    def sync(self, events: str, store_root: str) -> None:
        """Closed loop: every delivery is landed, then ``run_stream`` drains
        them, one per trigger; a delivery counts as sent when the consumer
        starts or the previous commit returns."""
        from blockchain_postgres_sync_spark.streaming import pipeline

        for i, ups in enumerate(self.files):
            t0 = time.time()
            self.delivery_bytes.append(gen.write_file(
                os.path.join(events, f"part-{i:05d}.json"), ups, mtime=1_700_000_000 + i))
            self.late.append(time.time() - t0)
        t0 = time.time()
        try:
            pipeline.run_stream(self.spark, events, store_root, gen.ASSET_STORAGE)
        finally:
            self.sent = [t0] + [b["exit"] for b in self.batches[:-1]]

    def summarize_sync(self) -> None:
        for b in self.batches:
            if b.get("error") is not None or "exit" not in b:
                self.failures.append(f"batch {b['index']}: {b.get('error') or 'not committed'}")
        measured = [b for b in self.batches if "exit" in b and b["error"] is None]
        fresh, txs = [], 0
        for b in measured:
            i = b["index"]
            txs += gen.n_txs(self.files[i])
            b["freshness_s"] = b["exit"] - self.sent[i]
            b["queue_wait_s"] = b["enter"] - self.sent[i]
            fresh.append(b["freshness_s"])
        wall = measured[-1]["exit"] - self.sent[0] if measured else 0.0
        self.metric("work_s", wall, "s")
        self.named["sync_tx_per_s"] = (txs / wall if wall > 0 else 0.0, "tx/s")
        self.named["freshness_s"] = (_median(fresh), "s")
        self.info.update({
            "freshness_samples": len(fresh), "sync_txs": txs,
            "gen.late_s_max": max(self.late) if self.late else 0.0,
            "batch_s": [round(b["exit"] - b["enter"], 3) for b in self.batches if "exit" in b],
        })

    def serve(self, store_root: str, mix: list[tuple[str, str]]) -> None:
        """``register_views`` over a fresh store handle, then the query mix
        from one client, closed loop; results are kept for the DuckDB
        comparison."""
        from blockchain_postgres_sync_spark.plans.sql import register_views
        from blockchain_postgres_sync_spark.streaming.store import TableStore

        t0 = time.time()
        with self.tracer.request("views", "views.register"):
            register_views(TableStore(self.spark, store_root))
        self.info["views.register_s"] = time.time() - t0
        for i, (cls, sql) in enumerate(mix):
            rec = {"class": cls, "sql": sql, "error": None}
            t0 = time.time()
            try:
                with self.tracer.request(f"query-{i}", f"serve.{cls}"):
                    rows = self.spark.sql(sql).collect()
                rec["s"] = time.time() - t0
                rec["start"], rec["end"] = t0, t0 + rec["s"]
                rec["rows"] = canonical([r.asDict() for r in rows])
            except Exception as e:  # noqa: BLE001
                rec["error"] = repr(e)
                self.failures.append(f"query {cls}: {e!r}")
            self.queries.append(rec)

    def check_store(self, store_root: str, truth: dict) -> None:
        """Every store check runs; a check that raises counts as failed."""
        try:
            con = checks.open_duckdb(store_root)
        except Exception as e:  # noqa: BLE001 — no committed store to read
            self.failures.append(f"store unreadable: {e!r}")
            self.failed_checks = STORE_CHECKS
            return
        try:
            for name, fn in (("ground truth", lambda: checks.check_truth(con, truth)),
                             ("scd chains", lambda: checks.check_scd(con)),
                             ("candles", lambda: checks.check_candles(con)),
                             ("queries", lambda: checks.check_queries(con, self.queries))):
                try:
                    found = fn()
                except Exception as e:  # noqa: BLE001
                    found = [f"{name} check raised {e!r}"]
                self.failures += found
                self.failed_checks += bool(found) and name != "queries"
        finally:
            con.close()

    def run_sync(self) -> None:
        events = os.path.join(self.work, "events")
        store_root = os.path.join(self.work, "store")
        os.makedirs(events)
        chain = self.sync_inputs()
        truth = chain.truth()
        self.setup(stream=True)
        self.install()
        try:
            self.sync(events, store_root)
        except Exception as e:  # noqa: BLE001 — reported as a failed delivery
            traceback.print_exc()
            self.failures.append(f"sync raised {e!r}")
        self.summarize_sync()
        if self.args.trace:
            self.serve(store_root, query_mix(self.args.seed, QUERY_ROUNDS, chain, truth))
        self.peak_rss()
        self.store_root, self.truth = store_root, truth

    # -- catalog -----------------------------------------------------------

    def run_catalog(self) -> None:
        """Passes over CATALOG_QUERIES in order, each query collected to the
        driver.  One cold pass alone lasts about 25 s, short enough that the
        box's minute-scale speed swings gave a 0.26 run-to-run spread; a
        warm pass after it lengthens the measured window."""
        from blockchain_postgres_sync_spark.plans.catalog import CATALOG

        tables = os.path.join(self.work, "tables")
        self.info["catalog_input_bytes"] = catalog_data.write_tables(tables, self.args.seed)
        self.setup(stream=False)
        t_start = time.time()
        for p in range(rounds(self.args.seconds, 25, 20)):
            for name in CATALOG_QUERIES.values():
                rec = {"name": name, "pass": p, "error": None}
                t0 = time.time()
                try:
                    with self.tracer.request(f"{name}-{p}", f"catalog.{name}"):
                        df = CATALOG[name](self.spark, tables)
                        rows = df.collect()
                    rec["s"] = time.time() - t0
                    if p == 0:
                        rec["columns"], rec["rows"] = list(df.columns), [tuple(r) for r in rows]
                except Exception as e:  # noqa: BLE001
                    rec["error"] = repr(e)
                    self.failures.append(f"catalog {name}: {e!r}")
                self.catalog.append(rec)
        wall = time.time() - t_start
        self.metric("work_s", wall, "s")
        self.named["catalog_wall_s"] = (wall, "s")
        self.peak_rss()
        self.tables = tables

    def check(self) -> None:
        """The correctness checks, after the session has stopped."""
        t0 = time.time()
        if self.args.workload == "sync":
            self.check_store(self.store_root, self.truth)
        else:
            for rec in self.catalog:
                if rec["error"] is None and "rows" in rec:
                    try:
                        found = checks.check_catalog(self.tables, rec)
                    except Exception as e:  # noqa: BLE001
                        found = [f"catalog {rec['name']}: check raised {e!r}"]
                    rec["mismatch"] = bool(found)
                    self.failures += found
        self.info["check_phase_s"] = time.time() - t0

    def peak_rss(self) -> None:
        self.named["peak_rss_mb"] = (sum(
            _vm_hwm_mb(p) for p in (os.getpid(), self.jvm_pid()) if p), "MB")

    # -- per-layer metrics -------------------------------------------------

    def layer_metrics(self) -> None:
        """Per-layer numbers of the traced run, one value per metric: the
        median over deliveries (or queries) of each quantity; metrics of a
        layer the workload does not run are 0."""
        m = dict.fromkeys(PER_LAYER, 0.0)
        if self.args.workload == "sync":
            self._sync_layers(m)
        for name in CATALOG_QUERIES.values():  # median over the passes
            m[f"catalog.{name}_s"] = _median(
                [q["s"] for q in self.catalog if q["name"] == name and q["error"] is None])
        m["mem.peak_rss_mb"] = self.named["peak_rss_mb"][0]
        measured = (sum(b["exit"] - b["enter"] for b in self.batches if "exit" in b)
                    + sum(q.get("s", 0.0) for q in self.queries + self.catalog))
        m["trace.hook_frac"] = self.tracer.hook_s / measured if measured else 0.0
        self.tracer.dump(os.path.join(
            self.out_dir, f"spans-{self.args.workload}-{self.args.seed}.jsonl"))
        self.metrics = {k: (v, _unit(k)) for k, v in m.items()}

    def _sync_layers(self, m: dict) -> None:
        tr = self.tracer
        spans = tr.spans
        by_id = {s["id"]: s for s in spans}
        done = [b for b in self.batches if "exit" in b]

        def per_batch(pred) -> float:
            vals = [sum(s["end"] - s["start"] for s in spans
                        if s["request"] == f"batch-{b['index']}" and pred(s)) for b in done]
            return _median(vals)

        for fn in ("process_batch", "apply_appends", "normalize_squash", "recompute_candles",
                   "apply_rollback"):
            m[f"pipeline.{fn}_s"] = per_batch(lambda s, n=f"pipeline.{fn}": s["name"] == n)
        # the startup ladder run_stream runs before its first trigger
        m["pipeline.startup_rollback_s"] = sum(
            s["end"] - s["start"] for s in spans if s["name"] == "pipeline.startup_rollback")

        def top_store(s) -> bool:
            parent = by_id.get(s["parent"])
            return parent is None or not parent["name"].startswith("store.")

        for fam in STORE_FAMILIES:
            m[f"store.stage_s.{fam}"] = per_batch(
                lambda s, n=f"store.stage.{fam}": s["name"] == n and top_store(s))
        m["store.commit_s"] = per_batch(lambda s: s["name"] == "store.commit")
        selfs = tr.self_times()
        m["pipeline.process_batch_self_s"] = _median(
            [selfs[s["id"]] for s in spans if s["name"] == "pipeline.process_batch"])

        jobs, reads = read_event_log(self.event_log)
        windows = [(b["enter"], b["exit"]) for b in done]
        work = attribute_jobs(jobs, windows)
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        m["spark.jobs_per_batch"] = _median([w["jobs"] for w in work])
        m["spark.tasks_per_batch"] = _median([w["tasks"] for w in work])
        m["spark.task_s_per_batch"] = _median([w["task_s"] for w in work])
        m["spark.busy_share"] = _median([w["task_s"] / ((b - a) * cpus)
                                         for w, (a, b) in zip(work, windows)])
        m["spark.shuffle_bytes_per_batch"] = _median([w["shuffle_bytes"] for w in work])

        writes = [b.get("writes", {}) for b in done]
        delivered = sum(self.delivery_bytes[:len(done)])
        rewritten = sum(w.get("rewritten", 0) for w in writes)
        linked = sum(w.get("linked", 0) for w in writes)
        m["store.bytes_written_per_input_byte"] = (
            sum(w.get("bytes", 0) for w in writes) / delivered if delivered else 0.0)
        m["store.rewrite_share"] = rewritten / (rewritten + linked) if rewritten + linked else 0.0
        m["store.files_written_per_batch"] = _median([w.get("files", 0) for w in writes])
        size = files = 0
        dirs = store_dirs(self.store_root)
        for d in dirs.values():
            for root, _ds, fs in os.walk(d):
                for fn in fs:
                    if fn.endswith(".parquet"):
                        size += os.path.getsize(os.path.join(root, fn))
                        files += 1
        total_in = sum(self.delivery_bytes)
        m["store.size_bytes_per_input_byte"] = size / total_in if total_in else 0.0
        m["store.files_per_table"] = files / len(dirs) if dirs else 0.0
        for key in [f"ingest.rows_out.{f}" for f in TX_FAMILIES] + [
                "candles.rows_written_per_batch", "scd.rows_written_per_batch"]:
            m[key] = _median([w.get(key, 0) for w in writes])

        m["sources.queue_wait_s"] = _median([b.get("queue_wait_s", 0.0) for b in done])
        m["sources.files_per_trigger"] = len(self.files) / len(done) if done else 0.0
        m["sources.rows_dropped_malformed"] = sum(
            len(u) - b.get("rows", len(u)) for b, u in zip(done, self.files))

        m["views.register_s"] = self.info.get("views.register_s", 0.0)
        ok = [q for q in self.queries if q["error"] is None]
        m["serve.query_s_p50"] = _median([q["s"] for q in ok])
        for cls in QUERY_CLASSES:
            m[f"serve.{cls}_s_p50"] = _median([q["s"] for q in ok if q["class"] == cls])
        per_q_files, per_q_rows = [], []
        for q in ok:
            per_q_files.append(sum(n for t, n in reads if q["start"] <= t <= q["end"]))
            rows_in = sum(j["records_read"] for j in jobs
                          if q["start"] <= j["submitted"] <= q["end"])
            per_q_rows.append(rows_in / max(1, len(q["rows"])))
        m["serve.files_read_per_query"] = _median(per_q_files)
        m["serve.rows_read_per_row_returned"] = _median(per_q_rows)
        m["gen.late_s_max"] = self.info["gen.late_s_max"]

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


STORE_CHECKS = 3  # ground truth, SCD chains, candles
STORE_FAMILIES = ("blocks", "txs", "children", "scd", "candles", "waves")
TX_FAMILIES = {
    "exchange": (7,), "transfer": (4, 11), "invoke": (16, 18), "data": (12,),
    "asset": (3, 5, 6, 14, 15, 17), "lease": (8, 9), "other": (1, 2, 10, 13),
}
PER_LAYER = (
    [f"pipeline.{fn}_s" for fn in ("process_batch", "apply_appends", "normalize_squash",
                                   "recompute_candles", "apply_rollback", "startup_rollback",
                                   "process_batch_self")]
    + [f"spark.{k}" for k in ("jobs_per_batch", "tasks_per_batch", "task_s_per_batch",
                              "busy_share", "shuffle_bytes_per_batch")]
    + [f"store.stage_s.{fam}" for fam in STORE_FAMILIES]
    + [f"store.{k}" for k in ("commit_s", "bytes_written_per_input_byte", "rewrite_share",
                              "files_written_per_batch", "size_bytes_per_input_byte",
                              "files_per_table")]
    + [f"ingest.rows_out.{f}" for f in TX_FAMILIES]
    + ["candles.rows_written_per_batch", "scd.rows_written_per_batch"]
    + [f"sources.{k}" for k in ("queue_wait_s", "files_per_trigger", "rows_dropped_malformed")]
    + ["views.register_s", "serve.query_s_p50"]
    + [f"serve.{cls}_s_p50" for cls in QUERY_CLASSES]
    + ["serve.files_read_per_query", "serve.rows_read_per_row_returned"]
    + [f"catalog.{q}_s" for q in CATALOG_QUERIES.values()]
    + ["mem.peak_rss_mb", "gen.late_s_max", "trace.hook_frac"]
)


def _unit(metric: str) -> str:
    if re.search(r"_s($|[._])", metric):
        return "s"
    if metric.endswith("bytes_per_batch"):
        return "bytes"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("share", "frac", "per_input_byte", "per_row_returned")):
        return "ratio"
    return "count"


def _family(name: str) -> str:
    if name.startswith("txs_") and name.count("_") >= 2:
        return "children"
    if name.startswith("txs_") or name == "tx_ids":
        return "txs"
    return {"blocks_microblocks": "blocks", "candles": "candles",
            "waves_data": "waves"}.get(name, "scd")


def _tx_family(tx_type: int) -> str:
    return next(f for f, ts in TX_FAMILIES.items() if tx_type in ts)


def rounds(seconds: int, first: int, per_round: int) -> int:
    """Rounds of work that fit ``seconds`` on a 4-core box when the first
    round (a cold engine) takes ``first`` seconds and each further (warm)
    round ``per_round``: tip deliveries for ``sync``, passes for
    ``catalog_batch``."""
    return 1 + max(0, seconds - first) // per_round


def _print_metrics(metrics: dict, info: dict) -> None:
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    for name, value in info.items():
        print(f"# {name} {value}")


def run_workload(args, work: str) -> dict:
    run = Run(args, work)
    run.info["env"] = _env(work, len(os.sched_getaffinity(0)))
    try:
        if args.workload == "sync":
            run.run_sync()
        else:
            run.run_catalog()
    finally:
        t0 = time.time()
        run.stop_session()
        run.info["stop_s"] = time.time() - t0
    run.check()
    run.info["work_s"] = run.metrics["work_s"][0]
    if args.trace:
        os.makedirs(run.out_dir, exist_ok=True)
        run.layer_metrics()
    else:
        run.metrics = {k: run.metrics.get(k, (0.0, u)) for k, u in END_TO_END.items()}
    if args.workload == "sync":
        committed = sum("exit" in b and b["error"] is None for b in run.batches)
        attempted = len(run.files) + len(run.queries) + STORE_CHECKS
        failed = (len(run.files) - min(committed, len(run.files)) + run.failed_checks
                  + sum(q["error"] is not None or q.get("mismatch", False) for q in run.queries))
    else:
        attempted = len(run.catalog)
        failed = sum(q["error"] is not None or q.get("mismatch", False) for q in run.catalog)
    run.named["error_rate"] = (failed / attempted, "failed/attempted")
    run.info["failures"] = run.failures[:20]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": run.metrics, "named": run.named, "info": run.info}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=BASE_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import blockchain_postgres_sync_spark  # noqa: F401
    except ImportError as e:
        print(f"syncbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(ROOT, ".syncbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(f"## workload {args.workload}")
    _print_metrics({**res["metrics"], **res["named"]}, res["info"])
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0 if res["correct"] else 1


def _run_child(args, name: str, trace: int) -> tuple[list[str], dict]:
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", name,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=False).stdout.splitlines()
    try:
        return out[:-1], json.loads(out[-1])
    except (IndexError, ValueError):
        return out, {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def _work_s(lines: list[str]) -> float | None:
    return next((float(l.split()[2]) for l in lines if l.startswith("# work_s ")), None)


def run_all(args) -> int:
    """Every workload, each in its own process (one Spark session per
    process); the last line merges their results, metric names prefixed
    with the workload.  With ``--trace 1`` each workload also runs
    untraced first, and ``trace.overhead_frac`` is the traced run's
    ``work_s`` over the untraced one's, minus one (one pair of runs, so it
    carries the run-to-run spread)."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        plain = _run_child(args, name, 0)[0] if args.trace else None
        lines, res = _run_child(args, name, args.trace)
        print("\n".join(lines))
        if plain is not None and _work_s(plain) and _work_s(lines):
            frac = _work_s(lines) / _work_s(plain) - 1
            print(f"trace.overhead_frac {frac:.6g} ratio")
            res["metrics"]["trace.overhead_frac"] = {"value": frac, "unit": "ratio"}
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
