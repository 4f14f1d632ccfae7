"""The benchmark's workloads.

Every workload is a closed loop with one client: a step starts only after
the previous one returned, which is how a tailing CDC job and a query
client behave. Each workload

1. sets up three times (session start, then its inputs: the seeded WAL
   materialised to parquet, or the reference tables opened) and reports
   the median as ``setup_s``;
2. warms up untimed;
3. runs a fixed number of steps, sized from ``--seconds`` so that a run
   measures about that long on a 4-vCPU box and every run with the same
   ``--seconds`` does the same work, recording each step's latency;
4. checks its outputs outside the timed region.

A step that raises counts as failed operations and the loop goes on; a
failed output check counts as one failed operation. Both make the run
incorrect.
"""

from __future__ import annotations

import concurrent.futures as cf
import os
import shutil
import statistics
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext

import layers
from corpus import CORPUS_DIR, TABLES, digest, oracle_digests

STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
HOT_CONVS = ["c000000", "c000001", "c000002"]
# Two held-out "benchmark" documents for the decontamination stage.
EVALSET = [
    (0, "merge spark stream batch window table query join filter scan shuffle agg sort"),
    (1, "checkpoint replay upsert delete schema evolve bucket salt skew arrow lake"),
]


def now() -> float:
    return time.perf_counter()


class Ctx:
    """Per-run state shared by the workload functions."""

    def __init__(self, root, work, seed, seconds, nproc, spark_conf, scale, trace, corrupt):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.nproc = nproc
        self.spark_conf = spark_conf
        self.scale = scale
        self.trace_on = trace
        self.corrupt = corrupt
        self.tracer = None
        self.tracing = False
        self._lock = threading.Lock()
        self.res = {
            "setup_rounds_s": [],
            "warmup_s": None,
            "attempted": 0,
            "failed": 0,
            "errors": [],
            "checks": {},
            "steps_s": [],
            "detail": {},
            "extra": {},
        }

    def size(self, n: int) -> int:
        return max(int(n * self.scale), 1000)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def session(self, master: str | None = None):
        from endor_blockchain_data_pipeline_spark.session import get_spark, stop_spark

        stop_spark()
        spark = get_spark(
            "perfbench",
            master=master or f"local[{self.nproc}]",
            shuffle_partitions=2 * self.nproc,
            extra_conf=self.spark_conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, round_fn, rounds: int = 3):
        """Run the full set-up ``rounds`` times; keep the last one's state."""
        state = None
        for _ in range(rounds):
            t0 = now()
            state = round_fn()
            self.res["setup_rounds_s"].append(now() - t0)
        return state

    def warmup(self, fn) -> None:
        t0 = now()
        fn()
        self.res["warmup_s"] = now() - t0

    def start_trace(self, spark) -> None:
        """Install the layer wrappers (traced runs only)."""
        if self.trace_on:
            from spans import Tracer, drain_listener_bus

            drain_listener_bus(spark.sparkContext)  # the warm-up's events first
            self.tracer = Tracer(spark.sparkContext, f"pb{os.getpid()}")
            layers.install(self.tracer)
            self.tracing = True

    def end_trace(self) -> None:
        """Resolve the spans' counts and remove the wrappers, before the
        session that ran them stops."""
        if self.tracing:
            self.tracer.finish()
            self.tracer.unwrap_all()
            self.tracing = False

    def span(self, name: str, label: str | None = None):
        if not self.tracing:
            return nullcontext()
        return self.tracer.span(name, step=label)

    def step(self, label: str):
        return self.span("step", label)

    def _count(self, attempted: int, failed: int) -> None:
        with self._lock:
            self.res["attempted"] += attempted
            self.res["failed"] += failed

    def attempt(self, n_ops: int, fn, *args):
        """Run ``n_ops`` operations; an exception fails all of them."""
        try:
            out = fn(*args)
        except Exception:  # noqa: BLE001 - the loop must go on; recorded here
            self._count(n_ops, n_ops)
            self.res["errors"].append(traceback.format_exc(limit=4))
            return None
        self._count(n_ops, 0)
        return out

    def check(self, name: str, ok: bool, info=None) -> None:
        self.res["checks"][name] = {"ok": bool(ok), "info": info}
        self._count(1, 0 if ok else 1)


def gc_seconds(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()) / 1e3


def fingerprint(df) -> tuple:
    """count + bit_xor(xxhash64(all state columns)) + sum(turn_idx)."""
    import pyspark.sql.functions as F

    r = df.select(*STATE_COLS).agg(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(STATE_COLS)}))").alias("h"),
        F.sum("turn_idx").alias("s"),
    ).first()
    return (r["n"], r["h"], r["s"])


def oracle_state(wal, hi: int):
    """LWW replay oracle over WAL events with lsn <= hi."""
    import pyspark.sql.functions as F

    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
    from endor_blockchain_data_pipeline_spark.job import brute_force_state

    return brute_force_state(decode_changes(wal.where(F.col("lsn") <= hi)))


def live_bytes(table) -> int:
    m = table.manifest() or {"buckets": {}}
    return sum(
        os.path.getsize(os.path.join(table.path, f))
        for files in m["buckets"].values() for f in files
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_rates(ctx, wal, lo: int, hi: int) -> None:
    """Traced-run probes: decode and narrow LWW reduce rows/s on one batch
    slice, each into a noop sink, median of three."""
    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
    from endor_blockchain_data_pipeline_spark.operators.merge import lww_winner_rows
    from endor_blockchain_data_pipeline_spark.sources.wal import ranged_scan

    sl = ranged_scan(wal, lo, hi)
    for key, fn in (
        ("decode.rows_per_s", decode_changes),
        ("merge.reduce_rows_per_s", lww_winner_rows),
    ):
        rates = []
        for i in range(3):
            with ctx.span(f"probe.{key}", f"probe{i}"):
                t0 = now()
                noop(fn(sl))
                rates.append((hi - lo) / (now() - t0))
        ctx.res["extra"][key] = statistics.median(rates)


def point_read(spark, table, buckets):
    """Bucket-pruned read of the hot conversations' current rows."""
    import pyspark.sql.functions as F

    rows = (
        table.read(spark, buckets=buckets)
        .where(F.col("conv_id").isin(HOT_CONVS))
        .select(*STATE_COLS)
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def hot_buckets(spark, n_buckets: int) -> list[int]:
    from endor_blockchain_data_pipeline_spark.sources.lake import bucket_expr

    df = spark.createDataFrame([(c,) for c in HOT_CONVS], "conv_id string")
    return sorted({r[0] for r in df.select(bucket_expr("conv_id", n_buckets)).collect()})


def confine_shm_scratch(scratch: str) -> None:
    """Put the engine's ``/dev/shm`` scratch roots inside ``scratch``.

    ``__spark_entry__._fresh_scratch`` (the persisted-index queries
    ``incremental_dedup``, ``rollup_daily_counts`` and the incdedup-rm
    query) makes its roots with ``tempfile.mkdtemp(dir="/dev/shm")``. The
    benchmark writes only inside its checkout, so that one directory is
    mapped to ``scratch``; the engine's own function, with its reclaim of
    older roots, still runs. Those queries then write to the checkout's
    file system instead of tmpfs."""
    os.makedirs(scratch, exist_ok=True)
    orig = tempfile.mkdtemp

    def mkdtemp(suffix=None, prefix=None, dir=None):
        if dir is not None and os.path.realpath(dir) == "/dev/shm":
            dir = scratch
        return orig(suffix, prefix, dir)

    tempfile.mkdtemp = mkdtemp


# -------------------------------------------------------------------- cdc


def cdc(ctx: Ctx):
    """The ingestion side, on one seeded skewed WAL.

    - bulk: catch-ups of the first ``n_bulk`` events into fresh tables in a
      few large MoR batches (pipelined ``stage_batch_mor`` +
      ``commit_staged_batch``) at local[nproc]; throughput is events/s.
    - tail: on the last bulk table, many small batches, each a poll
      (``source_max``) plus one batch on the serial ``merge_batch`` path
      (compaction every ``compact_threshold`` batches, checkpoint,
      lineage) — a write — followed by a bucket-pruned point read of hot
      conversations — a read.
    - traced runs only, after the wrappers are removed: the bulk catch-up
      again at local[1] on the same input, for the single-threaded baseline
      and scaling efficiency (reported, not gated)."""
    import pyspark.sql.functions as F

    from endor_blockchain_data_pipeline_spark.job import CDCJob
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
    from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

    res = ctx.res
    n_buckets = 16
    n_bulk = ctx.size(48_000)
    n_batches = 4
    batch = -(-n_bulk // n_batches)
    tail_batch = max(n_bulk // 24, 100)
    # throughput is the median over the reps, so at least four of them
    n_reps = max(4, round(ctx.seconds * 0.4))
    # The bulk table starts the tail at 4 generations per bucket and the
    # tail compacts at 4, so every third tail batch compacts: whole periods
    # keep the mix of compacting and plain steps the same in every run.
    n_tail = 3 * max(2, round(ctx.seconds / 5))
    n_events = n_bulk + n_tail * tail_batch
    wal_path = ctx.path("wal")

    def setup_round():
        spark = ctx.session()
        generate_wal(
            spark, n_events, n_convs=max(n_events // 200, 64), seed=ctx.seed,
            numPartitions=2 * ctx.nproc,
        ).write.mode("overwrite").parquet(wal_path)
        return spark

    def catch_up(spark, tag, upto=n_bulk, size=batch):
        """One catch-up of events [0, upto) into a fresh table."""
        path = ctx.path(f"table-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        table = ManifestTable(path, n_buckets=n_buckets)
        bulk = spark.read.parquet(wal_path).where(F.col("lsn") < upto)
        job = CDCJob(spark, table, bulk, write_mode="mor", compact_threshold=8)
        t0 = now()
        job.run_to_watermark(batch_size=size)
        return now() - t0, table

    def bulk_reps(spark, level, n):
        reps = []
        for i in range(n):
            with ctx.step(f"{level}{i}"):
                r = ctx.attempt(n_batches, catch_up, spark, f"{level}{i}")
            if r is not None:
                reps.append(r)
        return reps

    def tail_steps(spark, table, buckets, n, label):
        job = CDCJob(
            spark, table, spark.read.parquet(wal_path), write_mode="mor",
            compact_threshold=4,
        )
        out = {"rows": None, "gens": [], "steps": [], "writes": [], "reads": []}
        for i in range(n):
            with ctx.step(f"{label}{i}"):
                t0 = now()
                if ctx.attempt(1, job.run_to_watermark, tail_batch, 1) is None:
                    continue
                t1 = now()
                rows = ctx.attempt(1, point_read, spark, table, buckets)
                t2 = now()
            # outside the step, and in every run, so tracing adds no work
            out["gens"].append(max(table.manifest()["bucket_gens"].values()))
            if rows is not None:
                out["steps"].append(t2 - t0)
                out["writes"].append(t1 - t0)
                out["reads"].append(t2 - t1)
                out["rows"] = rows
        return out

    spark = ctx.setup(setup_round)
    buckets = hot_buckets(spark, n_buckets)

    def warm():
        # both apply paths: one full-size catch-up (the first is cold), then
        # one tail step on its table
        _, t = catch_up(spark, "warm")
        tail_steps(spark, t, buckets, 1, "warm")

    ctx.warmup(warm)
    ctx.start_trace(spark)
    gc0 = gc_seconds(spark)
    t0 = now()
    reps = bulk_reps(spark, "bulk", n_reps)
    bulk_wall = now() - t0
    rates = [n_bulk / dt for dt, _ in reps]
    res["throughput"] = statistics.median(rates) if rates else 0.0
    table = reps[-1][1] if reps else None
    bulk_version = table.current_version() if table else None
    bulk_bytes = live_bytes(table) / n_bulk if table else 0.0
    tail = tail_steps(spark, table, buckets, n_tail, "tail") if table else {}
    res["timed_wall_s"] = now() - t0
    res["steps_s"] = tail.get("steps", [])
    res["extra"]["jvm.gc_s"] = gc_seconds(spark) - gc0
    res["extra"]["lake.bytes_per_event"] = bulk_bytes
    res["extra"]["lake.max_bucket_gens"] = max(tail.get("gens") or [0])
    if ctx.tracing:
        res["extra"]["job.stage_overlap"] = sum(
            s["end"] - s["start"] for s in ctx.tracer.by_name("merge.stage_batch_mor")
        ) / bulk_wall
    fp_n = fingerprint(table.read(spark, version=bulk_version)) if table else None
    detail = {
        "cdc_events_per_s": res["throughput"],
        "bulk_reps": len(reps),
        "bulk_events": n_bulk,
        "bulk_batches": n_batches,
        "tail_batch_events": tail_batch,
        "tail_write_p50_s": statistics.median(tail["writes"]) if tail.get("writes") else None,
        "tail_read_p50_s": statistics.median(tail["reads"]) if tail.get("reads") else None,
        "tail_writes_s": tail.get("writes"),
        "tail_reads_s": tail.get("reads"),
        "lake_bytes_per_event": bulk_bytes,
    }
    wm = table.watermark() if table else -1
    fp_1 = None
    if ctx.tracing:
        probe_rates(ctx, spark.read.parquet(wal_path), -1, batch - 1)
        ctx.end_trace()
        # The single-threaded baseline rides the traced run, after the
        # wrappers are gone: scaling is reported, not gated.
        t1 = now()
        spark = ctx.session("local[1]")
        detail["session_1core_s"] = now() - t1
        reps1 = bulk_reps(spark, "one", 1)
        rate1 = statistics.median(n_bulk / dt for dt, _ in reps1) if reps1 else 0.0
        eff = res["throughput"] / rate1 / ctx.nproc if rate1 else 0.0
        res["extra"].update({"job.events_per_s_1core": rate1, "job.scaling_eff": eff})
        detail.update(
            cdc_events_per_s_1core=rate1, bulk_reps_1core=len(reps1), cdc_scaling_eff=eff
        )
        fp_1 = fingerprint(reps1[-1][1].read(spark)) if reps1 else None
    res["detail"].update(detail)
    wal = spark.read.parquet(wal_path)
    # --corrupt-check drops the last bulk event from the oracle's input
    fp_o = fingerprint(oracle_state(wal, n_bulk - (2 if ctx.corrupt else 1)))
    ctx.check("bulk_state_fingerprint_nproc", fp_n == fp_o, {"got": fp_n, "oracle": fp_o})
    if fp_1 is not None:
        ctx.check("bulk_state_fingerprint_1core", fp_1 == fp_o, {"got": fp_1, "oracle": fp_o})
    # LWW is per key, so the oracle may filter to the hot conversations first
    hot = wal.where(F.col("conv_id").isin(HOT_CONVS))
    oracle = sorted(tuple(r) for r in oracle_state(hot, wm).select(*STATE_COLS).collect())
    ctx.check(
        "tail_point_read_equals_oracle", tail.get("rows") == oracle,
        {"rows": len(oracle), "watermark": wm},
    )
    return spark


# ------------------------------------------------------- curation_queries


def curation_queries(ctx: Ctx):
    """The consumer side.

    Every run: the bench.py HEADLINE queries over the fixed reference
    corpus (``corpus.CORPUS_DIR``), one pass, each materialised into a noop
    sink (a step is one query; throughput is queries/s). The untimed
    warm-up collects every result on a six-thread pool, which it shares
    with DuckDB computing the oracle digests (and, traced, one curation
    step).

    Traced runs add live curation: ``CDCJob.run_with_curation`` steps over
    a small CDC lake (one batch on the serial apply path, then a
    ``LiveCuration`` refresh: tens of small Spark jobs, the driver
    small-commit staging path and the ``DedupIndex`` fold), checked against
    the one-shot ``curate_transcripts`` funnel. A refresh costs several
    seconds on a 4-vCPU box and its check more, too much for every run."""
    import __spark_entry__ as entry

    res = ctx.res
    confine_shm_scratch(ctx.path("scratch"))
    queries = entry.queries()

    def setup_round():
        spark = ctx.session()
        for t in TABLES:
            spark.read.parquet(f"{CORPUS_DIR}/{t}.parquet")
        return spark

    spark = ctx.setup(setup_round)
    curation = LiveCurationRun(ctx, spark) if ctx.trace_on else None

    def collect(name):
        df = queries[name](spark, CORPUS_DIR)
        return name, digest(ctx.root, list(df.columns), [tuple(r) for r in df.collect()])

    results: dict = {}
    oracle: dict = {}

    def warm():
        with cf.ThreadPoolExecutor(max_workers=6) as pool:
            oracle_f = pool.submit(oracle_digests, ctx.root, CORPUS_DIR, layers.HEADLINE)
            cur_f = pool.submit(curation.step) if curation else None
            futs = [pool.submit(ctx.attempt, 1, collect, q) for q in layers.HEADLINE]
            for f in futs:
                r = f.result()
                if r is not None:
                    results[r[0]] = r[1]
            if cur_f is not None:
                cur_f.result()
            oracle.update(oracle_f.result())

    ctx.warmup(warm)
    ctx.start_trace(spark)
    gc0 = gc_seconds(spark)
    per_query: dict[str, list[float]] = {q: [] for q in layers.HEADLINE}
    n_passes = max(1, round(ctx.seconds / 20))
    t0 = now()
    for p in range(n_passes):
        for q in layers.HEADLINE:
            with ctx.step(f"p{p}-{q}"), ctx.span(f"query.{q}"):
                t1 = now()
                ok = ctx.attempt(1, lambda: noop(queries[q](spark, CORPUS_DIR)) or True)
                dt = now() - t1
            if ok:
                per_query[q].append(dt)
                res["steps_s"].append(dt)
    res["timed_wall_s"] = now() - t0
    res["extra"]["jvm.gc_s"] = gc_seconds(spark) - gc0
    res["throughput"] = len(res["steps_s"]) / res["timed_wall_s"]
    medians = {q: statistics.median(v) for q, v in per_query.items() if v}
    res["detail"].update(
        queries_total_s=sum(medians.values()), passes=n_passes, query_s=medians
    )
    if curation is not None:
        for i in range(2):
            with ctx.step(f"cur{i}"):
                curation.step()
        res["trace_wall_s"] = now() - t0
    ctx.end_trace()
    if curation is not None:
        curation.check()
    if ctx.corrupt:
        # --corrupt-check: one query's result loses a row before comparison
        cols, n, h = results[layers.HEADLINE[0]]
        results[layers.HEADLINE[0]] = (cols, n - 1, h)
    problems = {
        q: {"spark": results.get(q), "oracle": oracle[q]}
        for q in layers.HEADLINE if results.get(q) != oracle[q]
    }
    ctx.check(
        "queries_equal_duckdb_oracle", not problems,
        {"checked": len(results), "problems": problems},
    )
    return spark


class LiveCurationRun:
    """A small CDC lake with a ``LiveCuration`` riding every batch."""

    def __init__(self, ctx: Ctx, spark) -> None:
        from endor_blockchain_data_pipeline_spark.job import CDCJob
        from endor_blockchain_data_pipeline_spark.operators.live_curation import (
            LiveCuration,
        )
        from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
        from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

        self.ctx, self.spark = ctx, spark
        self.batch = ctx.size(2000)
        wal_path = ctx.path("cur-wal")
        generate_wal(
            spark, 8 * self.batch, n_convs=400, seed=ctx.seed, numPartitions=ctx.nproc
        ).write.mode("overwrite").parquet(wal_path)
        self.lake = ManifestTable(ctx.path("cur-lake"), n_buckets=8)
        self.evalset = spark.createDataFrame(EVALSET, "doc_id long, text string")
        self.cur = LiveCuration(
            spark, ctx.path("cur-state"), self.lake, self.evalset, n_buckets=4,
            k_shingle=12, n_hashes=8, n_bands=4,
        )
        self.job = CDCJob(
            spark, self.lake, spark.read.parquet(wal_path), write_mode="mor",
            compact_threshold=4,
        )
        self.steps_s: list[float] = []

    def step(self) -> None:
        """One batch applied and folded into the curation state."""
        t0 = now()
        if self.ctx.attempt(2, self.job.run_with_curation, self.batch, self.cur, 1) is not None:
            self.steps_s.append(now() - t0)

    def check(self) -> None:
        from endor_blockchain_data_pipeline_spark.operators.curate import (
            curate_transcripts,
        )

        live = self.cur.funnel()
        one_shot = curate_transcripts(
            self.spark, self.lake.path, self.ctx.path("cur-one-shot"), self.evalset
        )
        one_shot = {k: one_shot[k] for k in live}
        self.ctx.res["detail"]["curation_step_s"] = self.steps_s
        self.ctx.check(
            "live_funnel_equals_one_shot", live == one_shot,
            {"live": live, "one_shot": one_shot},
        )


WORKLOADS = {"cdc": cdc, "curation_queries": curation_queries}
