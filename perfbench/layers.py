"""Which engine calls become spans, and the per-layer metrics built from them.

Every wrapper is installed where the caller looks the name up:

- ``job.source_max`` and ``job.merge_batch`` are imported into ``job`` at
  module load, so they are patched there;
- ``merge.stage_batch_mor`` / ``commit_staged_batch`` / ``compact_buckets``
  are imported from ``merge`` inside the calling functions (and
  ``merge_batch`` calls ``commit_staged_batch`` by global lookup), so they
  are patched on the ``merge`` module;
- methods are patched on their classes.

The metric names and units are declared in BENCHMARK.json; :func:`compute`
gives each its value. Conventions (see perfbench/README.md): ``*_s`` is the
mean seconds per call, ``*_jobs`` / ``*_tasks`` the mean Spark jobs / tasks
per call (including nested spans), and a metric of a layer the workload
does not reach reads 0.
"""

from __future__ import annotations

import os

# The bench.py HEADLINE query set, fixed here so the benchmark's metric
# names do not move when bench.py changes.
HEADLINE = (
    "lww_merge_state", "agg_pricing", "multi_join_regional",
    "broadcast_join_enrich", "ohlc_daily", "dedup_within_batch",
    "explode_words", "minhash_signatures", "quality_langid", "ann_topk",
    "double_entry_flip", "conv_stats_rollup", "simhash_candidates",
    "srp_ann_topk", "dup_clusters", "incremental_dedup", "asof_state_lookup",
    "session_windows", "ivf_ann_topk", "pivot_event_counts",
    "rollup_daily_counts", "running_totals", "hash_split", "corpus_profile",
    "length_quantiles", "conv_transcript", "range_join_concurrency",
    "hypertable_rollup", "kmv_distinct",
)

def install(tracer) -> None:
    """Wrap every layer boundary the benchmark reports on."""
    # the session's DataFrames are the classic subclass, which defines its
    # own toArrow
    from pyspark.sql.classic.dataframe import DataFrame

    from endor_blockchain_data_pipeline_spark import job as job_mod
    from endor_blockchain_data_pipeline_spark.lineage import LineageLog
    from endor_blockchain_data_pipeline_spark.operators import merge as merge_mod
    from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import (
        DedupIndex,
    )
    from endor_blockchain_data_pipeline_spark.operators.live_curation import (
        LiveCuration,
    )
    from endor_blockchain_data_pipeline_spark.sources.checkpoint import Checkpoint
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

    def staged_files(sp, args, kwargs, out):
        table = args[0]
        n = size = 0
        for files in out["new_buckets"].values():
            for f in files:
                n += 1
                size += os.path.getsize(os.path.join(table.path, f))
        sp["attrs"].update(files=n, bytes=size)

    def read_files(sp, args, kwargs, out):
        table = args[0]
        m = table.manifest(kwargs.get("version"))
        buckets = kwargs.get("buckets", args[2] if len(args) > 2 else None)
        sel = None if buckets is None else {str(int(b)) for b in buckets}
        sp["attrs"]["files"] = sum(
            len(fl) for b, fl in (m or {}).get("buckets", {}).items()
            if sel is None or b in sel
        )

    def fold_kind(sp, args, kwargs, out):
        sp["attrs"]["fold"] = (out or {}).get("fold")

    def compacted(sp, args, kwargs, out):
        sp["attrs"]["compacted"] = out is not None

    def arg(i):
        return lambda args: str(args[i]) if len(args) > i else None

    tracer.wrap(job_mod, "source_max", "wal.source_max")
    tracer.wrap(job_mod, "merge_batch", "merge.merge_batch", arg(2))
    tracer.wrap(
        job_mod.CDCJob, "run_batch", "job.batch",
        lambda a: job_mod.CDCJob.batch_id_for(a[1], a[2]),
    )
    tracer.wrap(merge_mod, "stage_batch_mor", "merge.stage_batch_mor", arg(2))
    tracer.wrap(merge_mod, "commit_staged_batch", "merge.commit_staged_batch", arg(2))
    tracer.wrap(merge_mod, "compact_buckets", "merge.compact_buckets", arg(2), compacted)
    tracer.wrap(ManifestTable, "stage", "lake.stage", arg(2), staged_files)
    tracer.wrap(ManifestTable, "commit_staged", "lake.commit_staged", arg(2))
    tracer.wrap(ManifestTable, "read", "lake.read", after=read_files)
    tracer.wrap(Checkpoint, "record", "checkpoint.record", arg(1))
    tracer.wrap(LineageLog, "record_rows", "lineage.record_rows", arg(2))
    tracer.wrap(LiveCuration, "refresh", "live_curation.refresh", arg(2))
    tracer.wrap(DedupIndex, "add_batch", "incremental_dedup.add_batch", arg(2), fold_kind)
    tracer.wrap(
        DedupIndex, "remove_docs", "incremental_dedup.remove_docs", arg(2), fold_kind
    )

    # Driver-side small-commit staging is seen from outside as a toArrow()
    # collect issued inside a lake.stage span.
    orig_to_arrow = DataFrame.toArrow

    def to_arrow(self, *a, **kw):
        out = orig_to_arrow(self, *a, **kw)
        cur = tracer.current()
        if cur is not None and cur["name"] == "lake.stage":
            cur["attrs"]["driver_staged"] = True
        return out

    DataFrame.toArrow = to_arrow
    tracer._patches.append((DataFrame, "toArrow", orig_to_arrow))


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def compute(tracer, wall_s: float, extra: dict) -> dict:
    """Per-layer metric values from the resolved spans of one traced run.

    ``wall_s``: wall time of the timed region; ``extra``: values measured
    outside spans (probes, GC, lake bytes, bucket generations)."""
    tr = tracer

    def spans(name):
        return tr.by_name(name)

    def mean(name, key=None):
        ss = spans(name)
        if not ss:
            return 0.0
        if key is None:
            return sum(_dur(s) for s in ss) / len(ss)
        return sum(s[key] if key in s else s["attrs"].get(key, 0) for s in ss) / len(ss)

    def share(name, pred):
        ss = spans(name)
        return sum(bool(pred(s)) for s in ss) / len(ss) if ss else 0.0

    adds = [
        s for s in spans("incremental_dedup.add_batch")
        if s["attrs"].get("fold") not in (None, "replay")
    ]
    compactions = [s for s in spans("merge.compact_buckets") if s["attrs"]["compacted"]]
    refreshes = spans("live_curation.refresh")
    step_ids = {s["id"] for s in spans("step")}

    def refresh_jobs(r):
        """The refresh's own jobs plus those of the stage writes it runs on
        pool threads: spans parented to the step (not to the refresh)
        that start inside the refresh, on another thread."""
        pooled = [
            s for s in tr.spans
            if s["parent"] in step_ids and s["thread"] != r["thread"]
            and r["start"] <= s["start"] <= r["end"]
        ]
        return r["jobs_incl"] + sum(s["jobs_incl"] for s in pooled)

    steps = spans("step")
    step_total = sum(_dur(s) for s in steps)
    out = {
        "merge.stage_s": mean("merge.stage_batch_mor"),
        "merge.stage_jobs": mean("merge.stage_batch_mor", "jobs_incl"),
        "merge.stage_tasks": mean("merge.stage_batch_mor", "tasks_incl"),
        "decode.rows_per_s": extra.get("decode.rows_per_s", 0.0),
        "merge.reduce_rows_per_s": extra.get("merge.reduce_rows_per_s", 0.0),
        "lake.stage_s": mean("lake.stage"),
        "lake.files_written": mean("lake.stage", "files"),
        "lake.bytes_written": mean("lake.stage", "bytes"),
        "lake.bytes_per_event": extra.get("lake.bytes_per_event", 0.0),
        "job.stage_overlap": extra.get("job.stage_overlap", 0.0),
        "jvm.gc_s": extra.get("jvm.gc_s", 0.0),
        "wal.source_max_s": mean("wal.source_max"),
        "merge.merge_batch_s": mean("merge.merge_batch"),
        "merge.commit_s": mean("merge.commit_staged_batch"),
        "lake.commit_s": mean("lake.commit_staged"),
        "checkpoint.record_s": mean("checkpoint.record"),
        "lineage.record_s": mean("lineage.record_rows"),
        "job.batch_s": mean("job.batch"),
        "merge.compact_s": (
            sum(_dur(s) for s in compactions) / len(compactions) if compactions else 0.0
        ),
        "merge.compact_calls": len(compactions) / max(len(spans("job.batch")), 1),
        "lake.max_bucket_gens": extra.get("lake.max_bucket_gens", 0),
        "lake.read_s": mean("lake.read"),
        "lake.read_files": mean("lake.read", "files"),
        "live_curation.refresh_s": mean("live_curation.refresh"),
        "live_curation.refresh_jobs": (
            sum(refresh_jobs(r) for r in refreshes) / len(refreshes) if refreshes else 0.0
        ),
        "incremental_dedup.add_batch_s": mean("incremental_dedup.add_batch"),
        "incremental_dedup.remove_docs_s": mean("incremental_dedup.remove_docs"),
        "incremental_dedup.driver_fold_share": (
            sum(s["attrs"]["fold"] == "driver-union-find" for s in adds) / len(adds)
            if adds else 0.0
        ),
        "lake.driver_stage_share": share("lake.stage", lambda s: s["attrs"].get("driver_staged")),
        "spark.failed_tasks": sum(s["failed_tasks_incl"] for s in steps),
        "job.events_per_s_1core": extra.get("job.events_per_s_1core", 0.0),
        "job.scaling_eff": extra.get("job.scaling_eff", 0.0),
        "trace.step_coverage": step_total / wall_s if wall_s else 0.0,
        "trace.layer_coverage": (
            sum(_dur(s) - s["self_s"] for s in steps) / step_total if step_total else 0.0
        ),
    }
    for q in HEADLINE:
        out[f"query.{q}_s"] = mean(f"query.{q}")
        out[f"query.{q}_jobs"] = mean(f"query.{q}", "jobs_incl")
    return out
