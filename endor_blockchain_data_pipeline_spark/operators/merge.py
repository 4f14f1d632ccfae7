"""LWW key-partitioned MERGE — the engine's core operator.

Semantics: for each primary key ``(conv_id, turn_idx)`` the winning row is
the one with the greatest ``(lsn, mutation_ts)``; ``op='delete'`` winners
become tombstones (kept internally until compaction so late replays cannot
resurrect dropped rows).

One apply path per batch: ``stage_batch`` (the one place that picks the
write mode's stage step) writes the batch's files unpublished, then
``commit_staged_batch`` publishes them with one atomic manifest commit.
Both stage steps reduce the raw WAL slice to per-key winners
(``lww_winner_rows``) and decode only those. ``stage_batch_mor`` appends
them as a new file generation of their buckets; ``stage_batch_cow`` runs a
discovery job for the affected buckets and rewrites them as the LWW merge of
their current state and the winners (``ManifestTable.merge_generations``).
``merge_batch`` is stage + commit; ``CDCJob`` runs the same steps in one
ordered-commit loop, where serial apply is pipeline depth 1.

Reference parity: the reference's per-group argmin/argmax UDAFs
(``ratesaggregation/OpenRateAggregator.scala:9-38``,
``CloseRateAggregator.scala:9-38``) are exactly Spark's built-in
``max_by(struct(payload), struct(order))`` — we use that instead of a custom
UDAF. The reference has no in-feed dedup (append-only assumption); LWW is
the target engine's generalization.

Why ``groupBy().agg(max_by(...))`` and not a window ``row_number``:
hash aggregation gets map-side partial aggregation for free — a hot key
(one conversation receiving millions of updates) is collapsed to ONE row
per map task before the shuffle, so skew never reaches the reducer. A
window function would shuffle every raw row of the hot key to a single
partition first (that's where you'd need salting). For completeness —
and because the north-star calls for it — an explicit two-phase *salted*
reduction is provided (``lww_reduce_salted``) for engines where partial
aggregation is unavailable (e.g. high-cardinality payload aggregation or
collect_list-style merges); tests assert both produce identical results.

Scale: merge cost per batch is O(changed keys) for MoR and O(changed keys +
current rows of affected buckets) for CoW. Bucket pruning (manifest file
lists) keeps the read side narrow; AQE skew-join splitting covers residual
join skew.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable, bucket_expr

# Columns describing a decoded change row (user payload part).
PAYLOAD_COLS = ["role", "text", "tool", "ts"]
KEY_COLS = ["conv_id", "turn_idx"]

# Within-batch winner sets are ONE long per key — a different (cheaper)
# broadcast than the state-merge's full rows, so it gets its own bound:
# 32M longs ~= 256MB serialized, the executor-comfort ceiling documented
# below. Beyond it the join-back switches to shuffle-hash (never a feed
# sort).
WINNER_BROADCAST_ROW_LIMIT = 32_000_000


def lww_reduce(changes: DataFrame, key_cols: list[str] = KEY_COLS) -> DataFrame:
    """Within-batch LWW: one winner per key by max (lsn, _mts).

    ``max_by(struct(<payload>), struct(lsn, _mts))`` — single shuffle with
    map-side partial aggregation (built-in hot-key defense, see module doc).
    """
    payload = [c for c in changes.columns if c not in key_cols]
    return (
        changes.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload]), F.struct(F.col("lsn"), F.col("_mts"))
            ).alias("_w")
        )
        .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])
    )


def lww_winner_rows(
    raw: DataFrame,
    key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    lsn_col: str = "lsn",
    ts_col: str = "ts",
    salted: bool = False,
    salt_n: int = 16,
    est_rows: int | None = None,
) -> DataFrame:
    """Within-batch LWW on the RAW (undecoded) feed — the fast path.

    Why not ``max_by(struct(<whole row>), ...)``: an aggregation buffer
    containing strings can't use Spark's vectorized HashAggregate (string
    buffers aren't mutable fixed-width), so the wide reduce silently degrades
    to sort-based aggregation — measured 3x slower. Instead:

      1. narrow winner selection: ``max_by(lsn, struct(lsn, ts))`` per key —
         a pure fixed-width HashAggregate over three scanned columns (the
         payload blob is never touched: Catalyst prunes it from this scan);
      2. join the winning LSNs back to the raw feed — LSNs are unique per
         change record, and AQE auto-broadcasts the (small) winner set;
      3. the caller decodes ONLY winner rows — with update-heavy feeds this
         cuts JSON decode + normalization by the dedup factor.

    Invariant required: ``lsn`` uniquely identifies a change record (it is a
    log sequence number). Returns the raw winner rows, exactly one per key.

    ``est_rows``: the caller's upper bound on this batch's row count (for a
    dense LSN feed, simply ``lsn_hi - lsn_lo``). Above
    ``WINNER_BROADCAST_ROW_LIMIT`` the winner set may not fit an executor,
    so the join-back auto-switches from broadcast to a SHUFFLE-HASH join:
    both sides hash-partition on the (long) lsn, the small winner side
    builds per-partition hash maps — no broadcast, and crucially no sort of
    the wide raw feed (a per-key window would sort payload strings;
    measured ~15% slower than the shuffle-hash join-back at 8M rows).
    ``None`` keeps the broadcast (small-batch default); callers feeding
    unbounded batches should always pass a bound.
    """
    # Winner = max(lsn) per key: LSNs are globally unique (they are log
    # sequence numbers), so the (lsn, ts) LWW order collapses to lsn alone
    # for SELECTION — and a bare long max is a true HashAggregate. Even
    # max(struct(lsn, ts)) plans as SortAggregate (struct agg buffers are
    # not mutable-width); the ts tiebreak lives only in the generic
    # ``lww_reduce`` used for feeds without the uniqueness guarantee.
    narrow = raw.select(*key_cols, lsn_col)
    if salted:
        # two-phase: spread each hot key over salt_n reducers first
        salt = F.pmod(F.xxhash64(lsn_col), F.lit(salt_n)).cast("int")
        phase1 = (
            narrow.withColumn("_salt", salt)
            .groupBy(*key_cols, "_salt")
            .agg(F.max(lsn_col).alias(lsn_col))
        )
        winners = phase1.groupBy(*key_cols).agg(F.max(lsn_col).alias("win_lsn"))
    else:
        winners = narrow.groupBy(*key_cols).agg(F.max(lsn_col).alias("win_lsn"))
    winners = winners.select("win_lsn")
    # Explicit strategy, never AQE's default: past the 10MB autoBroadcast
    # threshold AQE silently flips to a sort-merge join that SORTS the full
    # raw side (measured 2-3x batch slowdown).
    # - broadcast: the winner set is one long per key (8 bytes x keys) —
    #   executors comfortably hold a few hundred MB, so up to the limit the
    #   broadcast join-back is the fastest shape (no shuffle of the feed).
    # - shuffle-hash: beyond the limit, hash-partition BOTH sides on the
    #   long lsn and build the hash map from the winner side per partition —
    #   nothing broadcast, nothing sorted, survives any batch size.
    if est_rows is not None and est_rows > WINNER_BROADCAST_ROW_LIMIT:
        return raw.join(
            winners.hint("shuffle_hash"),
            raw[lsn_col] == F.col("win_lsn"),
            "inner",
        ).drop("win_lsn")
    return raw.join(
        F.broadcast(winners),
        raw[lsn_col] == F.col("win_lsn"),
        "inner",
    ).drop("win_lsn")


def lww_reduce_salted(
    changes: DataFrame, key_cols: list[str] = KEY_COLS, salt_n: int = 16
) -> DataFrame:
    """Explicit two-phase salted LWW reduction (hot-key defense spelled out).

    Phase 1 reduces per ``(key, salt)`` where salt = pmod(xxhash64(lsn), n)
    — a hot conversation's rows spread over ``salt_n`` reducers; phase 2
    reduces the <= salt_n partials per key. Equivalent to ``lww_reduce``
    (property-tested); use when partial aggregation can't help (giant
    payloads, collect-style merges).
    """
    payload = [c for c in changes.columns if c not in key_cols]
    salted = changes.withColumn("_salt", F.pmod(F.xxhash64("lsn"), F.lit(salt_n)).cast("int"))
    phase1 = (
        salted.groupBy(*key_cols, "_salt")
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload]), F.struct(F.col("lsn"), F.col("_mts"))
            ).alias("_w")
        )
        .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])
    )
    return lww_reduce(phase1, key_cols)


def changes_to_state(reduced: DataFrame, batch_id: str) -> DataFrame:
    """Decoded per-key winners -> internal state rows (tombstones kept)."""
    return reduced.select(
        *KEY_COLS,
        *[F.col(c) for c in PAYLOAD_COLS if c in reduced.columns],
        F.col("lsn").alias("_lsn"),
        F.col("_mts"),
        (F.col("op") == "delete").alias("_deleted"),
        F.lit(batch_id).alias("_batch"),
    )


def winner_state(table: ManifestTable, decoded: DataFrame, batch_id: str) -> DataFrame:
    """Decoded per-key winners -> ``table``'s bucketed internal state rows."""
    return changes_to_state(decoded, batch_id).withColumn(
        "_bucket", bucket_expr(table.bucket_key, table.n_buckets)
    )


def stage_batch_mor(
    table: ManifestTable,
    raw: DataFrame,
    batch_id: str,
    salted: bool = False,
    salt_n: int = 16,
    decode_fn=decode_changes,
    est_rows: int | None = None,
) -> tuple[dict, dict]:
    """MoR stage step: the batch's winners become a new file generation of
    their buckets. Appends never read current state, so MoR batches stage
    concurrently; their commits still land in order. No discovery job: the
    staged directory listing names the appended buckets, and per-bucket
    stats come from the parquet footers."""
    winners = decode_fn(
        lww_winner_rows(raw, salted=salted, salt_n=salt_n, est_rows=est_rows)
    )
    return table.stage(winner_state(table, winners, batch_id), batch_id), {}


def stage_batch_cow(
    table: ManifestTable,
    raw: DataFrame,
    batch_id: str,
    salted: bool = False,
    salt_n: int = 16,
    decode_fn=decode_changes,
    est_rows: int | None = None,
) -> tuple[dict, dict]:
    """CoW stage step: the affected buckets are rewritten as the LWW merge of
    their current state and the batch's winners, so reads always see one
    generation. Batch k+1 reads the state batch k wrote, so CoW batches
    cannot stage ahead of the previous commit.

    1. **bucket discovery** (cheap job): per-bucket change stats off the
       feed columns (conv_id/op/lsn) — Catalyst prunes the payload decode
       from this scan. Yields the affected buckets for manifest-level read
       pruning AND the per-bucket lineage rows.
    2. **the merge job** (one Spark action): within-batch winners -> decode
       -> union with the snapshot read of ONLY the affected buckets
       (tombstones included) -> ``merge_generations`` -> bucketed write.
    """
    bucket_rows = (
        raw.select(
            bucket_expr(table.bucket_key, table.n_buckets).alias("_bucket"), "op", "lsn"
        )
        .groupBy("_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_deletes"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        )
        .collect()
    )
    affected = [r["_bucket"] for r in bucket_rows]
    n_changes = sum(r["n_rows"] for r in bucket_rows)
    winners = decode_fn(
        lww_winner_rows(raw, salted=salted, salt_n=salt_n, est_rows=est_rows)
    )
    merged = winner_state(table, winners, batch_id)
    m = table.manifest()
    if m is not None:
        current = table.read(
            raw.sparkSession, buckets=affected, with_internal=True, version=m["version"]
        ).withColumn("_bucket", bucket_expr(table.bucket_key, table.n_buckets))
        merged = table.merge_generations(
            current.unionByName(merged, allowMissingColumns=True),
            m, {str(b) for b in affected}, extra_rows=n_changes,
        )
    commit_kw = {"affected": affected, "bucket_rows": bucket_rows, "n_changes": n_changes}
    return table.stage(merged, batch_id), commit_kw


def stage_batch(
    table: ManifestTable, raw: DataFrame, batch_id: str, mode: str = "cow", **kw
) -> tuple[dict, dict]:
    """Stage one raw WAL batch with ``mode``'s stage step (``"mor"`` or
    ``"cow"``; ``kw``: salted, salt_n, decode_fn, est_rows).

    Returns ``(staged, commit_kw)``: publish with
    ``commit_staged_batch(table, staged, batch_id, lo, hi, **commit_kw)``.
    The batch's ``apply_sec`` is measured from here to its commit."""
    t_start = time.time()
    stage = stage_batch_mor if mode == "mor" else stage_batch_cow
    staged, commit_kw = stage(table, raw, batch_id, **kw)
    return staged, {**commit_kw, "mode": mode, "t_start": t_start}


def merge_batch(
    table: ManifestTable,
    changes: DataFrame,
    batch_id: str,
    lsn_lo: int,
    lsn_hi: int,
    salted: bool = False,
    salt_n: int = 16,
    lineage=None,
    mode: str = "cow",
    decode_fn=decode_changes,
    est_rows: int | None = None,
) -> dict:
    """Apply one raw WAL batch to the table: ``stage_batch`` then
    ``commit_staged_batch``.

    ``mode="cow"`` (copy-on-write): affected buckets are read, LWW-merged
    with the batch and fully rewritten — reads always see compact state.
    ``mode="mor"`` (merge-on-read): the batch's per-key winners are appended
    as a new file generation of their buckets — apply cost is O(changes)
    instead of O(changes + affected-bucket state); readers merge generations
    (bounded by compaction, see ``compact_buckets``). Identical final
    semantics (property-tested against CoW).

    ``decode_fn`` decodes the winner rows (default ``decode_changes``).
    ``est_rows``: an upper bound on the batch's row count; it picks the
    winner join-back strategy (``lww_winner_rows``). Skew: the reduce is a
    hash aggregate, so map-side partial aggregation collapses hot
    conversations before the shuffle; ``salted=True`` adds the explicit
    two-phase reduction.

    Returns the commit manifest dict (timing in stats).
    """
    staged, commit_kw = stage_batch(
        table, changes, batch_id, mode,
        salted=salted, salt_n=salt_n, decode_fn=decode_fn, est_rows=est_rows,
    )
    return commit_staged_batch(
        table, staged, batch_id, lsn_lo, lsn_hi, lineage=lineage, **commit_kw
    )


def commit_staged_batch(
    table: ManifestTable,
    staged: dict,
    batch_id: str,
    lsn_lo: int,
    lsn_hi: int,
    affected=None,
    bucket_rows=None,
    n_changes=None,
    mode: str = "cow",
    lineage=None,
    t_start: float | None = None,
) -> dict:
    """Publish a staged batch: manifest commit + lineage + stats (driver-side,
    milliseconds). Pipelined callers invoke this strictly in batch order."""
    # apply_sec is computed BEFORE the manifest is fsync'd so the persisted
    # manifest records the real timing (it only misses the final ms-scale
    # rename itself), not null.
    apply_sec = (
        round(time.time() - t_start, 3) if t_start is not None else None
    )
    stats = {
        "n_changes": n_changes,
        "n_affected_buckets": len(affected) if affected is not None else None,
        "apply_sec": apply_sec,
    }
    manifest = table.commit_staged(
        staged, batch_id, lsn_lo, lsn_hi,
        replaced_buckets=affected, stats=stats,
        mode="append" if mode == "mor" else "replace",
    )
    if lineage is not None:
        if bucket_rows is not None:
            # CoW: source-side per-bucket stats from the discovery scan.
            rows = bucket_rows
        else:
            # MoR: per-bucket winner-row stats straight from parquet footers.
            rows = [
                {
                    "_bucket": int(b),
                    "n_rows": s["n_rows"],
                    "n_deletes": None,  # winners only; see batch total in stats
                    "min_lsn": s["min_lsn"],
                    "max_lsn": s["max_lsn"],
                }
                for b, s in manifest.get("new_bucket_stats", {}).items()
            ]
        lineage.record_rows(rows, batch_id, lsn_lo, lsn_hi, apply_sec)
    return manifest


def compact_buckets(
    table: ManifestTable, spark, batch_id: str, buckets: list[int]
) -> dict | None:
    """Fold multi-generation (MoR) buckets back to a single generation.

    Reads the merged view of the given buckets (tombstones preserved) and
    commits it as their replacement — bounded read amplification: with
    compaction threshold K, a reader merges at most K generations per
    bucket. Idempotent via the batch_id skip-list like any other commit.
    """
    if not buckets:
        return None
    if getattr(table, "semantics", "lww") != "lww":
        raise ValueError(
            f"table {table.path} has {table.semantics!r} semantics: LWW "
            "compaction would discard partial-aggregate rows — use the "
            "owning operator's compaction (e.g. ContinuousAggregate.compact)"
        )
    if batch_id in table.committed_batches():
        return None
    # Pin the snapshot FIRST, read at that exact version, and hand the same
    # manifest to commit: an append landing mid-compaction then re-bases on
    # top of the fold instead of dying (commit_staged's base_manifest path).
    m = table.manifest()
    merged = table.read(
        spark, buckets=buckets, with_internal=True, version=m["version"]
    ).withColumn("_bucket", bucket_expr(table.bucket_key, table.n_buckets))
    return table.commit(
        merged, batch_id=batch_id, lsn_lo=m["lsn_lo"], lsn_hi=m["lsn_hi"],
        replaced_buckets=buckets,
        stats={"compaction": True, "n_buckets_compacted": len(buckets)},
        base_manifest=m,
    )


def compact(table: ManifestTable, spark, batch_id: str) -> dict:
    """Full-table compaction: fold all generations AND drop tombstones.

    Run once late replays are impossible (the feed's watermark has passed
    every tombstone's LSN); restores minimal storage. Commits a snapshot
    replacing ALL buckets; follow with ``table.vacuum()`` to reclaim files.
    """
    if getattr(table, "semantics", "lww") != "lww":
        raise ValueError(
            f"table {table.path} has {table.semantics!r} semantics: LWW "
            "compaction would discard partial-aggregate rows — use the "
            "owning operator's compaction (e.g. ContinuousAggregate.compact)"
        )
    m = table.manifest()
    live = table.read(spark, with_internal=True, version=m["version"]).where(
        ~F.col("_deleted")
    )
    return table.commit(
        live, batch_id=batch_id,
        lsn_lo=m["lsn_lo"], lsn_hi=int(m.get("watermark", m["lsn_hi"])),
        replaced_buckets=None,
        stats={"compaction": True, "tombstones_dropped": True},
        base_manifest=m,
    )
