"""Incrementally-maintained curation verdicts over a CDC conversation lake.

The engine's two halves, finally closed into one loop: the CDC core keeps
the conversation table current in O(changes) per batch (never rescanning
onboarded state — the reference's watermark-tail discipline,
``blocksummaries/BlockSummaryPipeline.scala:61-84``), while the curation
funnel (quality -> exact dedup -> near dedup -> decontamination) decides
which conversations ship as training data. Re-running the funnel over the
whole corpus after every CDC batch is the O(corpus)-per-batch anti-pattern
this module removes: at 10^10 change events the funnel must be maintained
INCREMENTALLY, touching only conversations whose state changed plus the
bounded blast radius their change causes in the dedup stages.

Design — three persisted stores under one root, each exactly-once via the
lake's atomic manifest commits:

- ``exact``   ManifestTable keyed ``(fingerprint, conv_id)``, bucketed BY
  FINGERPRINT: the membership index of the exact-dedup stage. A changed
  conversation tombstones its old (fp, id) row and appends its new one;
  the keeper of every AFFECTED fingerprint (min conv_id among current
  members) is then recomputed from a bucket-pruned read of just those
  fingerprints' buckets — O(batch), never a corpus-wide fingerprint
  groupBy. Bucketing by fp (not by conv) is the point: "who else shares
  this fingerprint?" is the query the stage asks, so that's the key the
  files are laid out on. The conv->fp reverse mapping lives in the
  verdicts table (bucketed by conv), so each lookup direction has a
  pruned path.
- ``near``    a :class:`DedupIndex` (string ids): the persisted
  MinHash-LSH band + cluster-label index, maintained by ``add_batch`` /
  ``remove_docs`` with their O(affected-cluster) folds. Its population is
  exactly the funnel's stage-3 input: quality-passing exact-keepers.
- ``verdicts`` ManifestTable keyed ``conv_id``: one row per conversation
  with the RAW stage flags (quality_pass, exact_keep, near_keep,
  decont_pass) plus the change detectors (fingerprint, text_hash).
  ``verdicts_df()`` derives the funnel-masked view (a doc dropped at
  stage k shows False for every later stage) that is row-identical to
  ``curate_corpus``'s one-shot verdict table (tested).

Per-batch flow (``refresh(changed_ids, batch_id)``):

1. read the changed conversations' OLD verdict rows (bucket-pruned) and
   their NEW transcripts (bucket-pruned lake read -> ``array_sort``
   reassembly); per-doc flags (quality, fingerprint, decontamination) are
   map-only column exprs over the new docs.
2. diff old vs new membership of the exact index; commit tombstones +
   appends; recompute keepers for the affected fingerprints only.
3. diff the near population (quality & exact_keep): leavers + text
   changes -> ``remove_docs``; entrants + text changes -> ``add_batch``.
   Entrants that were NOT in the CDC batch (a keeper flip pulled them in)
   get their transcripts reassembled on demand — bounded by affected
   fingerprint groups, not the corpus.
4. collect the near index's label delta (the rows its two commits wrote —
   read back by batch id, not recomputed) and upsert every verdict row
   whose flags changed; deleted conversations tombstone their row.

Every read taken BEFORE a commit excludes this batch's id, and every
sub-commit (exact, near-remove, near-add, verdicts) is idempotent per
batch id, so a crash anywhere in the flow resumes by re-running the same
``refresh`` — landed commits are skipped, pending ones are recomputed
from the identical pre-batch snapshot (the CDC job's crash-window
contract, applied to curation state).

Caveats vs the one-shot funnel, both deliberate:
- stage-5 mix sampling is NOT materialized here: it is a deterministic
  per-doc hash with no cross-doc state, so readers apply
  ``sample_stratified_expr`` at read time; maintaining it would store a
  constant.
- the near index computes the UNCAPPED LSH pair set (its skew control is
  the banded equi-join itself), while one-shot ``minhash_candidates``
  drops pairs in buckets beyond ``max_bucket_size``; equality with the
  one-shot funnel holds when no LSH bucket exceeds the cap (the normal
  regime — the cap exists to bound adversarial skew).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from endor_blockchain_data_pipeline_spark.functions.text import (
    fingerprint_expr,
)
from endor_blockchain_data_pipeline_spark.operators.curate import (
    transcripts_as_documents,
)
from endor_blockchain_data_pipeline_spark.operators.dedup import decontaminate
from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import DedupIndex
from endor_blockchain_data_pipeline_spark.plans.partitioning import materialize
from endor_blockchain_data_pipeline_spark.sources.lake import (
    ManifestTable,
    bucket_expr,
)

RAW_FLAGS = ("quality_pass", "exact_keep", "near_keep", "decont_pass")


class LiveCuration:
    """Curation verdicts kept in sync with a CDC lake, O(changed) per batch.

    ``evalset`` (the decontamination benchmark) is passed at construction
    and must be the same frame across refreshes — it is part of the
    funnel definition, like the thresholds (which ARE pinned on disk).
    """

    PARAMS = ("quality_min", "dup_line_max", "dup_word_max", "symbol_ratio_max")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        lake: ManifestTable,
        evalset: DataFrame | None = None,
        *,
        conv_col: str = "conv_id",
        quality_min: float | None = None,
        dup_line_max: float | None = None,
        dup_word_max: float | None = None,
        symbol_ratio_max: float | None = None,
        n_buckets: int = 16,
        small_commit_rows: int | None = None,
        **index_params,
    ) -> None:
        self.spark = spark
        self.root = root
        self.lake = lake
        self.evalset = evalset
        self.conv_col = conv_col
        passed = {
            "quality_min": quality_min,
            "dup_line_max": dup_line_max,
            "dup_word_max": dup_word_max,
            "symbol_ratio_max": symbol_ratio_max,
        }
        defaults = {
            "quality_min": 0.5,
            "dup_line_max": 0.30,
            "dup_word_max": 0.60,
            "symbol_ratio_max": 0.10,
        }
        os.makedirs(root, exist_ok=True)
        pfile = os.path.join(root, "params.json")
        if os.path.exists(pfile):
            with open(pfile) as fh:
                stored = json.load(fh)
            for k in self.PARAMS:
                if passed[k] is not None and passed[k] != stored[k]:
                    raise ValueError(
                        f"live-curation param conflict at {root}: {k} stored="
                        f"{stored[k]!r} passed={passed[k]!r}; omit it to adopt "
                        "the stored funnel definition"
                    )
            self.params = stored
        else:
            self.params = {
                k: defaults[k] if passed[k] is None else passed[k]
                for k in self.PARAMS
            }
            with open(pfile, "w") as fh:
                json.dump(self.params, fh)
        # Refresh commits are O(changed conversations + blast radius) by
        # contract, so the stores default to the lake's driver-side
        # small-commit staging (one Arrow collect + local bucket writes per
        # commit instead of a shuffle+write Spark job — the refresh's fixed
        # cost is ~7 such commits per batch). The threshold is advisory
        # sizing, env-tunable for production batch profiles; a collect that
        # overruns the driver's result cap falls back to the distributed
        # write, so an unexpectedly large delta degrades in speed only.
        if small_commit_rows is None:
            small_commit_rows = int(
                os.environ.get("ENDOR_SMALL_COMMIT_ROWS", "250000")
            )
        # per-BATCH _lsn on all three stores -> window merge only
        self.exact = ManifestTable(
            os.path.join(root, "exact"),
            n_buckets=n_buckets,
            key_cols=("fingerprint", conv_col),
            bucket_key="fingerprint",
            unique_lsn=False,
            small_commit_rows=small_commit_rows,
        )
        self.verdicts = ManifestTable(
            os.path.join(root, "verdicts"),
            n_buckets=n_buckets,
            key_cols=(conv_col,),
            bucket_key=conv_col,
            unique_lsn=False,
            small_commit_rows=small_commit_rows,
        )
        self.near = DedupIndex(
            spark,
            os.path.join(root, "near"),
            id_col=conv_col,
            id_type="string",
            n_buckets=n_buckets,
            small_commit_rows=small_commit_rows,
            **index_params,
        )

    # ---------------- reads ----------------

    def _read(self, table: ManifestTable, **kw) -> DataFrame | None:
        if table.manifest() is None:
            return None
        return table.read(self.spark, **kw)

    def _pruned(
        self,
        table: ManifestTable,
        keys: DataFrame,
        key_col: str,
        buckets: list | None = None,
        **kw,
    ) -> DataFrame | None:
        """Bucket-pruned point-lookup read: hash the (small) key frame to
        its bucket ids (collect is bounded by n_buckets), hand the manifest
        only those buckets' files, then semi-join the keys back.

        ``buckets``: the key frame's bucket-id set when the caller already
        has it — ``refresh`` observes ``collect_set(bucket_expr(..))`` on
        the frames' own materialization actions, so no pruned read pays a
        standalone collect job (bounded by n_buckets either way)."""
        if table.manifest() is None:
            return None
        if buckets is None:
            buckets = [
                r["b"]
                for r in keys.select(
                    bucket_expr(table.bucket_key, table.n_buckets).alias("b")
                )
                .distinct()
                .collect()
            ]
        if not buckets:
            return None
        df = table.read(self.spark, buckets=[int(b) for b in buckets], **kw)
        return df.join(F.broadcast(keys), key_col, "leftsemi")

    def _transcripts_for(
        self, ids: DataFrame, buckets: list | None = None
    ) -> DataFrame:
        # Bucket-prune the lake read when its bucket key IS the conv id
        # (the CDC default layout); otherwise the semi-join alone prunes
        # via the broadcast build side. ``buckets``: precomputed bucket-id
        # set (same observation ride-along contract as ``_pruned``).
        kw = {}
        if self.lake.bucket_key == self.conv_col:
            if buckets is None:
                buckets = [
                    r["b"]
                    for r in ids.select(
                        bucket_expr(
                            self.lake.bucket_key, self.lake.n_buckets
                        ).alias("b")
                    )
                    .distinct()
                    .collect()
                ]
            kw["buckets"] = [int(b) for b in buckets]
        state = self.lake.read(self.spark, **kw).join(
            F.broadcast(ids), self.conv_col, "leftsemi"
        )
        return transcripts_as_documents(state, conv_col=self.conv_col)

    def _flag_docs(self, docs: DataFrame) -> DataFrame:
        """Per-doc funnel signals — map-only column exprs + the bounded
        decontamination join (evalset side is the small one).
        ``with_text_signals`` evaluates each shared split/lower tree once
        per row; unused signal columns are pruned by Catalyst."""
        from endor_blockchain_data_pipeline_spark.functions.text import (
            with_text_signals,
        )

        p = self.params
        quality = (
            (F.col("quality") >= p["quality_min"])
            & (F.col("dup_line_frac") <= p["dup_line_max"])
            & (F.col("dup_word_frac") <= p["dup_word_max"])
            & (F.col("symbol_word_ratio") <= p["symbol_ratio_max"])
        )
        out = with_text_signals(docs, "text").select(
            self.conv_col,
            "text",
            quality.alias("quality_pass"),
            fingerprint_expr("text").alias("fingerprint"),
            F.xxhash64("text").alias("text_hash"),
        )
        if self.evalset is None:
            return out.withColumn("decont_pass", F.lit(True))
        dec = decontaminate(out, self.evalset, "text", self.conv_col)
        return out.join(
            dec.select(
                self.conv_col, (~F.col("contaminated")).alias("decont_pass")
            ),
            self.conv_col,
            "left",
        ).fillna({"decont_pass": True})

    # ---------------- the per-batch maintenance fold ----------------

    def refresh(self, changed_ids, batch_id: str, lsn_hi: int | None = None) -> dict:
        """Fold one CDC batch's changed-conversation set into the curation
        state. ``changed_ids``: list of conv ids or a one-column DataFrame.
        Idempotent per ``batch_id`` (the verdicts commit is the completion
        marker; partial replays finish the pending sub-commits).

        ``lsn_hi``: the source batch's WAL high-watermark. When given, it
        becomes the verdicts commit's lsn range, so
        ``self.verdicts.watermark()`` reads back as the curation's resume
        point in WAL coordinates — the CDC-driven loop
        (``CDCJob.run_with_curation``) restarts from
        ``min(apply watermark, curation watermark)`` and replays close the
        gap. Pick ONE mode per index (WAL-lsn or internal counter): the
        stamps share the verdicts table's ``_lsn`` ordering."""
        from pyspark.sql import Observation

        c = self.conv_col
        if batch_id in self.verdicts.committed_batches():
            return {"batch_id": batch_id, "replay": True}
        if isinstance(changed_ids, DataFrame):
            ids = changed_ids.select(F.col(c).cast("string")).distinct()
        else:
            ids = self.spark.createDataFrame(
                [(str(i),) for i in sorted(set(changed_ids))], f"{c} string"
            )
        # stats counts AND bucket-id sets ride the materialization actions
        # (Observation) — refresh never runs a separate count() job, and no
        # pruned read pays a standalone bucket-collect job either: the
        # collect_set(bucket_expr) metrics below are bounded by n_buckets
        # (the r5 ~30s/batch fixed cost was almost entirely driver-side job
        # scheduling of such probes)
        v_bucket = bucket_expr(self.verdicts.bucket_key, self.verdicts.n_buckets)
        obs_ids = Observation()
        id_mets = [
            F.count("*").alias("n"),
            F.collect_set(v_bucket).alias("_vb"),
        ]
        if self.lake.bucket_key == c:
            id_mets.append(
                F.collect_set(
                    bucket_expr(self.lake.bucket_key, self.lake.n_buckets)
                ).alias("_lb")
            )
        ids = materialize(ids.observe(obs_ids, *id_mets))
        m_ids = obs_ids.get

        # -- 1. old verdict rows + new transcripts of the changed convs --
        old = self._pruned(
            self.verdicts, ids, c, buckets=m_ids["_vb"],
            exclude_batch_ids=[batch_id],
        )
        new = materialize(
            self._flag_docs(self._transcripts_for(ids, buckets=m_ids.get("_lb")))
        )
        # lazy: derived from two checkpointed frames; its count rides the
        # pop materialization below (the r6 first pass paid a standalone
        # materialize + count action here)
        deleted = (
            ids.join(new.select(c), c, "left_anti")
            if old is None
            else ids.join(new.select(c), c, "left_anti").join(
                old.select(c), c, "leftsemi"
            )
        )

        # -- 2. exact-index membership diff (quality-passers only) --
        # one materialized DELTA frame (side flag _rm) replaces the r5
        # to_remove/to_add/affected_fps triple materialization + two counts;
        # the side counts ride the same action via Observation
        new_m = new.where("quality_pass").select(c, "fingerprint")
        if old is not None:
            old_m = old.where("quality_pass").select(c, "fingerprint")
        else:
            old_m = new_m.limit(0)
        obs_delta = Observation()
        delta = materialize(
            old_m.join(new_m, [c, "fingerprint"], "left_anti")
            .withColumn("_rm", F.lit(True))
            .unionByName(
                new_m.join(old_m, [c, "fingerprint"], "left_anti").withColumn(
                    "_rm", F.lit(False)
                )
            )
            .observe(
                obs_delta,
                F.count("*").alias("n"),
                F.collect_set(
                    bucket_expr(self.exact.bucket_key, self.exact.n_buckets)
                ).alias("_fb"),
            )
        )
        to_remove = delta.where("_rm").drop("_rm")
        to_add = delta.where("NOT _rm").drop("_rm")
        affected_fps = delta.select("fingerprint").distinct()
        m_delta = obs_delta.get
        n_delta = int(m_delta["n"] or 0)
        exact_fut = None
        if n_delta and batch_id not in self.exact.committed_batches():
            import concurrent.futures as _cf

            seq = self.exact.watermark() + 1
            frame = self._internals(to_remove, batch_id, seq, True).unionByName(
                self._internals(to_add, batch_id, seq, False)
            )
            # the commit no longer gates anything (keepers are computed
            # from the pre-state + delta below, which the window merge
            # makes exactly equal to the post-commit state), so its stage
            # write runs CONCURRENTLY with the near-index folds (FIFO
            # back-fill); joined before the verdicts completion marker.
            exact_pool = _cf.ThreadPoolExecutor(max_workers=1)
            exact_fut = exact_pool.submit(
                self.exact.commit, frame, batch_id, seq, seq, None,
                mode="append",
            )
            exact_pool.shutdown(wait=False)

        # -- keepers of the affected fingerprints: pre-batch state + delta.
        # post-commit live membership == (pre-live \ to_remove) ∪ to_add
        # (tombstones kill per-key predecessors, appends add/resurrect —
        # the window merge per (fingerprint, conv) key guarantees it), so
        # no read-after-write barrier; replay reads the same pre state
        # because the pruned read excludes this batch id.
        pre = self._pruned(
            self.exact, affected_fps, "fingerprint", buckets=m_delta["_fb"],
            exclude_batch_ids=[batch_id],
        )
        base_m = (
            pre.select(c, "fingerprint")
            if pre is not None
            else to_add.limit(0)
        )
        live = (
            base_m.join(to_remove, [c, "fingerprint"], "left_anti")
            .unionByName(to_add)
            .distinct()
        )
        w_keep = live.groupBy("fingerprint").agg(F.min(c).alias("_keep_id"))
        obs_mem = Observation()
        members = materialize(
            live.join(w_keep, "fingerprint")
            .select(
                c,
                "fingerprint",
                (F.col(c) == F.col("_keep_id")).alias("exact_keep"),
            )
            .observe(obs_mem, F.collect_set(v_bucket).alias("_vb"))
        )

        # -- 3. near-population diff over changed ∪ affected-fp members --
        # lazy: both inputs are checkpointed, every consumer re-derives the
        # tiny union instead of paying another materialization action; its
        # verdict-bucket set is the union of the inputs' observed sets
        scope = ids.unionByName(members.select(c)).distinct()
        scope_buckets = sorted(set(m_ids["_vb"]) | set(obs_mem.get["_vb"]))
        base = self._pruned(
            self.verdicts, scope, c, buckets=scope_buckets,
            exclude_batch_ids=[batch_id],
        )
        if base is None:
            base = self._empty_verdicts()
        # pop_new resolution order: membership verdict of an affected
        # fingerprint wins; else a deleted conv is out; else a changed conv
        # that now fails quality is out; else nothing about the conv's
        # exact standing changed — carry pop_old (covers a changed conv
        # whose NORMALIZED text, hence fingerprint, is unchanged).
        pop = (
            scope.join(
                base.select(
                    c,
                    (F.col("quality_pass") & F.col("exact_keep")).alias("_pop_old"),
                    F.col("text_hash").alias("_th_old"),
                ),
                c,
                "left",
            )
            .join(members.select(c, F.col("exact_keep").alias("_m_pop")), c, "left")
            .join(
                new.select(
                    c,
                    F.col("text_hash").alias("_th_new"),
                    F.col("quality_pass").alias("_n_q"),
                ),
                c,
                "left",
            )
            .join(deleted.withColumn("_del", F.lit(True)), c, "left")
            .select(
                c,
                F.coalesce("_pop_old", F.lit(False)).alias("pop_old"),
                F.coalesce(
                    "_m_pop",
                    F.when(F.col("_del"), F.lit(False)),
                    F.when(F.col("_th_new").isNotNull() & ~F.col("_n_q"), F.lit(False)),
                    "_pop_old",
                    F.lit(False),
                ).alias("pop_new"),
                (
                    F.col("_th_new").isNotNull()
                    & ~F.col("_th_new").eqNullSafe(F.col("_th_old"))
                ).alias("text_changed"),
                F.col("_th_new").isNotNull().alias("_in_new"),
                # carried so the verdict merge reuses it instead of joining
                # the lazy `deleted` a second time; its sum is n_deleted
                F.coalesce("_del", F.lit(False)).alias("_del"),
            )
        )
        # ONE action: the rm/add/extra branch decisions AND the deleted
        # count ride the pop materialization as observed sums (r5 paid
        # three limit(1).count() probe jobs + two extra materializations
        # here, the r6 first pass still a standalone `deleted` action)
        rm_cond = F.col("pop_old") & (~F.col("pop_new") | F.col("text_changed"))
        add_cond = F.col("pop_new") & (~F.col("pop_old") | F.col("text_changed"))
        obs_pop = Observation()
        pop = materialize(
            pop.observe(
                obs_pop,
                F.sum(rm_cond.cast("long")).alias("n_rm"),
                F.sum(add_cond.cast("long")).alias("n_add"),
                F.sum((add_cond & ~F.col("_in_new")).cast("long")).alias("n_extra"),
                F.sum(F.col("_del").cast("long")).alias("n_del"),
            )
        )
        pop_stats = obs_pop.get
        near_rm = pop.where(rm_cond).select(c)
        near_add_ids = pop.where(add_cond).select(c)
        stats_rm = stats_add = None
        if int(pop_stats["n_rm"] or 0):
            stats_rm = self.near.remove_docs(near_rm, f"{batch_id}:rm")
        if int(pop_stats["n_add"] or 0):
            # entrants pulled in by a keeper flip were not in the CDC batch:
            # reassemble their transcripts on demand (bounded by affected
            # fingerprint groups)
            have = new.join(near_add_ids, c, "leftsemi").select(c, "text")
            add_docs = have
            if int(pop_stats["n_extra"] or 0):
                extra_ids = near_add_ids.join(new.select(c), c, "left_anti")
                add_docs = have.unionByName(
                    self._transcripts_for(extra_ids).select(c, "text")
                )
            stats_add = self.near.add_batch(add_docs, f"{batch_id}:add")

        # -- 4. the near label delta: exactly the rows steps 3's commits
        #       wrote, read back by batch id (never recomputed) --
        wrote = [
            b
            for b in (f"{batch_id}:rm", f"{batch_id}:add")
            if b in self.near.clusters.committed_batches()
        ]
        if wrote:
            # default (window) merge within the delta: a conv tombstoned by
            # :rm and re-labeled by :add keeps the live row; tombstone-only
            # convs drop out (their pop exit sets near_keep below)
            labels = self.near.clusters.read(
                self.spark, batch_ids=wrote
            ).select(c, (F.col("cluster_id") == F.col(c)).alias("_near_new"))
        else:
            labels = self._empty_labels()
        # labels' verdict-bucket set comes free from the folds' own staged
        # manifests when near.clusters shares the verdicts' bucket layout
        # (LiveCuration builds both on (conv, n_buckets), so bucket ids map
        # 1:1) — the staged set covers every row the read-back can return
        # (the window merge only drops rows), so pruning with it is exact-
        # or-superset. labels then stays LAZY: it folds into the consumers'
        # existing actions instead of paying its own materialize+observe.
        # Fallback (fold replayed after a crash, or a caller overrode the
        # near index's layout): the old materialize + observed collect_set.
        st_by_batch = {
            f"{batch_id}:rm": stats_rm,
            f"{batch_id}:add": stats_add,
        }
        lab_buckets_known = (
            self.near.clusters.bucket_key == self.verdicts.bucket_key
            and self.near.clusters.n_buckets == self.verdicts.n_buckets
            and all(
                (st_by_batch[b] or {}).get("label_buckets") is not None
                for b in wrote
            )
        )
        if lab_buckets_known:
            lab_vb = sorted(
                {
                    int(x)
                    for b in wrote
                    for x in st_by_batch[b]["label_buckets"]
                }
            )
        else:
            obs_lab = Observation()
            labels = materialize(
                labels.observe(obs_lab, F.collect_set(v_bucket).alias("_vb"))
            )
            lab_vb = obs_lab.get["_vb"]

        # -- 5. verdict upsert: every conv whose flags changed --
        # lazy union of checkpointed frames (same rationale as scope)
        scope_all = scope.unionByName(labels.select(c)).distinct()
        base_all = self._pruned(
            self.verdicts, scope_all, c,
            buckets=sorted(set(scope_buckets) | set(lab_vb)),
            exclude_batch_ids=[batch_id],
        )
        if base_all is None:
            base_all = self._empty_verdicts()
        b = base_all.select(
            c,
            *[F.col(f).alias(f"_b_{f}") for f in RAW_FLAGS],
            F.col("fingerprint").alias("_b_fp"),
            F.col("text_hash").alias("_b_th"),
        )
        merged = (
            scope_all.join(b, c, "left")
            .join(
                new.select(
                    c,
                    F.col("quality_pass").alias("_n_q"),
                    F.col("decont_pass").alias("_n_d"),
                    F.col("fingerprint").alias("_n_fp"),
                    F.col("text_hash").alias("_n_th"),
                ),
                c,
                "left",
            )
            .join(members.select(c, F.col("exact_keep").alias("_m_e")), c, "left")
            .join(labels, c, "left")
            .join(
                # _del rides pop (every deleted conv is in scope ⊆ pop; a
                # labels-only conv outside pop left-joins to null = not
                # deleted, same as the old second `deleted` join)
                pop.select(c, "pop_new", "pop_old", "_del"), c, "left"
            )
        )
        is_new = F.col("_n_th").isNotNull()
        qual = F.when(is_new, F.col("_n_q")).otherwise(
            F.coalesce("_b_quality_pass", F.lit(False))
        )
        # same resolution order as pop_new: affected-fp membership verdict
        # wins; a changed conv that now fails quality is out; otherwise the
        # conv's exact standing did not change this batch
        exact = F.coalesce(
            "_m_e",
            F.when(is_new & ~F.col("_n_q"), F.lit(False)),
            F.col("_b_exact_keep"),
            F.lit(False),
        )
        # near_keep: fresh label if this batch relabeled the conv; False if
        # it left the population; else carry the old raw flag
        near = F.coalesce(
            "_near_new",
            F.when(
                F.coalesce("pop_old", F.lit(False))
                & ~F.coalesce("pop_new", F.lit(False)),
                F.lit(False),
            ),
            F.col("_b_near_keep"),
            F.lit(False),
        )
        dec = F.when(is_new, F.col("_n_d")).otherwise(
            F.coalesce("_b_decont_pass", F.lit(True))
        )
        out = merged.select(
            c,
            qual.alias("quality_pass"),
            exact.alias("exact_keep"),
            near.alias("near_keep"),
            dec.alias("decont_pass"),
            F.when(is_new, F.col("_n_fp")).otherwise(F.col("_b_fp")).alias(
                "fingerprint"
            ),
            F.when(is_new, F.col("_n_th")).otherwise(F.col("_b_th")).alias(
                "text_hash"
            ),
            F.coalesce("_del", F.lit(False)).alias("_is_del"),
            # write only rows that changed: without an earlier verdict, only
            # a conv that has a transcript now (one inserted and deleted
            # inside this batch has neither); else a deleted conv or one
            # whose flags or text changed
            F.when(F.col("_b_th").isNull(), is_new)
            .otherwise(
                F.coalesce("_del", F.lit(False))
                | ~F.struct(qual, exact, near, dec).eqNullSafe(
                    F.struct(
                        F.coalesce("_b_quality_pass", F.lit(False)),
                        F.coalesce("_b_exact_keep", F.lit(False)),
                        F.coalesce("_b_near_keep", F.lit(False)),
                        F.coalesce("_b_decont_pass", F.lit(True)),
                    )
                )
                | ~F.col("_n_th").eqNullSafe(F.col("_b_th")) & is_new
            )
            .alias("_dirty"),
        )
        if exact_fut is not None:
            # the exact commit must land before the verdicts commit (the
            # refresh completion marker); surfacing its error here keeps
            # the crash-window contract (verdicts never marks a batch done
            # over a failed sub-commit)
            exact_fut.result()
        # The dirty rows feed exactly ONE consumer (the verdicts commit), so
        # they are never materialized: the commit's own stage action is the
        # only job over this plan, ``_deleted`` is the carried ``_is_del``
        # column (value-identical to the former two-filter union through
        # ``_internals``, same column order), and the write count comes free
        # from the staged files' stats instead of a standalone
        # materialize+Observation action.
        n_writes = 0
        if batch_id not in self.verdicts.committed_batches():
            seq = (
                self.verdicts.watermark() + 1 if lsn_hi is None else int(lsn_hi)
            )
            writes = out.where("_dirty")
            frame = writes.select(
                *[n for n in writes.columns if n not in ("_is_del", "_dirty")],
                F.lit(seq).cast("long").alias("_lsn"),
                F.timestamp_seconds(F.lit(seq)).alias("_mts"),
                F.col("_is_del").alias("_deleted"),
                F.lit(batch_id).alias("_batch"),
            )
            staged = self.verdicts.stage(frame, batch_id)
            n_writes = sum(
                int(s["n_rows"]) for s in staged["bucket_stats"].values()
            )
            self.verdicts.commit_staged(
                staged, batch_id, seq, seq, None, mode="append"
            )
        return {
            "batch_id": batch_id,
            "replay": False,
            # observed on the frames' own materialization actions — no
            # separate count() jobs
            "n_changed": int(m_ids["n"] or 0),
            "n_deleted": int(pop_stats["n_del"] or 0),
            "n_exact_delta": n_delta,
            "near_rm": (stats_rm or {}).get("fold"),
            "near_add": (stats_add or {}).get("fold"),
            "n_verdict_writes": n_writes,
        }

    def _internals(
        self, df: DataFrame, batch_id: str, seq: int, deleted: bool
    ) -> DataFrame:
        return df.select(
            "*",
            F.lit(seq).cast("long").alias("_lsn"),
            F.timestamp_seconds(F.lit(seq)).alias("_mts"),
            F.lit(deleted).alias("_deleted"),
            F.lit(batch_id).alias("_batch"),
        )

    def _empty_verdicts(self) -> DataFrame:
        return self.spark.createDataFrame(
            [],
            f"{self.conv_col} string, quality_pass boolean, exact_keep boolean,"
            " near_keep boolean, decont_pass boolean, fingerprint string,"
            " text_hash long",
        )

    def _empty_labels(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], f"{self.conv_col} string, _near_new boolean"
        )

    # ---------------- the user-facing view ----------------

    def verdicts_df(self) -> DataFrame:
        """Funnel-masked verdicts, row-identical to ``curate_corpus``'s
        one-shot verdict table over the lake's current transcripts (a doc
        dropped at stage k reads False for every later stage; tested)."""
        v = self._read(self.verdicts)
        if v is None:
            v = self._empty_verdicts()
        q = F.col("quality_pass")
        e = q & F.col("exact_keep")
        n = e & F.col("near_keep")
        d = n & F.col("decont_pass")
        return v.select(
            self.conv_col,
            q.alias("quality_pass"),
            e.alias("exact_keep"),
            n.alias("near_keep"),
            d.alias("decont_pass"),
            d.alias("final_keep"),
        )

    def funnel(self) -> dict:
        """Stage survival counts off the masked view — one aggregation."""
        m = self.verdicts_df()
        row = m.agg(
            F.count("*").alias("input"),
            *[
                F.coalesce(F.sum(F.col(f).cast("long")), F.lit(0)).alias(f)
                for f in RAW_FLAGS + ("final_keep",)
            ],
        ).first()
        return {
            "input": row["input"],
            "after_quality": row["quality_pass"],
            "after_exact_dedup": row["exact_keep"],
            "after_near_dedup": row["near_keep"],
            "after_decontamination": row["decont_pass"],
            "final": row["final_keep"],
        }

    def maintain(self, compact_threshold: int = 8, vacuum_grace_sec: float = 3600.0):
        """Bound read amplification across all stores (one generation per
        refresh otherwise accumulates): compact + vacuum, idempotent."""
        from endor_blockchain_data_pipeline_spark.operators.merge import (
            compact_buckets,
        )

        out = {"near": self.near.maintain(compact_threshold, vacuum_grace_sec)}
        for name, t in (("exact", self.exact), ("verdicts", self.verdicts)):
            due = t.multi_gen_buckets(compact_threshold)
            if due:
                compact_buckets(t, self.spark, f"compact-wm{t.watermark()}", due)
            removed = t.vacuum(grace_sec=vacuum_grace_sec)
            out[name] = {"buckets_compacted": len(due), "files_removed": removed}
        return out
