"""One CDC apply path: the ordered-commit loop commits the same batches at
every pipeline depth, and CoW's "current ∪ batch" merge is the same
generation merge the MoR read runs (window past the broadcast limit)."""

from __future__ import annotations

import pytest

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.job import CDCJob, brute_force_state
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

from tests.conftest import assert_df_equal


@pytest.fixture(scope="module")
def wal(spark):
    return generate_wal(spark, 3000, n_convs=48, max_turns=6, seed=99).cache()


@pytest.fixture(scope="module")
def oracle(spark, wal):
    return brute_force_state(decode_changes(wal)).cache()


def test_pipeline_depth_commits_identical_batches(spark, wal, oracle, tmp_path):
    """Serial (depth 1) and pipelined (depth 3) MoR apply publish the same
    data and compaction commits, in the same order, to the same state."""
    history = {}
    for depth in (1, 3):
        t = ManifestTable(str(tmp_path / f"depth{depth}"), n_buckets=8)
        job = CDCJob(spark, t, wal, write_mode="mor", compact_threshold=3)
        job.run_to_watermark(batch_size=300, pipeline=depth)  # 10 batches
        assert_df_equal(job.read_state(), oracle)
        history[depth] = [h["batch_id"] for h in t.history()]
        assert set(history[depth]) == t.committed_batches()
    assert history[1] == history[3]
    assert sum(b.startswith("lsn-") for b in history[1]) == 10
    assert any(b.startswith("compact-") for b in history[1])


def test_cow_window_merge_equals_oracle(spark, wal, oracle, tmp_path, monkeypatch):
    """With the broadcast limit at 0, every CoW batch after the first merges
    with current state through the window merge: nothing is broadcast."""
    from endor_blockchain_data_pipeline_spark.operators import merge
    from endor_blockchain_data_pipeline_spark.plans.explain import physical_plan

    t = ManifestTable(str(tmp_path / "cow"), n_buckets=8)
    t.MERGE_BROADCAST_ROW_LIMIT = 0
    # the within-batch winner join-back must not broadcast either
    monkeypatch.setattr(merge, "WINNER_BROADCAST_ROW_LIMIT", 0)
    plans = []
    stage = t.stage

    def recording_stage(df, batch_id):
        plans.append(physical_plan(df))
        return stage(df, batch_id)

    t.stage = recording_stage
    job = CDCJob(spark, t, wal, write_mode="cow")
    job.run_to_watermark(batch_size=1000)
    assert len(plans) == 3
    for plan in plans[1:]:
        assert "Window" in plan and "Broadcast" not in plan
    assert_df_equal(job.read_state(), oracle)
