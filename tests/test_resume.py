"""Resume-from-checkpoint semantics (O26): committed stages are skipped;
a simulated crash resumes after the last committed snapshot with
byte-identical final clusters (SURVEY.md section 5.2(5))."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline
from locality_sensitive_hashing_spark.sources.tables import TableIO


def test_default_policy_commits_eight_stages(pipeline_run):
    """Only resume-valuable boundaries commit; the rest fuse into
    downstream jobs (the round-1 14-commit serial floor is gone)."""
    from locality_sensitive_hashing_spark.plans.pipeline import COMMITTED_STAGES

    _io, pipe, _ = pipeline_run
    assert set(pipe.executed_stages) == set(COMMITTED_STAGES)
    assert len(COMMITTED_STAGES) == 8


def test_second_run_skips_everything(spark, cfg, clips_df, pipeline_run):
    io, first, clusters1 = pipeline_run
    n_snaps_before = len(io.snapshots())
    pipe2 = DedupPipeline(spark, cfg, io, run_id="test-run-2")
    clusters2 = pipe2.run(clips_df)
    assert pipe2.executed_stages == []
    assert set(pipe2.skipped_stages) == set(first.executed_stages)
    # a no-op resume must not re-write ANY table (incl. the dropped_buckets
    # side output of the lazy minhash subtree)
    assert len(io.snapshots()) == n_snaps_before
    a = clusters1.toPandas().sort_values("clip_id").reset_index(drop=True)
    b = clusters2.toPandas().sort_values("clip_id").reset_index(drop=True)
    assert a.equals(b)


def test_deleted_stage_recomputes_only_that_stage(spark, cfg, clips_df, pipeline_run):
    io, _, clusters1 = pipeline_run
    before = clusters1.toPandas().sort_values("clip_id").reset_index(drop=True)
    shutil.rmtree(io._path("verified"))  # lose one mid-DAG table
    pipe = DedupPipeline(spark, cfg, io, run_id="test-run-3")
    clusters = pipe.run(clips_df)
    assert pipe.executed_stages == ["verified"]
    after = clusters.toPandas().sort_values("clip_id").reset_index(drop=True)
    assert before.equals(after)


def test_crash_mid_pipeline_resumes(spark, cfg, clips_df, corpus, monkeypatch):
    """Kill after `candidates` commits -> rerun executes only downstream."""
    tmp = tempfile.mkdtemp(prefix="lsh_crash_")
    try:
        io = TableIO(spark, tmp)
        import locality_sensitive_hashing_spark.plans.pipeline as P

        def boom(*a, **k):
            raise RuntimeError("simulated crash")

        # the text_verified stage builds via the lookup kernel (small
        # corpus) or the fused join form -- crash whichever runs
        monkeypatch.setattr(P, "text_verified_lookup", boom)
        monkeypatch.setattr(P, "text_verified_fused", boom)
        pipe = DedupPipeline(spark, cfg, io, run_id="crash-run")
        with pytest.raises(RuntimeError, match="simulated crash"):
            pipe.run(clips_df)
        assert "candidates" in pipe.executed_stages
        assert not io.committed("text_verified", cfg.config_id)

        monkeypatch.undo()
        pipe2 = DedupPipeline(spark, cfg, io, run_id="resume-run")
        clusters = pipe2.run(clips_df)
        assert pipe2.executed_stages == ["text_verified", "verified", "clusters"]
        # final answer matches the oracle exactly despite the crash
        _, _, oracle = corpus
        got = clusters.toPandas().sort_values("clip_id").reset_index(drop=True)
        exp = oracle.clusters.sort_values("clip_id").reset_index(drop=True)
        assert (got.cluster_id.values == exp.cluster_id.values).all()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
