"""Round-6 one-pass text verification: path equality + plan shape.

The pipeline derives text_verified in ONE job via either the worker-side
lookup kernel (small feature tables) or the fused join form (scale
fallback).  The two must emit BIT-IDENTICAL rows -- est float-bit
equality included -- and each must match the numpy reference
(``oracle.text_verified``, the "legacy" derivation below) at
test_spark_parity's tolerances; the lookup plan must stay join- and
exchange-free with exactly one Python crossing.
"""

from __future__ import annotations

import numpy as np
import pytest

from locality_sensitive_hashing_spark.operators.candidates import (
    decode_mask_col,
)
from locality_sensitive_hashing_spark.operators.verify import (
    text_verified_fused,
    text_verified_lookup,
)

COLS = ["tk1", "tk2", "detectors", "est_jaccard", "hamming", "lcs", "text_ok"]


def _frame(df):
    pdf = decode_mask_col(df).toPandas()
    pdf["detectors"] = pdf["detectors"].map(tuple)
    return pdf.sort_values(["tk1", "tk2"]).reset_index(drop=True)[COLS]


def _assert_matches_oracle(got, exp):
    """test_spark_parity::test_text_verified_exact's tolerances, plus
    provenance."""
    exp = exp.assign(detectors=exp["detectors"].map(tuple))
    assert set(zip(got.tk1, got.tk2)) == set(zip(exp.tk1, exp.tk2))
    m = got.merge(exp, on=["tk1", "tk2"], suffixes=("_g", "_e"))
    assert len(m) == len(got)
    assert (abs(m.est_jaccard_g - m.est_jaccard_e) < 1e-12).all()
    for c in ("detectors", "hamming", "lcs", "text_ok"):
        assert list(m[f"{c}_g"]) == list(m[f"{c}_e"]), f"{c} mismatch"


@pytest.fixture(scope="module")
def three_paths(spark, pipeline_run, corpus, cfg):
    """(lookup, fused, legacy): the two Spark paths over the committed
    mask-form candidates, and the numpy reference rows."""
    io, _, _ = pipeline_run
    _, _, oracle = corpus
    cands = io.read("candidates")
    lookup = _frame(text_verified_lookup(
        cands, io.data_path("signatures"), io.data_path("fingerprints"),
        cfg))
    fused = _frame(text_verified_fused(
        cands, io.read("signatures"), io.read("fingerprints"), cfg))
    return lookup, fused, oracle.text_verified


def test_lookup_path_equals_legacy(three_paths):
    lookup, fused, legacy = three_paths
    _assert_matches_oracle(lookup, legacy)
    # lookup vs fused: same rows, float BIT equality (same (B, H) compare)
    assert len(lookup) == len(fused)
    for c in ("tk1", "tk2", "detectors", "hamming", "lcs", "text_ok"):
        assert list(lookup[c]) == list(fused[c]), f"{c} mismatch"
    assert (
        lookup.est_jaccard.to_numpy().view(np.int64)
        == fused.est_jaccard.to_numpy().view(np.int64)
    ).all()


def test_fused_path_equals_legacy(three_paths):
    _, fused, legacy = three_paths
    _assert_matches_oracle(fused, legacy)


def test_committed_stage_used_lookup_or_fused(pipeline_run):
    """The default pipeline run derives text_verified without a metrics
    persist: no text_metrics stage and no text_metrics_cache aux wall."""
    _, pipe, _ = pipeline_run
    assert "text_metrics" not in pipe.executed_stages
    assert "text_metrics_cache" not in pipe.aux_walls


def test_lookup_plan_zero_joins_one_python_crossing(spark, pipeline_run, cfg):
    io, _, _ = pipeline_run
    plan = text_verified_lookup(
        io.read("candidates"), io.data_path("signatures"),
        io.data_path("fingerprints"), cfg,
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_lookup_gate_falls_back_on_size(spark, pipeline_run, cfg,
                                        monkeypatch):
    """Feature tables above TEXT_LOOKUP_MAX_BYTES disable the lookup
    path; the pipeline then plans the fused join form (still one-pass)."""
    from locality_sensitive_hashing_spark.plans import pipeline as P

    io, pipe, _ = pipeline_run
    monkeypatch.setattr(P, "TEXT_LOOKUP_MAX_BYTES", 0)
    assert pipe._text_lookup_dirs() is None
    monkeypatch.undo()
    assert pipe._text_lookup_dirs() is not None


def test_mask_schema_commit_decodes_to_identical_rows(spark, pipeline_run,
                                                      cfg):
    """Mask-form candidates in -> mask-form text_verified out (the commit
    sheds the 10M-row array<string> encode): each output pair carries
    its candidate's mask unchanged, and the committed stage decodes to
    BIT-IDENTICAL rows to a fresh lookup derivation."""
    io, _, _ = pipeline_run
    cand_raw = io.read("candidates")
    assert "detectors_mask" in cand_raw.columns
    masked = text_verified_lookup(
        cand_raw, io.data_path("signatures"), io.data_path("fingerprints"),
        cfg)
    assert "detectors_mask" in masked.columns  # the commit-form schema
    cand = {(r.id1, r.id2): r.detectors_mask
            for r in cand_raw.toPandas().itertuples()}
    out = masked.select("tk1", "tk2", "detectors_mask").toPandas()
    assert len(out) == len(cand)
    assert all(cand[(r.tk1, r.tk2)] == r.detectors_mask
               for r in out.itertuples())

    got = _frame(io.read("text_verified"))
    exp = _frame(masked)
    assert list(got.columns) == list(exp.columns)
    for c in ("tk1", "tk2", "detectors", "hamming", "lcs", "text_ok"):
        assert list(got[c]) == list(exp[c]), f"{c} mismatch"
    assert (got.est_jaccard.to_numpy().view(np.int64)
            == exp.est_jaccard.to_numpy().view(np.int64)).all()
