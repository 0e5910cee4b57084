"""Golden end-to-end: Spark pipeline vs numpy oracle, stage by stage.

SURVEY.md section 5.2(3) + BASELINE.json pass criterion: signature/bucket
exactness, dup-pair recall >= 0.99, cluster-assignment agreement at the
pinned Config -- all over the content-class architecture (text keys,
audio classes, representative pairs).
"""

from __future__ import annotations

import pandas as pd


def _pair_set(df: pd.DataFrame, c1: str = "id1", c2: str = "id2") -> set:
    return set(map(tuple, df[[c1, c2]].values.tolist()))


def test_content_keys_exact(pipeline_run, corpus):
    io, _, _ = pipeline_run
    _, _, oracle = corpus
    got = io.read("keyed").toPandas().sort_values("clip_id").reset_index(drop=True)
    exp = oracle.keyed.sort_values("clip_id").reset_index(drop=True)
    for col in ("clip_id", "norm", "text_key", "audio_key"):
        assert list(got[col]) == list(exp[col]), f"keyed.{col} mismatch"


def test_signatures_exact(pipeline_run, corpus):
    io, _, _ = pipeline_run
    _, _, oracle = corpus
    got = io.read("signatures").select("text_key", "sig").toPandas()
    got = got.sort_values("text_key").reset_index(drop=True)
    exp = oracle.signatures.sort_values("text_key").reset_index(drop=True)
    assert list(got.text_key) == list(exp.text_key)
    for g, e in zip(got.sig, exp.sig):
        assert list(g) == list(e)


def test_band_hashes_exact(pipeline_run, corpus, cfg):
    io, _, _ = pipeline_run
    _, _, oracle = corpus
    import numpy as np

    from locality_sensitive_hashing_spark import hashing as H

    got = io.read("signatures").select("text_key", "band_hashes").toPandas()
    exp_bh = {
        r.text_key: H.band_hashes(
            np.array(r.sig, dtype=np.int64), cfg.bands, cfg.rows_per_band
        ).tolist()
        for r in oracle.signatures.itertuples()
    }
    for r in got.itertuples():
        assert list(r.band_hashes) == exp_bh[r.text_key]


def test_fingerprints_exact(pipeline_run, corpus):
    io, _, _ = pipeline_run
    _, _, oracle = corpus
    got = io.read("fingerprints").toPandas().sort_values("text_key")
    exp = oracle.simhash.sort_values("text_key")
    assert (got.fingerprint.values == exp.fingerprint.values).all()


def test_text_candidates_exact(pipeline_run, corpus):
    io, _, _ = pipeline_run
    _, _, oracle = corpus
    from locality_sensitive_hashing_spark.operators.candidates import (
        decode_mask_col,
    )

    # round 6: the stage commits the raw detector bitmask; the read-back
    # decode is the same pure mapping the pipeline applies
    got = decode_mask_col(io.read("candidates")).toPandas()
    assert _pair_set(got) == _pair_set(oracle.candidates)
    gd = {(r.id1, r.id2): list(r.detectors) for r in got.itertuples()}
    od = {(r.id1, r.id2): list(r.detectors) for r in oracle.candidates.itertuples()}
    assert gd == od


def test_text_verified_exact(pipeline_run, corpus):
    io, _, _ = pipeline_run
    _, _, oracle = corpus
    got = io.read("text_verified").toPandas()
    exp = oracle.text_verified
    assert _pair_set(got, "tk1", "tk2") == _pair_set(exp, "tk1", "tk2")
    m = got.merge(exp, on=["tk1", "tk2"], suffixes=("_g", "_e"))
    assert (abs(m.est_jaccard_g - m.est_jaccard_e) < 1e-12).all()
    assert (m.hamming_g == m.hamming_e).all()
    assert (m.lcs_g == m.lcs_e).all()
    assert (m.text_ok_g == m.text_ok_e).all()


def test_audio_classes_exact(pipeline_run, corpus):
    io, _, _ = pipeline_run
    _, _, oracle = corpus
    got = (
        io.read("audio_classes").toPandas()
        .sort_values(["text_key", "audio_key"]).reset_index(drop=True)
    )
    exp = oracle.audio_classes
    assert list(got.rep) == list(exp.rep)
    assert list(got.n_members) == list(exp.n_members)
    assert list(got.decode_ok) == list(exp.decode_ok)
    assert list(got.n_samples) == list(exp.n_samples)
    for g, e in zip(got.digest, exp.digest):
        assert list(g) == list(e)
    # frame-energy content profile (round 5: rides the same decode pass)
    assert list(got.e_ok) == list(exp.e_ok)
    for g, e in zip(got.e_shingles, exp.e_shingles):
        assert list(g) == list(e)
    for g, e in zip(got.e_sig, exp.e_sig):
        assert list(g) == list(e)
    # gain-invariant fingerprint profile (round 5: fifth edge source,
    # same decode pass)
    assert list(got.fp_active) == list(exp.fp_active)
    for g, e in zip(got.fp_codes, exp.fp_codes):
        assert list(g) == list(e)


def test_verified_edges_and_recall(pipeline_run, corpus):
    io, _, _ = pipeline_run
    _, _, oracle = corpus
    got = io.read("verified").toPandas()
    exp = oracle.verified
    got_dups = _pair_set(got[got.is_dup])
    exp_dups = _pair_set(exp[exp.is_dup])
    assert len(exp_dups) > 20  # fixture actually plants enough signal
    recall = len(got_dups & exp_dups) / len(exp_dups)
    precision = len(got_dups & exp_dups) / max(1, len(got_dups))
    assert recall >= 0.99, f"dup-pair recall {recall} < 0.99"
    assert precision >= 0.99
    # kind joins too: one rep pair may legitimately carry BOTH a PCM-axis
    # row (within/cross) and an audio_content energy row (round 5)
    m = got.merge(exp, on=["id1", "id2", "kind"], suffixes=("_g", "_e"))
    assert len(m) == len(exp)
    assert (m.teq_g == m.teq_e).all()
    assert (m.hamming_g == m.hamming_e).all()
    assert (abs(m.est_jaccard_g - m.est_jaccard_e) < 1e-12).all()
    assert (m.allclose_g == m.allclose_e).all()
    assert (m.is_dup_g == m.is_dup_e).all()


def test_gain_edges_present_and_exact(pipeline_run, corpus):
    """The fifth edge source actually fires: the fixture plants +6 dB
    re-master pairs reachable ONLY through kind=audio_gain edges, and
    exact x2 integer gain gives BER 0 (est_jaccard exactly 1.0)."""
    io, _, _ = pipeline_run
    _, planted, oracle = corpus
    got = io.read("verified").toPandas()
    gg = got[got.kind == "audio_gain"]
    eg = oracle.verified[oracle.verified.kind == "audio_gain"]
    assert len(eg) >= 3  # fixture plants enough gain signal
    assert _pair_set(gg) == _pair_set(eg)
    gain_truth = _pair_set(planted[planted.dup_class == "gain"])
    assert gain_truth <= _pair_set(gg[gg.is_dup])
    m = gg.merge(eg, on=["id1", "id2"], suffixes=("_g", "_e"))
    assert (m.est_jaccard_g == m.est_jaccard_e).all()  # bit-for-bit
    planted_dups = gg[[p in gain_truth for p in
                       map(tuple, gg[["id1", "id2"]].values.tolist())]]
    assert (planted_dups.est_jaccard == 1.0).all()  # exact x2 => BER 0


def test_cluster_assignment_agreement(pipeline_run, corpus):
    _, _, clusters = pipeline_run
    _, _, oracle = corpus
    got = clusters.toPandas().sort_values("clip_id").reset_index(drop=True)
    exp = oracle.clusters.sort_values("clip_id").reset_index(drop=True)
    assert list(got.clip_id) == list(exp.clip_id)
    assert (got.cluster_id.values == exp.cluster_id.values).all()


def test_planted_truth(pipeline_run, corpus):
    """Construction labels: positives co-cluster, negative controls never."""
    _, _, clusters = pipeline_run
    _, planted, _ = corpus
    pdf = clusters.toPandas()
    cl = dict(zip(pdf.clip_id, pdf.cluster_id))
    for r in planted.itertuples():
        if r.expect_dup:
            assert cl[r.id1] == cl[r.id2], f"{r.dup_class}: {r.id1},{r.id2} split"
        else:
            assert cl[r.id1] != cl[r.id2], f"{r.dup_class}: {r.id1},{r.id2} merged"


def test_metrics_lineage_written(pipeline_run, cfg):
    io, pipe, _ = pipeline_run
    m = io.read("metrics").toPandas()
    stages = set(m.stage)
    for s in ("keyed", "signatures", "fingerprints", "candidates",
              "text_verified", "audio_classes", "verified", "clusters"):
        assert s in stages
    sig_total = m[(m.stage == "signatures") & (m.partition_id == -1)].rows.iloc[0]
    assert sig_total == io.read("signatures").count()
    assert (m.config_id == cfg.config_id).all()
