"""jobs/maintain_clusters.py: the incremental-maintenance spark-submit
job over a real intake store must (a) be resumable batch-by-batch, (b)
produce the same assignment whether batches arrive in one run or across
runs, (c) agree with a from-scratch clustering under the same screen,
and (d) fold on demand without changing a single row."""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import tempfile

from pyspark.sql import functions as F

import jobs.maintain_clusters as MJ
from locality_sensitive_hashing_spark.config import DEFAULT_CONFIG
from locality_sensitive_hashing_spark.fixtures import make_clips
from locality_sensitive_hashing_spark.operators.candidates import pairs_from_blocks
from locality_sensitive_hashing_spark.operators.connected_components import (
    connected_components,
)
from locality_sensitive_hashing_spark.operators.minhash import (
    estimated_jaccard_udf,
    explode_bands,
)
from locality_sensitive_hashing_spark.plans.maintenance import screened_edges
from locality_sensitive_hashing_spark.streaming.incremental import BatchIngestor

CFG = dataclasses.replace(DEFAULT_CONFIG, bucket_cap=1 << 20)
CFG_JSON = json.dumps({"bucket_cap": 1 << 20})


def _assign(df) -> dict:
    return {r.clip_id: r.cluster_id for r in df.collect()}


def _run_job(store, workdir, *extra):
    argv = ["maintain_clusters", "--store", store, "--workdir", workdir,
            "--config-json", CFG_JSON, *extra]
    old = sys.argv
    sys.argv = argv
    try:
        assert MJ.main() == 0
    finally:
        sys.argv = old


def _reference(spark, store_dir, ids):
    """From-scratch: capped blocking pairs over ALL committed signatures,
    fingerprints AND winnowing anchors (the three text detectors the job
    uses), the batch pipeline's full text_ok screen (est-Jaccard OR
    Hamming OR exact-LCS -- computed eagerly for every pair here, the
    job's lazy evaluation must not change the verdict), PLUS the audio
    axis (exact-payload star edges over the keyed store,
    Jaccard-verified energy-LSH near-dups and BER-verified
    gain-fingerprint near-dups, rebuilt with the non-incremental
    blocking variant), full CC -- what the incremental job must
    equal."""
    from locality_sensitive_hashing_spark.operators import audio_lsh as AL
    from locality_sensitive_hashing_spark.operators.audio_lsh import (
        explode_energy_bands,
    )
    from locality_sensitive_hashing_spark.operators.simhash import (
        explode_chunks,
        hamming_distance,
    )
    from locality_sensitive_hashing_spark.operators.suffix_array import lcs_udf
    from locality_sensitive_hashing_spark.streaming.incremental import read_batch

    sigs, fps, anch, en, keyed = None, None, None, None, None
    for i in ids:
        bs = read_batch(spark, store_dir, "signatures", i)
        bf = read_batch(spark, store_dir, "fingerprints", i)
        ba = read_batch(spark, store_dir, "anchors", i)
        be = read_batch(spark, store_dir, "energy", i)
        bk = read_batch(spark, store_dir, "keyed", i)
        sigs = bs if sigs is None else sigs.unionByName(bs)
        fps = bf if fps is None else fps.unionByName(bf)
        anch = ba if anch is None else anch.unionByName(ba)
        en = be if en is None else en.unionByName(be)
        keyed = bk if keyed is None else keyed.unionByName(bk)
    mh = pairs_from_blocks(
        explode_bands(sigs, id_col="text_key"), ["band_id", "band_hash"],
        CFG.bucket_cap, "mh", id_col="text_key",
    )
    sh = pairs_from_blocks(
        explode_chunks(fps, CFG, id_col="text_key"), ["chunk_id", "chunk_val"],
        CFG.bucket_cap, "sh", id_col="text_key",
    )
    sa = pairs_from_blocks(
        anch, ["anchor"], CFG.bucket_cap, "sa", id_col="text_key",
    )
    pairs = (
        mh.select("id1", "id2")
        .unionByName(sh.select("id1", "id2"))
        .unionByName(sa.select("id1", "id2"))
        .distinct()
    )
    est = estimated_jaccard_udf()
    lcs = lcs_udf(CFG.sa_min_len)
    s1 = sigs.select(F.col("text_key").alias("id1"), F.col("sig").alias("_s1"),
                     F.col("norm").alias("_n1"))
    s2 = sigs.select(F.col("text_key").alias("id2"), F.col("sig").alias("_s2"),
                     F.col("norm").alias("_n2"))
    f1 = fps.select(F.col("text_key").alias("id1"),
                    F.col("fingerprint").alias("_f1"))
    f2 = fps.select(F.col("text_key").alias("id2"),
                    F.col("fingerprint").alias("_f2"))
    edges = (
        pairs.join(s1, "id1").join(s2, "id2").join(f1, "id1").join(f2, "id2")
        .withColumn("_lcs", lcs(F.col("_n1"), F.col("_n2")))
        .where(
            (est(F.col("_s1"), F.col("_s2")) >= CFG.jaccard_threshold)
            | (hamming_distance(F.col("_f1"), F.col("_f2")) <= CFG.hamming_t)
            | (F.col("_lcs") >= CFG.sa_min_len)
        )
        .select("id1", "id2")
    )
    # audio axis, from scratch: every audio_key's text fan-out stars from
    # its min text_key; energy-LSH candidates over the full energy store
    # verified by exact shingle Jaccard, endpoints mapped through the
    # same representative
    apairs = pairs_from_blocks(
        explode_energy_bands(en, CFG, id_col="audio_key"),
        ["band_id", "bkey"], CFG.bucket_cap, "en", id_col="audio_key",
    ).select("id1", "id2")
    h1 = en.select(F.col("audio_key").alias("id1"),
                   F.col("shingles").alias("_h1"))
    h2 = en.select(F.col("audio_key").alias("id2"),
                   F.col("shingles").alias("_h2"))
    jac = (
        F.size(F.array_intersect("_h1", "_h2")).cast("double")
        / F.size(F.array_union("_h1", "_h2"))
    )
    vpairs = (
        apairs.join(h1, "id1").join(h2, "id2")
        .where(jac >= AL.JACCARD_THRESHOLD)
        .select("id1", "id2")
    )
    # gain axis, from scratch: pigeonhole window blocks over the stored
    # fingerprint codes, exact-BER verify (equal length)
    from locality_sensitive_hashing_spark.operators.audio_fingerprint import (
        BER_MAX,
        CODE_BITS,
        fingerprint_blocks,
    )

    gpairs = pairs_from_blocks(
        fingerprint_blocks(en, id_col="audio_key"),
        ["win_idx", "wkey"], CFG.bucket_cap, "gfp", id_col="audio_key",
    ).select("id1", "id2")
    c1 = en.select(F.col("audio_key").alias("id1"), F.col("codes").alias("_c1"))
    c2 = en.select(F.col("audio_key").alias("id2"), F.col("codes").alias("_c2"))
    ber = F.expr(
        "aggregate(zip_with(_c1, _c2, (a, b) -> bit_count(a ^ b)), 0, "
        "(acc, x) -> acc + x)"
    ).cast("double") / (F.lit(CODE_BITS) * F.size("_c1"))
    gv = (
        gpairs.join(c1, "id1").join(c2, "id2")
        .where(F.size("_c1") == F.size("_c2"))
        .where(F.round(ber, 6) <= BER_MAX)
        .select("id1", "id2")
    )
    vpairs = vpairs.unionByName(gv).distinct()
    a2t = keyed.select("audio_key", "text_key").distinct()
    rep = a2t.groupBy("audio_key").agg(F.min("text_key").alias("rep"))
    stars = (
        a2t.join(rep, "audio_key")
        .where(F.col("text_key") != F.col("rep"))
        .select(F.col("rep").alias("id1"), F.col("text_key").alias("id2"))
    )
    near = (
        vpairs
        .join(rep.select(F.col("audio_key").alias("id1"),
                         F.col("rep").alias("_t1")), "id1")
        .join(rep.select(F.col("audio_key").alias("id2"),
                         F.col("rep").alias("_t2")), "id2")
        .where(F.col("_t1") != F.col("_t2"))
        .select(F.col("_t1").alias("id1"), F.col("_t2").alias("id2"))
    )
    edges = edges.unionByName(stars).unionByName(near).distinct()
    nodes = sigs.select(F.col("text_key").alias("clip_id"))
    return connected_components(edges, nodes, CFG)


def test_maintain_job_incremental_equals_from_scratch(spark, cfg):
    root = tempfile.mkdtemp(prefix="lsh_maintain_")
    store = os.path.join(root, "intake")
    wd_inc = os.path.join(root, "clusters_inc")
    wd_all = os.path.join(root, "clusters_all")
    os.makedirs(wd_inc)
    os.makedirs(wd_all)

    clips, _ = make_clips(60, seed=21)
    ing = BatchIngestor(spark, store, cfg)
    ing.process(spark.createDataFrame(clips.iloc[:30]), 0)

    # run 1: only batch 0 exists
    _run_job(store, wd_inc)
    st = MJ._read_state(wd_inc)
    assert st["processed"] == [0]
    assert _assign(MJ.read_current(spark, wd_inc)) == _assign(
        _reference(spark, store, [0])
    )

    base_v_after_bootstrap = MJ._read_state(wd_inc)["base_v"]

    # batch 1 lands; run 2 picks up ONLY the new batch and must NOT
    # rewrite the corpus-sized base (merge-on-read across runs)
    ing.process(spark.createDataFrame(clips.iloc[30:]), 1)
    _run_job(store, wd_inc)
    st = MJ._read_state(wd_inc)
    assert st["processed"] == [0, 1]
    assert st["base_v"] == base_v_after_bootstrap  # base untouched
    assert st["pend_v"] is not None  # batch landed as pending state
    got = _assign(MJ.read_current(spark, wd_inc))
    ref = _assign(_reference(spark, store, [0, 1]))
    assert got == ref

    # a single run over both batches agrees with the two-run path
    _run_job(store, wd_all)
    assert _assign(MJ.read_current(spark, wd_all)) == ref

    # idempotent: nothing new -> up-to-date no-op, state unchanged
    _run_job(store, wd_inc)
    assert MJ._read_state(wd_inc)["processed"] == [0, 1]

    # forced fold: pending state absorbed into a NEW base version,
    # rows identical
    _run_job(store, wd_inc, "--fold")
    st = MJ._read_state(wd_inc)
    assert st["pend_v"] is None
    assert st["base_v"] > base_v_after_bootstrap
    assert _assign(MJ.read_current(spark, wd_inc)) == ref


def test_maintain_job_combined_pending_pass(spark, cfg):
    """A run with SEVERAL pending batches processes them as one combined
    set (one prior-corpus scan per run, not per batch) and must equal
    both the batch-at-a-time run sequence and the from-scratch
    reference; the corpus-sized base still is not rewritten."""
    root = tempfile.mkdtemp(prefix="lsh_maintain_multi_")
    store = os.path.join(root, "intake")
    wd_combined = os.path.join(root, "clusters_combined")
    wd_seq = os.path.join(root, "clusters_seq")
    os.makedirs(wd_combined)
    os.makedirs(wd_seq)

    clips, _ = make_clips(60, seed=29)
    ing = BatchIngestor(spark, store, cfg)
    ing.process(spark.createDataFrame(clips.iloc[:20]), 0)

    # both workdirs bootstrap from batch 0
    _run_job(store, wd_combined)
    _run_job(store, wd_seq)
    base_v0 = MJ._read_state(wd_combined)["base_v"]

    # two more batches land; sequential workdir takes them one run each
    ing.process(spark.createDataFrame(clips.iloc[20:40]), 1)
    _run_job(store, wd_seq)
    ing.process(spark.createDataFrame(clips.iloc[40:]), 2)
    _run_job(store, wd_seq)

    # combined workdir sees batches 1 AND 2 pending in a single run
    _run_job(store, wd_combined)
    st = MJ._read_state(wd_combined)
    assert st["processed"] == [0, 1, 2]
    assert st["base_v"] == base_v0  # merge-on-read: base untouched

    ref = _assign(_reference(spark, store, [0, 1, 2]))
    assert _assign(MJ.read_current(spark, wd_combined)) == ref
    assert _assign(MJ.read_current(spark, wd_seq)) == ref


def test_screened_edges_corpus_restriction_broadcasts(spark):
    """Scale contract of the maintenance screen: the corpus-sized
    signature/fingerprint stores are restricted to the batch-scale pair
    endpoints via a BROADCAST join (corpus scanned, never shuffled).
    With auto-broadcast off, the ONLY BroadcastHashJoins left in the
    plan are the two hinted endpoint restrictions; the pair joins may
    sort-merge (batch-scale rows)."""
    sigs = spark.createDataFrame(
        [("a", [1, 2], "alpha"), ("b", [1, 3], "beta"), ("c", [9, 9], "gamma")],
        "text_key string, sig array<int>, norm string",
    )
    fps = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 1024)], "text_key string, fingerprint long"
    )
    pairs = spark.createDataFrame(
        [("a", "b")], "id1 string, id2 string"
    ).localCheckpoint()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = screened_edges(
            pairs, sigs.limit(0), sigs, fps.limit(0), fps, CFG
        )
        plan = edges._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # Catalyst pushes the hinted join below the old/new union (one BHJ
    # per leg), so 2 tables x up-to-2 legs; the unhinted pair joins must
    # all stay sort-merge (they would be the corpus shuffle otherwise)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("SortMergeJoin") == 4, plan
    # and the screen itself still evaluates correctly on the tiny graph
    assert [(r.id1, r.id2) for r in edges.collect()] == [("a", "b")]


def test_screened_edges_lcs_branch_is_lazy(spark):
    """Laziness contract of the substring term: with lcs=True the exact
    LCS (suffix-array build) must evaluate ONLY for pairs failing both
    cheap tests. The screen is verify.text_pair_verdict, so the plan has
    exactly ONE ArrowEvalPython -- the fused est + lazy-LCS kernel over
    (sig1, sig2, _n1, _n2, _saflag), whose saflag carries the JVM
    Hamming refutation and whose est refutation runs inside the kernel
    (a refutation filter below an lcs Project is not stable: Catalyst
    fuses it back into one eager Python eval) -- no row-at-a-time
    Python, Hamming a JVM bit_count."""
    import re

    shared = "the quick brown fox jumps over the lazy dog tonight"
    sigs = spark.createDataFrame(
        [
            ("a", [1, 2, 3, 4], "alpha text"),
            ("b", [1, 2, 3, 4], "beta text"),
            ("c", [5, 6, 7, 8], "intro " + shared),
            ("d", [9, 10, 11, 12], shared + " outro"),
        ],
        "text_key string, sig array<int>, norm string",
    )
    fps = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 0), ("d", (1 << 40) - 1)],
        "text_key string, fingerprint long",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "id1 string, id2 string"
    ).localCheckpoint()
    edges = screened_edges(
        pairs, sigs.limit(0), sigs, fps.limit(0), fps, CFG, lcs=True
    )
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan  # never row-at-a-time
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1, plan
    # the one eval is the FUSED 5-arg kernel: sigs, the gated norm
    # carriers (_n1; _n2 = norm2 gated by saflag, inlined by Catalyst)
    # and _saflag, the JVM Hamming refutation
    assert re.search(
        r"ArrowEvalPython \[compute\(sig1#\d+, sig2#\d+, _n1#\d+, "
        r"CASE WHEN \(bit_count\(.*\) THEN norm2#\d+ END, "
        rf"\(bit_count\(.*\) > {CFG.hamming_t}\)\)#", plan), plan
    assert "bit_count" in plan, plan  # hamming stayed JVM
    # (a,b) passes the cheap screen (identical sigs), (c,d) fails both
    # (disjoint sigs, Hamming 40 > t) and merges only via LCS >= 32
    got = sorted((r.id1, r.id2) for r in edges.collect())
    assert got == [("a", "b"), ("c", "d")], got


def test_est_lcs_fused_kernel_skips_sa_unless_refuted(spark):
    """The kernel-level laziness of verify.est_lcs_fused_udf itself: a
    row returns the exact LCS only when its flag is set AND its
    est-Jaccard is below the threshold; every other row returns -1
    WITHOUT computing the (present) long common substring. (Called
    directly with Arrow inputs, as Spark hands the kernel, so the skip
    is observable without a plan in the way.)"""
    import pyarrow as pa

    from locality_sensitive_hashing_spark.operators.verify import (
        est_lcs_fused_udf,
    )

    shared = "x" * 40
    fn = est_lcs_fused_udf(CFG).func
    same, other = [1, 2, 3, 4], [9, 9, 9, 9]
    out = fn(
        pa.array([same, same, same], type=pa.list_(pa.int64())),
        pa.array([same, other, other], type=pa.list_(pa.int64())),
        pa.array(["left " + shared] * 3),
        pa.array([shared + " right"] * 3),
        pa.array([True, False, True]),
    )
    lcs = out.field("lcs").to_pylist()
    # row 0: est 1.0 >= 0.5 -> SA skipped despite the 40-char overlap;
    # row 1: flag unset -> skipped; row 2: flag set, est 0.0 -> exact LCS
    assert lcs[0] == -1, lcs
    assert lcs[1] == -1, lcs
    assert lcs[2] >= 40, lcs
    assert out.field("est").to_pylist() == [1.0, 0.0, 0.0]


def test_maintain_job_audio_axis_cross_batch(spark, cfg):
    """The audio axis pairs what no text detector can: a byte-identical
    payload republished under an unrelated transcript in a LATER batch
    (exact star edge over the keyed store) and a head-trimmed re-master
    under yet another transcript (energy-LSH near edge). Both must merge
    into the source clip's cluster across batch boundaries; an unrelated
    clip stays alone."""
    import numpy as np

    import locality_sensitive_hashing_spark.audio as A
    from locality_sensitive_hashing_spark.fixtures import synth_env_pcm
    from locality_sensitive_hashing_spark.streaming.incremental import (
        read_store,
    )

    root = tempfile.mkdtemp(prefix="lsh_maintain_audio_")
    store = os.path.join(root, "intake")
    wd = os.path.join(root, "clusters")
    os.makedirs(wd)

    rng = np.random.default_rng(11)
    sr = 8000
    pcm1 = synth_env_pcm(rng, sr, 500)
    pcm2 = synth_env_pcm(rng, sr, 500)
    raw1 = A.encode_wav(pcm1, sr, "pcm_s16le")
    raw1_trim = A.encode_wav(pcm1[800:], sr, "pcm_s16le")
    raw2 = A.encode_wav(pcm2, sr, "pcm_s16le")
    t = {
        "c0": "alpha bravo charlie delta echo foxtrot golf hotel india",
        "c1": "nine quiet turtles crossed the frozen river before dawn",
        "c2": "republished catalogue entry with a brand new caption today",
        "c3": "trimmed re-master uploaded by the evening archive mirror",
    }
    rows0 = [("c0", raw1, sr, 500, "pcm_s16le", t["c0"]),
             ("c1", raw2, sr, 500, "pcm_s16le", t["c1"])]
    rows1 = [("c2", raw1, sr, 500, "pcm_s16le", t["c2"]),
             ("c3", raw1_trim, sr, 400, "pcm_s16le", t["c3"])]

    from locality_sensitive_hashing_spark.sources.tables import CLIPS_SCHEMA

    ing = BatchIngestor(spark, store, cfg)
    ing.process(spark.createDataFrame(rows0, CLIPS_SCHEMA), 0)
    _run_job(store, wd)
    ing.process(spark.createDataFrame(rows1, CLIPS_SCHEMA), 1)
    _run_job(store, wd)

    key_of = {r.clip_id: r.text_key
              for r in read_store(spark, store, "keyed").collect()}
    assign = _assign(MJ.read_current(spark, wd))
    # exact audio (c2) and trimmed audio (c3) merge with the source c0
    assert assign[key_of["c2"]] == assign[key_of["c0"]]
    assert assign[key_of["c3"]] == assign[key_of["c0"]]
    # the unrelated clip stays in its own singleton cluster
    assert assign[key_of["c1"]] == key_of["c1"]
    assert len({assign[key_of[c]] for c in ("c0", "c1")}) == 2
    # and the job still equals the from-scratch reference on this corpus
    assert assign == _assign(_reference(spark, store, [0, 1]))


def test_maintain_job_substring_axis_cross_batch(spark, cfg):
    """The substring axis pairs what neither the cheap text screen nor
    the audio axis can: a transcript republished EMBEDDED inside a much
    longer one, under a completely different recording, in a LATER
    batch.  est-Jaccard is diluted far below threshold by the fresh
    text, SimHash Hamming is far above t, and the payloads differ -- so
    only winnowing-anchor blocking + exact-LCS verify can merge them.
    A store ingested WITHOUT the anchor table (pre-SA-axis layout) must
    keep them apart -- the text-only fallback tier."""
    import numpy as np

    import locality_sensitive_hashing_spark.audio as A
    from locality_sensitive_hashing_spark import hashing as H
    from locality_sensitive_hashing_spark.fixtures import synth_env_pcm
    from locality_sensitive_hashing_spark.sources.tables import CLIPS_SCHEMA
    from locality_sensitive_hashing_spark.streaming.incremental import (
        read_store,
    )

    rng = np.random.default_rng(37)
    sr = 8000
    inner = ("quantum marmalade survey helicopter dusk ribbon elk "
             "cathedral ninety pewter")
    outer = ("archive mirror uploaded fresh catalogue caption beyond "
             "the silver meridian tonight " + inner +
             " while distant generators hummed across the frozen "
             "shipyard basin until morning")
    bystander = "seven lanterns drifted over the quiet harbor wall"
    # the pair must be invisible to BOTH cheap text tests -- pin that the
    # fixture really exercises the substring term, not an accident of
    # the screen
    n_in, n_out = H.normalize_text(inner), H.normalize_text(outer)
    sh_in = set(H.shingle_set(n_in, CFG.shingle_k))
    sh_out = set(H.shingle_set(n_out, CFG.shingle_k))
    jac = len(sh_in & sh_out) / len(sh_in | sh_out)
    assert jac < CFG.jaccard_threshold - 0.1, jac
    ham = H.hamming64(H.simhash64(n_in), H.simhash64(n_out))
    assert ham > CFG.hamming_t, ham
    assert H.longest_common_substring_len(n_in, n_out) >= CFG.sa_min_len

    rows0 = [
        ("s0", A.encode_wav(synth_env_pcm(rng, sr, 500), sr, "pcm_s16le"),
         sr, 500, "pcm_s16le", inner),
        ("s1", A.encode_wav(synth_env_pcm(rng, sr, 500), sr, "pcm_s16le"),
         sr, 500, "pcm_s16le", bystander),
    ]
    rows1 = [
        ("s2", A.encode_wav(synth_env_pcm(rng, sr, 600), sr, "pcm_s16le"),
         sr, 600, "pcm_s16le", outer),
    ]

    root = tempfile.mkdtemp(prefix="lsh_maintain_sa_")
    store = os.path.join(root, "intake")
    wd = os.path.join(root, "clusters")
    os.makedirs(wd)
    ing = BatchIngestor(spark, store, cfg)
    ing.process(spark.createDataFrame(rows0, CLIPS_SCHEMA), 0)
    _run_job(store, wd)
    ing.process(spark.createDataFrame(rows1, CLIPS_SCHEMA), 1)
    _run_job(store, wd)

    key_of = {r.clip_id: r.text_key
              for r in read_store(spark, store, "keyed").collect()}
    assign = _assign(MJ.read_current(spark, wd))
    assert assign[key_of["s2"]] == assign[key_of["s0"]]  # substring merged
    assert assign[key_of["s1"]] == key_of["s1"]  # bystander untouched
    # and the job still equals the from-scratch three-detector reference
    assert assign == _assign(_reference(spark, store, [0, 1]))

    # pre-anchor-store fallback: same corpus ingested WITHOUT the anchor
    # table runs text-only+audio and must NOT merge the substring pair
    store2 = os.path.join(root, "intake_nosa")
    wd2 = os.path.join(root, "clusters_nosa")
    os.makedirs(wd2)
    ing2 = BatchIngestor(spark, store2, cfg, substring=False)
    ing2.process(spark.createDataFrame(rows0, CLIPS_SCHEMA), 0)
    ing2.process(spark.createDataFrame(rows1, CLIPS_SCHEMA), 1)
    assert not os.path.isdir(os.path.join(store2, "anchors"))
    _run_job(store2, wd2)
    assign2 = _assign(MJ.read_current(spark, wd2))
    assert assign2[key_of["s2"]] != assign2[key_of["s0"]]


def test_maintain_job_crash_before_manifest_resumes(spark, cfg, monkeypatch):
    """Manifest-last commit: a crash AFTER the data-dir writes but BEFORE
    state.json leaves the previous consistent state authoritative; the
    rerun reprocesses the in-flight batch and converges to the same
    assignment (processing a batch twice is harmless by design)."""
    root = tempfile.mkdtemp(prefix="lsh_maintain_crash_")
    store = os.path.join(root, "intake")
    wd = os.path.join(root, "clusters")
    os.makedirs(wd)
    clips, _ = make_clips(40, seed=23)
    ing = BatchIngestor(spark, store, cfg)
    ing.process(spark.createDataFrame(clips.iloc[:20]), 0)
    _run_job(store, wd)
    st0 = MJ._read_state(wd)

    ing.process(spark.createDataFrame(clips.iloc[20:]), 1)

    def crash(workdir, state):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(MJ, "_write_state", crash)
    old = sys.argv
    sys.argv = ["maintain_clusters", "--store", store, "--workdir", wd,
                "--config-json", CFG_JSON]
    try:
        try:
            MJ.main()
            raise AssertionError("crash injection did not fire")
        except RuntimeError:
            pass
    finally:
        sys.argv = old
    monkeypatch.undo()

    # previous state still authoritative; orphan data dirs are inert
    assert MJ._read_state(wd) == st0
    assert _assign(MJ.read_current(spark, wd)) == _assign(
        _reference(spark, store, [0])
    )

    # rerun completes the interrupted batch
    _run_job(store, wd)
    st = MJ._read_state(wd)
    assert st["processed"] == [0, 1]
    assert _assign(MJ.read_current(spark, wd)) == _assign(
        _reference(spark, store, [0, 1])
    )


def test_streamed_store_feeds_maintenance_job(spark, cfg, tmp_path):
    """END-TO-END streaming -> maintenance: the intake store built by the
    REAL Structured Streaming query (readStream -> foreachBatch
    BatchIngestor, availableNow trigger, checkpointed) must drive
    jobs/maintain_clusters.py to the same assignment as the from-scratch
    all-axis reference -- the complete continuous-dedup loop on its
    production wiring, including a checkpoint-resumed second stream run
    whose new batches the job folds in merge-on-read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from locality_sensitive_hashing_spark.streaming.incremental import (
        committed_batch_ids,
        incremental_signatures,
    )

    schema = pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()),
        ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
        ("codec", pa.string()), ("transcript", pa.string()),
    ])

    def write(pdf, path):
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            path,
        )

    root = str(tmp_path)
    in_dir = os.path.join(root, "in")
    store = os.path.join(root, "intake")
    ckpt = os.path.join(root, "ckpt")
    wd = os.path.join(root, "clusters")
    os.makedirs(in_dir)
    os.makedirs(wd)

    clips, _ = make_clips(60, seed=33)
    write(clips.iloc[:30], os.path.join(in_dir, "f0.parquet"))
    q = incremental_signatures(spark, in_dir, store, cfg, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    ids0 = sorted(committed_batch_ids(store))
    assert ids0, "stream committed no batches"

    _run_job(store, wd)
    assert _assign(MJ.read_current(spark, wd)) == _assign(
        _reference(spark, store, ids0)
    )
    base_v = MJ._read_state(wd)["base_v"]

    # more clips land; the RESTARTED stream resumes from the checkpoint
    # (already-ingested file not reprocessed) and commits only new batches
    write(clips.iloc[30:], os.path.join(in_dir, "f1.parquet"))
    q2 = incremental_signatures(spark, in_dir, store, cfg, checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    ids1 = sorted(committed_batch_ids(store))
    assert len(ids1) > len(ids0)

    _run_job(store, wd)  # folds ONLY the new batches, base untouched
    st = MJ._read_state(wd)
    assert st["processed"] == ids1
    assert st["base_v"] == base_v
    assert _assign(MJ.read_current(spark, wd)) == _assign(
        _reference(spark, store, ids1)
    )


def test_maintain_job_all_dup_batch_is_identity(spark, cfg, tmp_path):
    """A pending batch carrying ONLY already-known content (every
    transcript and payload seen in committed batches -- production quiet
    periods, replayed feeds) must fold as an identity: the store's
    anti-join contract gives the batch zero new signature/anchor/energy
    rows, the job still marks it processed and exits 0, and the standing
    assignment is unchanged row-for-row (empty edge set + empty node set
    through cluster_delta must not crash CC or rewrite anything)."""
    store = os.path.join(str(tmp_path), "intake")
    wd = os.path.join(str(tmp_path), "clusters")
    os.makedirs(wd)

    clips, _ = make_clips(40, seed=37)
    ing = BatchIngestor(spark, store, cfg)
    ing.process(spark.createDataFrame(clips), 0)
    _run_job(store, wd)
    before = _assign(MJ.read_current(spark, wd))
    base_v = MJ._read_state(wd)["base_v"]

    # batch 1 = the same clips under fresh clip_ids: same texts, same
    # payloads -> the ingest anti-join emits zero new feature rows
    dup = clips.copy()
    dup["clip_id"] = dup["clip_id"] + "_re"
    ing.process(spark.createDataFrame(dup), 1)
    _run_job(store, wd)

    st = MJ._read_state(wd)
    assert st["processed"] == [0, 1]
    assert st["base_v"] == base_v
    assert _assign(MJ.read_current(spark, wd)) == before


def test_continuous_dedup_cycles(spark, cfg, tmp_path):
    """jobs/continuous_dedup.py: one CLI = drain the landing dir through
    the checkpointed stream + fold pending batches.  Two cycles over a
    growing landing dir must equal the from-scratch all-axis reference
    after each, with the second cycle's stream skipping already-ingested
    files via its checkpoint (no re-commit: batch count grows by the new
    file only)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import jobs.continuous_dedup as CD
    from locality_sensitive_hashing_spark.streaming.incremental import (
        committed_batch_ids,
    )

    schema = pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()),
        ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
        ("codec", pa.string()), ("transcript", pa.string()),
    ])
    root = str(tmp_path)
    in_dir = os.path.join(root, "landing")
    store = os.path.join(root, "intake")
    wd = os.path.join(root, "clusters")
    os.makedirs(in_dir)
    os.makedirs(wd)

    def cycle():
        argv = ["continuous_dedup", "--in", in_dir, "--store", store,
                "--clusters", wd, "--config-json", CFG_JSON]
        old = sys.argv
        sys.argv = argv
        try:
            assert CD.main() == 0
        finally:
            sys.argv = old

    clips, _ = make_clips(50, seed=41)
    pq.write_table(pa.Table.from_pandas(
        clips.iloc[:25], schema=schema, preserve_index=False),
        os.path.join(in_dir, "f0.parquet"))
    cycle()
    ids0 = sorted(committed_batch_ids(store))
    assert _assign(MJ.read_current(spark, wd)) == _assign(
        _reference(spark, store, ids0))

    pq.write_table(pa.Table.from_pandas(
        clips.iloc[25:], schema=schema, preserve_index=False),
        os.path.join(in_dir, "f1.parquet"))
    cycle()
    ids1 = sorted(committed_batch_ids(store))
    assert len(ids1) == len(ids0) + 1  # checkpoint skipped f0
    assert MJ._read_state(wd)["processed"] == ids1
    assert _assign(MJ.read_current(spark, wd)) == _assign(
        _reference(spark, store, ids1))


def test_maintain_job_workdir_lock(spark, cfg, tmp_path):
    """Concurrent maintenance runs on one workdir are a correctness
    hazard (both read the same next_v, then race their parquet writes
    under the manifest-last commit): the second run must refuse loudly
    (exit 2, status=locked) while the lock is held, and the lock must
    release when a run finishes so the next scheduled run proceeds."""
    store = os.path.join(str(tmp_path), "intake")
    wd = os.path.join(str(tmp_path), "clusters")
    os.makedirs(wd)
    clips, _ = make_clips(20, seed=43)
    BatchIngestor(spark, store, cfg).process(spark.createDataFrame(clips), 0)

    # a concurrent holder (flock conflicts across open file descriptions,
    # same or different process) forces the job down the locked path
    fd = MJ._acquire_lock(wd)
    try:
        argv = ["maintain_clusters", "--store", store, "--workdir", wd,
                "--config-json", CFG_JSON]
        old = sys.argv
        sys.argv = argv
        try:
            assert MJ.main() == 2  # locked: loud no-op
        finally:
            sys.argv = old
        assert not os.path.exists(os.path.join(wd, "state.json"))
    finally:
        os.close(fd)

    # holder gone -> the run proceeds and commits
    _run_job(store, wd)
    assert MJ._read_state(wd)["processed"] == [0]


def _gain_pair_corpus(seed: int = 7):
    """(clips_df, src_tr, var_tr): a corpus whose ONLY cross-transcript
    link is a -6 dB/x2 gain re-master pair (audio bytes differ, energy
    symbols shift whole octaves, transcripts unrelated) -- pairable by
    the gain-fingerprint axis alone."""
    import numpy as np

    from locality_sensitive_hashing_spark import audio as A
    from locality_sensitive_hashing_spark.fixtures import (
        _transcript,
        synth_env_pcm,
    )

    rng = np.random.default_rng(seed)
    rows = []
    sr, dur = 8000, 1000
    ints = np.clip(
        np.round(synth_env_pcm(rng, sr, dur) * 0.5 * 32767.0), -32768, 32767
    ).astype(np.int64)
    src_tr = " ".join(_transcript(rng))
    var_tr = " ".join(_transcript(rng))
    rows.append(("gsrc0000", A.encode_wav(ints / 32767.0, sr, "pcm_s16le"),
                 sr, dur, "pcm_s16le", src_tr))
    rows.append(("gvar0000", A.encode_wav((ints * 2) / 32767.0, sr,
                                          "pcm_s16le"),
                 sr, dur, "pcm_s16le", var_tr))
    for i in range(6):  # unrelated fillers on both sides of the split
        pcm = synth_env_pcm(rng, sr, dur)
        rows.append((f"fill{i:04d}", A.encode_wav(pcm, sr, "pcm_s16le"),
                     sr, dur, "pcm_s16le", " ".join(_transcript(rng))))
    import pandas as pd

    clips = pd.DataFrame(rows, columns=["clip_id", "bytes", "sr_hz",
                                        "dur_ms", "codec", "transcript"])
    return clips, src_tr, var_tr


def _tkey(tr: str) -> str:
    import hashlib

    from locality_sensitive_hashing_spark import hashing as H

    return hashlib.sha256(H.normalize_text(tr).encode()).hexdigest()[:32]


def test_maintain_job_gain_axis_crosses_batch_boundary(spark, cfg, tmp_path):
    """A x2-gain re-master arriving in a LATER batch than its source must
    fold into the source's cluster via the gain-fingerprint axis (no
    other detector can pair it: bytes differ, energy symbols shift,
    transcripts unrelated) -- and a pre-codes LEGACY energy store (the
    combined kernel's columns absent) must keep running energy-only,
    leaving the pair apart rather than failing."""
    store = os.path.join(str(tmp_path), "intake")
    wd = os.path.join(str(tmp_path), "clusters")
    os.makedirs(wd)
    clips, src_tr, var_tr = _gain_pair_corpus()
    ing = BatchIngestor(spark, store, cfg)
    is_src = clips.clip_id != "gvar0000"
    ing.process(spark.createDataFrame(clips[is_src]), 0)
    _run_job(store, wd)  # bootstrap WITHOUT the variant
    ing.process(spark.createDataFrame(clips[~is_src]), 1)
    _run_job(store, wd)  # fold: gain blocking via touched windows only
    assign = _assign(MJ.read_current(spark, wd))
    assert assign[_tkey(src_tr)] == assign[_tkey(var_tr)], (
        "gain re-master did not fold into its source's cluster"
    )

    # legacy store: strip the combined kernel's columns from every energy
    # batch -- the job must detect their absence and run energy-only
    legacy = os.path.join(str(tmp_path), "intake_legacy")
    import shutil

    shutil.copytree(store, legacy)
    en_root = os.path.join(legacy, "energy")
    for sub in os.listdir(en_root):
        p = os.path.join(en_root, sub)
        pdf = spark.read.parquet(p).drop("codes", "n_active").toPandas()
        shutil.rmtree(p)
        spark.createDataFrame(pdf).write.parquet(p)
    wd2 = os.path.join(str(tmp_path), "clusters_legacy")
    os.makedirs(wd2)
    _run_job(legacy, wd2)
    assign2 = _assign(MJ.read_current(spark, wd2))
    assert assign2[_tkey(src_tr)] != assign2[_tkey(var_tr)], (
        "legacy store has no codes -- nothing may pair the gain variant"
    )


def test_maintain_job_mixed_era_store_runs_gain_gracefully(spark, cfg,
                                                          tmp_path):
    """MIXED-ERA store (ADVICE round 5, medium): committed batches
    written by the PRE-CODES kernel, pending batches by the combined
    kernel -- the natural state right after upgrading.  The job must not
    crash (the old guard checked only the new frame and every gain-side
    reference to the codes-less old frame raised AnalysisException), the
    cross-era gain pair must stay apart (its source has no codes -- the
    documented graceful degradation), and the maintenance fold must
    still complete end to end."""
    import shutil

    store = os.path.join(str(tmp_path), "intake_mixed")
    wd = os.path.join(str(tmp_path), "clusters_mixed")
    os.makedirs(wd)
    clips, src_tr, var_tr = _gain_pair_corpus()
    ing = BatchIngestor(spark, store, cfg)
    is_src = clips.clip_id != "gvar0000"
    ing.process(spark.createDataFrame(clips[is_src]), 0)
    # age batch 0's energy table to the pre-codes era
    b0 = os.path.join(store, "energy", "b0")
    pdf = spark.read.parquet(b0).drop("codes", "n_active").toPandas()
    shutil.rmtree(b0)
    spark.createDataFrame(pdf).write.parquet(b0)
    _run_job(store, wd)  # bootstrap over the pre-codes era: energy-only
    ing.process(spark.createDataFrame(clips[~is_src]), 1)  # combined era
    _run_job(store, wd)  # mixed era: must fold without AnalysisException
    assign = _assign(MJ.read_current(spark, wd))
    assert assign[_tkey(src_tr)] != assign[_tkey(var_tr)], (
        "the gain source predates codes -- the cross-era pair must stay "
        "apart, not crash or silently merge"
    )


def test_audio_text_edges_gain_restriction_broadcasts(spark):
    """Scale contract of the gain branch: the corpus-scale energy store
    (shingles AND codes sides) is restricted to the BROADCAST pair-
    endpoint set before any shuffle-side use -- with auto-broadcast off,
    every BroadcastHashJoin in the plan is a hinted endpoint/touched
    restriction; and on a tiny graph the energy and gain verifies each
    emit exactly their planted edge."""
    from locality_sensitive_hashing_spark.plans.maintenance import (
        audio_text_edges,
    )

    en = spark.createDataFrame(
        [
            ("A1", [1, 2, 3], [7] * 20, 20),
            ("A2", [1, 2, 4], [7] * 20, 19),   # J=0.5 with A1 (energy pair)
            ("A3", [9, 10, 11], [5] * 24, 24),
            ("A4", [20, 21, 22], [5] * 24, 24),  # BER 0 with A3 (gain pair)
        ],
        "audio_key string, shingles array<int>, codes array<int>, n_active int",
    )
    keyed = spark.createDataFrame(
        [(f"c{i}", f"T{i}", f"A{i}") for i in (1, 2, 3, 4)],
        "clip_id string, text_key string, audio_key string",
    )
    apairs = spark.createDataFrame(
        [("A1", "A2")], "id1 string, id2 string").localCheckpoint()
    gpairs = spark.createDataFrame(
        [("A3", "A4")], "id1 string, id2 string").localCheckpoint()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = audio_text_edges(
            apairs, en.limit(0), en, keyed, keyed.limit(0), CFG,
            gpairs=gpairs,
        )
        plan = edges._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # hinted restrictions: shingles-side eps, codes-side eps, touched
    # audio->text resolution (each may split per union leg)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    got = {tuple(sorted((r.id1, r.id2))) for r in edges.collect()}
    assert got == {("T1", "T2"), ("T3", "T4")}


def _edge_rows(df) -> list:
    return [(r.id1, r.id2) for r in df.collect()]


def test_verified_edges_bootstrap_emits_each_edge_once(spark, cfg, tmp_path):
    """The bootstrap shape (old=None) screens every candidate pair
    against ONE copy of each endpoint's feature rows: a store passed as
    both its own new and old side would join each pair 2^4 times, run
    the Python screens 16x per pair and emit duplicate edges (the text
    screen's output carries no distinct to hide them)."""
    from locality_sensitive_hashing_spark.plans.maintenance import (
        verified_edges,
    )
    from locality_sensitive_hashing_spark.streaming.incremental import (
        read_store,
    )

    store = os.path.join(str(tmp_path), "intake")
    clips, _ = make_clips(40, seed=5)
    BatchIngestor(spark, store, cfg, audio=False, substring=False).process(
        spark.createDataFrame(clips), 0)
    new = {t: read_store(spark, store, t)
           for t in ("signatures", "fingerprints")}
    rows = _edge_rows(verified_edges(CFG, new))
    assert rows, "the planted near-dups must produce edges"
    assert len(rows) == len(set(rows)), sorted(rows)


def test_survivor_edges_match_bootstrap_verified_edges(spark, cfg, tmp_path):
    """Retraction-vs-forward parity: the retraction recompute over ALL
    of a store's text_keys (survivor_edges_builder) yields exactly the
    edges the bootstrap fold (verified_edges, old=None) builds from the
    same store -- on a store carrying every axis (anchors, energy with
    the combined kernel's gain codes)."""
    from locality_sensitive_hashing_spark.plans.maintenance import (
        survivor_edges_builder,
        verified_edges,
    )
    from locality_sensitive_hashing_spark.streaming.incremental import (
        read_store,
    )

    store = os.path.join(str(tmp_path), "intake")
    clips, _ = make_clips(40, seed=5)
    BatchIngestor(spark, store, cfg).process(spark.createDataFrame(clips), 0)
    stores = {t: read_store(spark, store, t)
              for t in ("signatures", "fingerprints", "anchors", "energy")}
    keyed = read_store(spark, store, "keyed")
    assert "codes" in stores["energy"].columns
    survivors = stores["signatures"].select(F.col("text_key").alias("clip_id"))
    got = set(_edge_rows(
        survivor_edges_builder(CFG, stores, keyed)(survivors)))
    ref = set(_edge_rows(verified_edges(CFG, stores, keyed_all=keyed)))
    text = set(_edge_rows(verified_edges(
        CFG, {t: stores[t] for t in ("signatures", "fingerprints")})))
    assert got == ref
    assert text < ref, "the substring and audio axes must add edges"
