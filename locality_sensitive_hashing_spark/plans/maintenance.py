"""Incremental-maintenance building blocks (the maintenance loop's
candidate/screen/edge operators).  :func:`verified_edges` assembles
them into the loop's full edge set and is the only entry point its
callers use: the spark-submit job's forward fold
(jobs/maintain_clusters.py), its retraction recompute
(:func:`survivor_edges_builder`) and the driver-channel certification
query (entry_queries.q_incremental_maintenance_clusters).

These operate on INTAKE-STORE-shaped tables (streaming/incremental.py
layout): ``signatures`` (text_key, norm, sig, band_hashes),
``fingerprints`` (text_key, fingerprint), ``anchors`` (text_key,
anchor), ``energy`` (audio_key, decode_ok, shingles, sig [, codes,
n_active -- the combined kernel's gain-fingerprint columns; stores
written before them run the audio axis energy-only]) and ``keyed``
(clip_id, text_key, audio_key).  Every function takes a (new, old) pair
of frames so the same code serves the bootstrap (old = empty) and the
fold (old = the committed corpus) paths.

Scale contract shared by all of them: candidate pairs and the pending
sets are BATCH-scale and broadcast; the corpus-scale stores are only
ever scanned and semi-restricted map-side (broadcast endpoint sets),
never shuffled wholesale.  See each docstring for the per-operator
shape.

Materialization contract: :func:`verified_edges` materializes the
candidate PAIR frames (each feeds an endpoint broadcast and a verify
join); the verified EDGE frames stay lazy and are handed straight to the
cluster operators, which read them exactly once
(``connected_components`` checkpoints its symmetric edge table,
``cluster_delta`` checkpoints its edge input), so the Python screens
run once per pair however many actions follow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from locality_sensitive_hashing_spark.config import Config


def energy_pairs(cfg: Config, new_en: DataFrame, old_en: DataFrame) -> DataFrame:
    """Frame-energy LSH incremental candidates over DISTINCT PAYLOADS
    (the intake store's one-row-per-audio_key energy table): tuple-band
    blocking (audio_lsh.explode_energy_bands) restricted to blocks the
    pending set touches -- the audio analog of the MinHash/SimHash block
    pairing, same bucket-cap-at-emission semantics."""
    from locality_sensitive_hashing_spark.operators.audio_lsh import (
        explode_energy_bands,
    )
    from locality_sensitive_hashing_spark.operators.candidates import (
        incremental_pairs_from_blocks,
    )

    en = incremental_pairs_from_blocks(
        explode_energy_bands(new_en, cfg, id_col="audio_key"),
        explode_energy_bands(old_en, cfg, id_col="audio_key"),
        ["band_id", "bkey"], cfg.bucket_cap, "en", id_col="audio_key",
    )
    return en.select("id1", "id2")


def gain_pairs(cfg: Config, new_fp: DataFrame, old_fp: DataFrame) -> DataFrame:
    """Gain-axis incremental candidates over DISTINCT PAYLOADS: the
    Haitsma-Kalker sign-fingerprint pigeonhole window blocks
    (audio_fingerprint.fingerprint_blocks, eligibility floor included)
    restricted to blocks the pending set touches -- pairs +6 dB / -6 dB
    re-masters and dithered re-encodes the energy detector misses by
    construction.  Inputs are intake-store energy frames carrying the
    combined kernel's ``codes``/``n_active`` columns
    (audio_lsh.with_store_audio_features)."""
    from locality_sensitive_hashing_spark.operators.audio_fingerprint import (
        fingerprint_blocks,
    )
    from locality_sensitive_hashing_spark.operators.candidates import (
        incremental_pairs_from_blocks,
    )

    gp = incremental_pairs_from_blocks(
        fingerprint_blocks(new_fp, id_col="audio_key"),
        fingerprint_blocks(old_fp, id_col="audio_key"),
        ["win_idx", "wkey"], cfg.bucket_cap, "gfp", id_col="audio_key",
    )
    return gp.select("id1", "id2")


def audio_text_edges(apairs: DataFrame, new_en: DataFrame, old_en: DataFrame,
                     keyed_all: DataFrame, keyed_pending: DataFrame,
                     cfg: Config, gpairs: DataFrame | None = None) -> DataFrame:
    """Audio-axis edges in TEXT-KEY space, three dup classes:

    (a) EXACT -- an audio_key shared by clips with different transcripts:
        star edges from the key's min text_key to its other text_keys
        (byte equality via the sha2 content key -- stronger than any
        decode verify).  Emitted for every audio_key the pending set
        touches, resolved over the FULL keyed store, so a payload
        republished under a new transcript merges with every transcript
        it ever appeared under, whichever batch they landed in.
    (b) NEAR-DUP -- energy-LSH candidate pairs verified by EXACT Jaccard
        over the stored shingle sets (>= audio_lsh.JACCARD_THRESHOLD,
        JVM array_intersect/array_union -- no Python), endpoints mapped
        through the same min-text_key representative; the star edges
        make the representative choice immaterial to the components.
    (c) GAIN -- when ``gpairs`` is given (intake store carries the
        combined kernel's ``codes`` column), sign-fingerprint candidates
        verified by exact bit-error-rate over the stored code sequences
        (equal length, BER <= audio_fingerprint.BER_MAX -- JVM
        zip_with/bit_count, no Python), same representative mapping.

    Scale shape: candidate pairs and the pending/endpoint audio_key sets
    are batch-scale and BROADCAST; the corpus-scale energy and keyed
    stores are semi-restricted map-side before any shuffle (the
    :func:`screened_edges` discipline).  ``apairs`` (and ``gpairs``)
    must be materialized by the caller (they feed the endpoint broadcast
    and the verify joins)."""
    from pyspark.sql import functions as F

    from locality_sensitive_hashing_spark.operators import audio_lsh as AL
    from locality_sensitive_hashing_spark.operators import (
        audio_fingerprint as AFP,
    )

    def _eps(p):
        return (
            p.select(F.col("id1").alias("audio_key"))
            .unionByName(p.select(F.col("id2").alias("audio_key")))
            .distinct()
        )

    eps = _eps(apairs)
    if gpairs is not None:
        eps = eps.unionByName(_eps(gpairs)).distinct()
    en_all = (
        old_en.select("audio_key", "shingles")
        .unionByName(new_en.select("audio_key", "shingles"))
        .join(F.broadcast(eps), "audio_key")
    )
    s1 = en_all.select(
        F.col("audio_key").alias("id1"), F.col("shingles").alias("_h1"))
    s2 = en_all.select(
        F.col("audio_key").alias("id2"), F.col("shingles").alias("_h2"))
    jac = (
        F.size(F.array_intersect("_h1", "_h2")).cast("double")
        / F.size(F.array_union("_h1", "_h2"))
    )
    vpairs = (
        apairs.join(s1, "id1").join(s2, "id2")
        .where(jac >= AL.JACCARD_THRESHOLD)
        .select("id1", "id2")
    )
    if gpairs is not None:
        cd_all = (
            old_en.select("audio_key", "codes")
            .unionByName(new_en.select("audio_key", "codes"))
            .join(F.broadcast(eps), "audio_key")
        )
        c1 = cd_all.select(
            F.col("audio_key").alias("id1"), F.col("codes").alias("_c1"))
        c2 = cd_all.select(
            F.col("audio_key").alias("id2"), F.col("codes").alias("_c2"))
        ber = F.expr(
            "aggregate(zip_with(_c1, _c2, (a, b) -> bit_count(a ^ b)), 0, "
            "(acc, x) -> acc + x)"
        ).cast("double") / (F.lit(AFP.CODE_BITS) * F.size("_c1"))
        gv = (
            gpairs.join(c1, "id1").join(c2, "id2")
            .where(F.size("_c1") == F.size("_c2"))
            .where(F.round(ber, 6) <= AFP.BER_MAX)
            .select("id1", "id2")
        )
        vpairs = vpairs.unionByName(gv).distinct()
    touched = (
        keyed_pending.select("audio_key").unionByName(eps).distinct()
    )
    a2t = (
        keyed_all.select("audio_key", "text_key")
        .join(F.broadcast(touched), "audio_key")
        .distinct()
    )
    rep = a2t.groupBy("audio_key").agg(F.min("text_key").alias("rep"))
    stars = (
        a2t.join(rep, "audio_key")
        .where(F.col("text_key") != F.col("rep"))
        .select(F.col("rep").alias("id1"), F.col("text_key").alias("id2"))
    )
    r1 = rep.select(F.col("audio_key").alias("id1"), F.col("rep").alias("_t1"))
    r2 = rep.select(F.col("audio_key").alias("id2"), F.col("rep").alias("_t2"))
    near = (
        vpairs.join(r1, "id1").join(r2, "id2")
        .where(F.col("_t1") != F.col("_t2"))
        .select(F.col("_t1").alias("id1"), F.col("_t2").alias("id2"))
    )
    return stars.unionByName(near).distinct()


def sa_pairs(cfg: Config, new_anchors: DataFrame,
             old_anchors: DataFrame) -> DataFrame:
    """Substring-axis incremental candidates: winnowing-anchor blocks
    (suffix_array.with_anchors materialized in the intake store, one
    text_key per distinct text) restricted to anchors the pending set
    touches -- the incremental counterpart of sa_anchor_pairs.  Anchor
    candidacy is only safe together with its exact-LCS verify, which
    :func:`screened_edges` with ``lcs=True`` supplies (the same lazy
    shared-substring term the batch pipeline's text_ok carries:
    operators.verify.text_pair_verdict)."""
    from locality_sensitive_hashing_spark.operators.candidates import (
        incremental_pairs_from_blocks,
    )

    sa = incremental_pairs_from_blocks(
        new_anchors, old_anchors, ["anchor"], cfg.bucket_cap, "sa",
        id_col="text_key",
    )
    return sa.select("id1", "id2")


def batch_pairs(cfg: Config, new_sigs: DataFrame, old_sigs: DataFrame,
                new_fps: DataFrame, old_fps: DataFrame) -> DataFrame:
    """Two-detector incremental candidates: MinHash band buckets +
    SimHash pigeonhole chunks, both restricted to blocking groups the
    batch touches (the SA detector joins via :func:`sa_pairs` when the
    intake store materializes the anchor table -- its candidacy is only
    safe together with the LCS verify ``screened_edges(lcs=True)``
    adds)."""
    from pyspark.sql import functions as F  # noqa: F401  (parity w/ callers)

    from locality_sensitive_hashing_spark.operators.candidates import (
        incremental_pairs_from_blocks,
    )
    from locality_sensitive_hashing_spark.operators.minhash import explode_bands
    from locality_sensitive_hashing_spark.operators.simhash import explode_chunks

    mh = incremental_pairs_from_blocks(
        explode_bands(new_sigs, id_col="text_key"),
        explode_bands(old_sigs, id_col="text_key"),
        ["band_id", "band_hash"], cfg.bucket_cap, "mh", id_col="text_key",
    )
    sh = incremental_pairs_from_blocks(
        explode_chunks(new_fps, cfg, id_col="text_key"),
        explode_chunks(old_fps, cfg, id_col="text_key"),
        ["chunk_id", "chunk_val"], cfg.bucket_cap, "sh", id_col="text_key",
    )
    return (
        mh.select("id1", "id2")
        .unionByName(sh.select("id1", "id2"))
        .distinct()
    )


def screened_edges(pairs: DataFrame, new_sigs: DataFrame, old_sigs: DataFrame,
                   new_fps: DataFrame, old_fps: DataFrame, cfg: Config,
                   lcs: bool = False) -> DataFrame:
    """The text verdict over the candidate pairs: the (id1, id2) rows
    :func:`..operators.verify.text_pair_verdict` passes -- est-Jaccard >=
    threshold OR Hamming(fingerprints) <= t, plus -- when ``lcs=True``
    (intake store carries the anchor table) -- the lazy exact-LCS term
    for any candidate pair, making this the batch pipeline's full
    text_ok.  One Arrow pass (est + lazy LCS) and one JVM bit_count per
    pair; the suffix-array build runs only for pairs failing both cheap
    tests.

    ``pairs`` is batch-scale while the signature/fingerprint stores are
    corpus-scale, so joining them directly would shuffle the corpus.
    Instead the pair-endpoint id set (batch-scale) is BROADCAST and the
    corpus tables are semi-restricted map-side first -- the corpus is
    scanned, never shuffled (the same shape cluster_delta uses for its
    label lookup). ``pairs`` must be materialized by the caller
    (localCheckpoint) since it feeds both the endpoint broadcast and
    the verdict joins.  The returned edges are a lazy plan the caller
    need not materialize: the cluster operators read it once (module
    docstring).
    """
    from pyspark.sql import functions as F

    from locality_sensitive_hashing_spark.operators.verify import (
        text_pair_verdict,
    )

    eps = F.broadcast(
        pairs.select(F.col("id1").alias("text_key"))
        .unionByName(pairs.select(F.col("id2").alias("text_key")))
        .distinct()
    )
    # text_keys are disjoint across batches (the intake store's anti-join
    # contract), so a plain union is one-row-per-key already; the
    # broadcast endpoint semi-join cuts it to batch-scale before any
    # shuffle-side use
    sig_cols = ["text_key", "sig", "norm"]
    feats = (
        old_sigs.select(*sig_cols).unionByName(new_sigs.select(*sig_cols))
        .join(eps, "text_key")
        .join(
            old_fps.select("text_key", "fingerprint")
            .unionByName(new_fps.select("text_key", "fingerprint"))
            .join(eps, "text_key"),
            "text_key")
    )
    return (
        text_pair_verdict(pairs, feats, F.lit(lcs), cfg)
        .where("text_ok").select("id1", "id2")
    )


def verified_edges(cfg: Config, new: dict, old: dict | None = None,
                   keyed_all: DataFrame | None = None,
                   keyed_new: DataFrame | None = None) -> DataFrame:
    """ALL verified edges the maintenance loop folds: the one place that
    decides which axes run and how each is screened.

    ``new`` and ``old`` map intake-store table names
    (``streaming.incremental.STORE_TABLES``) to frames: ``signatures``
    and ``fingerprints`` always, ``anchors`` and ``energy`` optionally.
    A present key switches its axis on -- ``anchors`` adds
    :func:`sa_pairs` and the lazy LCS term (candidacy without it would
    create false edges, so the two ship together); ``energy`` adds
    :func:`energy_pairs` and the :func:`audio_text_edges` classes (and
    needs ``keyed_all``), plus :func:`gain_pairs` when it carries the
    combined kernel's ``codes`` column.  ``old=None`` is the bootstrap
    shape: every ``new`` frame against an empty old side, and
    ``keyed_new`` defaults to ``keyed_all``.

    Materialization per the module contract: candidate pairs (and the
    audio/gain pairs) are localCheckpointed here; the returned edges
    stay lazy.
    """
    if old is None:
        old = {t: df.limit(0) for t, df in new.items()}
        keyed_new = keyed_all if keyed_new is None else keyed_new
    lcs = "anchors" in new
    pairs = batch_pairs(cfg, new["signatures"], old["signatures"],
                        new["fingerprints"], old["fingerprints"])
    if lcs:
        pairs = pairs.unionByName(
            sa_pairs(cfg, new["anchors"], old["anchors"])).distinct()
    pairs = pairs.localCheckpoint()  # endpoint broadcast + verdict joins
    edges = screened_edges(
        pairs, new["signatures"], old["signatures"], new["fingerprints"],
        old["fingerprints"], cfg, lcs=lcs)
    if "energy" in new:
        en, old_en = new["energy"], old["energy"]
        apairs = energy_pairs(cfg, en, old_en).localCheckpoint()
        gp = (gain_pairs(cfg, en, old_en).localCheckpoint()
              if "codes" in en.columns else None)
        edges = edges.unionByName(audio_text_edges(
            apairs, en, old_en, keyed_all, keyed_new, cfg, gpairs=gp
        )).distinct()
    return edges


def survivor_edges_builder(cfg: Config, stores: dict,
                           keyed: DataFrame | None = None):
    """Build the ``edges_fn`` a retraction needs
    (:meth:`ClusterStore.retract`): given a survivor text_key set,
    recompute ALL verified edges among it from the committed stores --
    :func:`verified_edges` in its bootstrap shape over the stores
    restricted to the survivors, so the retraction and the forward
    fold share one edge rule.

    ``stores`` holds the (already tombstone-filtered) corpus-wide store
    frames keyed by table name, with the same presence contract as
    :func:`verified_edges`; ``keyed`` is required with ``energy``.
    Scale shape: the survivor set is affected-clusters-sized and
    BROADCAST; every store is scanned once, semi-restricted map-side,
    never shuffled wholesale.
    """
    from pyspark.sql import functions as F

    def edges_fn(survivors: DataFrame) -> DataFrame:
        st = F.broadcast(survivors.select(
            F.col("clip_id").alias("text_key")
        ).localCheckpoint())
        sub = {t: df.join(st, "text_key")
               for t, df in stores.items() if t != "energy"}
        keyed_s = None
        if "energy" in stores:
            keyed_s = keyed.join(st, "text_key").localCheckpoint()
            akeys = keyed_s.select("audio_key").distinct()
            sub["energy"] = stores["energy"].join(
                F.broadcast(akeys), "audio_key")
        return verified_edges(
            cfg, {t: df.localCheckpoint() for t, df in sub.items()},
            keyed_all=keyed_s)

    return edges_fn
