#!/usr/bin/env python
"""spark-submit entry point for INCREMENTAL cluster maintenance.

    spark-submit --master <cluster> --py-files lshdedup.zip \
        jobs/maintain_clusters.py --store /data/intake --workdir /data/clusters

The complete 10^12-row maintenance loop as one resumable job, built from
the incremental operators:

- the INTAKE STORE (streaming/incremental.py: `incremental_signatures`
  writes per-batch committed signature subdirs) is the source of truth
  for what has landed;
- ALL not-yet-processed committed batches are processed as ONE combined
  pending set per run: they contribute candidate pairs ONLY from
  blocking groups the set touches (`incremental_pairs_from_blocks` over
  the detectors the intake store materializes: MinHash band buckets
  from the signature store, SimHash pigeonhole chunks from the
  fingerprint store, winnowing-anchor blocks from the anchor store,
  and frame-energy tuple bands from the per-payload energy store),
  verified by the batch pipeline's FULL text_ok for the text axis
  (est-Jaccard OR Hamming OR lazy exact-LCS -- the suffix-array build
  runs only for pairs failing both cheap tests, exactly verify.py's
  discipline) and exact shingle-Jaccard for the audio axis.  Stores
  written before the anchor table existed run without the substring
  term (candidacy without the LCS verify would create false edges, so
  the two ship together).  The AUDIO axis adds two
  text-key edge classes (`audio_text_edges`): byte-identical payloads
  shared across transcripts (star edges over the keyed store -- the
  incremental counterpart of the batch pipeline's audio content
  classes) and energy-LSH near-dup payloads (head-trimmed / noisy
  re-masters under different transcripts, which no text detector can
  pair).  Stores written before the energy table existed run text-only.
  All of this is `plans.maintenance.verified_edges`, which the
  retraction recompute and the driver-channel certification query
  call too.
  Combining is free: the state manifest commits once per run either
  way (so per-batch looping adds no resumability), and CC edge folding
  is order-independent, while a per-batch loop would scan the prior
  corpus and compose the cluster mapping once PER PENDING BATCH --
  with T batches queued that is T corpus-sized reads where one
  suffices. Bucket caps are accordingly evaluated once per run over
  (prior corpus + the whole pending set), the same append-only
  cap-at-emission semantics with the run, not the micro-batch, as the
  emission unit;
- verified edges fold into the standing assignment MERGE-ON-READ
  (`ClusterStore.apply_batch`: contracted-graph CC -> composed broadcast
  mapping + batch-scale delta; the corpus-sized base is NOT rewritten);
- the base is rewritten only when the composed mapping outgrows
  `--fold-budget` rows (`ClusterStore.maybe_fold`) or on `--fold`;
- RETRACTIONS (equality deletes committed to the intake store via
  `commit_retraction`) are processed before pending batches: text_keys
  with zero surviving clips are removed and every cluster a new
  retraction touched is recomputed from the surviving content
  (`ClusterStore.retract` -- clusters SPLIT when a bridge dies, at
  O(affected members), merge-on-read via the `gone` tombstones).  Dead
  keys are DERIVED per run from (keyed minus retracted clips), so a
  later batch that re-lands a dead key's content REVIVES it: its
  still-committed feature rows ride the next incremental pass on the
  NEW side and the node re-enters (and re-merges) like a fresh batch.

State layout under --workdir (all parquet + one JSON manifest, committed
atomically manifest-last, so a crash mid-write resumes from the previous
consistent state and reprocesses at most the in-flight batches --
processing a batch twice is harmless: its pairs produce an identity
delta against an assignment that already contains them, and a replayed
retraction no-ops against an assignment that already dropped it). The
corpus-sized base is versioned SEPARATELY from the batch-scale pending
state, so a maintenance run that does not fold never rewrites it -- the
merge-on-read contract holds ACROSS runs, not just within one:

    base/v<B>/        the standing (clip_id, cluster_id) assignment,
                      rewritten only at bootstrap or fold
    mapping/v<P>/     pending composed label remap (absent when folded)
    delta/v<P>/       pending new-clip assignments (absent when folded)
    gone/v<P>/        pending retraction tombstones (absent when folded
                      or when no retraction is pending)
    dead/v<D>/        (kind, key) dead-key set as of the last run --
                      read only to detect revivals
    state.json        {"processed": [...], "base_v": B,
                       "pend_v": P | null, "next_v": N,
                       "retr_done": [...], "dead_v": D | null}

Exit code 0 iff the state manifest committed. The current assignment is
always `read_current(spark, workdir)` -- base relabeled through the
broadcast mapping, minus the broadcast tombstones, plus delta: the
merge-on-read view.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _read_state(workdir: str) -> dict:
    p = os.path.join(workdir, "state.json")
    if not os.path.exists(p):
        return {"processed": [], "base_v": 0, "pend_v": None, "next_v": 1}
    with open(p) as f:
        return json.load(f)


def _write_state(workdir: str, state: dict) -> None:
    p = os.path.join(workdir, "state.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.rename(tmp, p)  # the commit point


def _with_gain_cols(df):
    """Backfill the combined kernel's gain columns on a PRE-CODES energy
    frame (null codes / n_active): the gain eligibility floor
    (audio_fingerprint.eligible_fingerprints -- size(codes) >= MIN_CODES
    AND n_active bounds) drops null rows, so a legacy batch participates
    in the energy axis only while new-kernel batches keep the gain axis.
    Without this, a MIXED-ERA store (committed pre-codes batches + new
    combined-kernel batches) crashed every gain-side reference to the
    old frame (ADVICE round 5, medium)."""
    from pyspark.sql import functions as F

    out = df
    if "codes" not in out.columns:
        out = out.withColumn("codes", F.lit(None).cast("array<int>"))
    if "n_active" not in out.columns:
        out = out.withColumn("n_active", F.lit(None).cast("int"))
    return out


def _load_store(spark, workdir: str, state: dict):
    """Reconstruct the ClusterStore from committed state WITHOUT folding:
    base, mapping, delta, and the retraction tombstones load as separate
    parquet-backed frames (``gone/`` is absent in pre-retraction
    workdirs and in runs with no pending retraction state)."""
    from locality_sensitive_hashing_spark.operators.connected_components import (
        ClusterStore,
    )

    store = ClusterStore(
        spark.read.parquet(
            os.path.join(workdir, "base", f"v{state['base_v']}")
        )
    )
    if state["pend_v"] is not None:
        p = state["pend_v"]
        store.mapping = spark.read.parquet(
            os.path.join(workdir, "mapping", f"v{p}"))
        store.delta = spark.read.parquet(
            os.path.join(workdir, "delta", f"v{p}"))
        gp = os.path.join(workdir, "gone", f"v{p}")
        if os.path.isdir(gp):
            store.gone = spark.read.parquet(gp)
    return store


def _load_dead(spark, workdir: str, state: dict):
    """The (kind, key) dead-key set persisted by the LAST run, or None
    for a workdir that has never seen a retraction.  Needed to detect
    REVIVALS: a key dead last run but alive now (its content was
    re-ingested) must be re-added as a node this run."""
    v = state.get("dead_v")
    if v is None:
        return None
    return spark.read.parquet(os.path.join(workdir, "dead", f"v{v}"))


def read_current(spark, workdir: str):
    """The merge-on-read view of the committed maintenance state."""
    state = _read_state(workdir)
    return _load_store(spark, workdir, state).current()


class MaintenanceLocked(RuntimeError):
    """Another maintenance run holds this workdir's lock."""


def _acquire_lock(workdir: str):
    """Exclusive non-blocking flock on <workdir>/.maintain.lock.

    Two concurrent runs on one workdir would both read the same
    ``next_v``, then race their ``base/vN`` / ``mapping/vN`` parquet
    writes and the manifest rename -- the LAST manifest wins but may
    reference data the OTHER run overwrote mid-write.  The manifest-last
    protocol makes crashes safe, not concurrency; a scheduler retry
    firing while the previous run is still alive is exactly this case.
    The lock turns it into a loud no-op: the second run exits non-zero
    with status=locked and the scheduler retries later.  The fd is held
    (returned) until process exit; flock dies with the holder, so a
    crashed run never wedges the workdir."""
    import fcntl

    os.makedirs(workdir, exist_ok=True)
    fd = os.open(os.path.join(workdir, ".maintain.lock"),
                 os.O_CREAT | os.O_RDWR, 0o600)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(fd)
        raise MaintenanceLocked(workdir)
    return fd


def main() -> int:
    ap = argparse.ArgumentParser(description="incremental cluster maintenance")
    ap.add_argument("--store", required=True,
                    help="intake store dir (incremental_signatures output)")
    ap.add_argument("--workdir", required=True,
                    help="cluster-state dir (base/mapping/delta + state.json)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--fold-budget", type=int, default=1_000_000,
                    help="fold the base when the composed mapping exceeds "
                         "this many rows (the broadcast budget)")
    ap.add_argument("--fold", action="store_true",
                    help="force a fold at the end of this run")
    ap.add_argument("--config-json", default=None)
    args = ap.parse_args()

    try:
        _lock_fd = _acquire_lock(args.workdir)
    except MaintenanceLocked:
        print(json.dumps({"status": "locked", "workdir": args.workdir}))
        return 2
    try:
        return _locked_main(args)
    finally:
        os.close(_lock_fd)  # releases the flock (also released on crash)


def _locked_main(args) -> int:
    from pyspark.sql import functions as F

    from locality_sensitive_hashing_spark.config import Config
    from locality_sensitive_hashing_spark.operators.connected_components import (
        ClusterStore,
        connected_components,
    )
    from locality_sensitive_hashing_spark.plans.maintenance import (
        survivor_edges_builder,
        verified_edges,
    )
    from locality_sensitive_hashing_spark.session import get_spark
    from locality_sensitive_hashing_spark.streaming.incremental import (
        STORE_TABLES,
        batch_paths,
        committed_batch_ids,
        committed_retraction_ids,
        dead_keys,
        read_retractions,
    )

    cfg = Config(**json.loads(args.config_json)) if args.config_json else Config()
    spark = get_spark(args.master or "local[*]",
                      app_name="lsh-maintain-clusters",
                      shuffle_partitions=cfg.shuffle_partitions)

    state = _read_state(args.workdir)
    done = set(state["processed"])
    todo = sorted(committed_batch_ids(args.store) - done)
    needs_fold = args.fold and state["pend_v"] is not None

    # -- retraction state, all retraction-scale and DERIVED per run:
    # the retracted-clip set is the durable fact; dead keys (zero
    # surviving clips) are recomputed against the CURRENT keyed store,
    # so a re-ingested key stops being dead with no stored list to
    # invalidate.  The last run's dead set is persisted only to detect
    # exactly those revivals.
    all_retr = committed_retraction_ids(args.store)
    retr_done = set(state.get("retr_done", []))
    retr_todo = sorted(all_retr - retr_done)
    retracted = tomb_t = tomb_a = None
    if all_retr:
        retracted = read_retractions(spark, args.store).localCheckpoint()
        tomb_t = dead_keys(spark, args.store, "text_key").localCheckpoint()
        tomb_a = dead_keys(spark, args.store, "audio_key").localCheckpoint()
    prev_dead = _load_dead(spark, args.workdir, state)
    revived_t = revived_a = None
    if prev_dead is not None:
        pt = prev_dead.where(F.col("kind") == "text").select(
            F.col("key").alias("text_key"))
        pa = prev_dead.where(F.col("kind") == "audio").select(
            F.col("key").alias("audio_key"))
        revived_t = (pt.join(tomb_t, "text_key", "left_anti")
                     if tomb_t is not None else pt).localCheckpoint()
        revived_a = (pa.join(tomb_a, "audio_key", "left_anti")
                     if tomb_a is not None else pa).localCheckpoint()
        if revived_t.isEmpty() and revived_a.isEmpty():
            revived_t = revived_a = None
    has_revival = revived_t is not None

    if not todo and not needs_fold and not (done and (retr_todo
                                                      or has_revival)):
        print(json.dumps({"status": "up-to-date", **state}))
        return 0

    tomb = {"text_key": tomb_t, "audio_key": tomb_a, "clip_id": retracted}
    revived = {"text_key": revived_t, "audio_key": revived_a}

    def _minus(df, key):
        return (df.join(F.broadcast(tomb[key]), key, "left_anti")
                if tomb[key] is not None else df)

    def _read(table, ids):
        r = spark.read
        if table == "energy":
            # a store whose committed batches span the pre-codes and
            # combined-kernel eras has per-batch schemas that differ in
            # the gain columns; without mergeSchema the reader picks ONE
            # file's schema nondeterministically (codes silently present
            # or absent). Merged, pre-codes rows read as null codes and
            # fall out at the gain eligibility floor.
            r = r.option("mergeSchema", "true")
        return r.parquet(*batch_paths(args.store, table, ids))

    # reconstruct the in-memory store from the committed state -- base,
    # mapping, delta, gone as-is (reconstruction must NOT fold: the whole
    # point is that only fold() ever rewrites the corpus-sized base)
    base_new = False
    if not done:
        store = None  # bootstrapped from the first batch below
    else:
        store = _load_store(spark, args.workdir, state)

    # the text axes always run; the substring and audio axes run iff the
    # intake store materialized their anchor / energy table (stores
    # written before those existed stay readable: the job simply runs
    # without them) -- verified_edges switches an axis on per present
    # table.  Each table is keyed (and tombstoned) by text_key, except
    # the per-payload energy table (audio_key).
    tables = [t for t in STORE_TABLES if t != "keyed"
              and os.path.isdir(os.path.join(args.store, t))]
    key_of = {t: "audio_key" if t == "energy" else "text_key"
              for t in tables}
    has_audio = "energy" in tables
    all_ids = sorted(done | set(todo))
    keyed_all = (_minus(_read("keyed", all_ids), "clip_id")
                 if has_audio else None)

    # -- 1. retractions FIRST (on the pre-batch graph, where affected
    # clusters are smallest): remove dead nodes and recompute every
    # cluster a new retraction touched, merge-on-read.  Dead keys are
    # passed in full (retract() no-ops on unassigned ids, so replays and
    # long-retracted keys cost nothing); `touched` carries the NEW
    # retractions' surviving text_keys, because a clip retraction can
    # sever an audio star edge between two text_keys that both survive.
    if store is not None and retr_todo:
        edges_fn = survivor_edges_builder(
            cfg, {t: _minus(_read(t, all_ids), key_of[t]) for t in tables},
            keyed=keyed_all)
        new_retr = spark.read.parquet(*[
            os.path.join(args.store, "retractions", f"r{i}")
            for i in retr_todo
        ]).select("clip_id")
        touched = (
            _read("keyed", all_ids)
            .join(F.broadcast(new_retr), "clip_id", "left_semi")
            .select(F.col("text_key").alias("clip_id"))
            .distinct()
        )
        store.retract(
            tomb_t.select(F.col("text_key").alias("clip_id")),
            edges_fn, cfg, touched=touched,
        )

    # -- 2. pending batches + revivals as ONE combined incremental pass:
    # reading each pending batch separately would rescan the prior
    # corpus and re-compose the cluster mapping per batch for no
    # resumability gain (the manifest commits once per run regardless),
    # and CC edges fold order-independently, so the combined result
    # equals the sequential one (pinned by test).  Revived keys ride the
    # same pass: their (still-committed) feature rows move from the old
    # side to the NEW side, so incremental blocking re-pairs them
    # against the whole corpus and apply_batch re-adds them as nodes --
    # revival is just an intake batch whose features already exist.
    # Bootstrap (no standing assignment) has no old side: the pending
    # set clusters from scratch against itself and becomes base v1.
    if todo or has_revival:
        base_ids = sorted(done)

        def _pending(t, key):
            return _minus(_read(t, todo) if todo
                          else _read(t, base_ids).limit(0), key)

        new = {t: _pending(t, key_of[t]) for t in tables}
        old = None
        keyed_new = None
        if store is not None:
            old = {t: _minus(_read(t, base_ids), key_of[t]) for t in tables}
            if has_audio and ("codes" in new["energy"].columns
                              or "codes" in old["energy"].columns):
                # mixed-era store: pending batches written by the
                # combined kernel while committed batches predate it (or
                # vice versa). Align both frames on the gain columns --
                # backfilled null rows fall out at the gain eligibility
                # floor -- so the revival unions and every gain-side
                # reference are schema-safe, and the gain axis keeps
                # running for the new-kernel content instead of crashing
                # or being disabled store-wide (ADVICE round 5, medium).
                new["energy"] = _with_gain_cols(new["energy"])
                old["energy"] = _with_gain_cols(old["energy"])
            if has_revival:
                for t in tables:
                    rev = F.broadcast(revived[key_of[t]])
                    new[t] = new[t].unionByName(
                        old[t].join(rev, key_of[t], "left_semi"))
                    old[t] = old[t].join(rev, key_of[t], "left_anti")
            if has_audio:
                keyed_new = _pending("keyed", "clip_id")
                if has_revival:
                    krev = keyed_all.join(
                        F.broadcast(revived_a), "audio_key", "left_semi"
                    ).unionByName(keyed_all.join(
                        F.broadcast(revived_t), "text_key", "left_semi"
                    )).distinct()
                    keyed_new = keyed_new.unionByName(krev).distinct()
        new_nodes = new["signatures"].select(
            F.col("text_key").alias("clip_id"))
        # ``edges`` stays lazy: connected_components (bootstrap) and
        # apply_batch (cluster_delta) each materialize it once
        edges = verified_edges(cfg, new, old, keyed_all, keyed_new)
        if store is None:
            base = connected_components(edges, new_nodes, cfg)
            store = ClusterStore(base.localCheckpoint())
            base_new = True
        else:
            store.apply_batch(edges, new_nodes, cfg)
        done.update(todo)

    folded = store.maybe_fold(args.fold_budget)
    pending = (store.mapping is not None or store.delta is not None
               or store.gone is not None)
    if args.fold and not folded and pending:
        store.fold()
        folded = True
    base_new = base_new or folded

    # commit: data dirs first, manifest (state.json) last
    v = state["next_v"]
    base_v = state["base_v"]
    if base_new:  # bootstrap or fold -- the ONLY corpus-sized writes
        store.base.write.mode("overwrite").parquet(
            os.path.join(args.workdir, "base", f"v{v}"))
        base_v = v
    pend_v = None
    if store.mapping is not None or store.delta is not None \
            or store.gone is not None:
        mp = (store.mapping if store.mapping is not None
              else spark.createDataFrame([], "_from string, _to string"))
        dl = (store.delta if store.delta is not None
              else spark.createDataFrame(
                  [], "clip_id string, cluster_id string"))
        mp.write.mode("overwrite").parquet(
            os.path.join(args.workdir, "mapping", f"v{v}"))
        dl.write.mode("overwrite").parquet(
            os.path.join(args.workdir, "delta", f"v{v}"))
        if store.gone is not None:
            store.gone.write.mode("overwrite").parquet(
                os.path.join(args.workdir, "gone", f"v{v}"))
        pend_v = v
    dead_v = state.get("dead_v")
    if all_retr:
        dt = tomb_t.select(F.lit("text").alias("kind"),
                           F.col("text_key").alias("key"))
        da = tomb_a.select(F.lit("audio").alias("kind"),
                           F.col("audio_key").alias("key"))
        dt.unionByName(da).write.mode("overwrite").parquet(
            os.path.join(args.workdir, "dead", f"v{v}"))
        dead_v = v
    new_state = {"processed": sorted(done), "base_v": base_v,
                 "pend_v": pend_v, "next_v": v + 1,
                 "retr_done": sorted(all_retr), "dead_v": dead_v}
    _write_state(args.workdir, new_state)
    n = read_current(spark, args.workdir).count()
    print(json.dumps({"status": "ok", "n_assigned": n, **new_state}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
