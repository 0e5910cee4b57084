"""Iterative DataFrame connected components (O21): min-label propagation.

The reference folded verified pairs into disjoint sets with an in-process
union-find (REF? "dup sets", UNVERIFIED -- empty mount; MMDS section 3.4
practice). Union-find is inherently sequential, so the Spark-native
equivalent is hash-partitioned min-label propagation (BASELINE.json
"iterative DataFrame connected-components (hash-partitioned label
propagation)"): every node starts labeled with itself; each round every
node takes the min label among itself and its neighbors, then composes
the label through itself (POINTER JUMPING: label <- label(label), one
extra self-join per round), so the effective propagation radius squares
each round -- convergence in O(log diameter) rounds, not O(diameter).
Duplicate clusters usually have tiny diameters (chains of near-dups),
but capped-LSH pair graphs at bench scale measured diameters > 25
(BENCH/MAINTAIN.md), which plain propagation cannot cover under a sane
iteration cap; an iteration cap + convergence assertion still guard
pathological graphs.

The fixed point labels every node with the minimum clip_id in its
component -- exactly the oracle's union-find cluster_id convention
(min-id, SURVEY.md Appendix B item 6).

Scale notes: each round is one join + one partial-agg groupBy on the SAME
key (clip_id), so the shuffle partitioning is reused; checkpointing
truncates the growing lineage each round (SURVEY.md section 4.2); the
convergence check rides the SAME job via ``Observation`` (VERDICT r3
item 6): the label aggregation carries each node's previous label
through the groupBy, an observe() node sums ``new < old`` while the
checkpoint materializes, and the driver reads the metric without
launching a second join-plus-count job per iteration.

Checkpoint mode: ``localCheckpoint`` (default) stores blocks on executors
-- cheapest, but a lost executor on a real cluster loses blocks and fails
the job.  ``cfg.cc_reliable_checkpoint=True`` switches every round,
:func:`cluster_delta`'s two input materializations and the screened
rep-pair frame of ``verify.expand_and_verify`` to reliable
``checkpoint()`` into the SparkContext checkpoint dir (set it to
HDFS/S3 on a cluster; a temp dir is provisioned automatically in local
mode).  Execution-only knob: results are identical (pinned by tests).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locality_sensitive_hashing_spark.config import Config


def _checkpointer(df: DataFrame, cfg: Config):
    if not cfg.cc_reliable_checkpoint:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        # local-mode convenience only; clusters must set a durable dir
        sc.setCheckpointDir(tempfile.mkdtemp(prefix="lsh_cc_ckpt_"))
    return df.checkpoint()


def connected_components(
    edges: DataFrame, nodes: DataFrame, cfg: Config
) -> DataFrame:
    """(clip_id, cluster_id) with cluster_id = min clip_id in component.

    ``edges``: (id1, id2) verified dup pairs; ``nodes``: (clip_id) the full
    clip universe (singletons label themselves).  ``edges`` may be a lazy
    plan (the maintenance job's bootstrap and ``ClusterStore.retract``
    pass UDF-screened edge frames): it is read exactly once, by the
    checkpoint of the symmetric edge table below.
    """
    from pyspark.sql import Observation

    # both directions of every edge from ONE pass over ``edges``: a union
    # of two projections would evaluate a lazy input twice
    sym = _checkpointer(
        edges.select(
            F.explode(F.array(
                F.struct(F.col("id1").alias("src"), F.col("id2").alias("dst")),
                F.struct(F.col("id2").alias("src"), F.col("id1").alias("dst")),
            )).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct(),
        cfg,
    )
    # Iterate over the EDGE-INDUCED subgraph only (round 6): a node with
    # no incident edge keeps its own label at every round by definition,
    # so propagating over it is pure waste -- at corpus scale the
    # iteration state shrinks from |V| to |touched V| (usually orders of
    # magnitude under the dedup rate), and singletons rejoin as a single
    # narrow anti-join projection below.  Result-identical (min-label per
    # component; isolated nodes label themselves either way).
    enodes = sym.select(F.col("src").alias("clip_id")).distinct()
    labels = _checkpointer(
        enodes.select("clip_id", F.col("clip_id").alias("cluster_id")), cfg
    )
    singletons = nodes.select(
        "clip_id", F.col("clip_id").alias("cluster_id")
    ).join(enodes, "clip_id", "left_anti")

    for _ in range(cfg.cc_max_iters):
        # neighbor label messages: dst receives src's current label; the
        # self row additionally carries the node's previous label so the
        # min-aggregation exposes old-vs-new without a second join
        msgs = (
            sym.join(labels, sym.src == labels.clip_id)
            .select(
                F.col("dst").alias("clip_id"), "cluster_id",
                F.lit(None).cast(labels.schema["cluster_id"].dataType).alias("_old"),
            )
        )
        agg = (
            labels.select("clip_id", "cluster_id", F.col("cluster_id").alias("_old"))
            .unionByName(msgs)
            .groupBy("clip_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                # exactly one non-null _old per node: its previous label
                F.min("_old").alias("_old"),
            )
        )
        # POINTER JUMPING: label <- label(label).  Labels are always node
        # ids of the same component (min over member ids, monotonically
        # non-increasing), and every node has a row in ``agg``, so the
        # lookup join is inner and 1:1.  Composing the label through
        # itself squares the effective propagation radius each round --
        # O(log diameter) rounds instead of O(diameter).  Found the hard
        # way: the maintenance bootstrap over the 90k-clip bench corpus
        # builds capped-LSH pair graphs with diameter > 25, which blew
        # the iteration cap under plain neighbor propagation
        # (BENCH/MAINTAIN.md); dup chains in the flagship path are
        # short, so this was invisible at fixture scale.
        lk = agg.select(
            F.col("clip_id").alias("_lk"), F.col("cluster_id").alias("_lkc")
        )
        jumped = (
            agg.join(lk, agg.cluster_id == F.col("_lk"))
            .select("clip_id", F.col("_lkc").alias("cluster_id"), "_old")
        )
        obs = Observation()
        observed = jumped.observe(
            obs,
            F.sum(
                (F.col("cluster_id") < F.col("_old")).cast("long")
            ).alias("changed"),
        )
        # the (eager) checkpoint materializes the iteration's ONLY job;
        # obs.get just reads the metric that job already produced
        new_labels = _checkpointer(
            observed.select("clip_id", "cluster_id"), cfg
        )
        labels = new_labels
        if not obs.get["changed"]:  # 0 changed, or null (zero-edge graph)
            return labels.unionByName(singletons)
    raise RuntimeError(
        f"connected components did not converge in {cfg.cc_max_iters} iters"
    )


def cluster_delta(
    prev: DataFrame, new_edges: DataFrame, new_nodes: DataFrame, cfg: Config
) -> tuple[DataFrame, DataFrame]:
    """The BATCH-SCALE delta of folding new edges + nodes into ``prev``:
    returns ``(mapping, new_assign)`` where ``mapping`` is the
    (_from, _to) old-label -> new-label remap of TOUCHED components only
    (non-identity rows, at most one per merged component) and
    ``new_assign`` is the (clip_id, cluster_id) assignment for the new
    nodes.  Nothing corpus-sized is produced: ``prev`` is read only to
    look up the labels of the batch edges' endpoints (a broadcast
    semi-restriction + map-side join -- prev is scanned, never shuffled),
    and :func:`connected_components` runs on the CONTRACTED label graph,
    whose size scales with the batch.

    Because a previous label IS the min clip_id of its component, the min
    label of a merged contracted component equals the min clip_id of the
    merged component, so applying the delta reproduces full CC over the
    union of all edges and nodes exactly (pinned by test).

    Requirements: ``new_nodes`` is disjoint from ``prev`` ids (the intake
    store's per-batch dedup guarantees this), and every ``new_edges``
    endpoint appears in ``prev`` or ``new_nodes``.  ``new_edges`` may be
    lazy (the maintenance job passes its UDF-screened edge plan): it is
    materialized once here, projected to (id1, id2), and so is the
    contracted edge table after the label lookup -- both are
    batch-scale, and every consumer (the endpoint set, the contraction,
    CC, the returned frames' later actions) then reads the
    materialization instead of re-running the screen or re-scanning
    ``prev``.
    """
    new_edges = _checkpointer(new_edges.select("id1", "id2"), cfg)
    eps = (
        new_edges.select(F.col("id1").alias("clip_id"))
        .unionByName(new_edges.select(F.col("id2").alias("clip_id")))
        .distinct()
    )
    # batch-scale label lookup: broadcast the endpoint ids so the corpus
    # assignment is scanned map-side, not shuffled
    touched = prev.join(F.broadcast(eps), "clip_id")
    l1 = touched.select(F.col("clip_id").alias("id1"), F.col("cluster_id").alias("_l1"))
    l2 = touched.select(F.col("clip_id").alias("id2"), F.col("cluster_id").alias("_l2"))
    contracted = _checkpointer(
        new_edges.join(l1, "id1", "left")
        .join(l2, "id2", "left")
        .select(
            F.coalesce("_l1", F.col("id1")).alias("id1"),
            F.coalesce("_l2", F.col("id2")).alias("id2"),
        )
        .where(F.col("id1") != F.col("id2")),
        cfg,
    )
    cnodes = (
        contracted.select(F.col("id1").alias("clip_id"))
        .unionByName(contracted.select(F.col("id2").alias("clip_id")))
        .unionByName(new_nodes.select("clip_id"))
        .distinct()
    )
    full_map = connected_components(contracted, cnodes, cfg).select(
        F.col("clip_id").alias("_from"), F.col("cluster_id").alias("_to")
    )
    new_assign = (
        new_nodes.select("clip_id")
        .join(full_map, new_nodes.clip_id == full_map._from, "left")
        .select("clip_id", F.coalesce("_to", F.col("clip_id")).alias("cluster_id"))
    )
    # keep the mapping minimal -- it is broadcast on every read of the
    # merge-on-read view: drop identities and entries keyed by THIS
    # batch's new ids (no existing row can carry a new id as its label)
    mapping = (
        full_map.where(F.col("_from") != F.col("_to"))
        .join(new_nodes.select(F.col("clip_id").alias("_from")), "_from", "left_anti")
    )
    return mapping, new_assign


def apply_mapping(assign: DataFrame, mapping: DataFrame) -> DataFrame:
    """Relabel a (clip_id, cluster_id) assignment through a broadcast
    (_from, _to) label mapping: ONE map-side broadcast-hash join, no
    shuffle of ``assign`` -- the merge-on-read read path."""
    return assign.join(
        F.broadcast(mapping), assign.cluster_id == mapping._from, "left"
    ).select(
        "clip_id", F.coalesce("_to", F.col("cluster_id")).alias("cluster_id")
    )


def compose_mappings(m1: DataFrame | None, m2: DataFrame) -> DataFrame:
    """Compose label remaps: the returned mapping applies ``m1`` then
    ``m2`` (both partial functions, identity outside their domain).  Rows:
    x in dom(m1): x -> m2+(m1(x)); x in dom(m2)\\dom(m1): x -> m2(x).
    Sizes are bounded by touched components, so this is tiny-DF algebra;
    the merge-on-read store folds every batch's delta into ONE composed
    mapping so the read path never chains joins."""
    if m1 is None:
        return m2
    a, b = m1.alias("a"), m2.alias("b")
    part1 = a.join(b, F.col("a._to") == F.col("b._from"), "left").select(
        F.col("a._from").alias("_from"),
        F.coalesce(F.col("b._to"), F.col("a._to")).alias("_to"),
    )
    part2 = m2.join(m1.select("_from"), "_from", "left_anti")
    # min-label relabels only ever decrease, so composition cannot create
    # identities; the filter is a cheap invariant guard
    return part1.unionByName(part2).where(F.col("_from") != F.col("_to"))


def merge_clusters(
    prev: DataFrame, new_edges: DataFrame, new_nodes: DataFrame, cfg: Config
) -> DataFrame:
    """Incremental CC, EAGER form: fold NEW verified edges + NEW nodes
    into an existing (clip_id, cluster_id) assignment without
    re-clustering the corpus, materializing the fully-relabeled
    assignment (one corpus-linear broadcast relabel).  The merge-on-read
    form that defers exactly that corpus-linear step is
    :class:`ClusterStore`; both are built on :func:`cluster_delta`.
    """
    mapping, new_assign = cluster_delta(prev, new_edges, new_nodes, cfg)
    return apply_mapping(prev, mapping).unionByName(new_assign)


class ClusterStore:
    """Merge-on-read incremental cluster state (VERDICT r3 item 1).

    At 10^12 clips the standing (clip_id, cluster_id) assignment is a
    corpus-sized table; rewriting it per intake batch (as
    :func:`merge_clusters` does) makes every batch corpus-linear.  This
    store keeps three pieces instead:

    - ``base``: the corpus-sized assignment, IMMUTABLE between folds;
    - ``mapping``: ONE composed (_from, _to) label remap covering every
      batch since the last fold (bounded by touched components --
      broadcast-sized);
    - ``delta``: (clip_id, cluster_id) for clips added since the last
      fold, kept current as later batches merge components (batch-scale;
      re-materialized per batch via localCheckpoint, which is what a
      production store does by committing the delta parquet per batch);
    - ``gone``: (clip_id) node tombstones from retractions since the
      last fold (retraction-scale) -- the equality-delete half of the
      merge-on-read contract (:meth:`retract`).

    Read path (:meth:`current`): ``base`` relabeled through the broadcast
    ``mapping`` (map-side hash join -- base is scanned, never shuffled),
    anti-joined against the broadcast ``gone`` tombstones, unioned with
    ``delta``.  Per-batch write (:meth:`apply_batch`) costs
    O(batch + touched components).  :meth:`fold` is the ONLY
    corpus-linear step -- applying the composed mapping, dropping the
    tombstoned rows, and absorbing the delta into a new base -- and is a
    policy decision (every K batches / when the pending broadcast state
    grows past budget), not a per-batch tax.
    The view and the folded table are identical by construction (pinned
    by test and by the SQL-checked ``incremental_relabel_view`` query).
    """

    def __init__(self, base: DataFrame):
        self.base = base
        self.mapping: DataFrame | None = None
        self.delta: DataFrame | None = None
        self.gone: DataFrame | None = None

    def current(self) -> DataFrame:
        """The up-to-date assignment as a LAZY view: one broadcast join
        over base + a broadcast anti-join + a batch-scale union; no
        corpus shuffle, no rewrite.  Order matters: tombstones hide
        base-side rows BEFORE the delta union, so a retraction-relabeled
        survivor (hidden from base, re-added via delta with its
        post-split label) reads back exactly once."""
        cur = (
            self.base
            if self.mapping is None
            else apply_mapping(self.base, self.mapping)
        )
        if self.gone is not None:
            cur = cur.join(F.broadcast(self.gone), "clip_id", "left_anti")
        if self.delta is not None:
            cur = cur.unionByName(self.delta)
        return cur

    def apply_batch(
        self, new_edges: DataFrame, new_nodes: DataFrame, cfg: Config
    ) -> None:
        """Fold one intake batch's verified edges + nodes into the store
        WITHOUT touching ``base``: compute the contracted-graph delta,
        compose it into the standing mapping, and keep ``delta`` current.
        localCheckpoint() pins the tiny state tables so the next batch's
        view does not re-derive this batch's CC.  ``new_edges`` may be a
        lazy plan: :func:`cluster_delta` materializes it once, so the
        mapping, delta and CC actions here never re-run its screen."""
        mapping_k, new_assign = cluster_delta(
            self.current(), new_edges, new_nodes, cfg
        )
        mapping_k = mapping_k.localCheckpoint()
        self.mapping = compose_mappings(self.mapping, mapping_k).localCheckpoint()
        upd = (
            new_assign
            if self.delta is None
            else apply_mapping(self.delta, mapping_k).unionByName(new_assign)
        )
        self.delta = upd.localCheckpoint()

    def retract(self, dead: DataFrame, edges_fn, cfg: Config,
                touched: DataFrame | None = None) -> None:
        """Remove DEAD nodes and split their clusters, merge-on-read
        (the equality-delete direction of the incremental contract --
        the hard one, because removing a cut vertex must SPLIT a
        cluster, which no label remap can express).

        ``dead``: (clip_id) nodes whose content no longer exists (for
        the maintenance loop: text_keys with zero surviving clips after
        a clip-level retraction).  ``edges_fn(survivors)`` recomputes
        the verified (id1, id2) edges among the given survivor node set
        from the committed feature stores restricted to it -- every
        endpoint MUST be in ``survivors``.  ``touched``: (clip_id)
        additional SURVIVING nodes whose incident edges may have
        changed -- their clusters are recomputed too.  The maintenance
        loop passes the retracted clips' text_keys here: a clip
        retraction can sever an audio star edge between two text_keys
        that BOTH survive (the shared payload's last copy under one of
        the transcripts is gone), so the dead-node set alone does not
        locate every cluster that must split.

        Soundness of the LOCAL recompute: edges are a pure function of
        the two endpoints' committed content, so deleting nodes only
        ever REMOVES edges -- components can split but never gain
        members, and any edge between two different standing clusters
        would contradict the standing assignment being the closure of
        the verified-edge graph (the invariant every equality test
        pins).  Recomputing inside the affected clusters is therefore
        exactly from-scratch over the surviving corpus, at
        O(retracted + affected-cluster members) cost, never corpus
        cost.  Labels agree too: min-label CC over the surviving
        members of an affected component yields min SURVIVING id per
        split component -- the same label a from-scratch run assigns.

        State effects (all retraction-scale): every member of an
        affected cluster enters ``gone`` (hiding its base-side row);
        the batch-scale ``delta`` is pruned of hidden rows eagerly; the
        relabeled survivors re-enter via ``delta``.  Retracting ids
        with no standing assignment (already retracted, or never seen)
        is a natural no-op, so replaying a retraction is idempotent.
        """
        dead = dead.select("clip_id").localCheckpoint()
        probe = (
            dead
            if touched is None
            else dead.unionByName(touched.select("clip_id")).distinct()
        )
        cur = self.current()
        affected = (
            cur.join(F.broadcast(probe), "clip_id", "left_semi")
            .select("cluster_id")
            .distinct()
            .localCheckpoint()
        )
        members = (
            cur.join(F.broadcast(affected), "cluster_id", "left_semi")
            .localCheckpoint()
        )
        survivors = (
            members.join(F.broadcast(dead), "clip_id", "left_anti")
            .select("clip_id")
            .localCheckpoint()
        )
        relabeled = connected_components(
            edges_fn(survivors), survivors, cfg
        ).localCheckpoint()
        hide = members.select("clip_id").localCheckpoint()
        self.gone = (
            hide
            if self.gone is None
            else self.gone.unionByName(hide).distinct()
        ).localCheckpoint()
        d = (
            relabeled
            if self.delta is None
            else self.delta.join(
                F.broadcast(hide), "clip_id", "left_anti"
            ).unionByName(relabeled)
        )
        self.delta = d.localCheckpoint()

    def fold(self) -> None:
        """The periodic corpus-linear compaction: materialize the view as
        the new base and clear the pending state.  In production this is
        the rewrite of the assignment table; here the localCheckpoint
        stands in for that commit.  Tombstoned rows drop out of the new
        base here -- this is where retractions are physically applied."""
        self.base = self.current().localCheckpoint()
        self.mapping = None
        self.delta = None
        self.gone = None

    def maybe_fold(self, max_mapping_rows: int) -> bool:
        """Fold iff the pending broadcast state outgrew its budget.

        The mapping and the tombstone set are the pending state every
        READ pays for (each is broadcast and hash-probed per base row;
        the delta is just unioned, the base is immutable), so the fold
        trigger is their combined row count -- call after
        :meth:`apply_batch` / :meth:`retract` with the deployment's
        broadcast threshold.  The counts are one job each over
        already-checkpointed tiny tables.  Returns True if it folded.
        """
        pending = 0
        if self.mapping is not None:
            pending += self.mapping.count()
        if self.gone is not None:
            pending += self.gone.count()
        if pending == 0 or pending <= max_mapping_rows:
            return False
        self.fold()
        return True
