"""Incremental intake operators: per-batch candidate pairs and cluster
merge must equal the batch pipeline re-run from scratch.

merge_clusters' contraction argument (operators/connected_components.py
docstring) is pinned here against full CC on random graphs; the
incremental pair generator is pinned against pairs_from_blocks over the
unioned blocking table, including the emission-time cap semantics.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from locality_sensitive_hashing_spark.config import DEFAULT_CONFIG as CFG
from locality_sensitive_hashing_spark.operators.candidates import (
    incremental_pairs_from_blocks,
    pairs_from_blocks,
)
from locality_sensitive_hashing_spark.operators.connected_components import (
    ClusterStore,
    connected_components,
    merge_clusters,
)


def _assign(df) -> dict:
    return {r.clip_id: r.cluster_id for r in df.collect()}


def _pairs(df) -> set:
    return {(r.id1, r.id2) for r in df.collect()}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_merge_clusters_equals_full_cc(spark, seed):
    rng = np.random.default_rng(seed)
    ids = [f"{i:04d}" for i in range(60)]
    old_ids, new_ids = ids[:40], ids[40:]
    old_edges = [
        (old_ids[a], old_ids[b])
        for a, b in rng.integers(0, 40, size=(25, 2))
        if a != b
    ]
    # new edges touch any node: new-new, new-old, and old-old (a batch's
    # verified pairs can merge two previously-separate old components)
    new_edges = [
        (ids[a], ids[b]) for a, b in rng.integers(0, 60, size=(20, 2)) if a != b
    ]
    e_old = spark.createDataFrame(old_edges or [("0000", "0001")], "id1 string, id2 string")
    e_new = spark.createDataFrame(new_edges or [("0000", "0041")], "id1 string, id2 string")
    n_old = spark.createDataFrame([(i,) for i in old_ids], "clip_id string")
    n_new = spark.createDataFrame([(i,) for i in new_ids], "clip_id string")

    prev = connected_components(e_old, n_old, CFG)
    merged = merge_clusters(prev, e_new, n_new, CFG)
    full = connected_components(
        e_old.unionByName(e_new), n_old.unionByName(n_new), CFG
    )
    assert _assign(merged) == _assign(full)
    assert len(_assign(merged)) == 60


def test_merge_clusters_no_new_edges(spark):
    prev = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], "clip_id string, cluster_id string"
    )
    e_new = spark.createDataFrame([], "id1 string, id2 string")
    n_new = spark.createDataFrame([("d",), ("e",)], "clip_id string")
    merged = merge_clusters(prev, e_new, n_new, CFG)
    assert _assign(merged) == {"a": "a", "b": "a", "c": "c", "d": "d", "e": "e"}


@pytest.mark.parametrize("seed", [0, 3])
def test_cluster_store_view_equals_full_cc(spark, seed):
    """Merge-on-read across >=2 batches (VERDICT r3 item 1): the lazy
    clusters_current view must equal (a) full CC over the union of all
    edges/nodes, (b) the eager merge_clusters chain, and (c) its own
    folded table -- and folding must clear the pending state without
    changing a single row."""
    rng = np.random.default_rng(seed)
    ids = [f"{i:04d}" for i in range(90)]
    parts = [ids[:50], ids[50:70], ids[70:]]
    e0 = [(parts[0][a], parts[0][b])
          for a, b in rng.integers(0, 50, size=(30, 2)) if a != b]
    # batch edges may touch anything already present (old-old merges too)
    e1 = [(ids[a], ids[b]) for a, b in rng.integers(0, 70, size=(15, 2)) if a != b]
    e2 = [(ids[a], ids[b]) for a, b in rng.integers(0, 90, size=(15, 2)) if a != b]

    def df_e(rows):
        return spark.createDataFrame(rows or [("0000", "0001")],
                                     "id1 string, id2 string")

    def df_n(rows):
        return spark.createDataFrame([(i,) for i in rows], "clip_id string")

    store = ClusterStore(connected_components(df_e(e0), df_n(parts[0]), CFG))
    store.apply_batch(df_e(e1), df_n(parts[1]), CFG)
    store.apply_batch(df_e(e2), df_n(parts[2]), CFG)

    view = _assign(store.current())
    full = _assign(connected_components(
        df_e(e0 + e1 + e2), df_n(ids), CFG
    ))
    assert view == full
    assert len(view) == 90

    eager = merge_clusters(
        merge_clusters(
            connected_components(df_e(e0), df_n(parts[0]), CFG),
            df_e(e1), df_n(parts[1]), CFG,
        ),
        df_e(e2), df_n(parts[2]), CFG,
    )
    assert _assign(eager) == full

    # the composed mapping holds only non-identity touched-component rows
    # keyed by labels that existed BEFORE the batch that remapped them:
    # base labels (relabel base at read) or earlier-batch node ids
    # (relabel delta rows) -- never the just-added batch's own ids
    m = store.mapping.collect()
    assert all(r._from != r._to for r in m)
    base_labels = {r.cluster_id for r in store.base.collect()}
    assert {r._from for r in m} <= base_labels | set(parts[1])
    assert not {r._from for r in m} & set(parts[2])

    store.fold()
    assert _assign(store.current()) == full
    assert store.mapping is None and store.delta is None


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_compose_mappings_algebra(spark, seed):
    """compose(m1, m2) applied once must equal applying m1 then m2 --
    for random min-label-shaped mappings (strictly decreasing, as CC
    produces) over a random assignment, including labels only in m1,
    only in m2, chained through both, and untouched."""
    from locality_sensitive_hashing_spark.operators.connected_components import (
        apply_mapping,
        compose_mappings,
    )

    rng = np.random.default_rng(seed)
    labels = [f"{i:03d}" for i in range(30)]

    def rand_mapping(k):
        m = {}
        for _ in range(k):
            i, j = sorted(rng.integers(0, 30, size=2))
            if i != j:
                m[labels[j]] = labels[i]  # strictly decreasing remap
        return m

    d1, d2 = rand_mapping(8), rand_mapping(8)
    m1 = spark.createDataFrame(list(d1.items()), "_from string, _to string")
    m2 = spark.createDataFrame(list(d2.items()), "_from string, _to string")
    assign = spark.createDataFrame(
        [(f"c{i}", labels[rng.integers(0, 30)]) for i in range(60)],
        "clip_id string, cluster_id string",
    )
    seq = {r.clip_id: r.cluster_id
           for r in apply_mapping(apply_mapping(assign, m1), m2).collect()}
    comp = {r.clip_id: r.cluster_id
            for r in apply_mapping(assign, compose_mappings(m1, m2)).collect()}
    assert seq == comp
    # identity on the None side
    only = {r.clip_id: r.cluster_id
            for r in apply_mapping(assign, compose_mappings(None, m2)).collect()}
    ref = {r.clip_id: r.cluster_id
           for r in apply_mapping(assign, m2).collect()}
    assert only == ref


def test_cluster_store_read_path_is_broadcast_only(spark):
    """The merge-on-read view must relabel base with a BROADCAST hash
    join: no Exchange (shuffle) may appear over the base branch -- the
    whole point is that reads never shuffle or rewrite the corpus."""
    base = spark.createDataFrame(
        [(f"{i:04d}", f"{i - i % 2:04d}") for i in range(100)],
        "clip_id string, cluster_id string",
    )
    store = ClusterStore(base)
    store.apply_batch(
        spark.createDataFrame([("0000", "0002"), ("0100", "0003")],
                              "id1 string, id2 string"),
        spark.createDataFrame([("0100",)], "clip_id string"),
        CFG,
    )
    # physical plan: broadcast join present, and no shuffle anywhere in
    # this view (base is a local relation here; the invariant asserted is
    # the JOIN STRATEGY, which is forced by F.broadcast in apply_mapping)
    phys = store.current()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys or "BroadcastNestedLoopJoin" in phys
    assert "Exchange hashpartitioning" not in phys

    view = _assign(store.current())
    assert view["0100"] == view["0003"]  # new node joined an old cluster
    assert view["0000"] == view["0002"] == view["0003"]


def test_incremental_pairs_match_full_rerun(spark):
    # buckets: k1 old-only pair, k2 mixed, k3 new-only, k4 singleton
    old = spark.createDataFrame(
        [("o1", "k1"), ("o2", "k1"), ("o3", "k2"), ("o4", "k4")],
        "clip_id string, key string",
    )
    new = spark.createDataFrame(
        [("n1", "k2"), ("n2", "k3"), ("n3", "k3")], "clip_id string, key string"
    )
    cap = 10
    inc = incremental_pairs_from_blocks(new, old, ["key"], cap, "d")
    full = pairs_from_blocks(old.unionByName(new), ["key"], cap, "d")
    prior = pairs_from_blocks(old, ["key"], cap, "d")
    assert _pairs(inc) == _pairs(full) - _pairs(prior)
    assert _pairs(inc) | _pairs(prior) == _pairs(full)
    # no old-only pairs sneak in
    assert all("n" in a or "n" in b for a, b in _pairs(inc))


def test_incremental_pairs_cap_at_emission_time(spark):
    # bucket holds 2 old members (paired in an earlier batch) and gains 2
    # new ones, crossing cap=3: the batch emits NOTHING from it
    old = spark.createDataFrame(
        [("o1", "k"), ("o2", "k")], "clip_id string, key string"
    )
    new = spark.createDataFrame(
        [("n1", "k"), ("n2", "k")], "clip_id string, key string"
    )
    inc = incremental_pairs_from_blocks(new, old, ["key"], 3, "d")
    assert inc.count() == 0
    # under a sufficient cap the same batch yields all 5 new pairs
    inc2 = incremental_pairs_from_blocks(new, old, ["key"], 4, "d")
    assert _pairs(inc2) == {
        ("n1", "n2"), ("n1", "o1"), ("n1", "o2"), ("n2", "o1"), ("n2", "o2")
    }


def test_streaming_store_feeds_incremental_dedup(spark, cfg):
    """End-to-end incremental story: the streaming intake store's
    per-batch committed signature subdirs feed the incremental operators
    directly -- batch b0 as the committed corpus, b1 (new-texts-only by
    the intake's anti-join) as the increment -- and candidate pairs +
    merged clusters reproduce a from-scratch recompute over everything
    ingested. Guards schema drift between the streaming store and the
    batch operators."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from locality_sensitive_hashing_spark.fixtures import make_clips
    from locality_sensitive_hashing_spark.operators.minhash import explode_bands
    from locality_sensitive_hashing_spark.streaming.incremental import (
        incremental_signatures,
        read_batch,
    )

    schema = pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()),
        ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
        ("codec", pa.string()), ("transcript", pa.string()),
    ])
    root = tempfile.mkdtemp(prefix="lsh_stream_incr_")
    in_dir = os.path.join(root, "in")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(in_dir)
    clips, _ = make_clips(80, seed=13)
    for i, part in enumerate((clips.iloc[:40], clips.iloc[40:])):
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            os.path.join(in_dir, f"batch{i}.parquet"),
        )
        q = incremental_signatures(spark, in_dir, out_dir, cfg, checkpoint_dir=ckpt)
        q.awaitTermination(120)

    # through the store's commit-marker contract (ADVICE r2): hard-coded
    # b0/b1 paths would read uncommitted data if the protocol changed
    old_sigs = read_batch(spark, out_dir, "signatures", 0)
    new_sigs = read_batch(spark, out_dir, "signatures", 1)
    keys = ["band_id", "band_hash"]
    old_b = explode_bands(old_sigs, id_col="text_key")
    new_b = explode_bands(new_sigs, id_col="text_key")
    cap = 1 << 20
    full = pairs_from_blocks(old_b.unionByName(new_b), keys, cap, "mh", id_col="text_key")
    prior = pairs_from_blocks(old_b, keys, cap, "mh", id_col="text_key")
    inc = incremental_pairs_from_blocks(new_b, old_b, keys, cap, "mh", id_col="text_key")
    assert _pairs(inc) == _pairs(full) - _pairs(prior)
    assert len(_pairs(full)) > 0  # planted dup texts actually collide

    n_old = old_sigs.select(F.col("text_key").alias("clip_id"))
    n_new = new_sigs.select(F.col("text_key").alias("clip_id"))
    prev = connected_components(prior.select("id1", "id2"), n_old, CFG)
    merged = merge_clusters(prev, inc.select("id1", "id2"), n_new, CFG)
    fullcc = connected_components(
        full.select("id1", "id2"), n_old.unionByName(n_new), CFG
    )
    assert _assign(merged) == _assign(fullcc)

    # the merge-on-read path over the SAME store feed: pending view ==
    # full CC; a small mapping stays pending under the broadcast budget;
    # an exceeded budget folds and the folded table still agrees
    store = ClusterStore(prev)
    store.apply_batch(inc.select("id1", "id2"), n_new, CFG)
    assert _assign(store.current()) == _assign(fullcc)
    assert store.maybe_fold(1 << 20) is False
    assert store.mapping is not None or store.delta is not None
    assert store.maybe_fold(-1) is True  # any pending mapping exceeds -1
    assert store.mapping is None and store.delta is None
    assert _assign(store.current()) == _assign(fullcc)


def test_incremental_pairs_untouched_buckets_not_scanned(spark):
    """Plan shape: the old side is filtered to the batch's bucket keys
    BEFORE any self-join (the semi-join that bounds per-batch work)."""
    old = spark.createDataFrame(
        [("o1", "k1"), ("o2", "k1")], "clip_id string, key string"
    )
    new = spark.createDataFrame([("n1", "k9")], "clip_id string, key string")
    inc = incremental_pairs_from_blocks(new, old, ["key"], 8, "d")
    assert inc.count() == 0  # k1 untouched; k9 has one member


# ---------------------------------------------------------------------------
# Retraction (equality deletes): ClusterStore.retract must reproduce
# from-scratch CC over the SURVIVING corpus -- including genuine cluster
# SPLITS when a cut vertex is retracted -- while touching only the
# affected clusters, merge-on-read.


def _truth_edges_fn(spark, truth):
    """Model of content-determined edges: recompute among a survivor set
    = restrict the ground-truth edge relation to it (exactly what the
    maintenance job's detectors do against the committed feature
    stores)."""

    def fn(survivors):
        surv = {r.clip_id for r in survivors.collect()}  # test-only
        rows = [(a, b) for a, b in truth if a in surv and b in surv]
        return spark.createDataFrame(rows, "id1 string, id2 string")

    return fn


def _df_n(spark, rows):
    return spark.createDataFrame([(i,) for i in rows], "clip_id string")


def test_retract_splits_bridge_cluster(spark):
    """Retracting the bridge of a-b-c must SPLIT the cluster into {a}
    and {c} -- the operation no label remap can express -- and leave an
    unrelated cluster untouched, without its rows entering the pending
    retraction state."""
    truth = [("a", "b"), ("b", "c"), ("x", "y")]
    nodes = ["a", "b", "c", "x", "y", "z"]
    base = connected_components(
        spark.createDataFrame(truth, "id1 string, id2 string"),
        _df_n(spark, nodes), CFG,
    )
    store = ClusterStore(base)
    store.retract(_df_n(spark, ["b"]), _truth_edges_fn(spark, truth), CFG)

    got = _assign(store.current())
    surv = [n for n in nodes if n != "b"]
    exp = _assign(connected_components(
        spark.createDataFrame([("x", "y")], "id1 string, id2 string"),
        _df_n(spark, surv), CFG,
    ))
    assert got == exp
    assert got["a"] == "a" and got["c"] == "c"  # split into singletons
    assert got["x"] == got["y"] == "x"          # untouched cluster intact
    # pending state is retraction-scale: only the affected cluster's
    # members are tombstoned / re-added, never the unaffected ones
    assert {r.clip_id for r in store.gone.collect()} == {"a", "b", "c"}
    assert {r.clip_id for r in store.delta.collect()} == {"a", "c"}

    store.fold()
    assert _assign(store.current()) == exp
    assert store.gone is None


def test_retract_interleaved_equals_from_scratch(spark, seed=7):
    """Random graph, retractions interleaved with batch folds: the view
    must equal from-scratch CC over the surviving universe at every
    step, and fold must not change a row."""
    rng = np.random.default_rng(seed)
    ids = [f"{i:04d}" for i in range(80)]
    parts = [ids[:50], ids[50:80]]
    truth = sorted({
        (ids[a], ids[b]) if ids[a] < ids[b] else (ids[b], ids[a])
        for a, b in rng.integers(0, 80, size=(60, 2)) if a != b
    })

    def edges_within(universe):
        u = set(universe)
        return [(a, b) for a, b in truth if a in u and b in u]

    def df_e(rows):
        return spark.createDataFrame(rows, "id1 string, id2 string")

    store = ClusterStore(connected_components(
        df_e(edges_within(parts[0])), _df_n(spark, parts[0]), CFG))

    dead1 = list(rng.choice(parts[0], size=8, replace=False))
    alive = [i for i in parts[0] if i not in set(dead1)]
    store.retract(_df_n(spark, dead1), _truth_edges_fn(spark, truth), CFG)
    exp1 = _assign(connected_components(
        df_e(edges_within(alive)), _df_n(spark, alive), CFG))
    assert _assign(store.current()) == exp1

    # a later batch folds in on top of the post-retraction state (its
    # edges avoid dead nodes, as the maintenance job's tombstone
    # anti-joins guarantee)
    universe2 = alive + parts[1]
    new_e = [(a, b) for a, b in edges_within(universe2)
             if a in set(parts[1]) or b in set(parts[1])]
    store.apply_batch(df_e(new_e), _df_n(spark, parts[1]), CFG)
    exp2 = _assign(connected_components(
        df_e(edges_within(universe2)), _df_n(spark, universe2), CFG))
    assert _assign(store.current()) == exp2

    # second retraction reaches into base-era AND delta-era rows
    dead2 = list(rng.choice(universe2, size=10, replace=False))
    alive2 = [i for i in universe2 if i not in set(dead2)]
    store.retract(_df_n(spark, dead2), _truth_edges_fn(spark, truth), CFG)
    exp3 = _assign(connected_components(
        df_e(edges_within(alive2)), _df_n(spark, alive2), CFG))
    assert _assign(store.current()) == exp3
    assert len(exp3) == len(alive2)

    store.fold()
    assert _assign(store.current()) == exp3


def test_retract_idempotent_and_unknown_ids(spark):
    """Replaying a retraction (crash-recovery semantics) and retracting
    ids with no standing assignment are both no-ops."""
    truth = [("a", "b"), ("b", "c")]
    store = ClusterStore(connected_components(
        spark.createDataFrame(truth, "id1 string, id2 string"),
        _df_n(spark, ["a", "b", "c"]), CFG))
    fn = _truth_edges_fn(spark, truth)
    store.retract(_df_n(spark, ["b"]), fn, CFG)
    once = _assign(store.current())
    store.retract(_df_n(spark, ["b"]), fn, CFG)     # replay
    assert _assign(store.current()) == once
    store.retract(_df_n(spark, ["zz"]), fn, CFG)    # never existed
    assert _assign(store.current()) == once
    assert once == {"a": "a", "c": "c"}


def test_maybe_fold_counts_tombstones(spark):
    """The fold budget covers the tombstone set too -- both mapping and
    gone are broadcast on every read, so both count against it."""
    truth = [("a", "b")]
    store = ClusterStore(connected_components(
        spark.createDataFrame(truth, "id1 string, id2 string"),
        _df_n(spark, ["a", "b", "c"]), CFG))
    store.retract(_df_n(spark, ["b"]), _truth_edges_fn(spark, truth), CFG)
    assert store.mapping is None and store.gone is not None
    assert store.maybe_fold(10) is False   # 2 tombstones <= 10
    assert store.gone is not None
    assert store.maybe_fold(1) is True     # 2 tombstones > 1
    assert store.gone is None and store.delta is None
    assert _assign(store.current()) == {"a": "a", "c": "c"}


def _counted_edges(spark, rows):
    """An (id1, id2) edge frame whose every row evaluation runs a Python
    UDF that counts into an accumulator -- the shape of the maintenance
    job's lazy, UDF-screened edge plan, where each re-read re-runs the
    Python screen over every pair."""
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    f = F.udf(tick, "string").asNondeterministic()
    edges = spark.createDataFrame(rows, "id1 string, id2 string").select(
        f("id1").alias("id1"), "id2")
    return edges, acc


@pytest.mark.parametrize(
    "path", ["apply_batch", "merge_clusters", "connected_components",
             "retract"])
def test_lazy_edges_evaluated_once_per_row(spark, path):
    """Each cluster path reads a lazy edge input exactly once -- through
    its own actions and every later read of its result -- and still
    equals full CC."""
    old_e = [("a", "b"), ("c", "d"), ("x", "y")]
    old_n = ["a", "b", "c", "d", "x", "y", "z"]
    # new-new, new-old and old-old (merges two standing clusters)
    new_e = [("n1", "n2"), ("n2", "a"), ("b", "c"), ("n3", "x")]
    new_n = ["n1", "n2", "n3", "n4"]
    truth = old_e + new_e
    nodes = old_n + new_n

    def df_e(rows):
        return spark.createDataFrame(rows, "id1 string, id2 string")

    full = _assign(connected_components(df_e(truth), _df_n(spark, nodes),
                                        CFG))
    if path == "connected_components":
        edges, acc = _counted_edges(spark, truth)
        got = _assign(connected_components(edges, _df_n(spark, nodes), CFG))
        n_rows = len(truth)
    elif path == "retract":
        store = ClusterStore(connected_components(
            df_e(truth), _df_n(spark, nodes), CFG))
        truth_fn = _truth_edges_fn(spark, truth)
        seen = []

        def edges_fn(survivors):
            rows = [(r.id1, r.id2) for r in truth_fn(survivors).collect()]
            edges, acc = _counted_edges(spark, rows)
            seen.append((len(rows), acc))
            return edges

        store.retract(_df_n(spark, ["b"]), edges_fn, CFG)
        got = _assign(store.current())
        store.fold()
        assert _assign(store.current()) == got
        (n_rows, acc), = seen
        surv = [n for n in nodes if n != "b"]
        full = _assign(connected_components(
            df_e([(a, b) for a, b in truth if "b" not in (a, b)]),
            _df_n(spark, surv), CFG))
    else:
        prev = connected_components(df_e(old_e), _df_n(spark, old_n), CFG)
        edges, acc = _counted_edges(spark, new_e)
        if path == "apply_batch":
            store = ClusterStore(prev)
            store.apply_batch(edges, _df_n(spark, new_n), CFG)
            got = _assign(store.current())
            store.fold()
            assert _assign(store.current()) == got
        else:
            merged = merge_clusters(prev, edges, _df_n(spark, new_n), CFG)
            got = _assign(merged)
            assert _assign(merged) == got
        n_rows = len(new_e)
    assert got == full
    assert acc.value == n_rows
