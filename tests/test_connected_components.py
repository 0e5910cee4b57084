"""Connected-components operator (O21): handcrafted graphs + invariants."""

from __future__ import annotations

from locality_sensitive_hashing_spark.operators.connected_components import (
    connected_components,
)


def _run(spark, cfg, edges, nodes):
    e = spark.createDataFrame(
        edges or [("_x", "_y")], "id1 string, id2 string"
    )
    if not edges:
        e = e.limit(0)
    n = spark.createDataFrame([(x,) for x in nodes], "clip_id string")
    out = connected_components(e, n, cfg).toPandas()
    return dict(zip(out.clip_id, out.cluster_id))


def test_chain_transitivity(spark, cfg):
    # a-b, b-c, c-d: one component labeled min id
    got = _run(spark, cfg, [("b", "a"), ("b", "c"), ("c", "d")], list("abcde"))
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e"}


def test_two_components_and_singletons(spark, cfg):
    got = _run(spark, cfg, [("a", "b"), ("x", "y")], ["a", "b", "x", "y", "q"])
    assert got["a"] == got["b"] == "a"
    assert got["x"] == got["y"] == "x"
    assert got["q"] == "q"


def test_no_edges(spark, cfg):
    got = _run(spark, cfg, [], ["a", "b"])
    assert got == {"a": "a", "b": "b"}


def test_star_graph(spark, cfg):
    edges = [("m", x) for x in ["a", "z", "k"]]
    got = _run(spark, cfg, edges, ["m", "a", "z", "k"])
    assert set(got.values()) == {"a"}


def test_reliable_checkpoint_identical(spark, cfg):
    """cc_reliable_checkpoint is execution-only: same labels, same
    config_id (so flipping it never invalidates committed stages)."""
    from dataclasses import replace

    from locality_sensitive_hashing_spark.config import Config

    rel = replace(cfg, cc_reliable_checkpoint=True)
    assert rel.config_id == cfg.config_id
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id1 string, id2 string"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in "abcxyz"], "clip_id string"
    )
    got = connected_components(edges, nodes, rel).toPandas()
    exp = connected_components(edges, nodes, cfg).toPandas()
    g = got.sort_values("clip_id").reset_index(drop=True)
    e = exp.sort_values("clip_id").reset_index(drop=True)
    assert g.equals(e)
    assert dict(zip(g.clip_id, g.cluster_id))["c"] == "a"


def test_reliable_checkpoint_verify_identical(
        spark, cfg, clips_df, pipeline_run, monkeypatch):
    """The switch also covers expand_and_verify's screened rep-pair
    materialization: over the pipeline's committed inputs it takes no
    localCheckpoint under cc_reliable_checkpoint=True and emits the same
    rows as the default (and as the committed verified stage)."""
    from dataclasses import replace

    from locality_sensitive_hashing_spark.operators.candidates import (
        decode_mask_col,
    )
    from locality_sensitive_hashing_spark.operators.textgroup import chain_edges
    from locality_sensitive_hashing_spark.operators.verify import (
        expand_and_verify,
    )

    io, _, _ = pipeline_run

    def rows(c):
        df = expand_and_verify(
            decode_mask_col(io.read("text_verified")),
            io.read("audio_classes"), chain_edges(io.read("keyed")),
            clips_df, c,
        )
        return sorted(map(repr, df.collect()))

    local_calls = []
    frame_cls = type(clips_df)
    orig = frame_cls.localCheckpoint
    monkeypatch.setattr(
        frame_cls, "localCheckpoint",
        lambda self, *a, **k: local_calls.append(1) or orig(self, *a, **k),
    )
    got = rows(replace(cfg, cc_reliable_checkpoint=True))
    assert not local_calls
    assert got == rows(cfg)
    assert local_calls  # the default keeps localCheckpoint
    assert got == sorted(map(repr, io.read("verified").collect()))


def test_long_path_converges(spark, cfg):
    """Path of 12 nodes: needs several propagation rounds (doubling via
    min-relabel still converges under the iteration cap)."""
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(11)]
    got = _run(spark, cfg, edges, nodes)
    assert set(got.values()) == {"n00"}


def test_path_diameter_far_beyond_iteration_cap(spark, cfg):
    """Path of 2000 nodes (diameter 1999 >> cc_max_iters=25): plain
    neighbor propagation needs ~2000 rounds and used to blow the cap --
    measured for real on the maintenance bootstrap's capped-LSH pair
    graph at bench scale (BENCH/MAINTAIN.md).  Pointer jumping
    (label <- label(label), radius squares per round) must close it in
    O(log d) ~ 11 rounds, well inside the cap, with the exact min-label
    fixed point."""
    n = 2000
    nodes = [f"p{i:05d}" for i in range(n)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
    got = _run(spark, cfg, edges, nodes)
    assert set(got.values()) == {nodes[0]}
    assert len(got) == n
