"""Blocking -> candidate-pair generation, caps, salting (O8-O10, O16, O24-O25).

One generic kernel serves all three detectors (MinHash buckets, SimHash
chunks, suffix-array anchors): group rows by a blocking key, drop oversized
groups (bounded-bucket explosion caps, loudly counted -- BASELINE.json
"bounded-bucket explosion caps"), self-join the survivors, keep id1 < id2,
dedup across keys.  Reference locus: the GAE MapReduce reduce phase grouped
(bucket -> doc ids) and emitted in-bucket pairs (REF?mapreduce pipeline,
UNVERIFIED -- empty mount; semantics MMDS section 3.4.1).

Scale notes (10^12 clips):
- The size pre-pass prunes hot buckets BEFORE the quadratic self-join, so
  the join's per-key fan-out is bounded by cap^2; with cap=64 a bucket
  contributes <= 2016 pairs. AQE skew-join splitting then handles residual
  partition-level skew (session.py).
- The count aggregation is a partial+final hash aggregate (map-side
  combine); its shuffle carries only (key, count), not rows.
- Pair dedup is a hash aggregate on (id1, id2); at scale this is the
  pipeline's largest shuffle and the reason `bytes` is not in this plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locality_sensitive_hashing_spark.config import Config


def block_sizes(blocks: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key..., n) group sizes of a blocking table."""
    return blocks.groupBy(*key_cols).agg(F.count("*").alias("n"))


def dropped_blocks(blocks: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Blocks exceeding the cap -- logged to metrics, never silently lost
    (O25). Columns: key..., n_members."""
    return (
        block_sizes(blocks, key_cols)
        .where(F.col("n") > cap)
        .withColumnRenamed("n", "n_members")
    )


def pairs_from_blocks(
    blocks: DataFrame,
    key_cols: list[str],
    cap: int,
    detector: str,
    id_col: str = "clip_id",
    dedup: bool = True,
) -> DataFrame:
    """Unordered candidate pairs (id1 < id2) from shared blocks.

    Blocks with 1 member produce nothing; blocks with > cap members are
    excluded here and surfaced by :func:`dropped_blocks`.

    Pair emission is a capped self-join of the pruned blocking table.
    The groupBy + collect_set + in-array (i < j) expansion alternative
    (one row-shuffle of the pruned blocks instead of two join-side
    scans) was MEASURED against this plan in round 4 (jobs/ab_pairs.py,
    sf0.1 bench bands, warm JVM): join 4.1-4.4 s vs expand 5.2 s at
    local[32], join 6.8-7.0 s vs expand 7.0-8.3 s at local[8], identical
    pair counts -- the double upstream scan (parquet + band explode) is
    cheap JVM work, while collect_set's ObjectHashAggregate array
    materialization costs more than it saves; the stage's real cost is
    the downstream pair-dedup shuffle, which both variants share.  The
    self-join also keeps whole-stage codegen across the emission.

    ``dedup=True`` (default) removes the same pair emitted by multiple
    blocks -- one hash-aggregate shuffle. Callers that feed
    :func:`union_candidates` pass ``dedup=False``: its groupBy(id1, id2)
    dedups anyway (map-side partial aggregation collapses the duplicates
    BEFORE they ship), so the per-detector distinct exchanges are pure
    overhead -- one shuffle for the whole candidate union instead of one
    per detector plus one.
    """
    sizes = block_sizes(blocks, key_cols)
    eligible = sizes.where((F.col("n") > 1) & (F.col("n") <= cap)).select(*key_cols)
    pruned = blocks.join(eligible, key_cols)
    left = pruned.select(*key_cols, F.col(id_col).alias("id1"))
    right = pruned.select(*key_cols, F.col(id_col).alias("id2"))
    pairs = (
        left.join(right, key_cols)
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )
    if dedup:
        pairs = pairs.distinct()
    return pairs.withColumn("detector", F.lit(detector))


def incremental_pairs_from_blocks(
    new_blocks: DataFrame,
    old_blocks: DataFrame,
    key_cols: list[str],
    cap: int,
    detector: str,
    id_col: str = "clip_id",
) -> DataFrame:
    """Candidate pairs INVOLVING a new intake batch: new x new + new x old.

    The incremental companion to :func:`pairs_from_blocks` for the
    streaming intake path (streaming/incremental.py): per micro-batch the
    full corpus must NOT be re-paired, and only buckets that gained a new
    member can produce new pairs. ``old_blocks`` (the committed corpus'
    blocking table) is therefore first SEMI-JOINED onto the batch's bucket
    keys -- per-batch work scales with the buckets the batch touches, not
    with corpus size (at 10^12 rows the key set of one batch is broadcast
    against the bucketed corpus table).

    Caps apply to the bucket's size AT EMISSION TIME (old members of
    touched buckets + new members): a bucket that crosses the cap stops
    producing pairs from then on, while pairs emitted by earlier batches
    under the then-smaller bucket stand -- standard append-only semantics;
    the overflow is still loudly countable via :func:`dropped_blocks` over
    the unioned blocking table (O25).

    New and old id sets must be disjoint (the intake store's left-anti
    text_key dedup guarantees this).
    """
    new_keys = new_blocks.select(*key_cols).distinct()
    # every old member of every touched bucket (and nothing else)
    old_hits = old_blocks.join(new_keys, key_cols)
    sizes = (
        new_blocks.select(*key_cols)
        .unionAll(old_hits.select(*key_cols))
        .groupBy(*key_cols)
        .agg(F.count("*").alias("n"))
    )
    elig = sizes.where((F.col("n") > 1) & (F.col("n") <= cap)).select(*key_cols)
    newp = new_blocks.join(elig, key_cols)
    oldp = old_hits.join(elig, key_cols)
    ln = newp.select(*key_cols, F.col(id_col).alias("id1"))
    rn = newp.select(*key_cols, F.col(id_col).alias("id2"))
    new_new = (
        ln.join(rn, key_cols)
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )
    ro = oldp.select(*key_cols, F.col(id_col).alias("_old"))
    new_old = (
        ln.join(ro, key_cols)
        .where(F.col("id1") != F.col("_old"))
        .select(
            F.least(F.col("id1"), F.col("_old")).alias("id1"),
            F.greatest(F.col("id1"), F.col("_old")).alias("id2"),
        )
    )
    return (
        new_new.unionByName(new_old)
        .distinct()
        .withColumn("detector", F.lit(detector))
    )


def union_candidates(*pair_dfs: DataFrame) -> DataFrame:
    """Union detector candidate sets with provenance (O16):
    (id1, id2, detectors array<string> sorted).

    Generic form (arbitrary ``detector`` column values, any id type) and
    the row-level reference for :func:`union_candidates_bitmask`, which
    the pipeline runs instead (primitive aggregation state, mask-form
    output; round 6)."""
    u = pair_dfs[0]
    for d in pair_dfs[1:]:
        u = u.unionByName(d)
    return u.groupBy("id1", "id2").agg(
        F.array_sort(F.collect_set("detector")).alias("detectors")
    )


# the text-pair detectors, in the order their pair-sets enter the
# candidates union; the committed candidates/text_verified tables store
# provenance as a detector_bits mask over these names
TEXT_DETECTORS = ("minhash", "simhash", "sa")


def detector_bits() -> dict[str, int]:
    """The frozen name -> bit assignment of the bitmask union: one bit per
    TEXT_DETECTORS name in sorted-name order."""
    return {n: 1 << i for i, n in enumerate(sorted(TEXT_DETECTORS))}


def mask_to_detectors(mask):
    """Column: decode a :func:`detector_bits` mask into the detectors
    array (sorted-name order == ``array_sort(collect_set(detector))``)."""
    return F.array_compact(F.array(*[
        F.when(mask.bitwiseAND(F.lit(b).cast("long")) != 0, F.lit(n))
        for n, b in sorted(detector_bits().items())
    ]))


def decode_mask_col(
    df: DataFrame,
    mask_col: str = "detectors_mask",
    out_col: str = "detectors",
) -> DataFrame:
    """Replace ``mask_col`` (int64 :func:`detector_bits` mask) with the
    decoded ``out_col`` detectors array IN PLACE (column order preserved).

    The read-back decode of the mask-schema stage commits (candidates and
    text_verified)."""
    cols = [
        mask_to_detectors(F.col(c)).alias(out_col) if c == mask_col
        else c
        for c in df.columns
    ]
    return df.select(*cols)


def union_candidates_bitmask(pair_dfs: list[DataFrame]) -> DataFrame:
    """(id1, id2, detectors_mask): :func:`union_candidates` for one pair
    frame per TEXT_DETECTORS name, in that order (the pipeline's case:
    one constant tag per subtree), whose ids are fixed-width binaries
    (the pipeline unhexes its lowercase-hex text_keys once per
    blocking-table row).  Output ids are the lowercase hex strings.

    Each input contributes one bit; the pair-dedup groupBy then
    aggregates a primitive ``bit_or`` over int64 masks instead of a
    ``collect_set`` object buffer -- the partial-aggregation state that
    rides the one candidate shuffle shrinks to 8 bytes/pair and the
    ObjectHashAggregate becomes a codegen HashAggregate (measured 10.2 ->
    7.9 s on the 25M-row bench union).  The dedup key is the plain
    ``id1 || id2`` binary concat -- half the key bytes of the hex strings
    and a single-field comparator (round 6, guide section 2.3 "shuffle
    fewer bytes").  Binary ids compare by unsigned bytes, which is
    order-isomorphic to the lowercase-hex string order (fixed width,
    nibble-ordered), so the id1 < id2 orientation and every upstream cap
    decision match the string-id form.  The mask stays raw (the array
    encode is off the 10M-row stage write; measured 3.0 -> 1.8 s):
    :func:`decode_mask_col` yields exactly the ``union_candidates`` rows
    (pinned by tests/test_operators.py::
    test_union_bitmask_packed_binary_ids_equal_legacy).  A ``detector``
    column on the inputs is ignored.
    """
    if len(pair_dfs) != len(TEXT_DETECTORS):
        raise ValueError(
            f"expected one pair frame per detector {TEXT_DETECTORS}, "
            f"got {len(pair_dfs)}")
    bit = detector_bits()
    parts = [
        df.select(
            F.concat("id1", "id2").alias("_k"),
            F.lit(bit[n]).cast("long").alias("_b"),
        )
        for df, n in zip(pair_dfs, TEXT_DETECTORS)
    ]
    u = parts[0]
    for d in parts[1:]:
        u = u.unionByName(d)
    agg = u.groupBy("_k").agg(F.bit_or("_b").alias("_mask"))
    half = (F.length("_k") / 2).cast("int")
    return agg.select(
        F.lower(F.hex(F.substring(F.col("_k"), F.lit(1), half))).alias("id1"),
        F.lower(F.hex(F.substring(F.col("_k"), half + 1, half))).alias("id2"),
        "_mask",
    ).withColumnRenamed("_mask", "detectors_mask")


def salted_repartition(
    df: DataFrame,
    cfg: Config,
    *key_cols: str,
    salt_from: str = "clip_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """Repartition by (key_cols..., salt) to split hot keys (O24).

    The salt MUST derive from a column that varies within a hot key
    (default: the row id), otherwise a hot key still lands on one
    partition. salt = pmod(xxhash64(salt_from), salt_buckets) --
    deterministic, so resumed runs produce identical partitioning. Used
    in front of UDF stages when the upstream distribution is skewed
    (e.g. clips clustered by source shard).
    """
    salt = F.pmod(F.xxhash64(F.col(salt_from)), F.lit(cfg.salt_buckets))
    args = [F.col(c) for c in key_cols] + [salt]
    return (
        df.repartition(n_partitions, *args)
        if n_partitions
        else df.repartition(*args)
    )
