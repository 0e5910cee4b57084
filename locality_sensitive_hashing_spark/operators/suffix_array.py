"""Suffix-array substring detector (O15): winnowing anchors + exact verify.

Two-level design (the only way this operator scales -- a global suffix
array over 10^12 transcripts is neither buildable nor needed):

1. **Anchor blocking** (linear, pure DataFrame): winnowing fingerprints
   (Schleimer et al. 2003) of each normalized transcript via an Arrow UDF,
   exploded to (clip_id, anchor) rows, then the generic blocked self-join.
   With gram_len = max(4, 3*sa_min_len//4) and window = sa_min_len -
   gram_len + 1 (hashing.sa_params: the longest gram the lossless bound
   gram_len + window - 1 <= sa_min_len allows, for selectivity), any pair
   sharing a substring >= sa_min_len shares an anchor.
2. **Exact verification** (per candidate pair): suffix array via prefix
   doubling (Manber-Myers 1990) + Kasai LCP over t1#t2, inside a grouped
   Arrow UDF -- confirms longest-common-substring >= sa_min_len exactly.

Reference: BASELINE.json "suffix-array substring matching" companion
detector; expected locus REF? suffix-array module (UNVERIFIED -- empty
mount).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locality_sensitive_hashing_spark import hashing as H
from locality_sensitive_hashing_spark.config import Config
from locality_sensitive_hashing_spark.operators.candidates import pairs_from_blocks


def anchors_udf(cfg: Config):
    """pandas UDF: normalized text -> array<long> winnowing anchors."""
    gram_len, window = H.sa_params(cfg)

    @F.pandas_udf("array<long>")
    def compute(norm: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(
            [
                H.winnow_anchors(t or "", gram_len, window)
                .view(np.int64)
                .tolist()
                for t in norm
            ]
        )

    return compute


def with_anchors(
    df: DataFrame, cfg: Config, norm_col: str = "norm", id_col: str = "clip_id"
) -> DataFrame:
    """(id, anchor) exploded winnowing fingerprints."""
    udf = anchors_udf(cfg)
    return df.select(
        id_col, F.explode(udf(F.col(norm_col))).alias("anchor")
    )


def lcs_udf(min_len: int):
    """pandas UDF: (norm1, norm2) -> exact LCS if >= min_len else -1.

    Shared-gram screen first (O(n)), exact SA+LCP only for survivors
    (hashing.lcs_at_least -- identical kernel in the numpy oracle)."""

    @F.pandas_udf("long")
    def compute(t1: pd.Series, t2: pd.Series) -> pd.Series:
        return pd.Series(
            [H.lcs_at_least(a or "", b or "", min_len) for a, b in zip(t1, t2)]
        )

    return compute


def sa_anchor_pairs(
    signatures: DataFrame,
    cfg: Config,
    norm_col: str = "norm",
    id_col: str = "clip_id",
    dedup: bool = True,
) -> DataFrame:
    """UNVERIFIED substring candidates: pairs sharing a winnowing anchor.

    The exact LCS verify is deferred to text-pair verification
    (operators/verify.py), which computes it ONLY for pairs whose verdict
    depends on it (est-Jaccard and Hamming both below their thresholds) --
    for every other pair the LCS value cannot change text_ok, and skipping
    the suffix-array build there is the difference between ~1M and ~10k SA
    constructions on a near-dup-heavy corpus. Detector tag 'sa' means
    "shared a winnowing anchor" (candidacy provenance).
    """
    anchors = with_anchors(
        signatures.select(id_col, norm_col), cfg, norm_col, id_col
    )
    # Force ONE hash exchange right after the winnowing UDF: the blocked
    # self-join consumes the anchor table three times (size pre-pass +
    # both join sides), and only Exchange nodes are reused across
    # consumers -- without this the Arrow UDF re-winnowed the corpus per
    # scan.  The sizes groupBy and the key joins all need exactly this
    # partitioning, so the shuffle replaces two full UDF passes, not adds
    # one (measured 3.7 -> 1.9 s warm on the bench anchor table).
    anchors = anchors.repartition("anchor")
    return pairs_from_blocks(
        anchors, ["anchor"], cfg.bucket_cap, "sa", id_col=id_col, dedup=dedup
    )


def sa_candidates(
    signatures: DataFrame,
    cfg: Config,
    norm_col: str = "norm",
    id_col: str = "clip_id",
) -> DataFrame:
    """Verified substring-candidate pairs (LCS >= sa_min_len) -- anchor
    blocking + exact verify in one operator.

    ``signatures`` must carry (id, norm) -- the signature stage output
    is reused so normalization happens once. The LCS verify joins the two
    normalized texts back onto the (small) candidate set, never the corpus.

    Kept as the standalone SA-detector operator (rows-only driver query);
    the pipeline uses :func:`sa_anchor_pairs` + deferred verification in
    operators/verify.py instead, so the expensive exact LCS runs only
    where the verdict depends on it.
    """
    pairs = sa_anchor_pairs(signatures, cfg, norm_col, id_col)
    t1 = signatures.select(F.col(id_col).alias("id1"), F.col(norm_col).alias("t1"))
    t2 = signatures.select(F.col(id_col).alias("id2"), F.col(norm_col).alias("t2"))
    lcs = lcs_udf(cfg.sa_min_len)
    return (
        pairs.join(t1, "id1")
        .join(t2, "id2")
        .withColumn("lcs", lcs(F.col("t1"), F.col("t2")))
        .where(F.col("lcs") >= cfg.sa_min_len)
        .select("id1", "id2", "detector", "lcs")
    )
