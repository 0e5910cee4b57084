"""Operator-level Spark tests: blocking/caps, JVM-vs-python normalization,
JVM jaccard/hamming vs kernels, text analysis functions."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from locality_sensitive_hashing_spark import hashing as H
from locality_sensitive_hashing_spark.functions import text as TX
from locality_sensitive_hashing_spark.operators.candidates import (
    dropped_blocks,
    pairs_from_blocks,
    union_candidates,
)
from locality_sensitive_hashing_spark.operators.minhash import (
    estimated_jaccard,
    estimated_jaccard_udf,
)
from locality_sensitive_hashing_spark.operators.simhash import (
    explode_chunks,
    hamming_distance,
)


def test_normalize_jvm_matches_python(spark, corpus):
    """The JVM Column normalization and the shared-kernel python regex must
    agree on the fixture corpus (parity precondition for every stage)."""
    clips_pd, _, _ = corpus
    df = spark.createDataFrame(clips_pd[["clip_id", "transcript"]])
    got = (
        df.select("clip_id", TX.normalize_text("transcript").alias("norm"))
        .toPandas()
        .set_index("clip_id")["norm"]
    )
    for cid, t in zip(clips_pd.clip_id, clips_pd.transcript):
        assert got[cid] == H.normalize_text(t)
    # adversarial punctuation/unicode-free cases
    extra = spark.createDataFrame(
        pd.DataFrame({"t": ["  A--b..C 42!!", "", "***", "a  b\tc\nd"]})
    )
    res = extra.select(TX.normalize_text("t").alias("n")).toPandas()["n"].tolist()
    assert res == ["a b c 42", "", "", "a b c d"]


def test_normalize_unicode_parity(spark):
    """JVM and python normalization agree on non-ASCII input (case-fold
    edge cases like Turkish dotted I, ligatures, sharp s); non-Latin text
    collapses to the empty norm on BOTH sides -- one shared text_key whose
    group the audio-class caps bound."""
    samples = [
        "Ärger ÜBER Öl", "straße GROSS", "İstanbul", "ΣΊΣΥΦΟΣ",
        "Здравствуй МИР", "日本語のテキスト", "café NAÏVE", "ǅungla",
        "ﬁre ﬂow", "áccent",
    ]
    df = spark.createDataFrame(pd.DataFrame({"t": samples}))
    got = df.select(TX.normalize_text("t").alias("n")).toPandas()["n"].tolist()
    assert got == [H.normalize_text(s) for s in samples]


def test_char_shingles_expr(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": ["abcdef", "ab", ""]}))
    out = df.select(TX.char_shingles("t", 3).alias("s")).toPandas()["s"].tolist()
    assert list(out[0]) == ["abc", "bcd", "cde", "def"]
    assert list(out[1]) == [] and list(out[2]) == []


def test_pairs_from_blocks_cap_and_drop(spark):
    rows = [("k1", f"a{i}") for i in range(3)]  # size 3 -> 3 pairs
    rows += [("k2", f"b{i}") for i in range(5)]  # size 5 > cap -> dropped
    rows += [("k3", "c0")]  # singleton -> nothing
    df = spark.createDataFrame(rows, "key string, clip_id string")
    pairs = pairs_from_blocks(df, ["key"], cap=4, detector="t").toPandas()
    assert len(pairs) == 3
    assert set(pairs.detector) == {"t"}
    dropped = dropped_blocks(df, ["key"], cap=4).toPandas()
    assert len(dropped) == 1 and dropped.n_members.iloc[0] == 5


def test_pairs_dedup_across_blocks(spark):
    rows = [("k1", "a"), ("k1", "b"), ("k2", "a"), ("k2", "b")]
    df = spark.createDataFrame(rows, "key string, clip_id string")
    pairs = pairs_from_blocks(df, ["key"], cap=10, detector="t").toPandas()
    assert len(pairs) == 1  # (a,b) found in two blocks counts once


def test_union_candidates_provenance(spark):
    p1 = spark.createDataFrame(
        [("a", "b", "minhash")], "id1 string, id2 string, detector string"
    )
    p2 = spark.createDataFrame(
        [("a", "b", "simhash"), ("c", "d", "simhash")],
        "id1 string, id2 string, detector string",
    )
    out = union_candidates(p1, p2).toPandas().sort_values("id1")
    got = {(r.id1, r.id2): list(r.detectors) for r in out.itertuples()}
    assert got == {("a", "b"): ["minhash", "simhash"], ("c", "d"): ["simhash"]}


def test_union_bitmask_packed_binary_ids_equal_legacy(spark):
    """Round 6: pre-unhexed BINARY pair ids through the union (the
    pipeline unhexes once per blocking-table row) decode back to exactly
    the legacy string-id rows -- including the id1 < id2 orientation,
    which relies on binary unsigned-byte order matching lowercase-hex
    string order for fixed-width keys."""
    from locality_sensitive_hashing_spark.operators.candidates import (
        decode_mask_col,
        union_candidates_bitmask,
    )

    h = lambda s: s * 8  # noqa: E731 -- fixed-width lowercase hex ids
    rows1 = [(h("0a"), h("1b"), "minhash"), (h("0a"), h("1b"), "minhash"),
             (h("1b"), h("2c"), "minhash"), (h("7f"), h("80"), "minhash")]
    rows2 = [(h("0a"), h("1b"), "simhash"), (h("2c"), h("ff"), "simhash")]
    rows3 = [(h("0a"), h("1b"), "sa"), (h("1b"), h("2c"), "sa")]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id1 string, id2 string, detector string")
    mkbin = lambda rows: mk(rows).select(  # noqa: E731
        F.unhex("id1").alias("id1"), F.unhex("id2").alias("id2"), "detector")
    legacy = union_candidates(mk(rows1), mk(rows2), mk(rows3)).toPandas()
    packed = decode_mask_col(
        union_candidates_bitmask([mkbin(rows1), mkbin(rows2), mkbin(rows3)])
    ).toPandas()
    key = lambda df: {  # noqa: E731
        (r.id1, r.id2): list(r.detectors) for r in df.itertuples()
    }
    assert key(packed) == key(legacy)
    # collapses cross-band duplicates; provenance arrays sorted by name
    assert key(packed)[(h("0a"), h("1b"))] == ["minhash", "sa", "simhash"]


def test_binary_id_order_matches_hex_string_order(spark):
    """The packed-id path's id1 < id2 runs on BinaryType: Spark's
    unsigned-byte comparison must order exactly like the lowercase-hex
    string comparison for fixed-width keys (incl. bytes >= 0x80, where a
    SIGNED byte comparison would flip)."""
    vals = ["00", "7f", "80", "ff", "0a", "9c"]
    rows = [(a * 8, b * 8) for a in vals for b in vals]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(
        (F.col("a") < F.col("b")).alias("s"),
        (F.unhex("a") < F.unhex("b")).alias("x"),
    ).toPandas()
    assert (got.s == got.x).all()


def test_estimated_jaccard_jvm_matches_numpy(spark):
    s1 = [1, 2, 3, 4]
    s2 = [1, 9, 3, 7]
    df = spark.createDataFrame([(s1, s2)], "a array<long>, b array<long>")
    got = df.select(estimated_jaccard(F.col("a"), F.col("b")).alias("j")).head().j
    assert got == 0.5


def test_estimated_jaccard_udf_bitexact_vs_column(spark):
    """The Arrow-vectorized hot-path UDF must equal the JVM Column form
    bit-for-bit: both are (# equal components)/H in float64 (incl. H=128
    int32 signatures, the production shape, and odd counts like 3/7)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for h in (128, 7):
        for _ in range(25):
            a = rng.integers(0, 2**31 - 1, size=h, dtype=np.int64)
            b = a.copy()
            flip = rng.random(h) < rng.random()
            b[flip] = rng.integers(0, 2**31 - 1, size=int(flip.sum()))
            rows.append((a.tolist(), b.tolist()))
    df = spark.createDataFrame(rows, "a array<int>, b array<int>")
    est = estimated_jaccard_udf()
    out = df.select(
        estimated_jaccard(F.col("a"), F.col("b")).alias("col_j"),
        est(F.col("a"), F.col("b")).alias("udf_j"),
    ).toPandas()
    assert (out.col_j.values == out.udf_j.values).all()  # bit-exact, no tol


def test_hamming_and_chunks_jvm_match_kernel(spark, cfg, corpus):
    clips_pd, _, oracle = corpus
    fps = oracle.simhash.head(20)
    df = spark.createDataFrame(fps)
    chunks = explode_chunks(df, cfg, id_col="text_key").toPandas()
    for tk, fp in zip(fps.text_key, fps.fingerprint):
        got = chunks[chunks.text_key == tk].sort_values("chunk_id").chunk_val.tolist()
        assert got == H.simhash_chunks(int(fp), cfg.hamming_t + 1)
    two = spark.createDataFrame(
        [(int(fps.fingerprint.iloc[0]), int(fps.fingerprint.iloc[1]))],
        "f1 long, f2 long",
    )
    got_h = two.select(hamming_distance(F.col("f1"), F.col("f2")).alias("h")).head().h
    assert got_h == H.hamming64(int(fps.fingerprint.iloc[0]), int(fps.fingerprint.iloc[1]))


def test_text_analysis_functions(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "t": [
                    "The cat is on the mat and it is happy",
                    "el gato es de la casa y no es gris",
                    "zzz qqq xxx",
                    "",
                ]
            }
        )
    )
    out = df.select(
        TX.lang_id("t").alias("lang"),
        TX.token_count("t").alias("n_tokens"),
        TX.quality_score("t").alias("q"),
        TX.doc_fingerprint("t").alias("fp"),
    ).toPandas()
    assert out.lang.tolist()[:3] == ["en", "es", "unknown"]
    assert out.n_tokens.tolist() == [10, 10, 3, 1]  # split('') -> ['']
    assert (out.q >= 0).all() and (out.q <= 1_000_000).all()
    # fingerprint: deterministic + order-sensitive
    df2 = spark.createDataFrame(pd.DataFrame({"t": ["ab", "ba"]}))
    fps = df2.select(TX.doc_fingerprint("t").alias("fp")).toPandas()["fp"]
    assert fps[0] != fps[1]


def test_chain_edges_are_star_on_rep(spark):
    """Byte-identical classes emit a STAR on the min clip_id (diameter 2,
    so CC converges in O(1) rounds even for million-member classes)."""
    import pandas as pd

    from locality_sensitive_hashing_spark.operators.textgroup import chain_edges

    keyed = spark.createDataFrame(
        pd.DataFrame({
            "clip_id": ["c3", "c1", "c2", "z9", "z8"],
            "norm": ["t"] * 5,
            "text_key": ["T"] * 5,
            "audio_key": ["A", "A", "A", "B", "B"],
        })
    )
    got = chain_edges(keyed).toPandas()
    edges = set(map(tuple, got[["id1", "id2"]].values))
    assert edges == {("c1", "c2"), ("c1", "c3"), ("z8", "z9")}


def test_word_shingles(spark):
    df = spark.createDataFrame(pd.DataFrame({"t": ["a b c d", "a"]}))
    out = df.select(TX.word_shingles("t", 2).alias("s")).toPandas()["s"].tolist()
    assert list(out[0]) == ["a b", "b c", "c d"]
    assert list(out[1]) == []
