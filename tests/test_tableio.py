"""TableIO commit-protocol semantics: atomicity, healing, config keying."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest

from locality_sensitive_hashing_spark.sources.tables import TableIO


@pytest.fixture()
def io(spark):
    d = tempfile.mkdtemp(prefix="lsh_io_")
    yield TableIO(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, n=5):
    return spark.createDataFrame(pd.DataFrame({"x": list(range(n))}))


def test_write_read_committed(spark, io):
    io.write(_df(spark), "t1", "cfgA")
    assert io.committed("t1", "cfgA")
    assert not io.committed("t1", "cfgB")  # different config -> recompute
    assert io.read("t1").count() == 5


def test_overwrite_invalidates_other_configs(spark, io):
    """Only the LATEST snapshot per table is authoritative: reusing a
    workdir with config B then resuming config A must NOT read B's bytes
    as A's committed stage (ADVICE round 1)."""
    io.write(_df(spark, 5), "t1", "cfgA")
    io.write(_df(spark, 9), "t1", "cfgB")  # same table dir, new config
    assert io.committed("t1", "cfgB")
    assert not io.committed("t1", "cfgA")  # stale entry must not match
    io.write(_df(spark, 5), "t1", "cfgA")
    assert io.committed("t1", "cfgA")
    assert not io.committed("t1", "cfgB")


def test_iceberg_gating(spark, io):
    """No Iceberg runtime jar in this sandbox: requesting a catalog must
    fall back to the parquet protocol, not crash or half-commit."""
    from locality_sensitive_hashing_spark.sources.tables import _iceberg_available

    assert not _iceberg_available(spark)
    d = tempfile.mkdtemp(prefix="lsh_ice_")
    try:
        ice = TableIO(spark, d, iceberg_catalog="ice")
        assert ice.iceberg_catalog is None  # gated off
        ice.write(_df(spark), "t1", "cfgA")
        assert ice.committed("t1", "cfgA")
        assert ice.read("t1").count() == 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_zero_row_commit_resumes_with_schema(spark, io):
    """An EMPTY corpus commits zero-row stage tables; a fresh TableIO on
    the same root (a resumed run in a new session) must still read them
    back with their schema, so downstream stages can plan over them."""
    io.write(spark.createDataFrame([], schema="x long, y string"), "tz", "cfgA")
    fresh = TableIO(spark, io.root)
    assert fresh.committed("tz", "cfgA")
    got = fresh.read("tz")
    assert got.count() == 0
    assert got.schema.simpleString() == "struct<x:bigint,y:string>"


def test_empty_corpus_pipeline(spark, cfg):
    """Documented contract (verify skill): an empty clips DataFrame runs
    the full 5-detector pipeline to empty clusters, no crash."""
    from locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline
    from locality_sensitive_hashing_spark.sources.tables import CLIPS_SCHEMA

    d = tempfile.mkdtemp(prefix="lsh_empty_")
    try:
        empty = spark.createDataFrame([], schema=CLIPS_SCHEMA)
        out = DedupPipeline(spark, cfg, TableIO(spark, d), run_id="empty").run(empty)
        assert out.count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pyfiles_zip_fresh(tmp_path):
    """The committed spark-submit --py-files artifact must ship the exact
    executor code of the current package sources (ADVICE round 1)."""
    import zipfile

    import jobs.make_pyfiles as MP

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(root, "lshdedup.zip")
    assert os.path.exists(zip_path), "run jobs/make_pyfiles.py"
    with zipfile.ZipFile(zip_path) as z:
        names = set(z.namelist())
        src_files = {}
        pkg_root = os.path.join(root, MP.PKG)
        for dirpath, _d, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    src_files[os.path.relpath(full, root)] = full
        assert names == set(src_files), (
            f"zip/package file sets differ: {names ^ set(src_files)}"
        )
        for rel, full in src_files.items():
            with open(full, "rb") as f:
                assert z.read(rel) == f.read(), f"stale zip entry: {rel}"


def test_orphan_dir_without_manifest_not_committed(spark, io):
    """Crash between data write and manifest append: dir exists, no
    snapshot entry -> stage reruns (manifest is the source of truth)."""
    os.makedirs(io._path("orphan"))
    assert not io.committed("orphan", "cfgA")


def test_manifest_without_dir_not_committed(spark, io):
    """Snapshot entry but data dir lost -> not committed (healed by
    recompute), never a phantom read."""
    io.write(_df(spark), "t2", "cfgA")
    shutil.rmtree(io._path("t2"))
    assert not io.committed("t2", "cfgA")


def test_overwrite_replaces_atomically(spark, io):
    io.write(_df(spark, 5), "t3", "cfgA")
    io.write(_df(spark, 9), "t3", "cfgA")
    assert io.read("t3").count() == 9
    # both snapshots recorded in the log (append-only history)
    assert sum(1 for s in io.snapshots() if s["table"] == "t3") == 2


def test_append_mode(spark, io):
    io.append(_df(spark, 3), "m", "cfgA")
    io.append(_df(spark, 4), "m", "cfgA")
    assert io.read("m").count() == 7
