"""Sources & sinks: Iceberg-or-parquet TableIO with snapshot manifest.

The production design (BASELINE.json north_star) writes every stage to an
Iceberg table so stage outputs are snapshot-committed, resumable, and carry
metadata. This sandbox has no Iceberg runtime jar and no network (SURVEY.md
Appendix A), so TableIO degrades to parquet directories plus an atomic
``_manifest.json`` commit log that preserves the same semantics: a stage
output either exists with a recorded (config_id, row_count, schema) entry
or it does not exist at all.  The Iceberg path is gated on catalog jar
presence and exercises the identical call sites.

Reference parity: the reference persisted stage outputs as GAE datastore
entities between MapReduce phases (REF?dataset.py, UNVERIFIED -- empty
mount, SURVEY.md section 0.1); TableIO is the Spark-native equivalent of
that materialization boundary.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession

CLIPS_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, transcript string"
)

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def read_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided testdata table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableIO:
    """Stage-output table store with atomic commits and a snapshot log.

    Parquet fallback commit protocol: write to ``<table>.__tmp_<ts>``,
    fsync-free atomic ``os.rename`` into place, then append the manifest
    entry. A crash between rename and manifest append is healed on the
    next ``committed()`` check (manifest is the source of truth; orphan
    dirs are ignored and re-written).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        iceberg_catalog: str | None = None,
    ):
        """``iceberg_catalog``: name of a configured Iceberg catalog
        (e.g. ``spark.sql.catalog.ice=...SparkCatalog``). When given AND
        the Iceberg runtime is on the classpath, stage tables commit as
        Iceberg tables (snapshot isolation from Iceberg itself); the
        manifest stays the resume log either way so ``committed()``
        semantics are identical. Falls back silently to the parquet
        protocol when the jar is absent (this sandbox)."""
        self.spark = spark
        self.root = root
        self.iceberg_catalog = (
            iceberg_catalog
            if iceberg_catalog and _iceberg_available(spark)
            else None
        )
        if self.iceberg_catalog:
            h = hashlib.sha1(root.encode()).hexdigest()[:10]
            spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.iceberg_catalog}.lsh_{h}"
            )
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_manifest.json")
        # pipeline stages commit from concurrent threads (plans/pipeline.py
        # runs independent DAG branches in parallel); the manifest
        # read-modify-write and same-table appends must be serialized
        # within this process
        self._lock = threading.Lock()
        self._append_lock = threading.Lock()

    # -- manifest ---------------------------------------------------------
    def _load_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _append_snapshot(self, entry: dict) -> None:
        with self._lock:
            m = self._load_manifest()
            m["snapshots"].append(entry)
            fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest")
            with os.fdopen(fd, "w") as f:
                json.dump(m, f, indent=1)
            os.rename(tmp, self._manifest_path)

    def committed(self, table: str, config_id: str) -> bool:
        """True iff the LATEST committed snapshot of `table` is at
        `config_id`.

        Only the newest overwrite entry counts: ``write()`` replaces the
        single per-table directory, so any older entry for another config
        describes data that no longer exists -- matching on *any*
        historical entry would let a resume under config A silently read
        config B's bytes after a workdir was reused (ADVICE round 1).
        Append-only tables (metrics) never gate resume and are skipped.
        """
        snaps = [
            s for s in self._load_manifest()["snapshots"]
            if s["table"] == table and not s.get("append")
        ]
        if not snaps or snaps[-1]["config_id"] != config_id:
            return False
        if self.iceberg_catalog:
            return self.spark.catalog.tableExists(self._iceberg_ident(table))
        return os.path.exists(self._path(table))

    def snapshots(self) -> list[dict]:
        return self._load_manifest()["snapshots"]

    # -- data -------------------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _iceberg_ident(self, table: str) -> str:
        h = hashlib.sha1(self.root.encode()).hexdigest()[:10]
        return f"{self.iceberg_catalog}.lsh_{h}.{table}"

    def write(self, df: DataFrame, table: str, config_id: str,
              mode: str = "overwrite") -> None:
        """Atomically (re)place `table` with `df`.

        Every table commits as plain parquet: write to a tmp directory,
        rename into place, append the manifest entry.  No table is
        pre-partitioned or sorted at write time: a join that needs a
        layout (``text_verified_fused`` past the lookup gate) shuffles
        the table when it reads it, so only the path that uses the
        layout pays for it.

        Row counts are NOT recomputed here -- the metrics stage (O23)
        already aggregates per-partition counts over the written output;
        one scan instead of two.  ``mode`` only accepts "overwrite"
        (appends go through :meth:`append`).
        """
        if mode != "overwrite":
            raise ValueError(f"TableIO.write only overwrites; got mode={mode!r}")
        if self.iceberg_catalog:
            ident = self._iceberg_ident(table)
            df.writeTo(ident).using("iceberg").createOrReplace()  # atomic swap
            self._append_snapshot({
                "table": table, "config_id": config_id, "ts": time.time(),
                "schema": df.schema.simpleString(), "iceberg": ident,
            })
            return
        final = self._path(table)
        tmp = f"{final}.__tmp_{int(time.time() * 1000)}"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        self._append_snapshot(
            {
                "table": table,
                "config_id": config_id,
                "ts": time.time(),
                "schema": df.schema.simpleString(),
            }
        )

    def append(self, df: DataFrame, table: str, config_id: str) -> None:
        """Append-only tables (metrics/lineage).

        Serialized under the instance lock: two concurrent pipeline stages
        appending to the SAME table would collide in the Hadoop output
        committer's shared ``_temporary`` directory. (Overwrite writes of
        distinct tables don't contend -- separate directories.)
        """
        with self._append_lock:
            if self.iceberg_catalog:
                ident = self._iceberg_ident(table)
                if self.spark.catalog.tableExists(ident):
                    df.writeTo(ident).append()
                else:
                    df.writeTo(ident).using("iceberg").create()
            else:
                df.write.mode("append").parquet(self._path(table))
        self._append_snapshot(
            {"table": table, "config_id": config_id, "rows": -1,
             "ts": time.time(), "append": True,
             "schema": df.schema.simpleString()}
        )

    def read(self, table: str) -> DataFrame:
        """A committed table: a path scan of its parquet directory (or the
        Iceberg table).  Nothing is registered in the session catalog, so
        a fresh session resumes a workdir by reading the same paths."""
        if self.iceberg_catalog:
            return self.spark.table(self._iceberg_ident(table))
        return self.spark.read.parquet(self._path(table))

    def exists(self, table: str) -> bool:
        return os.path.exists(self._path(table))

    def data_path(self, table: str) -> str | None:
        """Filesystem directory of a committed table's parquet files, or
        None when the store is Iceberg-backed (files behind the catalog).
        Used by the worker-side lookup kernels (operators/verify.py) that
        map-join small committed tables by reading them directly."""
        if self.iceberg_catalog:
            return None
        return self._path(table)

    def data_bytes(self, table: str) -> int:
        """Total on-disk bytes of a committed table (0 if absent/Iceberg):
        the size signal behind scale-adaptive plan choices (broadcast /
        worker-side lookup vs shuffle join)."""
        path = self.data_path(table)
        if path is None or not os.path.isdir(path):
            return 0
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
