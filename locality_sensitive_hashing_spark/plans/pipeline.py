"""The dedup stage DAG: orchestration, materialization, resume, metrics.

Stage graph (the 8 COMMITTED_STAGES in CAPS below; lowercase stages are
lazy plans fused into their consumer's job; SURVEY.md section 3.2,
re-architected around content classes -- operators/textgroup.py):

    clips -> KEYED(text_key, audio_key)
    KEYED -> texts (distinct transcripts) -> SIGNATURES(O2-O7)
                                           -> FINGERPRINTS(O12)
    SIGNATURES -> cand_minhash(O8-O10)   [text pairs]
    FINGERPRINTS -> cand_simhash(O13-O14)[text pairs]
    SIGNATURES -> cand_sa(O15)           [text pairs]
    cand_* -> CANDIDATES(O16) -> TEXT_VERIFIED(O11, O20)
    KEYED -> AUDIO_CLASSES / chain_edges
      (the audio_classes kernel also emits the frame-energy content
       profile AND the gain-invariant sign-bit fingerprint per distinct
       payload -- operators/audio_lsh.py + audio_fingerprint.py -- so the
       fourth and fifth detectors ride the same decode pass)
    TEXT_VERIFIED + classes -> VERIFIED(O17-O18, clip-level edges:
       chain / within / cross PCM edges + audio_content energy edges
       + audio_gain fingerprint edges)
    VERIFIED -> CLUSTERS(O21-O22)

The reference ran its dataflow as GAE MapReduce phases materialized
through the datastore (REF?mapreduce.yaml, UNVERIFIED -- empty mount);
here only the resume-valuable boundaries commit to TableIO (Iceberg or
parquet+manifest); the rest stay lazy and fuse into the next committed
stage's job.  All five detectors always run: the detector set is not
part of ``config_id``, so a run with fewer would resume into (or leave
behind) commits whose clusters miss a whole edge source.

- **Resume** (O26, BASELINE.json "resumable from the last committed
  snapshot/checkpoint"): a committed stage whose (table, config_id)
  snapshot exists is skipped and read back; a lazy stage simply
  rebuilds from its (committed) inputs -- same results either way.
- **Lineage/metrics** (O23): per-partition row counts + wall-clock per
  committed stage append to the ``metrics`` table; capped-out
  buckets/groups land in ``dropped_buckets`` / ``dropped_groups`` --
  bounded explosion is loud, never silent (O25).
- **Why not commit everything** (round-1 lesson): 14 serial stage
  commits each pay write + read-back + scheduler round-trips that do NOT
  shrink with parallelism -- that fixed floor capped 8->32 scaling
  efficiency at 0.44 (BENCH/SCALING notes). The pipeline commits 8
  boundaries; cheap derivations (``texts``, ``chain_edges``) and the
  three detector pair-sets fuse into their consumer's job, where Spark's
  DAG scheduler runs the independent detector subtrees concurrently
  WITHIN the one ``candidates`` job -- thread-level concurrency is only
  needed across the audio/text branches.
- **Plan hygiene at scale**: every shuffle-heavy lineage still ends at a
  materialization point (signatures, candidates, verified), so a
  10^12-row run never re-executes upstream shuffles on failure and AQE
  re-plans each committed stage with fresh statistics.

Scale accounting (10^12 clips): every stage is linear in its input except
the three blocked self-joins, whose per-key fan-out is bounded by
bucket_cap^2 over *distinct texts*, and rep-pair expansion, bounded by
bucket_cap^2 over *audio classes* -- both independent of raw duplication
factor.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from locality_sensitive_hashing_spark.config import Config
from locality_sensitive_hashing_spark.metrics import partition_lineage
from locality_sensitive_hashing_spark.operators.candidates import (
    decode_mask_col,
    dropped_blocks,
    pairs_from_blocks,
    union_candidates_bitmask,
)
from locality_sensitive_hashing_spark.operators.connected_components import (
    connected_components,
)
from locality_sensitive_hashing_spark.operators.minhash import (
    explode_bands,
    with_signatures,
)
from locality_sensitive_hashing_spark.operators.simhash import (
    simhash_candidates,
    with_fingerprint,
)
from locality_sensitive_hashing_spark.operators.suffix_array import sa_anchor_pairs
from locality_sensitive_hashing_spark.operators.textgroup import (
    audio_classes,
    chain_edges,
    distinct_texts,
    dropped_groups,
    with_content_keys,
)
from locality_sensitive_hashing_spark.operators.verify import (
    expand_and_verify,
    text_verified_fused,
    text_verified_lookup,
)
from locality_sensitive_hashing_spark.sources.tables import TableIO


# resume-valuable commit boundaries (see module docstring for why the
# other stages stay lazy)
COMMITTED_STAGES = frozenset({
    "keyed", "audio_classes", "signatures", "fingerprints",
    "candidates", "text_verified", "verified", "clusters",
})

# on-disk size gate of the worker-side text lookup store: signatures +
# fingerprints above it take the join form (DedupPipeline._text_lookup_dirs)
TEXT_LOOKUP_MAX_BYTES = 256 << 20


class DedupPipeline:
    """Runs the full near-duplicate pipeline over a clips DataFrame.

    All five detectors (the three in candidates.TEXT_DETECTORS plus the
    audio energy and gain-fingerprint axes) feed one verified-edge set;
    the COMMITTED_STAGES commit to TableIO and every other stage stays
    lazy and fuses into a downstream job.
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: Config,
        io: TableIO,
        run_id: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.io = io
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.executed_stages: list[str] = []
        self.skipped_stages: list[str] = []
        # driver-side walls that run OUTSIDE stage commits (cache
        # materialization, async-metrics drain): bench.py merges these
        # into its per-stage report so no wall-clock is unattributed
        self.aux_walls: dict[str, float] = {}
        self._metrics_futures: list = []
        self._metrics_pool = None

    # -- stage runner -------------------------------------------------------
    def _stage(self, name: str, build) -> DataFrame:
        cid = self.cfg.config_id
        if self.io.committed(name, cid):
            self.skipped_stages.append(name)
            return self.io.read(name)
        t0 = time.time()
        df = build()
        self.io.write(df, name, cid)
        out = self.io.read(name)
        wall = time.time() - t0

        # lineage/metrics are advisory (the data commit above is the
        # correctness event), so the extra scan+append runs asynchronously
        # instead of serializing every stage boundary
        def emit():
            self.io.append(
                partition_lineage(self.spark, out, self.run_id, cid, name, wall),
                "metrics",
                cid,
            )

        if self._metrics_pool is not None:
            self._metrics_futures.append(self._metrics_pool.submit(emit))
        else:
            emit()
        self.executed_stages.append(name)
        return out

    def _text_lookup_dirs(self) -> tuple[str, str] | None:
        """(sig_dir, fp_dir) when the worker-side lookup kernel applies.

        Conditions: parquet-backed store (workers read the stage files
        directly; an Iceberg store hides files behind the catalog),
        signatures + fingerprints committed, and their combined on-disk
        size at most TEXT_LOOKUP_MAX_BYTES -- worker RSS for the store is
        ~5x the disk bytes (sig matrix + norms + memoized gram arrays), so
        the 256 MiB gate bounds a worker at ~1.3 GiB.  Execution-only:
        both paths emit bit-identical rows (test-pinned).
        """
        cid = self.cfg.config_id
        if not (
            self.io.committed("signatures", cid)
            and self.io.committed("fingerprints", cid)
        ):
            return None
        sig_dir = self.io.data_path("signatures")
        fp_dir = self.io.data_path("fingerprints")
        if sig_dir is None or fp_dir is None:
            return None
        total = self.io.data_bytes("signatures") + self.io.data_bytes(
            "fingerprints")
        if total > TEXT_LOOKUP_MAX_BYTES:
            return None
        return sig_dir, fp_dir

    # -- pipeline -----------------------------------------------------------
    def run(self, clips: DataFrame) -> DataFrame:
        """Execute the DAG; independent branches run CONCURRENTLY.

        The audio branch (audio_classes, chain_edges) shares no input
        with the text branch, so the audio_classes, signatures and
        fingerprints commits are submitted from worker threads (Spark
        sessions are thread-safe; session.py enables FAIR scheduling);
        the three text detector subtrees are lazy and run concurrently
        inside the one ``candidates`` job.  On a real cluster this keeps
        executors saturated across stage boundaries; in local mode it
        overlaps UDF compute with shuffle I/O. Stage commits stay atomic
        (TableIO holds a manifest lock).
        """
        from concurrent.futures import ThreadPoolExecutor

        self._metrics_pool = ThreadPoolExecutor(max_workers=1)
        try:
            return self._run(clips)
        finally:
            # on crash: wait for in-flight metrics jobs so no thread
            # outlives the run (their errors are secondary to the crash)
            self._metrics_pool.shutdown(wait=True)
            self._metrics_pool = None
            self._metrics_futures = []

    def _run(self, clips: DataFrame) -> DataFrame:
        from concurrent.futures import ThreadPoolExecutor

        cfg = self.cfg

        keyed = self._stage("keyed", lambda: with_content_keys(clips))

        def build_classes():
            cl = audio_classes(keyed, clips, cfg)
            self.io.write(dropped_groups(cl, cfg), "dropped_groups", cfg.config_id)
            return cl

        with ThreadPoolExecutor(max_workers=3) as pool:
            # audio branch in parallel with the whole text branch
            f_classes = pool.submit(self._stage, "audio_classes", build_classes)

            texts = distinct_texts(keyed)
            f_sigs = pool.submit(
                self._stage,
                "signatures",
                lambda: with_signatures(
                    texts, cfg, text_col="norm", id_col="text_key",
                    pre_normalized=True,
                ),
            )
            f_fps = pool.submit(
                self._stage,
                "fingerprints",
                lambda: with_fingerprint(texts, text_col="norm", id_col="text_key"),
            )
            signatures = f_sigs.result()
            fingerprints = f_fps.result()
            classes = f_classes.result()

        # Binary pair ids through the detector subtrees (round 6):
        # text_key is fixed-width lowercase hex, so unhex ONCE per
        # blocking-table row here and let every downstream pair emission,
        # join, broadcast and the union's dedup key carry the 16-byte
        # binary instead of the 32-char string -- the per-emission unhex
        # pair (~54M emissions at bench scale) drops to one call per block
        # row and the subtree broadcast relations shrink ~40%.  Binary
        # unsigned-byte order == lowercase-hex string order (fixed width),
        # so id1 < id2 and all cap decisions are unchanged; the union
        # decodes the identical hex ids (test-pinned).
        sigs_cand = signatures.withColumn("text_key", F.unhex("text_key"))
        fps_cand = fingerprints.withColumn("text_key", F.unhex("text_key"))
        # The three detector pair-sets are lazy plans that all execute
        # INSIDE the one `candidates` commit, where the DAG scheduler runs
        # the independent subtrees concurrently.  dedup=False: the union's
        # groupBy dedups with one shuffle for all detectors (map-side
        # combine collapses the per-bucket duplicates before they ship).
        cand_parts = [
            pairs_from_blocks(
                explode_bands(sigs_cand, id_col="text_key"),
                ["band_id", "band_hash"], cfg.bucket_cap,
                "minhash", id_col="text_key", dedup=False,
            ),
            simhash_candidates(fps_cand, cfg, id_col="text_key", dedup=False),
            sa_anchor_pairs(sigs_cand, cfg, id_col="text_key", dedup=False),
        ]
        chains = chain_edges(keyed)
        # one constant detector tag per subtree -> the pair-dedup groupBy
        # aggregates a primitive bitmask instead of a collect_set buffer,
        # keyed on the packed id1||id2 binary (half the key bytes on the
        # pipeline's largest shuffle); the stage stores the raw int64
        # mask (array encode off the 10M-row write).
        # (operators/candidates.union_candidates_bitmask)
        candidates = self._stage(
            "candidates",
            lambda: union_candidates_bitmask(cand_parts),
        )
        # -- text verification: metrics + lazy LCS + text_ok in ONE job --
        # Size-adaptive, mirroring guide sections 3.1/8: when the
        # committed per-text feature tables are small enough for worker
        # memory, the pairs cross the Python boundary as (id1, id2, flag)
        # ONLY and every feature comes from a worker-side store read
        # straight from the stage commit (text_verified_lookup, zero
        # joins); past the size gate the features ride shuffle joins
        # (text_verified_fused).  Both emit bit-identical rows
        # (test-pinned).  Mask-form candidates in, mask-form commit out
        # (the array<string> encode cost ~2 s of the 10M-row stage
        # write); the read-back decodes to the detectors array.
        lookup_dirs = self._text_lookup_dirs()
        if lookup_dirs is not None:
            builder = lambda: text_verified_lookup(  # noqa: E731
                candidates, *lookup_dirs, cfg
            )
        else:
            builder = lambda: text_verified_fused(  # noqa: E731
                candidates, signatures, fingerprints, cfg,
            )
        text_verified = decode_mask_col(self._stage("text_verified", builder))
        verified = self._stage(
            "verified",
            lambda: expand_and_verify(
                text_verified, classes, chains, clips, cfg,
            ),
        )
        # -- advisory loud-drop logs (O25): over-cap buckets across all
        # three capped detector axes are counted, never silent.  Keyed on
        # each log's OWN commit status (not its stage's): a crash between
        # the stage commit and the log re-emits on resume.  The writes are
        # ADVISORY (like stage metrics), so they run on the async metrics
        # pool, SUBMITTED HERE -- after the verified commit, right before
        # the CC stage -- so the extra banding/blocking scans overlap the
        # iterative clusters stage's idle cores instead of contending with
        # the candidates/verified jobs (round 6, guide section 2.6);
        # run() drains the futures before returning.
        def submit_advisory(fn):
            if self._metrics_pool is not None:
                self._metrics_futures.append(self._metrics_pool.submit(fn))
            else:
                fn()

        if not self.io.committed("dropped_buckets", cfg.config_id):
            def emit_dropped():
                self.io.write(
                    dropped_blocks(
                        explode_bands(signatures, id_col="text_key"),
                        ["band_id", "band_hash"],
                        cfg.bucket_cap,
                    ),
                    "dropped_buckets",
                    cfg.config_id,
                )

            submit_advisory(emit_dropped)
        if not self.io.committed("dropped_energy_buckets", cfg.config_id):
            def emit_dropped_energy():
                from locality_sensitive_hashing_spark.operators.audio_lsh import (
                    explode_energy_bands,
                )
                from locality_sensitive_hashing_spark.operators.verify import (
                    energy_class_feats,
                )

                self.io.write(
                    dropped_blocks(
                        explode_energy_bands(energy_class_feats(classes), cfg),
                        ["band_id", "bkey"],
                        cfg.bucket_cap,
                    ),
                    "dropped_energy_buckets",
                    cfg.config_id,
                )

            submit_advisory(emit_dropped_energy)
        if not self.io.committed("dropped_fp_buckets", cfg.config_id):
            def emit_dropped_fp():
                from locality_sensitive_hashing_spark.operators.audio_fingerprint import (
                    fingerprint_blocks,
                )
                from locality_sensitive_hashing_spark.operators.verify import (
                    fingerprint_class_feats,
                )

                self.io.write(
                    dropped_blocks(
                        fingerprint_blocks(fingerprint_class_feats(classes)),
                        ["win_idx", "wkey"],
                        cfg.bucket_cap,
                    ),
                    "dropped_fp_buckets",
                    cfg.config_id,
                )

            submit_advisory(emit_dropped_fp)
        clusters = self._stage(
            "clusters",
            lambda: connected_components(
                verified.where("is_dup").select("id1", "id2"),
                clips.select("clip_id"),
                cfg,
            ),
        )
        # drain async metrics before declaring the run complete (a metrics
        # failure must surface, and callers may read the metrics table)
        t0 = time.time()
        for f in self._metrics_futures:
            f.result()
        self.aux_walls["metrics_drain"] = round(time.time() - t0, 2)
        return clusters
