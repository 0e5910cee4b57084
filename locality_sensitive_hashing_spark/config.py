"""Pinned pipeline configuration (single source of truth).

Mirrors the user-tunable parameters the reference exposes (shingle
type/size, number of hash functions = bands x rows-per-band, a prime
modulus for the universal hash family -- SURVEY.md section 1.1 row
"Parameters"; REF?lsh_matrix.py / REF?main.py form handling, UNVERIFIED).
Every golden fixture and every recall claim is valid only at one Config
(BASELINE.json: "identical shingle-size/num-hashes/band-row config").

Design note vs SURVEY.md Appendix C: ``modulo_prime`` is 2^31-1 (a Mersenne
prime), not 2^61-1.  With P = 2^31-1 and a, b, x < P the universal hash
(a*x + b) mod P stays exact inside int64 numpy arithmetic with no 128-bit
mulmod, which keeps the MinHash kernel a single vectorized broadcast on
executors.  MinHash theory (Broder 1997) only needs P >= universe size and
a pairwise-independent family; per-document shingle counts (<= tens of
thousands) make 31-bit collisions negligible for the Jaccard estimate.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


MERSENNE_31 = (1 << 31) - 1  # 2147483647


@dataclass(frozen=True)
class Config:
    """Frozen dedup-pipeline configuration.

    The seed deterministically derives the universal-hash family (a_j, b_j)
    shared by the numpy oracle and the Spark UDFs, so executors, the driver,
    and the fixture generator agree bit-for-bit.
    """

    # shingling (MMDS section 3.2) over normalized text: the reference
    # exposed shingle type as a user param (SURVEY.md section 2 O3) --
    # "char" = character k-grams, "word" = k-token grams
    shingle_type: str = "char"
    shingle_k: int = 5
    # MinHash (MMDS section 3.3.5): H = bands * rows_per_band
    num_hashes: int = 128
    bands: int = 32
    rows_per_band: int = 4
    modulo_prime: int = MERSENNE_31
    seed: int = 42
    # verification + clustering
    jaccard_threshold: float = 0.5
    # LSH hygiene (BASELINE.json: bounded-bucket caps + salting)
    bucket_cap: int = 64
    salt_buckets: int = 16
    # SimHash companion detector (Charikar STOC 2002)
    simhash_bits: int = 64
    hamming_t: int = 3
    # suffix-array substring detector
    sa_min_len: int = 32
    # audio verification (BASELINE.json input_hint)
    snr_db: float = 30.0
    # connected components
    cc_max_iters: int = 25
    # cluster-mode hardening: reliable checkpoint() (survives executor
    # loss; needs a fault-tolerant checkpoint dir) instead of
    # localCheckpoint() (executor-local blocks -- fine in local mode) for
    # the CC rounds, cluster_delta's inputs and expand_and_verify's
    # screened rep pairs (operators/connected_components._checkpointer)
    cc_reliable_checkpoint: bool = False
    # partitioning knobs (sized for local[32] tests; scale-up notes in
    # plans/pipeline.py docstrings)
    shuffle_partitions: int = 32
    # intake store: fold per-batch commit markers into _batches/MANIFEST
    # once this many markers accumulate (streaming/incremental.py)
    compact_every: int = 64
    # intake key index (streaming/keyindex.py): kb = pmod(xxhash64(key), P)
    # bucket count.  Pure IO-pruning knob -- the probe is an exact
    # anti-join whatever P is; size P >= ~16x the per-batch distinct keys
    # so a probe touches <= 1-exp(-1/16) ~ 6% of base buckets
    key_index_buckets: int = 64

    # knobs that tune EXECUTION but cannot change any result row; excluded
    # from config_id so flipping them never invalidates committed stages,
    # golden fixtures, or resume manifests
    _EXECUTION_ONLY = ("shuffle_partitions", "cc_max_iters",
                       "cc_reliable_checkpoint", "compact_every",
                       "key_index_buckets")

    def __post_init__(self) -> None:
        if self.num_hashes != self.bands * self.rows_per_band:
            raise ValueError(
                f"num_hashes ({self.num_hashes}) must equal "
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band})"
            )
        if self.shingle_type not in ("char", "word"):
            raise ValueError(f"shingle_type must be char|word, got {self.shingle_type!r}")
        if self.sa_min_len < 1:
            raise ValueError(f"sa_min_len must be >= 1, got {self.sa_min_len}")

    @property
    def config_id(self) -> str:
        """Stable hash of the SEMANTIC parameters; keys fixtures,
        manifests, metrics (execution-only knobs excluded, see above)."""
        d = {k: v for k, v in asdict(self).items()
             if k not in self._EXECUTION_ONLY}
        blob = json.dumps(d, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def to_dict(self) -> dict:
        return asdict(self)


DEFAULT_CONFIG = Config()
