"""Frozen dedup configuration — the recall-parity surface.

Mirrors the reference's hyper-parameter tuple (L, K, W, T, efC, pC, pQ)
parsed at cppCode/LSH-APG/src/main.cpp:20-44: every hash in the pipeline
is a pure function of (config, input bytes), exactly as the reference
seeds its projections with ``mt19937 rng(0)``
(cppCode/LSH-APG/src/e2lsh.cpp:50-57). Unlike the reference's
clock-seeded insertion shuffle (src/divGraph.h:784-786) nothing here is
order- or time-dependent: the emitted pair set is a set, independent of
partitioning.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    """All knobs of the dedup pipeline. Frozen → hashable → broadcastable."""

    # --- shingling / MinHash (maps reference L*K projections, e2lsh.cpp:62-69)
    shingle_size: int = 3          # words per shingle
    bands: int = 16                # L in reference terms
    rows_per_band: int = 8         # K in reference terms
    # --- multi-probe banding (maps LLCP-ordered probing, e2lsh.cpp:573-699)
    num_probes: int = 2            # extra leave-one-row-out probe keys per band
    # --- verification (maps exact re-rank, basis.h:186-202)
    tau: float = 0.8               # exact word-shingle Jaccard threshold
    # --- SimHash near-dup query (operators/dedup.simhash_neardup_pairs, 64 bits)
    hamming_max: int = 3
    # --- substring pass (winnowing)
    min_substring_len: int = 200   # chars; guarantee t = window + kgram - 1
    winnow_kgram: int = 64         # chars per fingerprinted k-gram
    # --- skew defusal (maps candidate cap lshUB, divGraph.h:934-937)
    bucket_cap: int = 64           # buckets larger than this get salted
    salt_subgroup: int = 8         # expected subgroup size inside salted buckets
    # --- determinism
    seed: int = 42

    def __post_init__(self) -> None:
        if not (0 <= self.num_probes <= self.rows_per_band):
            raise ValueError("num_probes must be in [0, rows_per_band]")
        if self.winnow_kgram >= self.min_substring_len:
            raise ValueError("winnow_kgram must be < min_substring_len")

    @property
    def num_hashes(self) -> int:
        """MinHash signature length: one value per row of every band."""
        return self.bands * self.rows_per_band

    @property
    def winnow_window(self) -> int:
        """Winnowing window: any common substring of length >=
        ``min_substring_len`` is guaranteed to share a fingerprint when
        window = t - kgram + 1 (Schleimer et al., SIGMOD'03)."""
        return self.min_substring_len - self.winnow_kgram + 1

    def to_dict(self) -> dict:
        return asdict(self)

    # Checkpoint schema/format version: bump whenever the on-disk shape
    # of any stage output changes (columns, hash functions, encodings),
    # so stale checkpoints are invalidated instead of resumed into a
    # missing-column failure. v2: signatures gained `bhashes`; bucket
    # keys moved from JVM xxhash64 to the UDF's splitmix fold.
    # v3: substring kernels (winnowing fingerprints + LCS) moved from
    # UTF-8 byte units to Unicode code points — non-ASCII corpora hash
    # differently. v4: signatures dropped the unread `minhash` column
    # and the incremental store no longer keeps a `buckets` table.
    # v5: the incremental store keeps `docs` as a url ledger and
    # `edges` as endpoints only (a, b). v6: signatures dropped the
    # unread `simhash` column, and the incremental store keeps no
    # `edges` table (docs, signatures, clusters only). v7: the
    # incremental store is one table, docs (url, cluster_id, shingles,
    # bhashes); `num_hashes` is derived, no longer a config field.
    # v8: run_dedup's stages are keyed by url, not by an xxhash64 nid
    # (the incremental store's docs table is unchanged).
    # NB: the incremental store FAILS LOUDLY on a version mismatch
    # instead of silently restarting state (streaming/incremental.py,
    # ADVICE r2).
    SCHEMA_VERSION = 8

    def config_id(self) -> str:
        """Stable identity string stored beside every checkpoint."""
        items = sorted(self.to_dict().items())
        return f"v{self.SCHEMA_VERSION}|" + \
            "|".join(f"{k}={v}" for k, v in items)

