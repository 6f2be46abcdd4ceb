"""Engine-wide configuration constants.

Mirrors the reference's config surface:
  - DEFAULT_UPDATE_SEED = 9001 (thetacommon/ThetaUtil.java:78)
  - default lgK = 12 -> k = 4096 nominal entries (thetacommon/ThetaUtil.java:57)
  - KLL default k = 200 (kll/KllSketch.java:111)
  - HLL default lgK = 12 (hll/HllSketch.java:75)
  - frequent-items epsilon = 3.5/maxMapSize (frequencies/LongsSketch.java:363-367)

Pipeline constants (north star, BASELINE.json): 5-word shingles,
128-permutation MinHash, 64-bit SimHash, LSH banding tuned for
dup-pair recall >= 0.99 at Jaccard >= 0.8.
"""

from __future__ import annotations

# ---- sketch defaults (reference parity) ----
DEFAULT_UPDATE_SEED = 9001  # thetacommon/ThetaUtil.java:78
DEFAULT_LG_K = 12  # thetacommon/ThetaUtil.java:57 (k = 4096)
MIN_LG_K = 4
MAX_LG_K = 26  # thetacommon/ThetaUtil.java:37,41
KLL_DEFAULT_K = 200  # kll/KllSketch.java:111
HLL_DEFAULT_LG_K = 12  # hll/HllSketch.java:75
FREQ_DEFAULT_MAX_MAP_SIZE = 1024

# ---- MinHash / SimHash / LSH pipeline config ----
SHINGLE_W = 5  # 5-word shingles (FIXTURES.md)
MINHASH_PERMS = 128  # 128-permutation MinHash (BASELINE.json north_star)
MINHASH_SEED = DEFAULT_UPDATE_SEED
SIMHASH_BITS = 64
# SimHash near-duplicate radius: pairs within this Hamming distance on
# the 64-bit fingerprint (operators/lsh.simhash_hamming_pairs).
SIMHASH_MAX_HAMMING = 12
# LSH banding: 32 bands x 4 rows. Detection probability at Jaccard J is
# 1-(1-J^r)^b: J=0.8 -> 0.99998, J=0.7 -> 0.9998 — comfortably above the
# recall >= 0.99 target (BASELINE.json:14); false candidates at J~0.05 are
# ~2e-4/pair and removed by the exact-Jaccard verification join.
LSH_BANDS = 32
LSH_ROWS = 4
assert LSH_BANDS * LSH_ROWS == MINHASH_PERMS

DUP_JACCARD_THRESHOLD = 0.8  # golden_dup_pairs threshold (FIXTURES.md)
# Cap on candidate pairs emitted per LSH bucket (hot-template guard).
LSH_BUCKET_CAP = 64

# NOTE: the 128 MinHash permutations use (a*h + b) over the full
# uint64 ring (mod 2^64 wrap-around, functions/minhash.py) — NOT a
# Mersenne-prime field; a*odd + b is a bijection on Z/2^64 which is
# sufficient for min-stability.  No prime constant is involved.

# Long-common-substring threshold for the suffix-array pass (FIXTURES.md).
LCS_MIN_RUN = 256
