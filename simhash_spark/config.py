"""Pinned engine configuration — SINGLE source of truth (SURVEY.md §2.2).

Generalizes the reference encoder's config surface
(/root/reference/src/Htm/SimHashDocumentEncoder.hsc:40-52,
/root/reference/src/Htm/V2.hs:54-62, /root/reference/README.md:104-111:
size=600, sparsity=0.2, tokenSimilarity=true) into the classic 64-bit
SimHash + MinHash-LSH + substring-gram config this engine runs at.

Everything that affects a signature value lives HERE and nowhere else, so
the pure-numpy reference encoder (reference.py) and the Spark pandas UDFs
(functions/signatures.py) can never drift apart.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict

# ---------------------------------------------------------------------------
# Signature semantics (pinned — changing any of these invalidates golden
# vectors in tests/vectors/)
# ---------------------------------------------------------------------------

#: SimHash signature width in bits (classic Charikar/Manku 64-bit variant of
#: the reference's size=600 SDR; see SURVEY.md §2.2).
SIG_BITS = 64

#: Char-shingle width used as SimHash sub-token features — generalizes the
#: reference's tokenSimilarity=true (char-level sub-hashing inside tokens,
#: /root/reference/src/Htm/SimHashDocumentEncoder.hsc:48).
CHAR_SHINGLE_K = 3

#: MinHash shingling: char k-shingles over the normalized text.
MINHASH_SHINGLE_K = 5
#: Number of minhash permutations.
NUM_PERM = 128
#: LSH banding for minhash: BANDS * ROWS == NUM_PERM.
#: Threshold ~ (1/BANDS)^(1/ROWS) ~ 0.42.
BANDS = 32
ROWS = 4

#: SimHash Hamming-ball banding, Manku et al. WWW'07 style: split the 64
#: bits into SIM_BLOCKS blocks; any pair with hamming <= HAM_D leaves
#: >= SIM_BLOCKS - HAM_D blocks untouched, so keying every combination of
#: (SIM_BLOCKS - HAM_D) blocks guarantees a shared key (pigeonhole) while
#: the ~33-bit keys keep accidental collisions ~2^17x rarer than naive
#: 16-bit quarter-blocks — THE difference between O(n^2/2^16) and
#: O(n^2/2^33) candidate pairs at corpus scale.
HAM_D = 3
SIM_BLOCKS = 6
#: per-block bit widths (sum = 64)
SIM_BLOCK_WIDTHS = (11, 11, 11, 11, 10, 10)
#: all (SIM_BLOCKS - HAM_D)-block combinations, each one LSH table
SIM_TABLE_COMBOS = tuple(
    __import__("itertools").combinations(range(SIM_BLOCKS), SIM_BLOCKS - HAM_D)
)
SIM_TABLES = len(SIM_TABLE_COMBOS)  # C(6,3) = 20

#: Verification thresholds (SURVEY.md §2.2 VERIFY line).
VERIFY_HAMMING_MAX = 3
VERIFY_JACCARD_MIN = 0.8

#: Substring (suffix/gram) detector: exact containment of >= SUBSTR_MIN_LEN
#: normalized chars; candidate generation via hashed char n-grams of width
#: GRAM_K sampled every GRAM_STRIDE positions.
SUBSTR_MIN_LEN = 64
GRAM_K = 16
GRAM_STRIDE = 8
#: LSH-evidence gate of the substring tier: a candidate pair is checked
#: for containment only if it shares >= MIN_GRAM_HITS sampled grams (a
#: 64-char span samples ~6 grams; P(< 2) ~ 1.1%) or is a starred
#: hot-band edge with any gram hit (operators/lsh.needs_substring).
MIN_GRAM_HITS = 2

#: Minhash signature scheme.
#:   "perm128"       — NUM_PERM independent (a*x+b) mod p permutations:
#:                     O(shingles * NUM_PERM) multiply-add-mod work.
#:   "oph-densified" — One-Permutation Hashing (Li/Owen/Zhang, NIPS'12):
#:                     ONE mix per shingle, min per NUM_PERM hash-space
#:                     bins, empty bins filled from the next non-empty
#:                     bin circularly (densified OPH, Shrivastava &
#:                     Li ICML'14): O(shingles) total — the kernel's
#:                     perm-min loop was 14.7 s of the 17.4 s bands
#:                     kernel per 50k rows, and OPH removes the x128.
#: Default is oph-densified: the interleaved pipeline-level A/B at
#: 2M rows / local[8] (BENCH/ab-minhash-scheme-t8-n2000000.json) put it
#: 17.5% ahead end-to-end (355.0 vs 430.2 s mean of 2 legs each) with
#: the bands stage halved (51-56 vs 106-111 s) and candidate_pairs /
#: verify flat — i.e. no candidate blowup from the scheme flip.
#: Env-overridable (not just a constant) because pandas-UDF workers are
#: separate processes: subprocess A/B legs select the scheme at launch.
#: Signature values differ between schemes, so the scheme is part of
#: SEMANTICS (checkpoints refuse to resume across a switch) and golden
#: vectors regenerate on a default flip (bin/regen_golden.py).
import os as _os

MINHASH_SCHEME = _os.environ.get("SPARK_GRAFT_MINHASH_SCHEME", "oph-densified")

#: Prime modulus for minhash universal hashing (Mersenne 2^31-1: products of
#: two <2^31 values fit in uint64 — vectorizes without 128-bit arithmetic).
MINHASH_PRIME = (1 << 31) - 1
#: Value assigned to every minhash slot of an EMPTY shingle set (never
#: produced by the hash itself since hashes are < MINHASH_PRIME).
MINHASH_EMPTY = MINHASH_PRIME

#: RNG seed for the minhash permutation parameters (a_i, b_i).
MINHASH_SEED = 0x51_AB_5EED

#: Personalization prefix for the stable 64-bit feature hash (blake2b) —
#: since the span-poly-v2 hash took over the dedup-signature path, this
#: only feeds the ML/SDR encoder (reference.sdr_encode, ml._encode_bits),
#: whose reference-sample parity bar is pinned to blake2b values.
HASH_PERSON = b"simhash-spark-v1"

#: Feature-hash algorithm for the dedup signature path (simhash features,
#: minhash shingles, substring grams): position-independent polynomial
#: span hash over (codepoint+1) with splitmix64 finalizer
#: (reference.py `_span_hash`). Changing this invalidates golden vectors
#: (regenerate with bin/regen_golden.py) and every signature checkpoint.
FEATURE_HASH = "span-poly-v2"

#: SDR-parity mode (reference defaults, used only by parity tests):
SDR_SIZE = 600
SDR_SPARSITY = 0.2
SDR_ACTIVE_BITS = int(SDR_SIZE * SDR_SPARSITY)  # 120

# ---------------------------------------------------------------------------
# Runtime/scale knobs (do NOT affect signature values)
# ---------------------------------------------------------------------------


def partitions_for_rows(
    n_rows: int, floor: int = 32, rows_per_partition: int = 16_000
) -> int:
    """Explicit shuffle-partition count sized to DATA volume, not core
    count (north_rule: explicit partition counts). Measured at 2M docs
    (BENCH/sp-probe-n2000000-shm.json, scaling-fixed-sp-*.json): the
    cores*2 heuristic undersizes partitions below 32 cores — the 8-core
    pipeline runs 683 s at 16 partitions but 389 s at 128 (the
    candidate_pairs sort drops 333 -> 109 s), and 32 cores prefers 128
    over 64 as well. ~16k docs/partition keeps each band-sort's run
    ~0.8M rows (tens of MB), inside the executor's cache-friendly range,
    and is exactly the number a real cluster would pin per-dataset while
    executor counts scale underneath it."""
    return max(floor, -(-n_rows // rows_per_partition))


@dataclass
class EngineConfig:
    """Per-run execution knobs; persisted with each run's lineage."""

    #: Explicit shuffle/partition count for band repartitioning (north_rule
    #: demands explicit partition counts). None -> spark.sql.shuffle.partitions.
    partitions: int | None = None
    #: Max ROWS in a single (det, band_id, band_hash) group before the
    #: group is diverted to linear star edges. Guards O(n^2) hot bands.
    band_group_cap: int = 2000
    #: Max PAIRS (n*(n-1)/2) a single band group may emit before it is
    #: diverted to star edges — same guard as band_group_cap at pair
    #: granularity; diverted groups are logged to _metrics (no silent
    #: truncation). None disables the pair-count cap.
    max_pairs_per_group: int | None = None
    #: Connected-components max iterations (safety guard; the loop stops on
    #: convergence well before this for realistic dup-cluster diameters).
    cc_max_iters: int = 50
    #: Commit the CC labels table DURABLY every k rounds (executor loss
    #: cannot lose more than k rounds of label propagation; the loop
    #: resumes from the committed table).
    cc_checkpoint_every: int = 5
    #: Arrow batch size for pandas UDFs.
    arrow_batch: int = 10_000
    #: Which detectors to run.
    detectors: tuple = ("simhash", "minhash", "substring")

    def to_dict(self) -> dict:
        d = asdict(self)
        d["detectors"] = list(self.detectors)
        return d


#: Signature-semantics fingerprint — stored in lineage so a resume against a
#: checkpoint written under different semantics is refused.
SEMANTICS = {
    "sig_bits": SIG_BITS,
    "char_shingle_k": CHAR_SHINGLE_K,
    "minhash_shingle_k": MINHASH_SHINGLE_K,
    "num_perm": NUM_PERM,
    "bands": BANDS,
    "rows": ROWS,
    "ham_d": HAM_D,
    "sim_blocks": SIM_BLOCKS,
    "sim_block_widths": list(SIM_BLOCK_WIDTHS),
    "sim_tables": SIM_TABLES,
    "verify_hamming_max": VERIFY_HAMMING_MAX,
    "verify_jaccard_min": VERIFY_JACCARD_MIN,
    "substr_min_len": SUBSTR_MIN_LEN,
    "gram_k": GRAM_K,
    "gram_stride": GRAM_STRIDE,
    "minhash_prime": MINHASH_PRIME,
    "minhash_seed": MINHASH_SEED,
    "minhash_scheme": MINHASH_SCHEME,
    "hash_person": HASH_PERSON.decode(),
    "feature_hash": FEATURE_HASH,
    # band-table layout: one packed long key det(2b)|band_id(5b)|hash(57b)
    # (operators/lsh.py). Checkpoints written under the unpacked
    # (det, band_id, band_hash) layout refuse to resume.
    "band_key_layout": "packed-det2-band5-hash57",
    # id encoding of the hot pipeline interior (bands / candidate_pairs):
    # cid = xxhash64(clip_id) int64, mapped back to clip_id strings at
    # the verified_pairs boundary. Checkpoints written under the string-
    # keyed interior refuse to resume (profile lacks cid, pairs carry
    # strings).
    "id_key": "cid-xxhash64",
}
