"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design:

* **exact** — one hash-groupBy shuffle on the normalized fingerprint;
  map-side combine absorbs duplicates early. O(N).
* **n-gram Jaccard (exact pairwise)** — the oracle-able baseline: blocked
  self-join (equal blocking key) + array intersection math. Quadratic per
  block; at 100 TB use the LSH path and keep this for verification
  samples.
* **MinHash + LSH** — the scale path: k affine universal-hash
  permutations over md5-derived shingle keys (an Arrow/numpy pass,
  operators/sketch_np.py), banded into b bands × r rows; candidates =
  pairs sharing any band bucket. The band join and the pair dedup run
  on SLIM (id, band, bucket) rows only — the shingle arrays are joined
  back once per unique candidate pair (both join-backs key on the same
  id column, so the array-side exchange is reused / AQE-broadcast;
  arrays never ride the band-duplication shuffle).
* **SimHash** — 60-bit sketch from md5-prefix word hashes (reproducible
  in the SQL oracle), built in one vectorized Arrow/numpy pass;
  near-dups = sketches
  within Hamming distance d. Candidate generation is generalized
  multi-index banding: split into `bands` sub-bands, a pair at distance
  ≤ d shares ≥ bands-d of them (pigeonhole), so candidates join on every
  (bands-d)-subset composite key. bands=4/d=3 gives the classic any-band
  scheme; at 100 TB raise `bands` (e.g. 8 → C(8,5)=56 composite keys of
  ~37 bits) to push the bucket keyspace far beyond 2^15 and keep
  per-bucket membership tiny.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import policy
from .text import fingerprint_md5, normalized, words


def _maybe_persist(df: DataFrame, enabled: bool) -> DataFrame:
    """Persist a slim intermediate (MEMORY_AND_DISK) so the self-join
    branches and the verify join-backs read it instead of recomputing the
    text → shingle/sketch extraction per branch (2-4× the extraction cost
    otherwise — the filter on shingle count ALSO re-inlines the whole
    extraction when predicate pushdown reaches the scan, so callers
    filter AFTER the persist barrier). Each persist is tracked by
    :mod:`.cache`; long-lived sessions reclaim the blocks eagerly with
    ``unpersist_intermediates()`` after materializing the output. Pass
    persist_intermediate=False to keep the operator side-effect-free."""
    from .cache import register_persist

    return register_persist(df, enabled)


def shingles(col, n: int = 3):
    """Distinct word n-grams (space-joined), lowercase-normalized.

    Built with ``zip_with`` over shifted slices of the word array — the
    arrays are HOF *inputs*, evaluated once. (A lambda that indexes the
    outer word array re-evaluates the whole split per gram element:
    measured 20× slower.) zip_with pads the shorter side with null;
    null-propagating concat turns incomplete trailing grams into nulls,
    filtered before distinct."""
    ws = words(F.lower(col))
    grams = ws
    for j in range(1, n):
        shifted = F.slice(ws, j + 1, F.greatest(F.size(ws) - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.array_distinct(F.filter(grams, lambda x: x.isNotNull()))
    return F.coalesce(grams, F.array().cast("array<string>"))


def shingle_keys(col, n: int = 3):
    """Distinct 60-bit integer shingle keys: first 15 hex digits of the
    md5 of each n-gram. Set operations on int64 are far cheaper than on
    strings at scale, the keyspace (2^60) makes collisions negligible,
    and md5-prefix (unlike xxhash64) is reproducible in the SQL oracle
    (`('0x' || substring(md5(s),1,15))::BIGINT`)."""
    return F.array_distinct(
        F.transform(
            shingles(col, n),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup mapping: group identical normalized texts (NULL-safe),
    canonical = min id per group.

    Returns (doc_id, canonical_id, group_size, is_dup) for EVERY doc —
    the keep/remove decision a 100 TB dedup pass materializes. One
    hash-groupBy shuffle + one fp-equi join (broadcastable group side when
    duplicates are rare)."""
    fp = df.select(
        F.col(id_col), fingerprint_md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fp")
    )
    groups = fp.groupBy("fp").agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("group_size")
    )
    return fp.join(groups, "fp").select(
        id_col,
        "canonical_id",
        "group_size",
        (F.col(id_col) != F.col("canonical_id")).alias("is_dup"),
    )


def _jaccard_verify(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verify of (id_a, id_b, sh_a, sh_b) pair rows.

    The intersection/union is computed in a PROJECTION above the join
    and the threshold filter references the staged column, held there by
    the shared pushdown barrier (see operators/barrier.py) — otherwise
    the array expressions land in the join condition and evaluate
    INTERPRETED per candidate pair instead of codegen'd per row."""
    from .barrier import scored_above

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter.cast("double") / union.cast("double")
    return scored_above(
        pairs, ["id_a", "id_b"], F.round(jac, 6), "jaccard", threshold
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (oracle baseline)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    block_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_intermediate: bool = True,
) -> DataFrame:
    """All pairs within a block with n-gram Jaccard ≥ threshold.

    Exact but quadratic per block — the verification baseline for the LSH
    path (and the oracle query). Output: (id_a, id_b, jaccard) id_a<id_b.

    Pruning (exact, no false negatives at threshold ≥ 0.5):

    * size-band blocking — J(A,B) ≥ 0.8 ⇒ |A|/|B| ∈ [0.8, 1.25] ⇒ the
      bit-lengths of the shingle counts differ by ≤ 1; pairs join on
      (block, band±1). Integer-exact, so the SQL oracle reproduces it.
    * size-ratio prefilter — J ≥ τ ⇒ τ·max ≤ min (checked with integer
      arithmetic for τ=0.8: 5·min ≥ 4·max) BEFORE the array intersection.
    """
    assert threshold >= 0.8, "size-band pruning is proven for threshold >= 0.8"
    sh = df.select(
        F.col(id_col), F.col(block_col).alias("__block"), shingle_keys(F.col(text_col), n).alias("sh")
    )
    sh = sh.withColumn("__sz", F.size("sh")).withColumn(
        "__band", F.length(F.bin(F.col("__sz")))
    )
    # persist BEFORE the emptiness filter: below the barrier, pushdown
    # would re-inline the shingle extraction into the scan filter, and
    # the a/b join branches would each recompute it
    sh = _maybe_persist(sh, persist_intermediate).filter(F.col("__sz") > 0)
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("__block"), F.col("sh").alias("sh_a"),
        F.col("__sz").alias("sz_a"),
        F.explode(
            F.array(F.col("__band") - 1, F.col("__band"), F.col("__band") + 1)
        ).alias("__band"),
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("__block"), F.col("sh").alias("sh_b"),
        F.col("__sz").alias("sz_b"), F.col("__band"),
    )
    pairs = (
        a.join(b, ["__block", "__band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("sz_a", "sz_b") * 5 >= F.greatest("sz_a", "sz_b") * 4
        )
    )
    return _jaccard_verify(pairs, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH (scale path)
# ---------------------------------------------------------------------------


MERSENNE61 = (1 << 61) - 1
_MASK31 = (1 << 31) - 1


def affine_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine universal-hash
    permutation family h_i(x) = (a_i·x + b_i) mod (2^61−1), a,b < 2^31.
    Shared with the SQL oracle (the constants are embedded in the oracle
    query), so the signatures are engine-independent."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
        for _ in range(num_hashes)
    ]


def minhash_signature(sh_col, num_hashes: int = 32, seed: int = 7):
    """k min-hashes over the shingle array, array<long>. Permutation i
    is the affine universal hash (a_i·(s & 2^31−1) + b_i) mod (2^61−1)
    over the (already md5-derived) shingle keys: pure 64-bit integer
    multiply-add-mod, NO per-seed hashing or string work, overflow-free
    under ANSI (product < 2^62), and digit-for-digit reproducible in
    DuckDB — the WHOLE LSH output is oracle-checked.

    r06: computed by the Arrow/numpy twin (sketch_np.py), vectorized over
    Arrow batches (guide §4.2). The Catalyst fold it replaced,
    ``_minhash_fold``, is CodegenFallback (interpreted per element, a
    fresh k-array accumulator per step — ~5 ms core time per document at
    sf1.0); it stays only as the reference tests/test_sketch_np.py pins
    the twin against."""
    from .sketch_np import minhash_signature_np

    return minhash_signature_np(sh_col, num_hashes, seed)


def _minhash_fold(sh_col, num_hashes: int = 32, seed: int = 7):
    """Pure-Catalyst :func:`minhash_signature`: ONE `aggregate` whose
    accumulator is the array of running minima, updated per element with
    `zip_with` against the per-permutation parameters."""
    params = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in affine_params(num_hashes, seed)
        ]
    )
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)
    return F.aggregate(
        sh_col,
        init,
        lambda acc, s: F.zip_with(
            acc,
            params,
            lambda a, p: F.least(
                a, F.pmod(p["a"] * s.bitwiseAND(F.lit(_MASK31)) + p["b"], F.lit(MERSENNE61))
            ),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    persist_intermediate: bool = True,
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band bucket, then exact-Jaccard
    verified at `threshold`. Near-linear: the only wide operations are the
    band-bucket shuffle and the candidate join.

    The affine signatures and string band keys make the ENTIRE output —
    candidate generation included — reproducible in DuckDB SQL; see the
    minhash_lsh oracle in __spark_entry__."""
    rows = num_hashes // bands
    # r06: lake-table snapshots read as one file per bucket — without a
    # fan-out the shingle+signature extraction runs on ~num_buckets
    # tasks (see policy.spread)
    df = policy.spread(df, id_col)
    base = df.select(
        F.col(id_col), shingle_keys(F.col(text_col), n).alias("sh")
    ).withColumn("sig", minhash_signature(F.col("sh"), num_hashes, seed))
    # ONE materialization of the text → shingles → signature extraction:
    # persisted before the emptiness filter (pushdown would re-inline the
    # extraction into the scan filter) and shared by the two band-join
    # branches AND the two array join-backs — uncached, each of those
    # recomputes the whole extraction (measured 6.9 s → 2.9 s at sf0.1)
    base = _maybe_persist(base, persist_intermediate)
    sig = base.filter(F.size("sh") > 0)
    sh = sig

    def bucket_key(bi: int):
        return F.concat_ws(
            ",", *[F.col("sig")[bi * rows + j].cast("string") for j in range(rows)]
        )

    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band"), bucket_key(bi).alias("bucket"))
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # candidate generation + pair dedup on SLIM rows only (id, band,
    # bucket): the shingle arrays must NOT ride the band-duplication
    # shuffle (bands× array duplication) nor the candidate dedup — at
    # scale that shuffle dominates. Arrays are joined back once per
    # unique pair; both join-backs hash-partition `sh` on the same id
    # column (reused exchange), or AQE broadcasts the small pair side.
    slim = banded.select(id_col, "band", "bucket")
    a = slim.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = slim.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # r06 exact size-ratio prefilter BEFORE the array join-back:
    # J = I/U with I <= min(|A|,|B|) and U >= max(|A|,|B|), and IEEE
    # division of exact integers is monotone in each operand, so
    # float(I/U) <= float(min/max), and rounding to 6 places is monotone
    # too: round(I/U, 6) <= round(min/max, 6). The verify keeps
    # round(J, 6) >= tau, so a candidate with round(min/max, 6) < tau
    # cannot pass it and is dropped on SLIM rows (two broadcast joins of
    # the vocabulary-sized (id, size) table) before the shingle arrays
    # ever move. Comparing the UNROUNDED ratio would drop pairs whose
    # ratio rounds up to tau (e.g. 2/3 at tau=0.666667).
    sizes = sh.select(F.col(id_col), F.size("sh").alias("__sz"))
    cand = (
        cand.join(
            F.broadcast(sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sza"))),
            "id_a",
        )
        .join(
            F.broadcast(sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__szb"))),
            "id_b",
        )
        .filter(
            F.round(
                F.least("__sza", "__szb").cast("double")
                / F.greatest("__sza", "__szb").cast("double"),
                6,
            )
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    arrs_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    arrs_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = cand.join(arrs_a, "id_a").join(arrs_b, "id_b")
    return _jaccard_verify(pairs, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # md5-prefix word hashes are 60-bit (15 hex digits)


def word_hashes60(col):
    """Distinct lowercase words → 60-bit md5-prefix hashes. md5-prefix
    (not xxhash64) so the SQL oracle reproduces the sketch exactly
    (`('0x' || substring(md5(w),1,15))::BIGINT` in DuckDB)."""
    ws = F.array_distinct(words(F.lower(col)))
    return F.transform(ws, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"))


def simhash60(hashes):
    """60-bit SimHash: bit b of the sketch = majority of bit b across the
    word hashes.

    r06: computed by the Arrow/numpy twin (bit unpack + per-row segment
    sums over Arrow batches; sketch_np.py). The Catalyst fold it
    replaced, ``_simhash_fold``, is CodegenFallback — interpreted, ~60
    inner lambda evaluations per array element; it stays only as the
    reference tests/test_sketch_np.py pins the twin against."""
    from .sketch_np import simhash60_np

    return simhash60_np(hashes)


def _simhash_fold(hashes):
    """Pure-Catalyst :func:`simhash60`: ONE traversal of the hash array —
    a single `aggregate` with an array-of-60-counters accumulator
    (zip_with add per element)."""
    weights = F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    zeros = F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS)
    counts = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            weights,
            lambda a, w: a + F.when(h.bitwiseAND(w) != 0, F.lit(1)).otherwise(F.lit(0)),
        ),
    )
    n = F.size(hashes)
    return F.aggregate(
        F.zip_with(
            counts,
            weights,
            lambda c, w: F.when(c * 2 >= n, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_intermediate: bool = True,
    salt: "int | None" = None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Candidate generation: generalized multi-index banding. The sketch is
    split into `bands` sub-bands; ≤ max_hamming differing bits corrupt at
    most max_hamming bands, so a true pair shares ≥ q = bands-max_hamming
    specific intact bands — it is guaranteed found by joining on every
    q-subset composite key (C(bands, q) keys per doc, hashed with the
    subset id). bands=4, d=3 → the classic any-single-band scheme with
    2^15 buckets; at 100 TB use bands=8 (56 keys of ~37 effective bits,
    2^37 bucket keyspace) so per-bucket membership stays small and the
    within-bucket pairing never goes quadratic. Exact Hamming verify on
    the deduped candidate set; output equals the brute-force all-pairs
    filter (the SQL oracle computes it that way)."""
    assert bands > max_hamming, "need more bands than allowed bit errors"
    q = bands - max_hamming
    combos = list(combinations(range(bands), q))
    band_bits = SIMHASH_BITS // bands
    mask = (1 << band_bits) - 1

    # sketch table materialized ONCE (persist before the emptiness
    # filter — see _maybe_persist); both band-join branches read it.
    # spread: see minhash_lsh_pairs
    df = policy.spread(df, id_col)
    s = (
        df.select(F.col(id_col), word_hashes60(F.col(text_col)).alias("wh"))
        .select(id_col, F.size("wh").alias("__n"), simhash60(F.col("wh")).alias("sim"))
    )
    s = (
        _maybe_persist(s, persist_intermediate)
        .filter(F.col("__n") > 0)
        .select(id_col, "sim")
    )
    bandvals = [
        F.shiftrightunsigned(F.col("sim"), band_bits * i).bitwiseAND(F.lit(mask))
        for i in range(bands)
    ]
    keys = F.array(
        *[
            F.xxhash64(F.lit(ci), *[bandvals[i] for i in combo])
            for ci, combo in enumerate(combos)
        ]
    )
    # sketches are scalars (16 bytes/pair) — cheap to carry through the
    # candidate shuffle, so no join-back stage is needed (unlike minhash,
    # whose shingle ARRAYS must stay out of the band shuffle).
    #
    # r06 candidate discipline (measured at sf1.0: 230M raw candidates
    # for 19.4M true pairs, dropDuplicates shuffle 14 s, hottest bucket
    # 13.9k members = 97M pairs on ONE task):
    # * exactly-once emission — a pair is kept only at its FIRST combo
    #   whose bands all truly agree (compared on the band VALUES, so a
    #   64-bit key collision can neither duplicate nor drop a pair).
    #   Every hamming<=d pair has >= q intact bands (pigeonhole), hence
    #   a fully-agreeing combo; pairs with none have hamming > d and
    #   were doomed anyway. Replaces the 230M-row dropDuplicates
    #   shuffle with a per-row codegen predicate.
    # * salted self-join — the probe side carries chunk = hash(id) mod
    #   S, the build side replicates each row S ways, and the join keys
    #   on (bk, chunk): identical pair multiset, hot buckets split S
    #   ways across tasks. S defaults to policy.salt for the q=1
    #   any-band scheme (2^15 buckets, hot buckets expected); for q>1
    #   the keyspace is large enough that buckets stay tiny and the S x
    #   build-side duplication would dominate, so the default is 1.
    if salt is None:
        salt = policy.salt(df.sparkSession) if q == 1 else 1
    slim = s.select(
        id_col, "sim", F.posexplode(keys).alias("ci", "bk")
    )
    a = slim.select(
        F.col(id_col).alias("id_a"),
        F.col("sim").alias("sim_a"),
        "ci",
        "bk",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).alias("__chunk"),
    )
    b = slim.select(F.col(id_col).alias("id_b"), F.col("sim").alias("sim_b"), "ci", "bk")
    if salt > 1:
        b = b.withColumn(
            "__chunk", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
    else:
        b = b.withColumn("__chunk", F.lit(0))

    def band_eq(i: int):
        return (
            F.shiftrightunsigned(F.col("sim_a"), band_bits * i).bitwiseAND(F.lit(mask))
            == F.shiftrightunsigned(F.col("sim_b"), band_bits * i).bitwiseAND(F.lit(mask))
        )

    def combo_agree(combo):
        cond = None
        for i in combo:
            e = band_eq(i)
            cond = e if cond is None else cond & e
        return cond

    first_hit = None
    for ci, combo in enumerate(combos):
        this = combo_agree(combo)
        if first_hit is None:
            emit = (F.col("ci") == ci) & this
        else:
            emit = emit | ((F.col("ci") == ci) & this & ~first_hit)
        first_hit = this if first_hit is None else first_hit | this
    pairs = (
        a.join(b, ["bk", "ci", "__chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(emit)
        .select("id_a", "id_b", "sim_a", "sim_b")
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return pairs.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
