"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline: broadcast the (small)
  query set against the full table, dot products via zip_with/aggregate
  in float64 (left-to-right accumulation, bit-stable vs the SQL oracle).
* LSH-bucketed ANN — the scale path: random-hyperplane signatures from
  seeded deterministic pseudo-vectors, candidates from bucket equality,
  exact re-rank of candidates only; recall measured against brute force.
* embedding-cosine near-dup pairs — exact all-pairs baseline (the
  oracle path) + OR-amplified banded-hyperplane LSH (the scale path:
  slim candidate generation, vectors join back once per unique pair).
* IVF (inverted-file) ANN — the other scale path: every vector is
  assigned to its nearest centroid (centroids = a deterministic
  md5-hash sample of the vectors themselves — IVF-Flat with sampled
  centroids); queries probe the ``nprobe`` nearest centroid lists and
  re-rank exactly. The hash-sampled centroids make the WHOLE pipeline
  reproducible in the SQL oracle. At 100 TB: centroid count scales as
  ~sqrt(N) via ``centroid_stride``; assignment is one broadcast join +
  hash-agg argmax (no sort of the big side), probing touches
  nprobe/num_centroids of the data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import policy


def _dot(a, b, dim: "int | None" = None):
    """Float64 dot product, left-to-right accumulation.

    Higher-order functions (zip_with/aggregate) are CodegenFallback in
    Spark — every element evaluates through the interpreted expression
    walker, which made the IVF assignment's N·C pair loop the top cost
    of the whole bench at sf1.0 (255 s). With ``dim`` known, the fold is
    unrolled into the equivalent left-deep Add chain over GetArrayItem —
    plain codegen arithmetic, bit-identical to the fold (same operand
    order: ((0.0 + a0·b0) + a1·b1) + …, same per-element cast-to-double
    and null propagation) — guarded on both sizes equalling ``dim``;
    any other row falls back to the original HOF fold."""
    hof = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    if dim is None:
        return hof
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + a[i].cast("double") * b[i].cast("double")
    return F.when((F.size(a) == dim) & (F.size(b) == dim), acc).otherwise(hof)


def _norm(a, dim: "int | None" = None):
    hof = F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    if dim is None:
        return F.sqrt(hof)
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + a[i].cast("double") * a[i].cast("double")
    return F.sqrt(F.when(F.size(a) == dim, acc).otherwise(hof))


def _peek_dim(df: DataFrame, vec_col: str) -> "int | None":
    """Vector width from the first row — one LIMIT-1 job (a bounded
    control-plane read, same class as the engine's skew probe), enabling
    the codegen dot/norm unroll. Rows of any OTHER width still compute
    through the guarded HOF fallback, so the peek is a pure optimization
    hint, never a correctness assumption.

    r06 size gate: below ~4 MB of estimated input the unroll's fixed
    costs (the peek job + janino-compiling the 64-term chains per fresh
    plan) exceed what it saves — measured +1.2 s on embedding_topk at
    sf0.1 vs a ~1.5x win at sf1 (and the 100x IVF-assignment win only
    materializes at scale). Returning None selects the HOF fold."""
    if policy.below_gate(df):
        return None
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    d = row["d"] if row is not None else None
    return int(d) if d is not None and d > 0 else None


def cosine(a, b):
    """Inline cosine — convenience for ad-hoc expressions. The operator
    paths all stage norms in a projection instead (one _norm per row,
    not per pair); keep this out of joins and per-pair hot paths."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    The query side is a handful of rows → broadcast join, no shuffle on
    the big side; ranking is a per-query window over k·|queries| rows.
    Output: (query_id, neighbor_id, rank, cos_sim rounded to 6).
    """
    # norms staged once per row / once per query BELOW the broadcast join
    # — cosine() inline would recompute both HOF norms per (row, query)
    # pair (|queries|× redundant work on the big side); dot/(nrm*qnrm) is
    # op-for-op the SQL oracle's arithmetic
    dim = _peek_dim(df, vec_col)
    base = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col), dim).alias("_nrm")
    )
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("_nrm").alias("_qnrm"),
    )
    pairs = base.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    sim = _dot(F.col("qv"), F.col(vec_col), dim) / (F.col("_qnrm") * F.col("_nrm"))
    scored = pairs.select(
        "query_id", F.col(id_col).alias("neighbor_id"), F.round(sim, 6).alias("cos_sim")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    centroid_stride: "int | None" = 64,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist_intermediate: bool = True,
) -> DataFrame:
    """IVF-Flat ANN with deterministic hash-sampled centroids.

    * centroids: vectors whose 60-bit md5(vec_id) hash ≡ 0 mod
      ``centroid_stride`` (≈ N/stride centroids, deterministic — the SQL
      oracle reproduces the set exactly);
    * assignment: nearest centroid by cosine — broadcast the (small)
      centroid table, hash-agg argmax via max(struct(sim, -cid)) (no
      window/sort over the big side), join the winning cid back;
    * search: each query probes its ``nprobe`` nearest centroids and
      exact-reranks only those inverted lists.

    Output matches cosine_topk's shape: (query_id, neighbor_id, rank,
    cos_sim). Recall vs brute force is measured in pytest; it rises with
    nprobe (= 1.0 when nprobe ≥ num centroids)."""
    from pyspark.sql.window import Window

    dim = _peek_dim(df, vec_col)
    base, cents, assigned = _ivf_assign(
        df, centroid_stride, id_col, vec_col, persist_intermediate, dim=dim
    )

    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("_nrm").alias("_qnrm"),
    )
    qsim = F.round(
        _dot(F.col("qv"), F.col("cv"), dim) / (F.col("_qnrm") * F.col("_cnrm")), 6
    )
    qc = q.join(cents).select("query_id", "qv", "_qnrm", "cid", qsim.alias("csim"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "_qnrm", "cid")
    )

    cand = assigned.join(F.broadcast(probes), "cid").filter(
        F.col(id_col) != F.col("query_id")
    )
    sim = F.round(
        _dot(F.col("qv"), F.col(vec_col), dim) / (F.col("_qnrm") * F.col("_nrm")), 6
    )
    scored = cand.select(
        "query_id", F.col(id_col).alias("neighbor_id"), sim.alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _ivf_assign(
    df: DataFrame,
    centroid_stride: "int | None",
    id_col: str,
    vec_col: str,
    persist_intermediate: bool,
    dim: "int | None" = None,
):
    """The IVF build stage shared by ``ivf_topk`` (probe path) and
    ``semantic_dedup`` (prune path): returns ``(base, cents, assigned)``
    — the persisted (id, vector, staged norm) table, the broadcast
    deterministic hash-sampled centroid table (with the empty-sample
    fallback folded into the plan), and the per-row nearest-centroid
    assignment carrying (id, vector, _nrm, cid).

    Cost note: hash sampling yields N/stride centroids, so the
    assignment argmax does N·(N/stride) dots — quadratic at FIXED
    stride. Scale ``centroid_stride`` ∝ √N to stay on the N^1.5
    envelope (measured in the round-5 sf1 sweep, BENCH/NOTES.md).
    Pass ``centroid_stride=None`` to do exactly that: stride = ⌈√N⌉
    from one count() over the persisted build table (an action the
    pipeline pays anyway to populate the cache; deterministic given
    the input, so re-running the query re-derives the same plan)."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast("long")
    # norms staged once per row / per centroid BELOW the assignment cross
    # join — otherwise every (row, centroid) pair recomputes both HOF
    # norms (num_centroids× redundant work on the big side); the staged
    # arithmetic (dot / (nrm_row * nrm_cent)) is op-for-op the oracle's
    if dim is None:
        dim = _peek_dim(df, vec_col)
    # spread a narrow scan before the N·C assignment stage: a single-file
    # vector table is 1-2 input splits, which left the (broadcast-join)
    # pair loop running on as many tasks — near-serial at any core count.
    # Explicit partition count so AQE cannot coalesce the fan-out;
    # deterministic hash on the id (not round-robin). r06 follow-up: the
    # fan-out moved BELOW the select and became unconditional — the old
    # base.rdd.getNumPartitions() probe executed the upstream exchange
    # as an extra job under AQE, and an already-spread input now
    # collapses with this node (CollapseRepartition) instead.
    base = policy.spread(df, id_col).select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col), dim).alias("_nrm")
    )
    # the (id, vector, norm) table is the IVF build artifact — it is
    # read by the centroid sample, the assignment join, the probe
    # side, and the candidate re-rank; uncached, each branch re-scans
    # the source and recomputes the norms
    from .cache import register_persist

    base = register_persist(base, persist_intermediate)
    if centroid_stride is None:
        # auto mode: stride = ceil(sqrt(N)) — √N centroids and √N-sized
        # clusters, the N^1.5 envelope. The count doubles as the cache
        # populator for the persisted build table.
        n = base.count()
        centroid_stride = max(1, math.isqrt(max(n - 1, 0)) + 1)
    # centroid sample with the empty-sample fallback folded INTO the plan:
    # small datasets / stride > N can leave the hash sample empty, and an
    # empty centroid table would silently return zero neighbors
    # (assignment and probes both inner-join it). A one-row aggregate over
    # the persisted base (has-any-sampled flag + global min hash) is
    # broadcast under every row; when the flag is 0 the row minimizing
    # the hash becomes the single centroid. No extra driver action — the
    # old `isEmpty()` probe ran a scan-until-first-row job per call even
    # when centroids existed. (60-bit md5 min is unique up to hash
    # collisions, ~N²/2^61 — negligible.)
    sampled = F.pmod(F.col("_h"), F.lit(centroid_stride)) == 0
    hbase = base.withColumn("_h", h)
    agg = hbase.agg(
        F.max(F.when(sampled, 1).otherwise(0)).alias("_has"),
        F.min("_h").alias("_minh"),
    )
    cents_df = (
        hbase.join(F.broadcast(agg))
        .filter(sampled | ((F.col("_has") == 0) & (F.col("_h") == F.col("_minh"))))
        .drop("_h", "_has", "_minh")
    )
    cents = F.broadcast(
        cents_df.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            F.col("_nrm").alias("_cnrm"),
        )
    )

    csim = F.round(
        _dot(F.col(vec_col), F.col("cv"), dim) / (F.col("_nrm") * F.col("_cnrm")), 6
    )
    scored_c = base.join(cents).select(id_col, F.col("cid"), csim.alias("csim"))
    # argmax as one row_number window (r06). The previous max +
    # join-back + min shape consumed scored_c TWICE — the join on
    # [id, csim] partitions differently from the aggregate's exchange,
    # so nothing was reused and the N·C assignment cross join evaluated
    # twice per run. The window shuffles the same N·C slim rows once and
    # evaluates the cross join once. Ordering (csim DESC, cid ASC)
    # reproduces the exact tie rule (max similarity, then smaller cid =
    # the SQL oracle's ORDER BY); NULL csim rows are dropped first, as
    # the old join-back (null never equals the aggregated max) did.
    from pyspark.sql.window import Window as _W

    wb = _W.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("cid"))
    best = (
        scored_c.filter(F.col("csim").isNotNull())
        .withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") == 1)
        .select(id_col, "cid")
    )
    # downstream consumers keep the staged row norm — cosine() inline
    # there would recompute both HOF norms per candidate pair (the
    # assignment above already demonstrates the staged shape). The
    # assignment table is itself persisted: semantic_dedup reads it
    # three times (both pair sides + the output spine) and ivf_topk's
    # probe/re-rank path once more — uncached, each read re-ran the
    # whole N·C assignment.
    assigned = base.select(id_col, vec_col, "_nrm").join(best, id_col)
    assigned = register_persist(assigned, persist_intermediate)
    return base, cents, assigned


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    centroid_stride: "int | None" = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist_intermediate: bool = True,
) -> DataFrame:
    """SemDeDup-style cluster-then-prune semantic dedup (Abbas et al.
    2023, arXiv:2303.09540): assign every embedding to its nearest
    deterministic hash-sampled centroid (the shared ``_ivf_assign``
    build), compare pairs ONLY within a cluster, and mark the larger id
    of every pair with cosine ≥ threshold as a duplicate. Output one row
    per input: (id, cluster_id, keep).

    Scale: the clustering bounds the all-pairs blowup per cluster —
    expected cluster size ≈ stride, so pair work ≈ N·stride. The
    ASSIGNMENT term is the one to watch: N/stride hash-sampled
    centroids make the broadcast argmax cost N·(N/stride) dots —
    quadratic at FIXED stride. Scale ``centroid_stride`` ∝ √N to sit
    on SemDeDup's own N^1.5 envelope (√N centroids, √N-sized
    clusters); the round-5 sf1 sweep measured stride 32→101 at 20k
    vectors cutting wall clock 2.6× with the survivor set essentially
    unchanged (BENCH/NOTES.md round 5). Also size stride so a
    cluster's vectors fit an executor. The
    self-join shuffles on cid with the staged norms riding along; every
    pair then costs one dot + one divide. Keep rule: min id per
    near-dup pair — deterministic, order-free, consistent with the text
    dedup family (the paper keeps the lowest-centroid-similarity
    exemplar; the canonical-id rule needs no second similarity pass and
    is oracle-exact)."""
    from .barrier import scored_above

    dim = _peek_dim(df, vec_col)
    _, _, assigned = _ivf_assign(
        df, centroid_stride, id_col, vec_col, persist_intermediate, dim=dim
    )
    # r06 pair-stage discipline:
    # * pushdown barrier — filtering on the cosine directly after the
    #   cid self-join pushed the dot-product predicate INTO the join
    #   condition, where it evaluates interpreted per candidate pair
    #   (operators/barrier.py); scored_above stages it in a codegen
    #   projection instead.
    # * salted self-join — duplicate-heavy corpora assign all copies to
    #   one centroid, so one cluster's m^2 pair loop landed on a single
    #   task; chunking the probe side by hash(id) mod policy.salt and
    #   replicating the build side spreads it without changing the pair
    #   multiset.
    salt = policy.salt(df.sparkSession)
    a = assigned.select(
        "cid",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).alias("__chunk"),
    )
    b = assigned.select(
        "cid",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    ).withColumn("__chunk", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    sim = _dot(F.col("_va"), F.col("_vb"), dim) / (F.col("_na") * F.col("_nb"))
    pairs = a.join(b, ["cid", "__chunk"]).filter(F.col("id_a") < F.col("id_b"))
    dups = (
        scored_above(pairs, ["id_b"], F.round(sim, 6), "__sim", threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.select(id_col, F.col("cid").alias("cluster_id"))
        .join(F.broadcast(dups.withColumn("_dup", F.lit(1))), id_col, "left")
        .select(id_col, "cluster_id", F.col("_dup").isNull().alias("keep"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    method: str = "lsh",
    num_bands: int = 12,
    planes_per_band: int = 4,
    dim: int = 64,
    seed: int = 23,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos_sim ≥
    threshold), cos_sim rounded to 6.

    * ``method='exact'`` — all-pairs verification baseline (quadratic per
      dataset; the contract-query/oracle path, NOT the 100 TB path). Norms
      are staged once per row below the self-join so each pair costs one
      dot product + one divide, same op order as the SQL oracle.
    * ``method='lsh'`` — the scale path: random-hyperplane signatures,
      OR-amplified over ``num_bands`` independent bands of
      ``planes_per_band`` planes each (collision prob per band
      = (1-θ/π)^planes; recall = 1-(1-p)^bands). Candidate pairs are
      generated from SLIM (id, band, bucket) rows and deduped BEFORE the
      vectors are joined back — the wide arrays cross the shuffle once per
      unique candidate, never per band (the minhash_lsh lesson from round
      1). At 100 TB raise planes_per_band ~log(N) to keep per-bucket
      populations (and the per-bucket quadratic) constant while adding
      bands to hold recall.

    Reference parity note: the reference plugin has no similarity ops —
    this is a north-rule training-data-pipeline addition (SURVEY §2.2).
    """
    vdim = _peek_dim(df, vec_col)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col), vdim).alias("_nrm"),
    )
    if method == "exact":
        # candidate (id_a < id_b) pairs generated from SLIM id rows — the
        # theta-join must NOT see the vectors, or Catalyst pushes the
        # similarity predicate into the BroadcastNestedLoopJoin condition,
        # where it is evaluated INTERPRETED per pair (measured 40× slower
        # than the codegen'd post-hash-join verify below)
        ids = base.select("_id")
        cand = ids.select(F.col("_id").alias("id_a")).join(
            ids.select(F.col("_id").alias("id_b")), F.col("id_a") < F.col("id_b")
        )
        return _verify_pairs(cand, base, threshold, dim=vdim)
    if method != "lsh":
        raise ValueError(f"method must be 'exact' or 'lsh', got {method!r}")

    sigs = []
    for band in range(num_bands):
        sig = None
        for j in range(planes_per_band):
            plane = _pseudo_plane(dim, band * planes_per_band + j, seed)
            # literal-plane dots stay on the HOF fold: measured 2x FASTER
            # than the unrolled chain here (many fused 64-term chains in
            # one projection exceed JIT-friendly method size), unlike the
            # vector-x-vector pair dots where the unroll wins 3.3x
            bit = F.when(_dot(F.col("_v"), plane) >= 0, F.lit(2**j)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
        sigs.append(F.struct(F.lit(band).alias("band"), sig.cast("long").alias("bucket")))
    slim = base.select(
        "_id", F.explode(F.array(*sigs)).alias("bb")
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    left = slim.select(F.col("_id").alias("id_a"), "band", "bucket")
    right = slim.select(F.col("_id").alias("id_b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(cand, base, threshold, dim=vdim)


def _verify_pairs(
    cand: DataFrame, base: DataFrame, threshold: float, dim: "int | None" = None
) -> DataFrame:
    """Exact-cosine verify of candidate (id_a, id_b) pairs: vectors
    hash-join back once per pair; the similarity is computed in a
    PROJECTION above the join and the threshold filter references only
    that staged column. Without the barrier, Catalyst pushes the
    `sim >= t` predicate into the topmost BroadcastHashJoin's extra
    condition, where expressions evaluate INTERPRETED per pair
    (measured 3.8 s per 500k pairs for the HOF fold vs ~0.5 s
    codegen'd in the projection). The shared structural barrier
    (operators/barrier.py, plan-shape pinned in tests) holds the filter
    above the join."""
    from .barrier import scored_above

    a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"), F.col("_nrm").alias("na"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"), F.col("_nrm").alias("nb"))
    sim = _dot(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    return scored_above(joined, ["id_a", "id_b"], sim, "__sim", threshold).select(
        "id_a", "id_b", F.round("__sim", 6).alias("cos_sim")
    )


def plane_sign(seed: int, plane: int, i: int) -> float:
    """Component i of Rademacher hyperplane ``plane``: ±1 from the
    parity of a 60-bit md5 prefix. Oracle-reproducible in DuckDB as
    ``(('0x' || substring(md5('plane:SEED:P:' || i), 1, 15))::BIGINT % 2)``
    — random-sign projections are a valid sign-LSH family (E[s·v] per
    plane is a 1-sub-Gaussian projection), and the hash derivation makes
    the WHOLE ANN pipeline SQL-checkable."""
    import hashlib

    h = hashlib.md5(f"plane:{seed}:{plane}:{i}".encode()).hexdigest()
    return 1.0 if int(h[:15], 16) % 2 == 1 else -1.0


def _pseudo_plane(dim: int, plane: int, seed: int):
    """Deterministic Rademacher hyperplane as a literal array — computed
    once per plan (constant-folded by Catalyst)."""
    return F.array(*[F.lit(plane_sign(seed, plane, i)) for i in range(dim)])


def lsh_ann_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 11,
    probe_hamming: int = 2,
) -> DataFrame:
    """ANN: random-hyperplane LSH signature → bucket join → exact re-rank
    of candidates only. ``probe_hamming`` multiprobes every bucket within
    that Hamming distance of the query's bucket (recall/cost dial; at
    cluster scale raise num_planes with table size and keep the probed
    fraction of bucket space roughly constant)."""
    vdim = _peek_dim(df, vec_col)
    planes = [_pseudo_plane(dim, p, seed) for p in range(num_planes)]
    sig = None
    for p, plane in enumerate(planes):
        # literal-plane dots: HOF fold (see embedding_neardup_pairs note)
        bit = F.when(_dot(F.col(vec_col), plane) >= 0, F.lit(2**p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    # row norms staged with the signature — the exact re-rank below costs
    # one dot + one divide per candidate instead of recomputing both HOF
    # norms per pair
    base = df.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col), vdim).alias("_nrm"),
        sig.cast("long").alias("bucket"),
    )

    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("_nrm").alias("_qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << p for p in range(num_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << p1) | (1 << p2)
            for p1 in range(num_planes)
            for p2 in range(p1 + 1, num_planes)
        ]
    probes = F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)).cast("long") for m in masks])
    qx = q.select("query_id", "qv", "_qnrm", F.explode(probes).alias("bucket"))

    cand = base.join(F.broadcast(qx), "bucket").filter(F.col(id_col) != F.col("query_id"))
    sim = _dot(F.col("qv"), F.col(vec_col), vdim) / (F.col("_qnrm") * F.col("_nrm"))
    scored = cand.select(
        "query_id", F.col(id_col).alias("neighbor_id"), F.round(sim, 6).alias("cos_sim")
    ).dropDuplicates(["query_id", "neighbor_id"])
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )
