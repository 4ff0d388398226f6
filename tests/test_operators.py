"""Pipeline-operator tests: LSH containment/recall vs exact baselines,
SimHash invariants, ANN recall vs brute force, text analysis values,
multimodal plumbing, and the driver-contract smoke."""

import pytest
from pyspark.sql import functions as F

from embulk_filter_timestamp_format_spark.operators import dedup as D
from embulk_filter_timestamp_format_spark.operators import multimodal as MM
from embulk_filter_timestamp_format_spark.operators import similarity as S
from embulk_filter_timestamp_format_spark.operators import text as TX

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_dedup_exact_identifies_known_dups(spark):
    rows = [(1, "a b c"), (2, "A  B   c "), (3, "different text"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["canonical_id"], r["group_size"], r["is_dup"]) for r in D.dedup_exact(df).collect()}
    assert out[1] == (1, 2, False)
    assert out[2] == (1, 2, True)  # normalization: case + whitespace collapse
    assert out[3] == (3, 1, False)
    assert out[4][1] == 1


def test_minhash_lsh_contained_in_exact_and_recall(spark, docs):
    exact = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(docs, threshold=0.8, block_col="lang").collect()}
    # block-free exact set (LSH doesn't block by lang) — recompute without block
    docs_block = docs.withColumn("__all", F.lit(1))
    exact_all = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs_block, threshold=0.8, block_col="__all").collect()
    }
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    # verified candidates are exact-Jaccard filtered → subset with equal values
    for pair, j in lsh.items():
        assert pair in exact_all
        assert abs(exact_all[pair] - j) < 1e-9
    # deterministic recall (seeded hashes, fixed data): expect near-total
    if exact_all:
        recall = len(lsh) / len(exact_all)
        assert recall >= 0.8, f"LSH recall {recall} on {len(exact_all)} true pairs"


def test_minhash_lsh_size_prefilter_keeps_rounded_boundary(spark):
    """A ⊂ B with |A| = 6 and |B| = 7 shingles: J = 6/7 = 0.8571428…,
    which rounds UP to 0.857143, so the verify keeps the pair at that
    threshold. The size-ratio prefilter must compare the same rounded
    ratio and not drop the pair first."""
    words = [f"w{i}" for i in range(9)]
    df = spark.createDataFrame(
        [(1, " ".join(words[:8])), (2, " ".join(words))], "doc_id long, text string"
    )
    t = 0.857143
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df.withColumn("lang", F.lit("x")), threshold=t).collect()
    }
    assert exact == {(1, 2): t}
    # one signature row per band: any agreeing minhash makes a candidate
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(df, threshold=t, bands=32).collect()
    }
    assert lsh == exact


def test_minhash_signature_distinct_permutations(spark):
    """Regression: each permutation must hash differently (a degenerate
    signature array collapses all bands to one bucket)."""
    df = spark.createDataFrame([("x y z w v u t s r q",)], "text string")
    sig = df.select(
        D.minhash_signature(D.shingle_keys(F.col("text")), 8).alias("sig")
    ).collect()[0]["sig"]
    assert len(set(sig)) > 1


def test_simhash_invariants(spark, docs):
    pairs = D.simhash_pairs(docs.limit(200), max_hamming=3).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert 0 <= r["hamming"] <= 3
    # identical texts → hamming 0
    df = spark.createDataFrame([(1, "same words here"), (2, "same words here")], "doc_id long, text string")
    out = D.simhash_pairs(df, max_hamming=0).collect()
    assert len(out) == 1 and out[0]["hamming"] == 0


def test_simhash_multi_index_banding_equivalent(spark, docs):
    """Candidate generation is complete for any bands > max_hamming
    (pigeonhole): bands=6 (C(6,3)=20 composite keys — the 100 TB shape)
    must produce EXACTLY the bands=4 result set."""
    sample = docs.limit(150)
    base = {(r["id_a"], r["id_b"], r["hamming"]) for r in D.simhash_pairs(sample, max_hamming=3, bands=4).collect()}
    wide = {(r["id_a"], r["id_b"], r["hamming"]) for r in D.simhash_pairs(sample, max_hamming=3, bands=6).collect()}
    assert base == wide


def test_simhash_matches_bruteforce(spark):
    """The banded candidate path equals the all-pairs Hamming filter."""
    rows = [(i, f"shared common words alpha beta gamma token{i % 3}") for i in range(1, 30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_pairs(df, max_hamming=3).collect()
    }
    s = df.select("doc_id", D.simhash60(D.word_hashes60(F.col("text"))).alias("sim"))
    a, b = s.alias("a"), s.alias("b")
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_ann_recall_vs_brute_force(spark, emb):
    qids = list(range(10))
    bf = {(r["query_id"], r["neighbor_id"]) for r in S.cosine_topk(emb, qids, k=5).collect()}
    ann = {(r["query_id"], r["neighbor_id"]) for r in S.lsh_ann_topk(emb, qids, k=5).collect()}
    recall = len(bf & ann) / len(bf)
    assert recall >= 0.5, f"ANN recall {recall}"  # deterministic for fixed seed/data


def test_ivf_empty_centroid_sample_falls_back(spark, emb):
    """A stride larger than the dataset leaves the md5 sample empty; the
    min-hash fallback centroid must keep ivf_topk returning neighbors
    instead of silently yielding nothing."""
    small = emb.limit(10).cache()
    qid = small.select("vec_id").orderBy("vec_id").first()["vec_id"]
    out = S.ivf_topk(small, [qid], k=3, centroid_stride=10**9, nprobe=1).collect()
    assert len(out) == 3  # one centroid = the whole table in one list
    exact = {r["neighbor_id"] for r in S.cosine_topk(small, [qid], k=3).collect()}
    assert {r["neighbor_id"] for r in out} == exact


def test_ivf_recall_and_exactness(spark, emb):
    qids = list(range(10))
    bf = {(r["query_id"], r["neighbor_id"]) for r in S.cosine_topk(emb, qids, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"]) for r in S.ivf_topk(emb, qids, k=5, centroid_stride=32, nprobe=4).collect()}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.4, f"IVF recall {recall}"  # deterministic for fixed data
    # probing EVERY centroid makes IVF exact (== brute force)
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.ivf_topk(emb, qids, k=5, centroid_stride=32, nprobe=10**6).collect()
    }
    bf_ranked = {
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in S.cosine_topk(emb, qids, k=5).collect()
    }
    assert full == bf_ranked


def test_embedding_neardup_exact_matches_numpy(spark, emb):
    import numpy as np

    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = n @ n.T
    iu = np.triu_indices(len(V), 1)
    truth = {
        (int(i), int(j)): sims[i, j]
        for i, j in zip(*iu)
        if sims[i, j] >= 0.4 - 1e-9
    }
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in S.embedding_neardup_pairs(emb, 0.4, method="exact").collect()
    }
    assert set(got) == set(truth)
    assert all(abs(got[k] - truth[k]) < 1e-6 for k in got)


def test_embedding_neardup_lsh_contained_and_recall(spark, emb):
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in S.embedding_neardup_pairs(emb, 0.4, method="exact").collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in S.embedding_neardup_pairs(emb, 0.4, method="lsh").collect()
    }
    assert set(lsh) <= set(exact)  # exact verify of candidates: no false positives
    recall = len(lsh) / len(exact)
    assert recall >= 0.7, f"near-dup LSH recall {recall}"  # deterministic (seeded planes)
    assert all(lsh[k] == exact[k] for k in lsh)  # identical scoring path


def test_semantic_dedup_matches_python_twin(spark, emb):
    """semantic_dedup (SemDeDup cluster-then-prune) against a bit-exact
    python twin: left-to-right float64 accumulation reproduces
    F.aggregate's fold order, md5-prefix centroid sample, round-6
    argmax assignment (ties → min cid), within-cluster keep-min."""
    import hashlib
    import math
    from collections import defaultdict

    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"])
    ids = [r["vec_id"] for r in rows]
    vec = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}

    def fold_dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + x * y
        return s

    nrm = {i: math.sqrt(fold_dot(vec[i], vec[i])) for i in ids}

    def cos(i, j):
        return round(fold_dot(vec[i], vec[j]) / (nrm[i] * nrm[j]), 6)

    stride, th = 16, 0.4
    h = {i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) for i in ids}
    cents = [i for i in ids if h[i] % stride == 0] or [min(ids, key=lambda i: h[i])]
    assign = {i: max(cents, key=lambda c: (cos(i, c), -c)) for i in ids}
    clusters = defaultdict(list)
    for i, c in assign.items():
        clusters[c].append(i)
    dup = set()
    for members in clusters.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                if cos(members[x], members[y]) >= th:
                    dup.add(members[y])

    got = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in S.semantic_dedup(emb, threshold=th, centroid_stride=stride).collect()
    }
    assert set(got) == set(ids)
    for i in ids:
        assert got[i] == (assign[i], i not in dup), i


def test_semantic_dedup_auto_stride_matches_explicit_sqrt(spark, emb):
    """centroid_stride=None derives stride = ceil(sqrt(N)) from one
    count over the persisted build table — the N^1.5-envelope setting
    the round-5 sweep measured. Auto mode must be exactly the explicit
    sqrt call, and deterministic across invocations."""
    import math as m

    n = emb.count()
    stride = m.isqrt(n - 1) + 1
    auto = sorted(
        tuple(r) for r in S.semantic_dedup(
            emb, threshold=0.4, centroid_stride=None
        ).collect()
    )
    explicit = sorted(
        tuple(r) for r in S.semantic_dedup(
            emb, threshold=0.4, centroid_stride=stride
        ).collect()
    )
    assert auto == explicit
    # ivf_topk shares the build path; auto mode must return full-shape
    # ranked neighbors there too
    qids = [r["vec_id"] for r in emb.limit(2).collect()]
    out = S.ivf_topk(emb, qids, k=3, centroid_stride=None, nprobe=4).collect()
    assert {r["query_id"] for r in out} == set(qids)
    assert all(1 <= r["rank"] <= 3 for r in out)


def test_semantic_dedup_empty_centroid_fallback(spark, emb):
    """stride > N leaves the hash sample empty → the folded min-hash
    fallback makes one cluster of everything; keep-set = exact near-dup
    keep-min over the whole (single-cluster) table."""
    small = emb.filter(F.col("vec_id") < 20)
    out = S.semantic_dedup(small, threshold=0.4, centroid_stride=10**9).collect()
    assert len(out) == small.count()
    assert len({r["cluster_id"] for r in out}) == 1
    exact_dups = {
        r["id_b"]
        for r in S.embedding_neardup_pairs(small, 0.4, method="exact").collect()
    }
    assert {r["vec_id"] for r in out if not r["keep"]} == exact_dups


def test_cosine_topk_self_excluded_and_ranked(spark, emb):
    out = S.cosine_topk(emb, [0], k=3).collect()
    assert all(r["neighbor_id"] != 0 for r in out)
    sims = [r["cos_sim"] for r in sorted(out, key=lambda r: r["rank"])]
    assert sims == sorted(sims, reverse=True)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def test_text_analysis_values(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox and the lazy dog!"), (2, ""), (3, "el la de que y los")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.analyze(df).collect()}
    assert out[1]["n_words"] == 8
    assert out[1]["n_bpe_tokens"] == 9  # 8 words + '!'
    assert out[1]["lang_pred"] == "en"
    assert out[3]["lang_pred"] == "es"
    assert out[2]["n_words"] == 0 and out[2]["lang_pred"] == "und"
    assert out[1]["punct_ratio"] > 0
    assert 0 <= out[1]["quality"] <= 1
    assert len(out[1]["fp_md5"]) == 32


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_multimodal_features_schema_and_determinism(spark, docs):
    media = MM.synth_media(docs.limit(50))
    feats = MM.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    r = rows[0]
    assert len(r["payload_sha256"]) == 64
    assert r["modality"] in ("image", "audio")
    assert len(r["features"]) == 8
    # deterministic across runs
    rows2 = MM.extract_features(media).collect()
    assert sorted(map(str, rows)) == sorted(map(str, rows2))


def test_multimodal_real_decode_stubbed(spark, docs):
    media = MM.synth_media(docs.limit(5))
    with pytest.raises(Exception) as ei:
        MM.extract_features(media, real_decode=True).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_frame_sample_shapes(spark, docs):
    media = MM.synth_media(docs.limit(20))
    frames = MM.frame_sample(media, every_n=2).collect()
    assert all(len(f["frame"]) <= 16 for f in frames)
    assert all(f["frame_no"] % 2 == 0 for f in frames)


# ---------------------------------------------------------------------------
# driver contract smoke: entry + every query runs at sf0.001
# ---------------------------------------------------------------------------


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    qs = E.queries()
    oracles = E.oracle_sql()
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        out = fn(spark, SF)
        assert out.columns, name
        out.limit(5).collect()


def _has_pil():
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _has_pil(), reason="Pillow not installed in this environment")
def test_multimodal_real_decode_with_pil(spark):
    """When Pillow IS available, real_decode=True decodes actual image
    bytes: a solid 4x4 gray-128 PNG yields mean=128, std=0."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (4, 4), color=128).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(1, bytearray(png), ("image", 4, 4, "png"))], MM.MEDIA_SCHEMA
    )
    row = MM.extract_features(media, real_decode=True).collect()[0]
    feats = list(row["features"])
    assert feats[0] == 128.0  # mean
    assert feats[1] == 0.0    # std
    assert feats[5] == 4.0 and feats[6] == 4.0  # decoded dims


def test_pushdown_barrier_plan_shape(spark, docs, emb):
    """The structural pushdown barrier (operators/barrier.py) depends on
    two optimizer internals (nondeterministic projections block
    PushPredicateThroughNonJoin; ColumnPruning keeps referenced columns).
    Pin the resulting plan shape: no Join in the optimized plan of either
    verify path may carry an HOF/array-set expression in its condition —
    a Spark upgrade that re-enables the pushdown fails here instead of
    silently running the similarity interpreted per candidate pair."""
    from embulk_filter_timestamp_format_spark.operators.barrier import (
        assert_no_expensive_join_condition,
    )

    assert_no_expensive_join_condition(
        S.embedding_neardup_pairs(emb, 0.4, method="lsh")
    )
    assert_no_expensive_join_condition(
        D.ngram_jaccard_pairs(docs.limit(200), threshold=0.8)
    )


def test_unpersist_intermediates_releases_registered_caches(spark, docs):
    from embulk_filter_timestamp_format_spark.operators import cache as C

    C.unpersist_intermediates()  # drain anything earlier tests left
    D.minhash_lsh_pairs(docs.limit(100)).count()
    assert len(C._REGISTRY) >= 1
    released = C.unpersist_intermediates()
    assert released >= 1 and not C._REGISTRY


# ---------------------------------------------------------------------------
# PPM (P6) — the real in-sandbox decode path
# ---------------------------------------------------------------------------


def test_ppm_decoder_parses_spec_features():
    """decode_ppm is a real netpbm parser: comments, multi-whitespace
    headers, and 16-bit maxval all parse; malformed files raise."""
    import numpy as np

    px = bytes(range(12))  # 2x2 RGB
    w, h, arr = MM.decode_ppm(b"P6\n# a comment\n2 2\n255\n" + px)
    assert (w, h) == (2, 2) and arr.shape == (2, 2, 3)
    assert arr.reshape(-1).tolist() == list(range(12))
    # multi-space / newline-free header
    w, h, arr = MM.decode_ppm(b"P6  2\t2  255 " + px)
    assert (w, h) == (2, 2)
    # 16-bit maxval: big-endian 2-byte samples
    px16 = b"".join(v.to_bytes(2, "big") for v in [0, 300, 65535] * 4)
    w, h, arr16 = MM.decode_ppm(b"P6\n2 2\n65535\n" + px16)
    assert arr16.dtype == np.dtype(">u2") and int(arr16.max()) == 65535
    import pytest as _pt

    for bad in (b"P5\n2 2\n255\n" + px, b"P6\n2 2\n255\n" + px[:5],
                b"P6\n2 2\n0\n" + px, b"P6\n2 2"):
        with _pt.raises(ValueError):
            MM.decode_ppm(bad)


def test_synth_ppm_payloads_are_valid_and_features_match_numpy(spark, docs):
    """The Catalyst-built payloads are valid P6 files; decoding them and
    aggregating matches an independent numpy tiling computation."""
    import numpy as np

    media = MM.synth_ppm_media(docs.limit(50))
    rows = media.collect()
    assert rows and all(r["payload"][:2] == b"P6" for r in rows)
    feats = {r["media_id"]: r for r in MM.ppm_features(media).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.limit(50).collect()}
    for mid, f in feats.items():
        tb = texts[mid].encode()
        w, h = len(tb) % 64 + 1, len(tb) % 48 + 1
        tiled = np.resize(np.frombuffer(tb, dtype=np.uint8), w * h * 3)
        assert (f["width"], f["height"], f["n_px"]) == (w, h, w * h * 3)
        assert f["byte_sum"] == int(tiled.sum())
        assert (f["byte_min"], f["byte_max"]) == (int(tiled.min()), int(tiled.max()))


def test_repetition_signals_matches_python(spark, docs):
    from collections import Counter

    from embulk_filter_timestamp_format_spark.operators import text as TXX

    extra = spark.createDataFrame(
        [
            (900001, "a a a a"),          # maximal repetition
            (900002, "one"),              # no bigram/trigram
            (900003, "x y"),              # bigram but no trigram
            (900004, "  "),               # empty after trim
            (900005, "b c b c b c d"),    # dominant bigram
        ],
        "doc_id long, text string",
    )
    sample = docs.limit(80).select("doc_id", "text").unionByName(extra)

    def py_signals(doc_id, text):
        w = [t for t in (text or "").lower().split() if t]
        n = len(w)
        if n == 0:
            return (doc_id, 0, 0.0, 0.0, 0.0)
        bi = Counter(zip(w, w[1:]))
        tri = Counter(zip(w, w[1:], w[2:]))
        return (
            doc_id,
            n,
            round(len(set(w)) / n, 6),
            round(2.0 * max(bi.values()) / n, 6) if n >= 2 else 0.0,
            round(3.0 * max(tri.values()) / n, 6) if n >= 3 else 0.0,
        )

    expected = sorted(
        py_signals(r["doc_id"], r["text"]) for r in sample.collect()
    )
    got = sorted(
        (r["doc_id"], r["n_words"], r["distinct_frac"],
         r["top_bigram_frac"], r["top_trigram_frac"])
        for r in TXX.repetition_signals(sample).collect()
    )
    assert got == expected


def test_token_frequencies_matches_python(spark, docs):
    from collections import Counter

    from embulk_filter_timestamp_format_spark.operators import text as TXX

    sample = docs.limit(120)
    tf, dfq = Counter(), Counter()
    for r in sample.select("text").collect():
        toks = [t for t in (r["text"] or "").lower().split() if t]
        tf.update(toks)
        dfq.update(set(toks))
    got = {
        r["token"]: (r["tf"], r["df_docs"])
        for r in TXX.token_frequencies(sample).collect()
    }
    assert got == {t: (tf[t], dfq[t]) for t in tf}
    # min_count filter
    got5 = {
        r["token"] for r in TXX.token_frequencies(sample, min_count=5).collect()
    }
    assert got5 == {t for t, c in tf.items() if c >= 5}


def test_tfidf_keywords_matches_python(spark, docs):
    import math
    from collections import Counter

    sample = docs.limit(120)
    rows = sample.select("doc_id", "text").collect()
    n_docs = len(rows)
    per_doc, dfq = {}, Counter()
    for r in rows:
        toks = [t for t in (r["text"] or "").lower().split() if t]
        per_doc[r["doc_id"]] = Counter(toks)
        dfq.update(set(toks))
    expect = {}
    for did, tf in per_doc.items():
        scored = [
            (round(c * (math.log((n_docs + 1.0) / (dfq[t] + 1.0)) + 1.0), 6), t, c)
            for t, c in tf.items()
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        for rank, (score, t, c) in enumerate(scored[:3], start=1):
            expect[(did, rank)] = (t, c, score)
    got = {
        (r["doc_id"], r["rank"]): (r["token"], r["tf"], r["score"])
        for r in TX.tfidf_keywords(sample, k=3).collect()
    }
    assert got == expect


def test_tfidf_keywords_edge_docs(spark):
    # empty/null docs emit nothing; a single-doc corpus still ranks
    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    out = TX.tfidf_keywords(df, k=10).collect()
    assert {r["doc_id"] for r in out} == {1}
    by_rank = {r["rank"]: r for r in out}
    # apple tf=2 outranks banana tf=1 (same df)
    assert by_rank[1]["token"] == "apple" and by_rank[1]["tf"] == 2
    assert by_rank[2]["token"] == "banana"


def test_lm_score_matches_python(spark, docs):
    import math
    from collections import Counter

    sample = docs.limit(100)
    rows = sample.select("doc_id", "text").collect()
    toks = {
        r["doc_id"]: [t for t in (r["text"] or "").lower().split() if t]
        for r in rows
    }
    uni, big = Counter(), Counter()
    for ws in toks.values():
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    tot = sum(uni.values())
    expect = {}
    for did, ws in toks.items():
        lps = [
            math.log(max(big[(a, b)] / uni[a], 0.4 * uni[b] / tot))
            for a, b in zip(ws, ws[1:])
        ]
        if lps:
            avg = sum(lps) / len(lps)
            expect[did] = (len(lps), round(avg, 6), round(math.exp(-avg), 6))
        else:
            expect[did] = (0, None, None)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"], r["ppl_proxy"])
        for r in TX.lm_score(sample).collect()
    }
    assert set(got) == set(expect)
    for did in expect:
        gn, ga, gp = got[did]
        en, ea, ep = expect[did]
        assert gn == en
        if ea is None:
            assert ga is None and gp is None
        else:
            assert abs(ga - ea) < 1e-5 and abs(gp - ep) < 1e-3


def test_lm_score_degenerate_docs(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "solo"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.lm_score(df).collect()}
    # doc 1: all bigrams (a,a), P = 3/4 each -> avg ln(3/4)
    import math
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_logprob"] - round(math.log(3 / 4), 6)) < 1e-6
    for d in (2, 3, 4):
        assert out[d]["n_bigrams"] == 0
        assert out[d]["avg_logprob"] is None and out[d]["ppl_proxy"] is None
