"""Inputs made from the seed, before any timed operation.

* The CDC binlog comes from the engine's own generator
  (``sources.binlog.binlog_events``), written in ONE Spark job
  partitioned by batch number: ``batch=<i>/`` holds the events of
  micro-batch ``i``. The same seed gives the same events, whatever the
  number of batches.
* The curation corpus (``documents.parquet``, ``embeddings.parquet``) is
  made here in numpy and written with pyarrow, at the shape measured on
  the engine's sf0.1 test tables (see ``write_corpus``); the engine only
  reads it.
"""

from __future__ import annotations

import os

import numpy as np

# the words the sf test corpora are drawn from
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NUM_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10
NEAR_DUP_SHARE = 0.049  # 244 of sf0.1's 5,000 documents
EXACT_DUP_SHARE = 0.025  # 6 of those 244 are exact copies


def write_binlog(spark, path: str, seed: int, batches: int, per_batch: int, num_docs: int) -> list[str]:
    """Write ``batches`` micro-batches of ``per_batch`` events; returns one
    directory per batch, in order."""
    from pyspark.sql import functions as F

    from embulk_filter_timestamp_format_spark.sources.binlog import binlog_events

    events = binlog_events(spark, batches * per_batch, num_docs, seed=seed)
    (
        events.withColumn("batch", F.floor(F.col("offset") / per_batch).cast("int"))
        .write.partitionBy("batch")
        .parquet(path)
    )
    return [os.path.join(path, f"batch={i}") for i in range(batches)]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


def write_corpus(out_dir: str, seed: int, num_docs: int, num_emb: int) -> None:
    """The sf0.1 test tables' shape, measured on them: documents of 10-100
    words (uniform) from VOCAB, languages in LANG_P, sources round-robin;
    ~4.9% of documents copy an earlier one with one word inserted or
    deleted (about half each; a few are exact copies), so the near-
    duplicate operators find pairs. Embeddings: unit vectors of EMB_DIM
    float32 with Gaussian directions, labels uniform over EMB_LABELS and
    independent of the vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(num_docs):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            edit = rng.random()
            if edit < EXACT_DUP_SHARE:
                pass
            elif edit < 0.5 + EXACT_DUP_SHARE / 2:
                words.insert(int(rng.integers(0, len(words) + 1)), str(rng.choice(vocab)))
            else:
                del words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(num_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, num_docs, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % NUM_SOURCES}" for i in range(num_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(size=(num_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(num_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMB_LABELS, num_emb).astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
