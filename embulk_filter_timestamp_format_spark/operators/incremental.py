"""Incremental corpus dedup: cost ∝ churn, not corpus size.

The full `maintenance.dedup_pass` re-shingles and re-signs the WHOLE
corpus every sweep — at 100 TB that is the cost wall, because the
expensive step is the text → shingles → MinHash extraction, not the
band join. This module maintains a persisted companion SKETCH table
(doc_id, sig, event_seq — one slim row per doc, itself an IceTable
keyed like the corpus) so each pass only:

1. reads the corpus CHANGELOG since the last pass (``changes()`` is
   bucket-pruned — cost ∝ churned buckets),
2. computes signatures for the CHANGED docs only,
3. band-joins the new docs' buckets against the sketch table's buckets
   (slim rows: 8 bytes id + the band key; the old side's TEXT is never
   touched),
4. exact-Jaccard-verifies only the candidate pairs, re-reading shingles
   for the involved docs via a broadcast semi-join on the corpus,
5. merges 'D' batches into BOTH tables (dups out of the corpus, dropped
   + deleted docs out of the sketch; changed docs' signatures upserted).

Crash between the two commits is benign: a stale sketch row for a
dropped doc only yields candidates whose verify join (inner, against
the corpus state) finds no text and emits nothing; the row is cleaned
up by the next pass that touches the doc. Redelivery is fenced by
batch_id in both tables.

Invariant (tested): after a pass, a FULL `dedup_pass` over the corpus
finds nothing to drop — the incremental path reaches the same fixpoint
while reading only the churn. Pair semantics and survivor policy
(keep-min) match the full pass; old↔old pairs need no recheck because
the previous pass already resolved them.

Reference scope: this extends the reference filter's batch model
(embulk-filter-timestamp_format processes pages statelessly) with the
stateful-maintenance shape a lake-resident corpus needs; no reference
twin exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _jaccard_verify, minhash_signature, shingle_keys

SKETCH_NUM_HASHES = 32
SKETCH_BANDS = 8


def sketch_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("event_seq", T.LongType()),
        ]
    )


def create_sketch_table(spark: SparkSession, root: str, num_buckets: int = 16):
    """Companion sketch table: same key/bucketing discipline as the
    corpus (slim rows — the array column gets no manifest bounds, the
    id/seq columns do)."""
    from ..lake import IceTable

    return IceTable.create(
        spark,
        root,
        sketch_schema(),
        key="doc_id",
        num_buckets=num_buckets,
        stats_cols=["doc_id", "event_seq"],
    )


def _explode_bands(
    sig_df: DataFrame, id_col: str, bands: int = SKETCH_BANDS,
    num_hashes: int = SKETCH_NUM_HASHES,
) -> DataFrame:
    """(id, sig) → (id, band, bucket): the same per-band concat key the
    full `minhash_lsh_pairs` builds, derived from the STORED signature —
    no text anywhere near this path."""
    rows = num_hashes // bands
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[bi * rows + j].cast("string")
                                for j in range(rows)
                            ],
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def incremental_dedup_pass(
    corpus,
    sketch,
    from_version: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_col: str = "event_seq",
    n: int = 3,
    num_hashes: int = SKETCH_NUM_HASHES,
    bands: int = SKETCH_BANDS,
    seed: int = 7,
    threshold: float = 0.8,
    batch_id: "int | None" = None,
    source: str = "incremental-dedup",
) -> dict:
    """One churn-proportional dedup pass. ``corpus``/``sketch`` are
    TableProtocol tables; ``from_version`` is the corpus version the
    LAST pass left behind (its committed_version, or the seed version
    for the bootstrap pass — then every doc counts as changed).

    Returns {'from_version', 'to_version', 'corpus_version',
    'sketch_version'}; the committed versions are None when the
    respective merge had nothing to do."""
    to_version = corpus.current_version()
    # the changelog diff is itself a two-snapshot join — persist it ONCE;
    # it feeds the signature batch, the touched-key set, and the sketch
    # delete side (uncached each reference re-reads both snapshots)
    ch = corpus.changes(from_version, to_version).persist()
    changed = ch.filter(F.col("_change_type") != "delete").select(
        F.col(id_col), F.col(text_col), F.col(seq_col)
    )
    deleted = ch.filter(F.col("_change_type") == "delete").select(F.col(id_col))

    # NOTE r06: a policy.spread fan-out was tried on this stage and the
    # verify re-shingle below and measured ~12 s SLOWER end-to-end on
    # the sf1 lifecycle (the churn frames are modest and already flow
    # into exchanges; the extra repartitions only added barriers) — the
    # diff reads stay as-is deliberately.
    new_sigs = changed.select(
        F.col(id_col),
        shingle_keys(F.col(text_col), n).alias("sh"),
        F.col(seq_col),
    ).withColumn("sig", minhash_signature(F.col("sh"), num_hashes, seed))
    # one materialization: referenced by banding, the sketch upsert batch
    # and (via ids) the verify step
    new_sigs = new_sigs.persist()
    new_valid = new_sigs.filter(F.size("sh") > 0)

    # old side: stored signatures, minus rows the changelog superseded
    # (changed docs re-sign; deleted docs leave). Slim columns only.
    touched = changed.select(id_col).unionByName(deleted).distinct()
    old_valid = sketch.read().join(F.broadcast(touched), id_col, "left_anti")

    # candidate generation: NEW bands ⨝ ALL bands — old↔old pairs never
    # form. Pair ids normalized (min, max) so keep-min stays canonical.
    new_bands = _explode_bands(new_valid, id_col, bands, num_hashes)
    all_bands = new_bands.unionByName(_explode_bands(old_valid, id_col, bands, num_hashes))
    cand = (
        new_bands.select(F.col(id_col).alias("__na"), "band", "bucket")
        .join(all_bands.select(F.col(id_col).alias("__nb"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("__na") != F.col("__nb"))
        .select(
            F.least("__na", "__nb").alias("id_a"),
            F.greatest("__na", "__nb").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # r06: two consumers follow (the verify-id broadcast and the pair
    # join) — uncached, each re-ran the whole band join + dedup; the
    # broadcast build job populates the cache before the pair join reads
    cand = cand.persist()

    # verify on candidates only: shingles re-read for the involved docs
    # via a broadcast semi-join — the corpus is scanned once,
    # column-pruned to (id, text), and only candidate docs are shingled
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    state = corpus.read(to_version)
    # persist: both pair sides (id_a and id_b joins) read this frame —
    # uncached, the corpus scan + shingle extraction would run twice
    cand_sh = (
        state.join(F.broadcast(ids), id_col)
        .select(F.col(id_col), shingle_keys(F.col(text_col), n).alias("sh"))
    ).persist()
    pairs = cand.join(
        cand_sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(
        cand_sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
    )
    verified = _jaccard_verify(pairs, threshold)

    # keep-min survivor policy (matches dedup_pass): drop the larger id.
    # Persist + materialize the slim drop set NOW — it anchors the whole
    # LSH/verify pipeline, and three consumers follow (merge probe, the
    # delete batch, the sketch delete side); uncached, each would re-run
    # candidate generation + verify end-to-end.
    drops = verified.select(F.col("id_b").alias(id_col)).distinct().persist()
    drops.count()
    # the merge reads only (key, seq) of a D row — COW anti-joins on the
    # key, a MOR tombstone ties the victim's (key, seq) and wins by op
    # priority — so join drops against a column-pruned projection and
    # null the rest: the corpus TEXT is never re-read just to delete it
    corpus_deletes = (
        state.select(id_col, seq_col)
        .join(F.broadcast(drops), id_col)
        .select(
            id_col,
            seq_col,
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in state.schema.fields
                if f.name not in (id_col, seq_col)
            ],
        )
        .withColumn("op", F.lit("D"))
    )
    # probe_df: the touched keys ARE the drop set — saves merge_into's
    # bucket probe from executing the delete-batch plan a second time
    corpus_version = corpus.merge_into(
        corpus_deletes, batch_id=batch_id, source=source, probe_df=drops
    )

    # sketch maintenance in ONE batch: changed docs upsert their new
    # signature (or delete it when the doc degenerated to no shingles),
    # corpus-deleted and dup-dropped docs delete theirs
    sk_up = new_sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.col(seq_col).alias("event_seq"),
        F.when(F.size("sh") > 0, F.lit("U")).otherwise(F.lit("D")).alias("op"),
    )
    sk_del_ids = deleted.unionByName(drops).distinct()
    sk_del = sk_del_ids.select(
        F.col(id_col),
        F.lit(None).cast(T.ArrayType(T.LongType())).alias("sig"),
        F.lit((1 << 62)).alias("event_seq"),  # tombstone outranks any upsert
        F.lit("D").alias("op"),
    )
    # a doc can be BOTH changed and dropped in the same pass (new dup):
    # keep the delete row (max op priority per id via anti-join)
    sk_batch = sk_up.join(sk_del_ids, id_col, "left_anti").unionByName(sk_del)
    # the batch's key set is exactly changed ∪ deleted ∪ drops — all
    # slim, already-materialized frames; probing with them spares
    # merge_into from executing the (anti-join ∪ tombstone) batch plan
    # a second time just to learn the touched buckets
    sk_probe = touched.unionByName(drops)
    sketch_version = sketch.merge_into(
        sk_batch, batch_id=batch_id, source=source, probe_df=sk_probe
    )
    new_sigs.unpersist()
    cand.unpersist()
    cand_sh.unpersist()
    drops.unpersist()
    ch.unpersist()
    return {
        "from_version": from_version,
        "to_version": to_version,
        "corpus_version": corpus_version,
        "sketch_version": sketch_version,
    }
