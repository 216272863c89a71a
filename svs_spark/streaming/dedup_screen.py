"""Streaming near-duplicate screen — the continuous twin of the batch
``minhash_incremental_pairs`` (operators/dedup.py): documents stream in
from a landing zone and are screened against the STORED MinHash
signature index of the existing corpus before admission.

Scale shape (100 TB corpus, streaming increments):
- The signature kernel (shingle → minhash, the expensive text scan) is
  a stateless ``mapInPandas`` over each micro-batch — only the new
  documents are ever shingled; the corpus enters as a static parquet
  scan of the index built by ``build_minhash_index``.
- Candidate generation is a stream-static INNER join on the 8-byte
  (band, key) pair, de-duplicated by the same first-agreeing-band
  per-row filter as the batch operator — no streaming state at all.
- Exact-Jaccard verification joins the static index's shingle sets
  back in; everything stays append-mode-safe and stateless, so the
  screen adds zero state-store footprint to the job.

Within-batch (new × new) duplicates are deliberately NOT detected here
— that is the batch path's job at index-append time (see
``tests/test_incremental_dedup.py``); a screen's contract is "does this
incoming doc duplicate the EXISTING corpus".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from svs_spark.operators.dedup import (
    _first_agreeing_band,
    _verify_jaccard,
    minhash_signatures,
)


def near_dup_pairs_stream(
    stream: DataFrame,
    spark,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    shingle_size: int = 3,
) -> DataFrame:
    """(new_id, corpus_id, jaccard) for every streamed document that
    near-duplicates an indexed one — identical arithmetic to the batch
    incremental operator's (new × indexed) half, per micro-batch."""
    new_sigs = minhash_signatures(
        stream, id_col, text_col, num_hashes, bands, shingle_size
    )
    old_sigs = spark.read.parquet(index_path)

    nb = new_sigs.select(
        F.col("did").alias("new_id"),
        F.col("hs").alias("hs_n"),
        F.col("keys").alias("ka"),
        F.posexplode("keys").alias("band", "key"),
    )
    ob = old_sigs.select(
        F.col("did").alias("corpus_id"),
        F.col("keys").alias("kb"),
        F.posexplode("keys").alias("band", "key"),
    )
    cands = nb.join(ob, ["band", "key"]).filter(_first_agreeing_band(bands))

    hs_old = old_sigs.select(
        F.col("did").alias("corpus_id"), F.col("hs").alias("hs_o")
    )
    verified = _verify_jaccard(
        cands.select("new_id", "corpus_id", "hs_n").join(hs_old, "corpus_id"),
        "hs_n", "hs_o", jaccard_threshold,
    )
    return verified.select(
        "new_id", "corpus_id", F.round("jac", 6).alias("jaccard")
    )


def admit_stream(
    stream: DataFrame,
    spark,
    index_path: str,
    sink_path: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    id_col: str = "doc_id",
    append_index: bool = False,
    **kw,
):
    """The admission gate: write streamed documents with NO
    near-duplicate in the indexed corpus to ``sink_path``.

    foreachBatch, because the filter is an anti-join against ids
    DERIVED FROM the stream itself (Structured Streaming rejects a
    streaming right side for left-anti) — inside foreachBatch the
    micro-batch is a plain DataFrame, so the screen reuses the batch
    ``minhash_incremental_pairs`` shape verbatim and the anti-join is
    ordinary. With ``append_index=True`` each admitted batch's
    signatures fold into the index before the next trigger, so
    later batches also dedup against earlier admissions (the
    continuous build-up of a deduped corpus).

    Returns the StreamingQuery (caller awaits/stops).
    """
    from svs_spark.operators.dedup import append_minhash_index

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        flagged = near_dup_pairs_stream(
            batch_df, spark, index_path, id_col=id_col, **kw
        ).select(F.col("new_id").alias(id_col)).distinct()
        admitted = batch_df.join(flagged, id_col, "left_anti")
        admitted.write.mode("append").parquet(sink_path)
        if append_index:
            append_minhash_index(admitted, index_path)

    writer = stream.writeStream.foreachBatch(admit).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
