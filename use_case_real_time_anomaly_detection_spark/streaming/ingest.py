"""Streaming corpus ingestion: dedup-before-append as a stream sink.

The reference's copy pipes make data visible only after dedup
(≙ `tinybird/pipes/dedup_log.pipe:4-6` — new rows anti-joined against
the target before the append). This sink applies the same contract to
a document stream feeding a training corpus: each micro-batch passes
through `functions/incremental.dedup_gate` (exact + near gates against
the corpus built so far AND within the batch), and only admitted docs —
plus their slim signature-index rows — are committed.

Exactly-once effect without a transactional table format: every table
(corpus, hash index, band index) is partitioned by micro-batch id and
written with dynamic partition overwrite, so a replayed batch (failure
between sink write and stream-checkpoint commit) overwrites its own
partition instead of appending duplicates — the same idempotence
mechanism as `streaming/checkpoint.py`. On Iceberg the three writes
would instead be one MERGE commit (`sources/tables.IcebergCatalog`).

Scale: per batch, corpus-side cost is two index scans (slim relations)
plus text of near-candidate docs only; the batch side is broadcast
everywhere (see `functions/incremental` docstring). Doc ids are assumed
globally unique across batches (producer-assigned — same assumption the
reference's event stream makes for event keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dedup import (
    N_HASHES,
    ROWS_PER_BAND,
    SHINGLE_N,
    _signatures_from_shingles,
    band_frame,
    shingles,
)
from ..functions.incremental import SignatureIndex, admit, dedup_gate
from ..sources.tables import ParquetCatalog

CORPUS_TABLE = "corpus"
HASH_TABLE = "corpus_hashes"
BAND_TABLE = "corpus_bands"


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    catalog: ParquetCatalog,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = 0.5,
    n_hashes: int = N_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """Gate one batch against the corpus-so-far and commit the
    admitted docs + their index rows. Returns the gate verdicts
    (materialized — safe to inspect after the writes).

    Usable directly for batch backfills; `stream_corpus_ingest` wires it
    into foreachBatch."""
    have_corpus = catalog.exists(CORPUS_TABLE)
    corpus = catalog.read(CORPUS_TABLE) if have_corpus else None
    index = (
        SignatureIndex(
            hashes=catalog.read(HASH_TABLE), bands=catalog.read(BAND_TABLE)
        )
        if have_corpus
        else None
    )
    # localCheckpoint BEFORE any write: the gate's corpus/index reads
    # must finish while the tables are still the pre-batch snapshot —
    # a lazy plan evaluated after the first commit below would list the
    # table mid-update (self-referential read-under-write).
    gate = dedup_gate(
        batch_df,
        corpus,
        index=index,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        n_hashes=n_hashes,
        rows_per_band=rows_per_band,
        shingle_n=shingle_n,
    ).localCheckpoint()
    admitted = admit(batch_df, gate, id_col=id_col).localCheckpoint()

    tagged = admitted.withColumn("__batch", F.lit(batch_id))
    catalog.overwrite_partitions(tagged, CORPUS_TABLE, partition_by=["__batch"])
    # index rows for the admitted docs (batch-sized recompute; the
    # corpus-sized index is never rebuilt)
    hashes = admitted.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_hash")
    ).withColumn("__batch", F.lit(batch_id))
    catalog.overwrite_partitions(hashes, HASH_TABLE, partition_by=["__batch"])
    sig = _signatures_from_shingles(
        shingles(admitted, id_col, text_col, shingle_n),
        id_col=id_col,
        n_hashes=n_hashes,
    )
    bands = band_frame(
        sig, id_col=id_col, n_hashes=n_hashes, rows_per_band=rows_per_band
    ).withColumn("__batch", F.lit(batch_id))
    catalog.overwrite_partitions(bands, BAND_TABLE, partition_by=["__batch"])
    return gate


def stream_corpus_ingest(
    doc_stream: DataFrame,
    catalog: ParquetCatalog,
    *,
    checkpoint_dir: str,
    threshold: float | None = 0.5,
    on_batch=None,
    **gate_params,
):
    """Continuous dedup-gated corpus ingestion from a streaming source.
    ``on_batch(gate_df, batch_id)`` (optional) observes each batch's
    verdicts — e.g. to log admission rates."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        gate = ingest_batch(
            batch_df, batch_id, catalog, threshold=threshold, **gate_params
        )
        if on_batch is not None:
            on_batch(gate, batch_id)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Audio twin: dedup-gated CLIP ingestion (functions/audio_features gate)
# ---------------------------------------------------------------------------

CLIPS_TABLE = "clip_corpus"
CLIP_HASH_TABLE = "clip_hashes"
CLIP_BLOCK_TABLE = "clip_blocks"
CLIP_VERIFY_TABLE = "clip_verify"


def ingest_clip_batch(
    batch_df: DataFrame,
    batch_id: int,
    catalog: ParquetCatalog,
    *,
    id_col: str = "clip_id",
    **gate_params,
) -> DataFrame:
    """Gate one clip batch against the corpus-so-far (audio_ingest_gate)
    and commit the admitted clips + their AudioIndex rows. Same
    idempotence mechanism as `ingest_batch`: every table partitioned by
    micro-batch id, dynamic partition overwrite — a replayed batch
    overwrites itself.

    Per-batch cost at corpus scale: two slim index scans + the verify
    relation touched for candidates; the batch is decoded ONCE (the
    gate's exact-survivor Arrow pass) plus once more here for the
    admitted subset's index rows — both batch-sized, never
    corpus-sized."""
    from ..functions.audio_features import (
        AudioIndex,
        _block_keys,
        audio_ingest_gate,
        with_audio_features,
    )

    have_corpus = catalog.exists(CLIP_HASH_TABLE)
    index = (
        AudioIndex(
            hashes=catalog.read(CLIP_HASH_TABLE),
            blocks=catalog.read(CLIP_BLOCK_TABLE),
            verify=catalog.read(CLIP_VERIFY_TABLE),
        )
        if have_corpus
        else None
    )
    # checkpoint BEFORE any write: gate reads must see the pre-batch
    # snapshot (same read-under-write discipline as ingest_batch)
    gate = audio_ingest_gate(
        batch_df, index=index, id_col=id_col, **gate_params
    ).localCheckpoint()
    admitted = admit(batch_df, gate, id_col=id_col).localCheckpoint()

    tagged = admitted.withColumn("__batch", F.lit(batch_id))
    catalog.overwrite_partitions(tagged, CLIPS_TABLE, partition_by=["__batch"])
    hashes = admitted.select(
        F.col(id_col), F.md5("bytes").alias("payload_md5")
    ).withColumn("__batch", F.lit(batch_id))
    catalog.overwrite_partitions(hashes, CLIP_HASH_TABLE, partition_by=["__batch"])
    feats = (
        with_audio_features(admitted)
        .where(F.col("fingerprint").isNotNull())
        .select(id_col, "n_samples", "peak_band", "rms_bucket", "rms_bucket_hi",
                "rms", "centroid_hz", "bands")
        .localCheckpoint()  # one decode feeds both index writes
    )
    blocks = _block_keys(feats, id_col).withColumn("__batch", F.lit(batch_id))
    catalog.overwrite_partitions(blocks, CLIP_BLOCK_TABLE, partition_by=["__batch"])
    verify = feats.select(
        F.col(id_col).alias("doc"), "rms", "centroid_hz", "bands"
    ).withColumn("__batch", F.lit(batch_id))
    catalog.overwrite_partitions(verify, CLIP_VERIFY_TABLE, partition_by=["__batch"])
    return gate


def stream_clip_ingest(
    clip_stream: DataFrame,
    catalog: ParquetCatalog,
    *,
    checkpoint_dir: str,
    on_batch=None,
    **gate_params,
):
    """Continuous dedup-gated clip ingestion — the audio twin of
    `stream_corpus_ingest` (≙ dedup-before-visible, dedup_log.pipe:4-6)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        gate = ingest_clip_batch(batch_df, batch_id, catalog, **gate_params)
        if on_batch is not None:
            on_batch(gate, batch_id)

    return (
        clip_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
