"""Incremental corpus ingestion with dedup gating.

The reference dedups *before* data becomes visible — its copy pipe
selects only rows not already present in the target
(≙ `tinybird/pipes/dedup_log.pipe:4-6`: `SELECT ... WHERE key NOT IN
(SELECT key FROM copy_log)`), so the log never accumulates duplicates.
This module lifts that dedup-before-append contract to the
training-corpus scale problem: each incoming batch of documents is
admitted only if it is neither an exact nor a near duplicate of the
existing corpus (or of an earlier doc in the same batch).

Gate semantics (applied IN SEQUENCE — each gate sees the previous
gate's survivors; first matching gate names the rejection reason):

1. ``exact-batch``  — not the min-id doc of its md5(text) group within
   the batch (within-batch exact dedup, same convention as
   ``exact_duplicates``).
2. ``exact-corpus`` — md5(text) already present in the corpus.
3. ``near-corpus``  — verified shingle-Jaccard ≥ threshold against some
   corpus doc (MinHash-LSH candidates, exact verify).
4. ``near-batch``   — verified Jaccard ≥ threshold against a LOWER-id
   surviving batch doc. This is the greedy pairwise rule, NOT a
   transitive closure: of a near-dup pair inside one batch the min id
   wins, its partner is rejected, and chains are not followed (a
   rejected doc cannot reject others). Offline canonicalization with
   full transitive semantics is `dedup.connected_components`; the
   greedy rule is the right per-batch gate because it is one join
   deeper than the candidates, deterministic, and needs no iteration.

Gates 1-2 (``exact_gates``) and the verdict frame (``annotate_gate``)
are shared with the audio twin, ``audio_features.audio_ingest_gate``;
each gate supplies its own content hash and near-duplicate blocking,
and gate 4's candidates come from ``dedup.bucket_pairs``.

Scale shape (daily increments into a 10^12-doc corpus):
- The corpus side never recomputes signatures per batch: a
  ``SignatureIndex`` — two SLIM relations, (id, text_hash) and the
  (doc, band, bh) LSH band index, both O(corpus) rows of a few dozen
  bytes — is maintained incrementally (the caller appends
  ``build_signature_index`` of each batch's admitted docs).
- Every corpus-side join streams the big relation and BROADCASTS the
  batch side (a batch is a day's increment — always the small side).
- The exact-Jaccard verify touches corpus TEXT only for candidate docs
  (semi-join on candidate ids → shingle only those rows), so per-batch
  cost is O(batch + band collisions), never O(corpus).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    N_HASHES,
    ROWS_PER_BAND,
    SHINGLE_N,
    _pin,
    _pin_many,
    _signatures_from_shingles,
    band_frame,
    bucket_pairs,
    set_jaccard2,
    shingles,
)


class SignatureIndex(NamedTuple):
    """Slim per-doc dedup index of an existing corpus: content hashes
    for the exact gate, LSH band keys for the near gate. Both are
    O(corpus)-row, few-byte-wide relations — at scale they live as
    bucketed tables that the ingest sink appends to; the corpus text
    itself is only consulted to verify candidates."""

    hashes: DataFrame  # (id_col, text_hash)
    bands: DataFrame  # (doc, band, bh)


def build_signature_index(
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    shingle_n: int = SHINGLE_N,
) -> SignatureIndex:
    """One pass over the corpus text → the two index relations. Pinned:
    the gate consumes each at least once per batch, and on a real
    cluster these are the frames you would persist as tables instead."""
    sig = _signatures_from_shingles(
        shingles(corpus, id_col, text_col, shingle_n),
        id_col=id_col,
        n_hashes=n_hashes,
    )
    # the two index relations are independent scans of the same corpus —
    # materialize them concurrently (_pin_many) instead of back-to-back
    hashes, bands = _pin_many(
        corpus.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash")),
        band_frame(sig, id_col=id_col, n_hashes=n_hashes, rows_per_band=rows_per_band),
    )
    return SignatureIndex(hashes=hashes, bands=bands)


def dedup_gate(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    *,
    index: SignatureIndex | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = 0.5,
    n_hashes: int = N_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """Annotate every batch doc with its gate verdict: (id_col,
    admitted boolean, reason string) — reason is 'admitted' or the
    first matching gate name (see module docstring for exact
    semantics). ``threshold=None`` disables the near gates (exact-only
    ingest). ``corpus=None`` (bootstrap) disables the corpus gates.
    Pass a prebuilt ``index`` to skip recomputing corpus signatures;
    the corpus frame is still needed to verify near candidates (text
    of candidate docs only)."""
    bid = F.col(id_col)
    if corpus is not None and index is None:
        index = build_signature_index(
            corpus,
            id_col=id_col,
            text_col=text_col,
            n_hashes=n_hashes,
            rows_per_band=rows_per_band,
            shingle_n=shingle_n,
        )
    rejects, survivors = exact_gates(
        batch.select(bid, F.md5(F.col(text_col)).alias("text_hash")),
        None if corpus is None else index.hashes,
        id_col=id_col,
    )

    if threshold is not None:
        # shingle/signature pipeline ONCE over the exact-gate survivors;
        # sh_b feeds the signature stage and both verify joins
        b2_docs = batch.join(F.broadcast(survivors), id_col)
        sh_b = _pin(shingles(b2_docs, id_col, text_col, shingle_n))
        sig_b = _signatures_from_shingles(sh_b, id_col=id_col, n_hashes=n_hashes)
        bands_b = _pin(
            band_frame(
                sig_b, id_col=id_col, n_hashes=n_hashes, rows_per_band=rows_per_band
            )
        )

        if corpus is not None:
            # -- gate 3: near vs corpus --------------------------------
            cand_c = (
                index.bands.alias("c")
                .join(
                    F.broadcast(bands_b.alias("n")),
                    (F.col("c.band") == F.col("n.band"))
                    & (F.col("c.bh") == F.col("n.bh")),
                )
                .select(
                    F.col("n.doc").alias("id_a"), F.col("c.doc").alias("id_b")
                )
                .distinct()
            )
            # corpus text touched ONLY for candidate docs
            cand_old = cand_c.select(F.col("id_b").alias(id_col)).distinct()
            sh_c = _pin(
                shingles(
                    corpus.join(F.broadcast(cand_old), id_col),
                    id_col,
                    text_col,
                    shingle_n,
                )
            )
            near_corpus = (
                set_jaccard2(
                    sh_b,
                    sh_c,
                    cand_c,
                    id_col=id_col,
                    item_col="gram",
                    broadcast_items=True,
                )
                .filter(F.col("jaccard") >= threshold)
                .select(F.col("id_a").alias(id_col))
                .distinct()
                .select(bid, F.lit("near-corpus").alias("reason"))
            )
            rejects.append(near_corpus)
            survivors = survivors.join(
                F.broadcast(near_corpus.select(id_col)), id_col, "left_anti"
            )
            bands_b = bands_b.join(
                F.broadcast(survivors.select(F.col(id_col).alias("doc"))), "doc"
            )

        # -- gate 4: near within batch (greedy pairwise, min id wins) --
        cand_b = bucket_pairs(bands_b, ["band", "bh"], broadcast=True)
        near_batch = (
            set_jaccard2(
                sh_b,
                sh_b,
                cand_b,
                id_col=id_col,
                item_col="gram",
                broadcast_items=True,
            )
            .filter(F.col("jaccard") >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
            .select(bid, F.lit("near-batch").alias("reason"))
        )
        rejects.append(near_batch)

    return annotate_gate(batch, rejects, id_col=id_col)


def exact_gates(
    hashes: DataFrame,
    corpus_hashes: DataFrame | None,
    *,
    id_col: str,
) -> tuple[list[DataFrame], DataFrame]:
    """Gates 1-2 over the batch's (id_col, content hash) frame:
    ``exact-batch`` (not the min-id row of its hash group) and, given
    ``corpus_hashes``, ``exact-corpus`` (hash already in the corpus;
    the corpus streams, the batch side is broadcast). Returns the (id,
    reason) reject frames and the surviving batch ids."""
    bid = F.col(id_col)
    key = hashes.columns[1]
    hashes_b = _pin(hashes)
    keep = hashes_b.groupBy(key).agg(F.min(id_col).alias("__keep"))
    ann = hashes_b.join(keep, key)
    dups = ann.filter(bid != F.col("__keep"))
    rejects = [dups.select(bid, F.lit("exact-batch").alias("reason"))]
    b1 = ann.filter(bid == F.col("__keep")).select(id_col, key)
    survivors = b1.select(id_col)
    if corpus_hashes is not None:
        exact_corpus = (
            corpus_hashes.select(key)
            .join(F.broadcast(b1), key)
            .select(bid, F.lit("exact-corpus").alias("reason"))
            .distinct()
        )
        rejects.append(exact_corpus)
        survivors = survivors.join(
            F.broadcast(exact_corpus.select(id_col)), id_col, "left_anti"
        )
    return rejects, survivors


def annotate_gate(batch: DataFrame, rejects: list, *, id_col: str) -> DataFrame:
    """The (id, admitted, reason) verdict over the full batch: gates are
    sequential, so the union of the (id, reason) rejects is disjoint and
    one broadcast left join annotates every row ('admitted' if none)."""
    bid = F.col(id_col)
    rejected = rejects[0]
    for r in rejects[1:]:
        rejected = rejected.unionByName(r)
    return (
        batch.select(id_col)
        .join(F.broadcast(rejected), id_col, "left")
        .select(bid, F.coalesce(F.col("reason"), F.lit("admitted")).alias("reason"))
        .select(bid, (F.col("reason") == "admitted").alias("admitted"), "reason")
    )


def admit(
    batch: DataFrame,
    gate: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """The admitted batch rows with their full original schema — what
    the ingest sink appends to the corpus."""
    keep = gate.filter(F.col("admitted")).select(id_col)
    return batch.join(F.broadcast(keep), id_col)
