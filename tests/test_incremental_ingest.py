"""Incremental dedup gate (functions/incremental): gate semantics.

Pinned by a hand-built scenario with one doc per rejection reason
(exact-batch, exact-corpus, near-corpus, near-batch, admitted), with
and without the near gates, without a corpus, and with a prebuilt
signature index.
"""

from __future__ import annotations

import pytest

from use_case_real_time_anomaly_detection_spark.functions.incremental import (
    admit,
    build_signature_index,
    dedup_gate,
)

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
NOVEL = "completely different words entirely novel content here made up"


@pytest.fixture()
def scenario(spark):
    corpus = spark.createDataFrame(
        [(1, BASE), (2, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, BASE),  # exact-corpus
            (11, BASE + " lambda"),  # near-corpus (jaccard 8/11 vs doc 1)
            (12, NOVEL),  # admitted
            (13, NOVEL),  # exact-batch (dup of 12)
            (14, NOVEL + " extra"),  # near-batch (vs surviving 12)
            (15, "zz yy xx ww vv uu tt ss rr qq"),  # admitted
        ],
        ["doc_id", "text"],
    )
    return corpus, batch


def _reasons(gate) -> dict[int, str]:
    return {r["doc_id"]: r["reason"] for r in gate.collect()}


def test_gate_reasons_cover_every_gate(spark, scenario):
    corpus, batch = scenario
    got = _reasons(dedup_gate(batch, corpus, threshold=0.5))
    assert got == {
        10: "exact-corpus",
        11: "near-corpus",
        12: "admitted",
        13: "exact-batch",
        14: "near-batch",
        15: "admitted",
    }
    kept = admit(batch, dedup_gate(batch, corpus, threshold=0.5))
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == [12, 15]


def test_gate_exact_only_admits_near_dups(spark, scenario):
    corpus, batch = scenario
    got = _reasons(dedup_gate(batch, corpus, threshold=None))
    assert got[11] == "admitted"  # near-dup passes with near gates off
    assert got[14] == "admitted"
    assert got[10] == "exact-corpus"
    assert got[13] == "exact-batch"


def test_gate_bootstrap_without_corpus(spark, scenario):
    _, batch = scenario
    got = _reasons(dedup_gate(batch, None, threshold=0.5))
    # no corpus gates: 10 survives as min-id of the BASE hash group, 11
    # is its near-dup within the batch
    assert got[10] == "admitted"
    assert got[11] == "near-batch"
    assert got == {
        10: "admitted",
        11: "near-batch",
        12: "admitted",
        13: "exact-batch",
        14: "near-batch",
        15: "admitted",
    }


def test_gate_with_prebuilt_index_matches_on_the_fly(spark, scenario):
    corpus, batch = scenario
    idx = build_signature_index(corpus)
    a = _reasons(dedup_gate(batch, corpus, threshold=0.5))
    b = _reasons(dedup_gate(batch, corpus, index=idx, threshold=0.5))
    assert a == b
