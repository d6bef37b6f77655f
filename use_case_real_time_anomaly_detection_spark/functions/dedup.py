"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket-join),
SimHash (Hamming-bucketed), and n-gram Jaccard — all as DataFrame
compositions over built-in functions (md5, min, explode, joins). No
Python UDFs: the hash family is md5-of-seeded-string, whose lexicographic
MIN over a token set is a valid min-wise signature and is reproducible in
any SQL engine (the DuckDB oracle runs the identical construction).

Scale shape (10^12 docs):
- minhash signatures: one token-explode + one groupBy(doc) — map-side
  partial min per band seed, so the shuffle carries one row per doc.
- candidate pairs: explode bands (ROWS_PER_BAND signatures concatenated
  per band) and self-join on (band, hash) — the classic LSH bucket join,
  ``bucket_pairs``, which every near-duplicate operator shares;
  bucket skew (giant near-dup clusters) is handled by AQE skew-join.
- verification joins token sets only for candidate pairs (≪ n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens


def _pin(df: DataFrame) -> DataFrame:
    """Materialize + truncate lineage for a frame that multiple downstream
    subtrees consume (band self-joins, verify joins). Catalyst does NOT
    common-subexpression-eliminate across union branches or join sides, so
    without this every consumer re-derives the tokenize→hash→agg pipeline
    from the file scan — measured in round 2 as 20 FileScans for one
    LSH query. localCheckpoint keeps the frame distributed (executor block
    manager); on a real cluster with executor churn a reliable
    checkpoint dir or an intermediate table write gives the same plan
    shape with fault tolerance — the frames pinned here are the SLIM
    per-doc signature/band relations (O(docs)), never the corpus itself."""
    return df.localCheckpoint()


def _pin_many(*dfs: DataFrame) -> list[DataFrame]:
    """Pin independent frames CONCURRENTLY: localCheckpoint is an eager
    blocking action, so two independent pins issued sequentially leave
    the cluster idle for one full job each. Spark schedules concurrent
    jobs from separate driver threads onto the same executors, so
    independent materializations (e.g. the exact-hash and LSH-band
    relations of a SignatureIndex, both scans of the same corpus)
    overlap instead of queueing."""
    from concurrent.futures import ThreadPoolExecutor

    if len(dfs) == 1:
        return [_pin(dfs[0])]
    with ThreadPoolExecutor(len(dfs)) as ex:
        return list(ex.map(_pin, dfs))


def _spread(df: DataFrame) -> DataFrame:
    """Ensure a small-but-CPU-heavy doc relation has enough partitions to
    run the shingle/token explode cluster-wide. The explode multiplies
    each doc row into hundreds of gram rows BEFORE the first shuffle, so
    a compact corpus file (one parquet row group → one scan task) would
    serialize the entire tokenize→hash pipeline onto a single core —
    measured as 60% of minhash_lsh's steady-state cost at bench scale.
    One narrow exchange of the slim doc rows buys full-width execution of
    the dominant stage. No-op when the scan already has enough splits
    (the 100 TB case: thousands of file splits)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _unpersist_pinned(df: DataFrame) -> None:
    """Deterministically free a localCheckpoint'ed frame's storage blocks.

    Dataset.unpersist() only covers cache-manager entries (it is a no-op
    for checkpoint RDDs, verified empirically); without this, superseded
    iteration frames in a long label propagation sit in executor storage
    until driver GC happens to trigger the ContextCleaner."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # best-effort: storage is then freed by the ContextCleaner

# 16 hashes in 8 bands of 2: for a pair at Jaccard s the candidate
# probability is 1-(1-s²)^8 — ≈0.90 at s=0.5, ≈0.9996 at s=0.8 — and the
# exact-Jaccard verify keeps precision at 1.0. Recall vs the exact
# all-pairs baseline is MEASURED in tests/test_dedup_text.py.
N_HASHES = 16
ROWS_PER_BAND = 2


def bucket_pairs(
    keyed: DataFrame,
    keys,
    *,
    id_col: str = "doc",
    carry=(),
    broadcast: bool = False,
) -> DataFrame:
    """The bucket self-join of every near-duplicate operator: (id_a,
    id_b) for every two rows of ``keyed`` that agree on all ``keys``,
    id_a < id_b, each pair once. Each ``carry`` column comes along per
    side as ``<col>_a`` / ``<col>_b`` for the caller's verify.
    ``broadcast`` hints the right side, for a batch-sized ``keyed``.
    A bucket of k rows emits k(k-1)/2 candidates: the key design bounds
    the join, and a per-bucket cap belongs here."""
    right = keyed.alias("b")
    if broadcast:
        right = F.broadcast(right)
    # keys first, then the id order: the condition the plans are built on
    cond = None
    for k in keys:
        eq = F.col(f"a.{k}") == F.col(f"b.{k}")
        cond = eq if cond is None else cond & eq
    cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (
        keyed.alias("a")
        .join(right, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
        .distinct()
    )


def hamming_band_pairs(
    hashes: DataFrame,
    *,
    id_col: str,
    hash_col: str,
    n_bands: int,
    band_bits: int,
    max_hamming: int,
) -> DataFrame:
    """Banded-Hamming near pairs: each hash is cut into ``n_bands``
    slices of ``band_bits`` bits (one posexploded array column, so the
    hash pipeline runs once), the slim (doc, h, band, slice) frame is
    pinned, ``bucket_pairs`` joins on (band, slice), and pairs with
    bit_count(a XOR b) <= max_hamming are kept. Pigeonhole: a pair within
    max_hamming < n_bands shares a slice. Returns (id_a, id_b, hamming)."""
    mask = F.lit((1 << band_bits) - 1)
    banded = _pin(
        hashes.select(
            F.col(id_col).alias("doc"),
            F.col(hash_col).alias("h"),
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col(hash_col), k * band_bits).bitwiseAND(mask)
                        for k in range(n_bands)
                    ]
                )
            ).alias("band", "slice"),
        )
    )
    return (
        bucket_pairs(banded, ["band", "slice"], carry=["h"])
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via content-hash groupBy: groups with >1 doc."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("first_id"),
            F.max(id_col).alias("last_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


SHINGLE_N = 3


def _gram_array(text_col: str, n: int):
    """Per-row array of word n-gram shingles, built entirely with
    higher-order functions (split → filter empties → slice windows) —
    NO explode-then-window: the lead()-over-token-stream formulation
    shuffles and sorts the full exploded token stream (corpus × tokens
    rows) just to see n-1 tokens ahead, while this is a single
    narrow projection; the only shuffle left in the shingle stage is
    the distinct itself."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != ""
    )
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = SHINGLE_N
) -> DataFrame:
    """Word n-gram shingles per doc, distinct PER INPUT ROW — fully
    SHUFFLE-FREE: array_distinct before the explode replaces the global
    .distinct() exchange the r1-r3 implementations paid (at bench scale
    that shuffle was ~60% of each pinned shingle stage; at 10^12 docs it
    is a full corpus-sized exchange of gram strings).

    Contract shift vs r1-r3: when `id_col` is the input's key (one text
    per id — the normal corpus table) the output is exactly the old
    distinct (id, gram) set. A DUPLICATED doc row (un-deduped landing
    union) now emits its gram set once per row; every count-consuming
    caller in this module therefore aggregates with count_distinct —
    min-based consumers (MinHash signatures, band keys) are invariant to
    duplicates by construction. _spread parallelizes the explode when
    the scan is under-split."""
    return _spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(_gram_array(text_col, n))).alias("gram"),
    )


_MH_MOD = 1 << 32


def _signatures_from_shingles(
    t: DataFrame, *, id_col: str = "doc_id", n_hashes: int = N_HASHES
) -> DataFrame:
    """Signature stage over a prebuilt distinct (id, gram) relation —
    lets callers compute shingles ONCE and share them between the
    signature and the exact-Jaccard verify (see minhash_lsh_pairs)."""
    m = F.md5(F.col("gram"))
    a = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    b = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    # b forced odd → i·b cycles through all residues (standard K-M tweak)
    b_odd = b.bitwiseOR(F.lit(1))
    hashed = t.select(F.col(id_col), a.alias("__a"), b_odd.alias("__b"))
    return _min_hashes(hashed, id_col=id_col, n_hashes=n_hashes)


def _min_hashes(hashed: DataFrame, *, id_col: str, n_hashes: int) -> DataFrame:
    """Per-id K-M min-hash signature (h0..h{n-1}) from per-item (__a,
    __b) hash bases: h_i = min over items of (__a + i·__b) mod 2³²."""
    aggs = [
        F.min(
            F.pmod(F.col("__a") + F.lit(i) * F.col("__b"), F.lit(_MH_MOD))
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def hashed_shingles(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Dictionary-encoded shingles: ONE md5 per shingle yields the two
    K-M signature bases (__a, __b — same slices as
    _signatures_from_shingles) AND a 60-bit gram id (gid, hex digits
    17-32 packed as hi·2²⁸ + lo mod 2²⁸ so the product stays inside a
    signed 64-bit int in BOTH engines), then the gram STRING is dropped
    before anything is pinned or joined — the round-5 minhash_lsh cost
    fix: the materialized relation and the exact-Jaccard verify join
    carry only longs (measured ~2× on the sf1 steady state; gram
    strings dominated both the localCheckpoint bytes and the verify
    shuffle). Jaccard over gids equals Jaccard over grams up to 60-bit
    collisions; the DuckDB oracle computes the SAME gids, so parity is
    exact by construction either way."""
    t = shingles(df, id_col, text_col, n)
    m = F.md5(F.col("gram"))
    a = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    b = F.conv(F.substring(m, 9, 8), 16, 10).cast("long").bitwiseOR(F.lit(1))
    gid = F.conv(F.substring(m, 17, 8), 16, 10).cast("long") * F.lit(
        268435456
    ) + F.pmod(F.conv(F.substring(m, 25, 8), 16, 10).cast("long"), F.lit(268435456))
    return t.select(
        F.col(id_col), a.alias("__a"), b.alias("__b"), gid.alias("gid")
    )


def band_frame(
    sig: DataFrame,
    *,
    id_col: str = "doc_id",
    n_hashes: int = N_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(doc, band, bh) LSH band relation from a minhash signature frame:
    the n_bands band keys are built as ONE array column + posexplode — a
    single pass over the signature row, not an n_bands-way union of
    selects that Catalyst would re-derive per branch (the round-2
    20-FileScan regression class)."""
    n_bands = n_hashes // rows_per_band
    band_arr = F.array(
        *[
            F.concat_ws(
                ":",
                *[
                    F.col(f"h{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        F.col(id_col).alias("doc"),
        F.posexplode(band_arr).alias("band", "bh"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = N_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """Near-duplicate pairs: LSH banding proposes candidates, exact token
    Jaccard verifies. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Plan shape (the round-2 fix): shingles are computed ONCE and pinned
    (the signature stage and both sides of the verify join reuse the same
    materialized frame), and the band hashes are built as ONE array
    column + posexplode — a single pass over the signature row, not an
    n_bands-way union of selects that Catalyst would re-derive per
    branch. The slim (doc, band, bh) frame is pinned before the
    self-join so neither join side replays the signature pipeline.
    Round-2 plan: 20 FileScans / 0 reuse; now the corpus is read once.

    Round-5 cost fix: the pinned relation is hashed_shingles — longs
    only, the gram string never leaves the projection that md5s it —
    and the exact-Jaccard verify joins on the 60-bit gid instead of the
    gram string (same result, oracle computes identical gids).
    """
    hs = _pin(hashed_shingles(df, id_col=id_col, text_col=text_col, n=shingle_n))
    sig = _min_hashes(hs, id_col=id_col, n_hashes=n_hashes)
    banded = _pin(
        band_frame(
            sig, id_col=id_col, n_hashes=n_hashes, rows_per_band=rows_per_band
        )
    )
    cand = bucket_pairs(banded, ["band", "bh"])
    gid_items = hs.select(F.col(id_col), F.col("gid").alias("gram"))
    return set_jaccard_arrays(gid_items, cand, id_col=id_col, item_col="gram").filter(
        F.col("jaccard") >= threshold
    )


def set_jaccard(
    items: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    item_col: str = "gram",
) -> DataFrame:
    """Exact set Jaccard for candidate pairs (id_a, id_b) over a distinct
    (id, item) relation — verification stage of LSH dedup."""
    return set_jaccard2(items, items, pairs, id_col=id_col, item_col=item_col)


def set_jaccard2(
    items_a: DataFrame,
    items_b: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    item_col: str = "gram",
    broadcast_items: bool = False,
) -> DataFrame:
    """Exact set Jaccard for candidate pairs (id_a, id_b) where the two
    sides draw from DIFFERENT distinct (id, item) relations — the
    cross-relation verify of the incremental dedup gate (batch shingles
    vs corpus-candidate shingles). ``set_jaccard`` is the one-relation
    special case.

    ``broadcast_items=True`` hints every item/size relation as the
    broadcast build side — for callers whose item relations are KNOWN
    small (the ingest gate: batch shingles + candidate-only corpus
    shingles are O(batch), but they sit behind joins whose inflated
    size estimates otherwise push Catalyst to sort-merge joins).
    Corpus-wide callers (minhash_lsh_pairs) must leave this off."""
    hint = F.broadcast if broadcast_items else (lambda d: d)
    items_a = hint(items_a)
    items_b = hint(items_b)
    # count DISTINCT items: the r4 shuffle-free shingles are distinct
    # per input ROW, so a duplicated doc row (un-deduped landing) would
    # double a plain count; distinctness inside the existing agg costs a
    # partial-distinct, never the removed corpus-wide exchange
    sizes_a = hint(items_a.groupBy(id_col).agg(F.count_distinct(item_col).alias("n")))
    sizes_b = hint(items_b.groupBy(id_col).agg(F.count_distinct(item_col).alias("n")))
    inter = (
        pairs.join(items_a.alias("ta"), pairs["id_a"] == F.col(f"ta.{id_col}"))
        .join(
            items_b.alias("tb"),
            (pairs["id_b"] == F.col(f"tb.{id_col}"))
            & (F.col(f"ta.{item_col}") == F.col(f"tb.{item_col}")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count_distinct(F.col(f"ta.{item_col}")).alias("overlap"))
    )
    return (
        inter.join(sizes_a.alias("sa"), inter["id_a"] == F.col(f"sa.{id_col}"))
        .join(sizes_b.alias("sb"), inter["id_b"] == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("overlap")
                / (F.col("sa.n") + F.col("sb.n") - F.col("overlap")),
                4,
            ).alias("jaccard"),
        )
    )


def set_jaccard_arrays(
    items: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    item_col: str = "gram",
) -> DataFrame:
    """Exact set Jaccard for candidate pairs, array-contraction variant:
    each doc's item set is collected ONCE into a sorted array (one
    groupBy over the item relation, O(docs) output rows), the pair
    frame joins the two slim set rows, and the overlap is a row-local
    ``array_intersect`` — no pairs×items row explosion, no second
    giant groupBy. Replaces set_jaccard in minhash_lsh_pairs (round-5:
    the double-explode verify was 15.5 s of the 18.6 s sf1 steady
    state; this form is ~3× cheaper at the same output). Identical
    results: overlap and sizes are distinct-set integers either way,
    and the final rounded division is the same IEEE expression.
    Per-row memory is one doc's item set (bounded by text length);
    the set frame is O(corpus) rows but slim — AQE broadcasts it when
    small, shuffles otherwise."""
    sets = items.groupBy(id_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("__items"),
        F.count_distinct(item_col).alias("__n"),
    )
    a = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("__items").alias("__ia"),
        F.col("__n").alias("__na"),
    )
    b = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("__items").alias("__ib"),
        F.col("__n").alias("__nb"),
    )
    overlap = F.size(F.array_intersect(F.col("__ia"), F.col("__ib")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                overlap / (F.col("__na") + F.col("__nb") - overlap), 4
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word n-gram (shingle) Jaccard. Candidates =
    pairs sharing ≥1 BLOCKING shingle; the exact Jaccard (over ALL
    shingles) verifies each candidate.

    ``max_shingle_df`` caps the candidate join's fan-out: shingles whose
    document frequency exceeds the cap are excluded from the CANDIDATE
    join key set (never from the Jaccard itself), so the self-join's
    per-key fan-out is bounded by cap² — the difference between a
    shuffle that finishes and one stop-word shingle producing 10¹⁸
    candidate rows at corpus scale. Recall caveat, stated honestly: a
    pair sharing ONLY above-cap shingles is missed; at any realistic
    threshold such pairs are vanishing (two docs with Jaccard ≥ t share
    |S∩| ≥ t/(1+t)·|S∪| shingles, and all of them being corpus-frequent
    means the docs are near-duplicates of a boilerplate that the cap is
    deliberately blocking on anyway). ``None`` disables blocking
    (exact candidates — test scale)."""
    # pinned: consumed by 5 subtrees (sizes, block ×2 join sides, verify
    # ×2) — without it each re-runs the shingle pipeline
    grams = _pin(shingles(df, id_col, text_col, n))
    # count_distinct: duplicate doc rows must not inflate document
    # frequencies (set sizes: see set_jaccard2)
    block = grams
    if max_shingle_df is not None:
        rare = (
            grams.groupBy("gram")
            .agg(F.count_distinct(id_col).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("gram")
        )
        block = grams.join(rare, "gram")
    cand = bucket_pairs(block, ["gram"], id_col=id_col)
    # exact Jaccard over ALL shingles (blocking affects candidates only)
    return set_jaccard(grams, cand, id_col=id_col, item_col="gram").filter(
        F.col("jaccard") >= threshold
    )


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph via
    alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): each
    round rewires every node toward the minimum id of its neighborhood,
    so the graph contracts to a forest of stars rooted at each
    component's minimum id — cluster_id == min(doc_id) of the component,
    the canonical-representative convention of corpus dedup.

    Why star contraction and not min-label propagation: propagation
    needs O(graph diameter) rounds — a 10k-doc boilerplate CHAIN needs
    10k joins, which at corpus scale means either a wrong answer or a
    loud failure at any fixed cap. Star contraction halves long paths
    every round (O(log n) rounds regardless of topology):

    - large-star(u): m = min(N(u) ∪ {u}); connect every STRICTLY LARGER
      neighbor v > u directly to m. (One groupBy for the per-node min +
      one join to re-emit edges.)
    - small-star(u): orient each edge from its larger endpoint; with
      N(u) now the smaller neighbors, m = min(N(u) ∪ {u}); connect u and
      every smaller neighbor to m.

    At the fixpoint every edge is (node, component-min). Each round is
    two groupBy+join passes over the EDGE relation only (no labels
    frame), all shuffles on the node id key; the driver loop is control
    flow only — convergence is detected from a per-round aggregate
    checksum (count + sum of edge hashes), never a collect of data rows.
    Each round's edge set is localCheckpoint()ed (the plan would
    otherwise double every round) and the superseded round's blocks are
    freed deterministically.

    Returns (doc_id, cluster_id) for every id incident to a pair.
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        # neighbors are all < u here, so min(N(u) ∪ {u}) == min(N(u))
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        return (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _checksum(e: DataFrame) -> tuple:
        # bit_xor is order-insensitive and overflow-free (a SUM of hashes
        # trips ANSI long overflow); edge sets are distinct, so xor
        # cancellation of duplicates cannot occur
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev_sum = _checksum(edges)
    converged = False
    for _ in range(max_iter):
        nxt = _small_star(_large_star(edges)).localCheckpoint()
        cur_sum = _checksum(nxt)
        _unpersist_pinned(edges)
        edges = nxt
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # an unconverged result is WRONG (edges may not yet point at the
        # component minimum), so fail loudly instead of returning split
        # clusters; with O(log n) rounds the default cap covers any
        # physically storable graph
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds; raise max_iter"
        )
    # fixpoint: every edge is (member, root); roots map to themselves
    membership = (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .unionByName(
            edges.select(
                F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")
            )
        )
        .distinct()
    )
    # contract: EVERY id incident to a pair gets a cluster row — a node
    # whose only incidence is a reflexive pair (u == u, dropped from the
    # edge relation above) is its own singleton cluster. The anti-join
    # scans only the (normally empty) self-pair subset.
    selfies = (
        pairs.where(F.col(a_col) == F.col(b_col))
        .select(F.col(a_col).alias("doc_id"))
        .distinct()
    )
    return membership.unionByName(
        selfies.join(membership, "doc_id", "left_anti").select(
            "doc_id", F.col("doc_id").alias("cluster_id")
        )
    )


def canonical_corpus_ids(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """The deduplicated corpus: every doc except non-canonical cluster
    members (cluster members other than the min-id representative).
    One broadcast anti-join — clusters ≪ corpus at scale; the hint is
    explicit because the cluster frame is checkpoint-backed (no file
    size stats), which otherwise drops Catalyst to a sort-merge join."""
    drop = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.select(id_col).join(F.broadcast(drop), id_col, "left_anti")


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """Per-doc SimHash: sign-sum of token-hash bits. Uses the low 32 bits
    of md5 (via conv of 8 hex chars) to stay in safe bigint range.

    JVM-only and explode-free: each bit's ±1 contribution is a separate
    aggregate column over the token stream (one groupBy, map-side partial
    sums), then the sign bits pack into one long.
    """
    t = tokens(_spread(df), id_col, text_col)
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    t = t.select(F.col(id_col), h.alias("h"))
    sums = t.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    packed = sums.select(
        F.col(id_col),
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(bits)
            ],
            start=F.lit(0),
        )
        .cast("long")
        .alias("simhash"),
    )
    return packed


def simhash_near_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: ``hamming_band_pairs`` over the packed
    signature with ``n_blocks`` slices of ``bits // n_blocks`` bits —
    any pair within max_hamming < n_blocks shares at least one identical
    slice — verified by exact Hamming distance. The token pipeline runs
    once (the banded frame is pinned before the self-join)."""
    return hamming_band_pairs(
        simhash(df, id_col, text_col, bits),
        id_col=id_col,
        hash_col="simhash",
        n_bands=n_blocks,
        band_bits=bits // n_blocks,
        max_hamming=max_hamming,
    )


def repeated_chunks(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
    stride: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-passage detection: exact substring dedup
    at CHUNK granularity (the boilerplate/license-header/navigation-bar
    case that document-level near-dup misses — two long documents
    sharing one paragraph are not near-dups, but the paragraph should
    still be counted once in a training corpus).

    Sliding token windows (``chunk_tokens`` wide, ``stride`` apart,
    whitespace tokens on lowercased text — the corpus tokenization
    idiom, functions/text.tokens) are keyed by md5 of the joined window;
    a chunk key occurring in >= ``min_docs`` DISTINCT documents marks
    every occurrence. Output: one row per (doc, start_token) occurrence
    of a repeated chunk, with the chunk's corpus-wide doc/occurrence
    counts — the span map a curation pass needs to excise or
    count-weight repeated passages.

    Scale shape: the chunk frame is slim (doc, start, 32-byte key) with
    bounded fan-out (~tokens/stride rows per doc); hot-key counts are a
    partial-aggregating groupBy on the key; the mark-back is an
    equi-join of two slim frames (NOT a broadcast — at corpus scale the
    repeated-chunk set is unbounded: think licence headers across 10^8
    docs). The chunk frame is pinned so tokenize→hash runs once, not
    once per consumer. Docs shorter than one window are skipped (no
    full window exists).
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = (
        df.select(F.col(id_col).alias("doc"), toks.alias("t"))
        .filter(F.size("t") >= chunk_tokens)
    )
    starts = F.sequence(
        F.lit(0), F.size("t") - chunk_tokens, F.lit(stride)
    )
    chunked = _pin(
        base.select(
            "doc",
            F.explode(starts).alias("start_token"),
            "t",
        ).select(
            "doc",
            "start_token",
            F.md5(
                F.encode(
                    F.array_join(
                        F.slice("t", F.col("start_token") + 1, chunk_tokens),
                        " ",
                    ),
                    "UTF-8",
                )
            ).alias("chunk_md5"),
        )
    )
    hot = (
        chunked.groupBy("chunk_md5")
        .agg(
            F.count_distinct("doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    # no global sort: this is a curation span map, not an endpoint — a
    # full-corpus orderBy would add a range exchange for nothing
    return chunked.join(hot, "chunk_md5").select(
        F.col("doc").alias(id_col),
        "start_token",
        "chunk_md5",
        "n_docs",
        "n_occurrences",
    )


def contamination_pairs(
    docs: DataFrame,
    bench: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination pairs: (doc, benchmark item, number of
    shared word n-grams) for every corpus doc that shares ≥ min_shared
    distinct n-grams with a benchmark item.

    The training-data decontamination primitive (the n-gram-collision
    check of GPT-3 appendix C / PaLM §7, at the standard 8-13 word
    granularity): before training, every doc overlapping an eval set is
    flagged so the pipeline can drop it — near-dup dedup can't do this
    job because the benchmark side must be matched at SUBSTRING
    granularity (one leaked eval question inside a long doc is a tiny
    Jaccard but a real leak).

    Scale shape (10^12 docs × 10^3..10^5 benchmark items): the benchmark
    gram set is eval-set-sized and BROADCAST; the corpus side is one
    shingle explode + one broadcast-hash join + one partial-aggregating
    groupBy — a single corpus scan, no wide shuffle of corpus text.
    Docs shorter than n tokens produce no grams and cannot be flagged
    (document-level exact/near dedup owns short texts).
    """
    if n < 1:
        raise ValueError(f"contamination_pairs: n must be >= 1, got {n}")
    if min_shared < 1:
        raise ValueError(
            f"contamination_pairs: min_shared must be >= 1, got {min_shared}"
        )
    cg = shingles(docs, id_col, text_col, n)
    bg = shingles(bench, bench_id_col, bench_text_col, n).select(
        F.col(bench_id_col).alias("bench_id"), "gram"
    )
    return (
        cg.join(F.broadcast(bg), "gram")
        .groupBy(id_col, "bench_id")
        .agg(F.count_distinct("gram").alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )


def contamination_scores(
    docs: DataFrame,
    bench: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_score: float = 0.0,
) -> DataFrame:
    """Per-doc contamination fraction: of the doc's distinct word
    n-grams, the share also present in ANY benchmark item —
    (id, n_grams, shared_grams, score) for docs with score > min_score
    (score is exact: both counts come from the same distinct-gram
    relation).

    ONE corpus pass: the distinct (id, gram) relation is built once,
    left-joined against the broadcast benchmark gram SET (identity of the
    benchmark item doesn't matter for gating), and both counts are plain
    counts of one groupBy — no re-derivation of the shingle pipeline per
    count (the round-2 multiple-FileScan class), and no distinct
    aggregates, whose Expand column order Spark picks per session.
    """
    if not 0.0 <= min_score < 1.0:
        raise ValueError(
            f"contamination_scores: min_score must be in [0, 1), got {min_score}"
        )
    cg = shingles(docs, id_col, text_col, n)
    bset = (
        shingles(bench, bench_id_col, bench_text_col, n)
        .select("gram")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        cg.distinct()
        .join(F.broadcast(bset), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("gram").alias("n_grams"),
            F.count("__hit").alias("shared_grams"),
        )
        .withColumn(
            "score",
            F.round(F.col("shared_grams") / F.col("n_grams"), 4),
        )
        .filter(F.col("score") > F.lit(min_score))
    )


def split_assign(
    docs: DataFrame,
    clusters: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    splits: tuple = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    salt: str = "split",
) -> DataFrame:
    """Leakage-guarded train/val/test assignment: every doc is hashed on
    its near-duplicate CLUSTER representative (``clusters`` =
    connected_components output; docs incident to no pair represent
    themselves), so an entire near-dup cluster lands in ONE split —
    near-duplicates of training documents can never leak into the
    held-out splits (the document-level eval-contamination guard; the
    n-gram-level complement is contamination_pairs).

    Assignment is the same deterministic md5 bucket scheme as
    hash_sample (reproducible across engines, runs, partitionings, and
    retries — a re-run assigns the identical split, and a DuckDB oracle
    can verify the assignment): bucket = int(md5("salt:rep")[:8], 16)
    mod 10⁴, split by cumulative per-10⁴ thresholds. Fractions must sum
    to 1 (±1 bucket of rounding) — config-time ValueError otherwise
    (≙ the reference's template-time error() checks).

    Scale shape: ``clusters`` holds only docs incident to a near-dup
    pair (≪ corpus), so the annotation is one broadcast left join; the
    bucket math is pure JVM hash arithmetic on the slim (id, rep)
    projection. Returns (id_col, cluster_id, split).
    """
    names = [n for n, _ in splits]
    if len(set(names)) != len(names):
        raise ValueError(f"split_assign: duplicate split names in {names}")
    cuts, acc = [], 0
    for name, frac in splits:
        if frac <= 0:
            raise ValueError(
                f"split_assign: fraction for {name!r} must be > 0, got {frac}"
            )
        acc += round(frac * 10000)
        cuts.append((name, acc))
    if abs(acc - 10000) > 1:
        raise ValueError(
            f"split_assign: fractions must sum to 1, got {acc / 10000}"
        )

    base = docs.select(id_col)
    if clusters is not None:
        rep = F.coalesce(F.col("cluster_id"), F.col(id_col))
        base = base.join(
            F.broadcast(clusters.withColumnRenamed("doc_id", id_col)),
            id_col,
            "left",
        )
    else:
        rep = F.col(id_col)
    base = base.select(F.col(id_col), rep.alias("cluster_id"))

    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"), F.col("cluster_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    # built innermost-out so the OUTERMOST when tests the smallest cut:
    # bucket < 9000 → train, elif < 9500 → val, else test
    expr = F.lit(cuts[-1][0])  # remainder bucket → last split
    for name, cut in cuts[-2::-1]:
        expr = F.when(bucket < cut, F.lit(name)).otherwise(expr)
    return base.select(id_col, "cluster_id", expr.alias("split"))
