"""SparkSession factory with scale-oriented defaults.

Single place where the engine's Spark configuration is decided, so the
same settings apply in tests, bench runs, and the driver's verify:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  — the north rule mandates explicit skew handling; AQE is the built-in
  half of that (the explicit half is operators/skew.py: salted
  repartition + chunked sequence-windows).
- Arrow enabled for pandas UDF exchange (audio decode path).
- shuffle.partitions sized for local[32]; on a real cluster this is
  overridden by --conf (AQE coalescing makes the initial number mostly
  an upper bound anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# One knob per concern; everything else stays Spark default.
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size bounds pandas-UDF memory per batch: each batch of
    # the clip table holds `bytes` blobs (~14 KB/row), so 256 rows ≈ 3.5 MB
    # — measured 3x faster than 2048-row (28 MB) batches at 32 cores,
    # where the giant buffers became G1 humongous allocations and GC
    # serialized the whole Arrow exchange.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    # parquet columnarReaderBatchSize stays at Spark's default 4096.
    # Measured both ways on the binary-heavy clip table: 512-row scan
    # batches are ~2x faster at local[32] on a small (2.3 GB, one task
    # wave) fixture — 32 concurrent tasks x ~57 MB contiguous `bytes`
    # vectors thrash G1 there — but ~20% SLOWER on the 20 GB multi-wave
    # scaling workload, where the allocation churn amortizes and larger
    # batches win. Default favors the at-scale regime; see
    # BENCH/BASELINE.md for the numbers.
    "spark.sql.shuffle.partitions": "32",
    # let AQE re-plan the output partitioning of a persisted plan: the
    # engine's one persisted frame (the deduped violations) otherwise
    # keeps all shuffle partitions, i.e. one write task and file per
    # partition for a few hundred rows
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def adaptive_reader_batch(
    input_bytes: int, cores: int, max_partition_bytes: int = 128 << 20
) -> int:
    """Pick the parquet vectorized-reader batch size from the job's
    regime (both regimes measured on the binary clip table, see
    BENCH/BASELINE.md):

    - ONE-WAVE jobs (scan tasks ≲ 1.5× cores — small fixtures, single
      partitions): every task's columnar batch is live at once, and at
      4096 rows × ~14 KB payloads the ~57 MB contiguous `bytes` vectors
      thrash G1 (humongous allocations; GCLocker retries observed) —
      512-row batches measured ~2× faster at local[32].
    - MULTI-WAVE jobs (the at-scale shape): allocation churn amortizes
      across waves and the larger default batches win by ~20%.

    Returns the value for `spark.sql.parquet.columnarReaderBatchSize`
    (a runtime SQL conf — settable per job before the read)."""
    waves = (input_bytes / max(max_partition_bytes, 1)) / max(cores, 1)
    return 512 if waves <= 1.5 else 4096


def release_pinned(spark: SparkSession) -> int:
    """Drop every block-manager-persisted RDD — including the
    `localCheckpoint` blocks the dedup/similarity/incremental operators
    pin (`functions/dedup.py:_pin`) — plus the SQL cache. Returns the
    number of RDDs released.

    Why it exists: a pinned frame's lineage is truncated, so the frame
    itself can never unpersist its blocks while callers might still
    consume it; in a long-lived session running many independent
    queries (bench harness, correctness driver, notebook) those blocks
    accumulate in the unified memory manager's storage pool and squeeze
    execution memory — measured as a 5× steady-state slowdown on
    queries run late in a 64-query session vs in isolation. A
    spark-submit-per-job deployment never needs this (the JVM exits);
    a multi-query session calls it BETWEEN jobs, after each job's
    results are materialized. Any live DataFrame still referencing a
    pinned frame cannot be recomputed after this call."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = int(jmap.size())
    for jrdd in list(jmap.values()):
        jrdd.unpersist(False)
    spark.catalog.clearCache()
    return released


def local_frame(spark: SparkSession, schema, rows) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` order) as a DataFrame
    planned as a LocalRelation: built from an Arrow table, it needs no
    scan and no Python worker, whereas ``createDataFrame(list)`` plans a
    Python-worker RDD scan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)


def get_spark(
    master: str | None = None,
    app_name: str = "constraint-validation-engine",
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else 32).
    On a real cluster, pass ``master=None`` and let spark-submit decide —
    any existing active session is reused untouched.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    # Keep multi-MB Arrow/columnar buffers out of G1's humongous path
    # (regions default to 4-8 MB at these heap sizes; measured 3x on the
    # audio decode exchange). driver.extraJavaOptions only takes effect
    # when THIS call launches the driver JVM — under spark-submit (the
    # JVM spawned this Python process: PYSPARK_GATEWAY_PORT is set) it is
    # silently ignored, so there it must be passed via
    # --driver-java-options / spark-defaults.conf instead; we skip it to
    # keep the ignored setting out of the session conf.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.config(
            "spark.driver.extraJavaOptions", "-XX:G1HeapRegionSize=32m"
        )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
