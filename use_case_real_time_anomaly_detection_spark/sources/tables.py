"""Table layer: partitioned, sorted, upsert-capable storage.

Maps the reference's storage engines to Spark table formats
(SURVEY.md §2.1 S2-S6):
- MergeTree + (timestamp, id) sorting key → partitioned parquet/Iceberg
  with write-ordered sort (min/max stats give equivalent data skipping);
- toYear()/toYYYYMM() partition keys → partition transforms (years/
  months) or, for the clip table, (codec, bucket(clip_id));
- ReplacingMergeTree + dedup MV → explicit dedup-before-append or
  MERGE INTO (Iceberg).

Iceberg needs the iceberg-spark-runtime jar; this container doesn't ship
it, so the provider is abstracted: `IcebergCatalog` is used when the jar
is present, else `ParquetCatalog` gives the same API over partitioned
parquet paths (identical logical behavior; Iceberg adds ACID commits +
snapshot time travel in production).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True only when a `local` Iceberg catalog is actually usable: the
    catalog must be configured AND the runtime class loadable.
    (py4j returns a JavaPackage stub for missing classes instead of
    raising, so attribute access alone is NOT a valid probe.)"""
    if spark.conf.get("spark.sql.catalog.local", None) is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class ParquetCatalog:
    """Partitioned-parquet fallback with the table API the engine needs:
    create/append/read/overwrite_partitions (idempotent re-run)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    def has_data(self, name: str) -> bool:
        """True when the table holds at least one data file. Distinct from
        exists(): supersession (drop_partitions) can empty a stream
        accumulator's every leaf while the table ROOT remains, and a bare
        parquet read of that shell fails schema inference."""
        root = self.path(name)
        if not os.path.exists(root):
            return False
        for _r, _d, files in os.walk(root):
            if any(not f.startswith(("_", ".")) for f in files):
                return True
        return False

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def _stage(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None,
        options: dict | None = None,
    ) -> str:
        """Write df to a job-unique staging sibling of the table dir.

        Direct concurrent writes into one parquet directory are UNSAFE:
        every Spark job commits through `{dir}/_temporary/0`, so two live
        writers (the at-scale deployment shape: per-minute copy runners on
        disjoint partition sets sharing one checkpoint store) race — one
        job's commit cleanup deletes the other's in-flight task files
        (observed as FileOutputCommitter.getAllCommittedTaskPaths throwing
        mid-suite). Staging gives each writer a private commit dir; the
        caller then moves finished part-files into the live table, which
        is per-file atomic on a posix filesystem. Iceberg replaces this
        whole dance with real ACID commits (IcebergCatalog overrides)."""
        import uuid

        staging = self.path(name) + f"._stage_{uuid.uuid4().hex}"
        w = df.write.mode("overwrite")
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        return staging

    @staticmethod
    def _leaf_dirs(staging: str) -> list[str]:
        """Relative dirs under staging that directly hold data files."""
        leaves = []
        for root_, _dirs, files in os.walk(staging):
            if any(not f.startswith(("_", ".")) for f in files):
                leaves.append(os.path.relpath(root_, staging))
        return leaves

    @staticmethod
    def _move_files(src_dir: str, dest_dir: str) -> None:
        """Move data part-files (+ their checksum siblings) src → dest;
        rename is atomic per file, and part-file names embed the writing
        job's UUID so two concurrent committers can never collide on a
        name. Commit markers (_SUCCESS and their .crc) stay behind."""
        os.makedirs(dest_dir, exist_ok=True)
        data = [
            f
            for f in os.listdir(src_dir)
            if os.path.isfile(os.path.join(src_dir, f))
            and not f.startswith(("_", "."))
        ]
        for f in data:
            for g in (f, f".{f}.crc"):
                full = os.path.join(src_dir, g)
                if os.path.exists(full):
                    os.rename(full, os.path.join(dest_dir, g))

    def append(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """Concurrency-safe append: stage, then move part-files in.
        Appends add files and never touch existing ones, so any number of
        concurrent appenders compose.

        Failure contract: a crash mid-publish can leave SOME of the
        batch's files visible; a retry/replay then appends the full batch
        again. That is the same at-least-once shape the engine's
        append-only consumers already tolerate by design (lineage readers
        dedup per (run, partition, detector) / take latest; completeness
        checks aggregate, not count files). The staging dir is kept on
        failure for forensics — a later call never reads it (job-unique
        names) and Iceberg mode replaces all of this with one ACID
        commit."""
        import shutil

        staging = self._stage(df, name, partition_by)
        live = self.path(name)
        os.makedirs(live, exist_ok=True)
        for rel in self._leaf_dirs(staging):
            self._move_files(
                os.path.join(staging, rel) if rel != "." else staging,
                live if rel == "." else os.path.join(live, rel),
            )
        shutil.rmtree(staging, ignore_errors=True)  # success only

    def overwrite_partitions(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str],
        options: dict | None = None,
    ) -> None:
        """Idempotent per-partition replace (dynamic partition overwrite) —
        the parquet analog of Iceberg's MERGE/replace-partition commit, and
        the mechanism that makes re-validating a partition idempotent
        (≙ the reference's at-least-once + dedup contract, SURVEY.md §2.8.4).

        Committed from a job-unique staging dir (see _stage): each leaf
        partition present in the output replaces the live leaf dir.
        Concurrent writers on DISJOINT partition sets (the documented
        contract) replace disjoint leaves and never interfere; same-leaf
        concurrency needs Iceberg's transactional commit.

        Crash safety: the NEW files are published into the leaf FIRST
        (part names are job-unique so they never collide with the old
        ones), and only then are the old files deleted. A crash in the
        window leaves old+new visible together — transient duplicates a
        retry of the same idempotent overwrite converges away — but at no
        point is a partition's only copy deleted-before-replaced (the
        previous delete-first order plus cleanup-on-failure could destroy
        a partition permanently). The staging dir is kept on failure."""
        import shutil

        staging = self._stage(df, name, partition_by, options)
        live = self.path(name)
        for rel in self._leaf_dirs(staging):
            dest = live if rel == "." else os.path.join(live, rel)
            old = (
                [
                    f
                    for f in os.listdir(dest)
                    if os.path.isfile(os.path.join(dest, f))
                ]
                if os.path.exists(dest)
                else []
            )
            self._move_files(
                os.path.join(staging, rel) if rel != "." else staging, dest
            )
            for f in old:
                full = os.path.join(dest, f)
                if os.path.exists(full):
                    os.remove(full)
        shutil.rmtree(staging, ignore_errors=True)  # success only

    def drop_partitions(self, name: str, column: str, values: list) -> int:
        """Remove whole top-level partition directories (all sub-levels
        included) — the supersession primitive dynamic overwrite can't
        express when the table is partitioned one level DEEPER than the
        replacement grain (e.g. quarantine_stream's (partition_key,
        batch_id) dirs being cleared by an authoritative batch pass at
        partition_key grain). Returns the number of directories removed."""
        import shutil

        dropped = 0
        for v in values:
            d = os.path.join(self.path(name), f"{column}={v}")
            if os.path.exists(d):
                shutil.rmtree(d)
                dropped += 1
        return dropped


class IcebergCatalog(ParquetCatalog):
    """Iceberg-backed tables (used when the runtime jar is on the
    classpath). Same API; append/overwrite become catalog commits.

    Partition spec for the clip table (FIXTURES.md §1):
        PARTITIONED BY (codec, bucket(8, clip_id))
    with write-ordered sort on clip_id so the (partition, seq) windows
    read pre-clustered data (≙ MergeTree sorting key, SURVEY.md S2).
    The reference's time-axis layouts map to transforms:
        toYear(timestamp)   → years(ts)    (incoming_data.datasource:8)
        toYYYYMM(timestamp) → months(ts)   (copy_log.datasource:11)
    and the dedup MV (dedup_log.pipe:4-6) to MERGE INTO ... WHEN NOT
    MATCHED THEN INSERT. Exercised end-to-end by
    tests/test_iceberg_integration.py, which skips cleanly when no
    iceberg-spark-runtime jar is obtainable (this container: none —
    SURVEY.md §7.3)."""

    def qualified(self, name: str) -> str:
        return f"local.{name}"

    def exists(self, name: str) -> bool:  # pragma: no cover — needs jar
        return self.spark.catalog.tableExists(self.qualified(name))

    def has_data(self, name: str) -> bool:  # pragma: no cover — needs jar
        # an Iceberg table always carries its schema; an empty read is fine
        return self.exists(name)

    def create_partitioned(
        self, df: DataFrame, name: str, transforms: list
    ) -> None:  # pragma: no cover — needs jar
        """Create-or-replace an Iceberg table partitioned by the given
        transform Columns (e.g. [F.years("ts")], [F.months("ts")],
        [F.col("codec"), F.bucket(8, "clip_id")]) and load ``df`` into it.
        ≙ ENGINE_PARTITION_KEY toYear(timestamp) / toYYYYMM(timestamp)."""
        df.writeTo(self.qualified(name)).partitionedBy(
            *transforms
        ).createOrReplace()

    def append(self, df, name, partition_by=None):  # pragma: no cover
        df.writeTo(self.qualified(name)).append()

    def read(self, name):  # pragma: no cover
        return self.spark.table(self.qualified(name))

    def overwrite_partitions(
        self, df, name, partition_by=None, options=None
    ):  # pragma: no cover — needs jar
        """Idempotent per-partition replace: Iceberg's dynamic
        overwritePartitions commit (partition_by is carried by the table
        spec, not the write)."""
        df.writeTo(self.qualified(name)).overwritePartitions()

    def drop_partitions(
        self, name: str, column: str, values: list
    ) -> int:  # pragma: no cover — needs jar
        """Partition-grain DELETE (metadata-only when `column` is a
        partition transform source) — the Iceberg analog of the parquet
        directory removal."""
        if not values:
            return 0
        vals = ", ".join(f"'{v}'" for v in values)
        self.spark.sql(
            f"DELETE FROM {self.qualified(name)} WHERE {column} IN ({vals})"
        )
        return len(values)

    def merge_dedup(
        self, updates: DataFrame, name: str, keys: list[str]
    ) -> None:  # pragma: no cover — needs jar
        """Dedup-on-write via MERGE: insert only rows whose composite key
        is not already present — ≙ the reference's dedup materialization
        `LIMIT 1 BY timestamp, id, anomaly_type` feeding a
        ReplacingMergeTree (tinybird/pipes/dedup_log.pipe:4-6,
        datasources/copy_log.datasource:10-12), done transactionally at
        write time instead of eventually at background-merge time."""
        view = f"__merge_updates_{name}"
        # dedup within the batch first (MERGE forbids multiple source
        # rows matching one target row)
        from ..operators.limit_by import limit_by

        deduped = limit_by(updates, keys, [F.lit(1)], 1)
        deduped.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{k} = u.{k}" for k in keys)
        self.spark.sql(
            f"MERGE INTO {self.qualified(name)} t USING {view} u ON {on} "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def get_catalog(spark: SparkSession, root: str):
    if iceberg_available(spark):  # pragma: no cover — jar not in container
        return IcebergCatalog(spark, root)
    return ParquetCatalog(spark, root)


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_col: str = "clip_id",
    n_buckets: int = 8,
) -> None:
    """Save as a bucketed+sorted managed table (Hive-style bucketing).

    This is the parquet analog of Iceberg's `bucket(N, clip_id)`
    partition transform for JOIN co-location: two tables bucketed the
    same way on the join key (clips × manifest on clip_id — the one big
    join in the engine, operators/compiler.py manifest join) sort-merge
    join with NO shuffle exchange on either side — at 10^12 rows that
    removes the only full-table shuffle the validation plan would
    otherwise pay. Asserted by tests/test_plan_shapes.py.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def write_clips_layout(df: DataFrame, catalog: ParquetCatalog, name: str = "clips") -> None:
    """Write the clip table in its at-scale layout: partitioned by codec +
    an 8-way clip_id bucket, rows sorted by clip_id within files (so the
    sequence windows and min/max skipping line up with reads)."""
    bucketed = df.withColumn(
        "id_bucket", F.abs(F.hash("clip_id")) % 8
    ).sortWithinPartitions("clip_id")
    catalog.append(bucketed, name, partition_by=["codec", "id_bucket"])


def compact_partitions(
    catalog: ParquetCatalog,
    name: str,
    partition_by: list[str],
    *,
    shard_col: str = "clip_id",
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
) -> dict:
    """Bin-pack fragmented partitions back to ~target-sized files.

    A scheduled cadence (runner invocations or ``--stream`` micro-batches
    ≙ the reference's per-minute copy pipes, SURVEY.md S4) APPENDS one
    small file per partition per cycle — at 1-minute cadence that is ~1,440
    files/partition/day, and scan-task scheduling + footer reads come to
    dominate the read path long before data volume does. This is the
    maintenance pass that undoes it:

    1. plan from file METADATA, not data: one column-pruned scan of the
       `_metadata.file_path/file_size` hidden columns + the (directory-
       derived) partition columns — no payload IO. A partition needs
       compaction when its file count exceeds both ``min_files`` and
       ceil(bytes / target_file_bytes);
    2. rewrite ONLY those partitions: literal predicates on the
       partition columns (partition-pruned scan), a per-partition
       ``files_wanted`` shard id pmod(xxhash64(shard_col)) +
       repartition on (partition, shard) so a hot partition's rewrite
       runs files_wanted-wide, not on one task;
    3. the file-SIZE contract is enforced by ``maxRecordsPerFile``
       (target bytes / measured avg row bytes), not by task placement —
       AQE is free to coalesce or split the shard exchange (at toy scale
       it will) without breaking the output layout;
    4. commit via the catalog's crash-safe publish-first partition
       replace (overwrite_partitions) — idempotent, partitions not in
       the plan are never touched, and at no point is a partition's
       only copy deleted-before-replaced. Like all per-partition
       overwrites here, compaction owns the partitions it rewrites for
       the duration: schedule it from the same slot as the copy job (or
       on partitions the copy cadence isn't currently appending to).

    The collects are the partition PLAN (verdict-sized), never data. On
    Iceberg the same maintenance is `CALL system.rewrite_data_files`
    (IcebergCatalog users should prefer it — it also compacts across
    snapshots transactionally); this is the parquet-layout analog.

    Returns {"partitions_compacted", "files_before", "files_after"}
    with files_after re-measured from metadata after the commit.

    ``partition_by=[]`` compacts an UNPARTITIONED table (e.g. the
    append-only lineage history, one file per run) as a crash-safe
    whole-table rewrite (staging dir + rename swap).
    """
    if isinstance(catalog, IcebergCatalog):
        # the `_metadata` hidden column does not exist on Iceberg reads,
        # and a raw parquet rewrite would bypass the commit protocol
        raise TypeError(
            "compact_partitions is the parquet-layout maintenance pass; "
            "on Iceberg run `CALL <catalog>.system.rewrite_data_files` "
            "(transactional, snapshot-aware) instead"
        )
    if not partition_by:
        return _compact_unpartitioned(
            catalog, name,
            target_file_bytes=target_file_bytes, min_files=min_files,
        )
    tbl = catalog.read(name)
    meta = (
        tbl.select(
            *partition_by,
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.file_size").alias("__fb"),
        )
        .groupBy(*partition_by, "__fp")
        .agg(F.first("__fb").alias("__fb"))
        .groupBy(*partition_by)
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("__fb").alias("bytes"),
        )
    )
    plan = (
        meta.withColumn(
            "files_wanted",
            F.greatest(
                F.lit(1), F.ceil(F.col("bytes") / F.lit(target_file_bytes))
            ).cast("int"),
        )
        .filter(
            (F.col("n_files") > F.lit(min_files))
            & (F.col("n_files") > F.col("files_wanted"))
        )
        .collect()
    )
    if not plan:
        return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}

    # literal OR-of-AND predicate on partition columns → partition-pruned
    # scan of exactly the fragmented partitions
    pred = None
    for r in plan:
        conj = None
        for c in partition_by:
            term = F.col(c) == F.lit(r[c])
            conj = term if conj is None else (conj & term)
        pred = conj if pred is None else (pred | conj)

    spark = tbl.sparkSession
    wanted = F.broadcast(
        spark.createDataFrame(
            [tuple(r[c] for c in partition_by) + (r["files_wanted"],) for r in plan],
            tbl.select(*partition_by).schema.add("files_wanted", "integer"),
        )
    )
    data = tbl.filter(pred).join(wanted, partition_by)
    sharded = (
        data.withColumn(
            "__shard",
            F.pmod(F.xxhash64(shard_col), F.col("files_wanted")).cast("int"),
        )
        .drop("files_wanted")
        .repartition(*partition_by, "__shard")
        .sortWithinPartitions(shard_col)
        .drop("__shard")
    )
    # size bound independent of task placement: rows-per-file from the
    # measured on-disk row width (clip tables are width-homogeneous; a
    # mixed-width table would take the min over partitions instead)
    total_rows = data.count()  # partition-pruned, column-pruned scan
    total_bytes = sum(r["bytes"] for r in plan)
    rows_per_file = max(1, int(target_file_bytes * total_rows / max(total_bytes, 1)))
    # commit through the crash-safe publish-first path, NOT Spark's native
    # dynamic partition overwrite: the native commit deletes each matched
    # leaf before renaming the staged files in, so a crash in that window
    # loses the partition permanently. overwrite_partitions fully
    # materializes the rewrite in a staging dir (the live table is only
    # READ during that job), then publishes new files into each leaf
    # before removing the old ones — a crash leaves old+new visible,
    # which a re-run of the same idempotent compaction converges away.
    catalog.overwrite_partitions(
        sharded,
        name,
        partition_by=partition_by,
        options={"maxRecordsPerFile": str(rows_per_file)},
    )
    after = (
        catalog.read(name)
        .filter(pred)
        .select(F.col("_metadata.file_path").alias("__fp"))
        .distinct()
        .count()
    )
    return {
        "partitions_compacted": len(plan),
        "files_before": int(sum(r["n_files"] for r in plan)),
        "files_after": int(after),
    }


def _compact_unpartitioned(
    catalog: ParquetCatalog,
    name: str,
    *,
    target_file_bytes: int,
    min_files: int,
) -> dict:
    """Whole-table rewrite for unpartitioned tables (compact_partitions
    with partition_by=[]). The rewrite is CRASH-SAFE for the audit
    history it targets: the compacted copy is fully written to a sibling
    staging directory first, then swapped in with two directory renames
    (old → .pre_compact, staged → table), and the backup is removed only
    after the swap — at no point is the lineage history's only copy
    in-memory or deleted-before-replaced. A crash mid-swap is recovered
    on the next call (backup restored if the table dir is missing).
    On object stores without atomic rename, use Iceberg's
    rewrite_data_files instead (transactional snapshots)."""
    import shutil

    path = catalog.path(name)
    bak = path + "._pre_compact"
    staging = path + "._compacting"
    # crash recovery: a previous swap that lost the table dir leaves the
    # full history in the backup — restore it before planning
    if os.path.exists(bak):
        if not os.path.exists(path):
            os.rename(bak, path)
        else:
            shutil.rmtree(bak)
    if os.path.exists(staging):
        shutil.rmtree(staging)  # incomplete earlier rewrite: discard

    tbl = catalog.read(name)
    files = (
        tbl.select(
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.file_size").alias("__fb"),
        )
        .groupBy("__fp")
        .agg(F.first("__fb").alias("__fb"))
        .collect()
    )
    n_files = len(files)
    total_bytes = sum(r["__fb"] for r in files)
    wanted = max(1, -(-total_bytes // target_file_bytes))
    if n_files <= min_files or n_files <= wanted:
        return {"partitions_compacted": 0, "files_before": n_files,
                "files_after": n_files}
    tbl.repartition(int(wanted)).write.mode("overwrite").parquet(staging)
    os.rename(path, bak)
    os.rename(staging, path)
    shutil.rmtree(bak)
    after = (
        catalog.read(name).select("_metadata.file_path").distinct().count()
    )
    return {"partitions_compacted": 1, "files_before": n_files,
            "files_after": int(after)}
