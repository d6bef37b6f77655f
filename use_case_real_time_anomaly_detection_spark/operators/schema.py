"""Pre-flight table-schema contract: declared columns/types vs a DataFrame.

The reference declares every table's schema up front — typed columns in
``SCHEMA >`` blocks (tinybird/datasources/incoming_data.datasource:2-5,
copy_log.datasource:3-8) — and its ingestion rejects shape mismatches
before any query sees the data. This module is the engine's analog: a
:class:`TableSchema` is a checked-in, JSON-serializable contract, and
:func:`enforce_schema` gates a validation run on it at PLAN time (pure
driver-side metadata comparison — zero Spark jobs, zero data reads), so
a mis-typed or renamed upstream column fails loudly before a 10^12-row
scan starts instead of as a cast error 40 minutes into stage 3.

This is the schema half of "schema + constraint validation": structural
conformance is checked here once per run; VALUE conformance (nulls,
domains, ranges) stays with the row-level rules, which assume the shape
this gate guarantees.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class SchemaMismatch(ValueError):
    """Raised by enforce_schema; .problems lists every defect found."""

    def __init__(self, problems: list[str]) -> None:
        self.problems = problems
        super().__init__(
            "table does not match the declared schema:\n  - "
            + "\n  - ".join(problems)
        )


@dataclass(frozen=True)
class ColumnSpec:
    """One declared column. ``dtype`` is a Spark SQL type string
    (simpleString form: 'string', 'int', 'bigint', 'binary',
    'array<float>', ...). ``nullable=False`` additionally requires the
    physical column to be declared non-nullable (parquet required
    field) — value-level null checks belong to NotNullRule."""

    name: str
    dtype: str
    nullable: bool = True


@dataclass(frozen=True)
class TableSchema:
    """Declared table shape. ``allow_extra`` tolerates additional
    columns (the reference tolerates none: unknown Events-API fields
    are dropped by the JSONPath mapping, never stored)."""

    columns: tuple = ()
    allow_extra: bool = False

    def to_config(self) -> dict:
        return {
            "allow_extra": self.allow_extra,
            "columns": [
                {"name": c.name, "dtype": c.dtype, "nullable": c.nullable}
                for c in self.columns
            ],
        }

    @staticmethod
    def from_config(cfg: dict) -> "TableSchema":
        cols = []
        for i, c in enumerate(cfg.get("columns", [])):
            unknown = set(c) - {"name", "dtype", "nullable"}
            if unknown or "name" not in c or "dtype" not in c:
                raise ValueError(
                    f"schema columns[{i}]: need name+dtype, "
                    f"unknown fields {sorted(unknown)}"
                )
            cols.append(
                ColumnSpec(c["name"], c["dtype"], c.get("nullable", True))
            )
        return TableSchema(
            columns=tuple(cols), allow_extra=bool(cfg.get("allow_extra", False))
        )


# The graft's declared input shape, verbatim from BASELINE.json
# input_hint: (clip_id:string, bytes:binary, sr_hz:int32, dur_ms:int32,
# codec:string, transcript:string).
CLIPS_TABLE_SCHEMA = TableSchema(
    columns=(
        ColumnSpec("clip_id", "string"),
        ColumnSpec("bytes", "binary"),
        ColumnSpec("sr_hz", "int"),
        ColumnSpec("dur_ms", "int"),
        ColumnSpec("codec", "string"),
        ColumnSpec("transcript", "string"),
    ),
    allow_extra=True,  # layout columns (partition_key, seq) may be present
)


def with_partition_cols(df: DataFrame, key_col: str = "clip_id") -> DataFrame:
    """Derive the layout columns (partition_key, seq) from a key that
    follows the id contract c{part:03d}-{seq:09d} (clip_id by default;
    any modality table whose key uses the same scheme — e.g. the video
    table's item_id — passes its own key column). Each column is
    derived only when absent, so a table's own value is never
    overwritten."""
    if "partition_key" not in df.columns:
        df = df.withColumn("partition_key", F.substring(key_col, 1, 4))
    if "seq" not in df.columns:
        df = df.withColumn("seq", F.substring(key_col, 6, 9).cast("long"))
    return df


def check_schema(df: DataFrame, schema: TableSchema) -> list[str]:
    """Compare ``df``'s schema to the contract; returns ALL problems
    (missing / mis-typed / unexpectedly-nullable / extra columns) so one
    failed run reports every defect, not just the first."""
    actual = {f.name: f for f in df.schema.fields}
    problems: list[str] = []
    for spec in schema.columns:
        f = actual.get(spec.name)
        if f is None:
            problems.append(f"missing column {spec.name!r} ({spec.dtype})")
            continue
        if f.dataType.simpleString() != spec.dtype:
            problems.append(
                f"column {spec.name!r}: expected {spec.dtype}, "
                f"got {f.dataType.simpleString()}"
            )
        if not spec.nullable and f.nullable:
            problems.append(
                f"column {spec.name!r}: declared NOT NULL but the physical "
                f"column is nullable"
            )
    if not schema.allow_extra:
        declared = {c.name for c in schema.columns}
        for name in actual:
            if name not in declared:
                problems.append(f"unexpected extra column {name!r}")
    return problems


def enforce_schema(df: DataFrame, schema: TableSchema) -> DataFrame:
    """Raise :class:`SchemaMismatch` listing every defect, or return
    ``df`` with the declared columns first in declared order (a stable
    projection downstream code can rely on). Metadata-only: no job."""
    problems = check_schema(df, schema)
    if problems:
        raise SchemaMismatch(problems)
    declared = [c.name for c in schema.columns]
    extra = [n for n in df.columns if n not in declared]
    return df.select(*declared, *extra)
