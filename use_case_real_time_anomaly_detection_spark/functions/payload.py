"""The one engine/kernel boundary for per-item payload operators.

Every 1→1 payload operator (audio/image/video decode checks, audio
features, the transcode and signal-op rewrites, image features and
dHash) is a per-row kernel run through `map_payloads`: this module owns
the Arrow format, the kernels own the decoding.

Why `mapInArrow` and not a pandas UDF: the Arrow→pandas conversion of a
binary column materializes every payload as a Python bytes object —
measured on the audio column as a hard ~1.2 GB/s pipeline ceiling that
FLATTENS core-count scaling (8→32 cores gained nothing). Arrow record
batches instead give zero-copy buffer slices per payload
(BinaryScalar.as_buffer → memoryview → np.frombuffer), and the
non-payload columns pass through as unmodified Arrow arrays. Per-item
work stays numpy-vectorized inside the kernel; only the per-row call is
Python.

Operators that fan one row out to many (`segment_clips`,
`video_frames`) keep their own loops.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType


def map_payloads(
    df: DataFrame,
    bytes_col: str,
    args: Sequence[str],
    kernel: Callable[..., tuple],
    fields: Sequence[StructField],
) -> DataFrame:
    """One `mapInArrow` pass calling ``kernel(payload, *arg_values)`` per
    row, where ``payload`` is a zero-copy memoryview of ``bytes_col`` (None
    for a NULL payload) and ``arg_values`` are the row's values of the
    ``args`` columns. The kernel returns one value per entry in ``fields``.

    Output columns: a field whose name matches an input column replaces it
    in place; every other field is appended, in ``fields`` order. The
    payload column is dropped unless a field replaces it (nothing
    downstream of a decode needs the bytes, and dropping them here keeps
    every later exchange slim). Arrow types derive from the Spark field
    types.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    fields = list(fields)
    by_name = {f.name: f for f in fields}
    out_fields = [
        by_name.get(f.name, f)
        for f in df.schema.fields
        if f.name != bytes_col or f.name in by_name
    ]
    in_names = {f.name for f in out_fields}
    out_fields += [f for f in fields if f.name not in in_names]
    out_names = [f.name for f in out_fields]
    slot = {f.name: i for i, f in enumerate(fields)}
    types = [to_arrow_type(f.dataType) for f in fields]
    args = list(args)

    def run(batches):
        for b in batches:
            names = b.schema.names
            barr = b.column(names.index(bytes_col))
            n = len(barr)
            vals = [b.column(names.index(a)).to_pylist() for a in args]
            rows = []
            for i, row_args in enumerate(zip(*vals) if vals else [()] * n):
                sc = barr[i]
                # zero-copy buffer slice; None for a null payload
                mv = memoryview(sc.as_buffer()) if sc.is_valid else None
                rows.append(kernel(mv, *row_args))
            cols = [
                pa.array([r[j] for r in rows], type=t) for j, t in enumerate(types)
            ]
            arrays = [
                cols[slot[c]] if c in slot else b.column(names.index(c))
                for c in out_names
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return df.mapInArrow(run, StructType(out_fields))
