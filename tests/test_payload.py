"""functions/payload.map_payloads: the shared per-item Arrow pass."""

from pyspark.sql.types import BinaryType, LongType, StringType, StructField

from use_case_real_time_anomaly_detection_spark.functions.payload import map_payloads


def test_map_payloads_column_contract(spark):
    """A replaced column keeps its position (and takes the field's type),
    appended fields go last, a NULL payload reaches the kernel as None
    (others as a memoryview), and the payload column is dropped unless a
    field replaces it."""
    df = spark.createDataFrame(
        [("a", 1, b"xyz", "t1"), ("b", 2, None, "t2"), ("c", 3, b"", "t3")],
        "id string, n int, payload binary, tag string",
    )

    def kernel(payload, n):
        size = None if payload is None else len(payload)
        return n * 10, size, type(payload).__name__

    out = map_payloads(
        df,
        "payload",
        ["n"],
        kernel,
        [
            StructField("n", LongType()),
            StructField("size", LongType()),
            StructField("kind", StringType()),
        ],
    )
    assert out.columns == ["id", "n", "tag", "size", "kind"]
    assert out.schema["n"].dataType == LongType()
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", 10, "t1", 3, "memoryview"),
        ("b", 20, "t2", None, "NoneType"),
        ("c", 30, "t3", 0, "memoryview"),
    ]

    rev = map_payloads(
        df,
        "payload",
        [],
        lambda p: (None if p is None else bytes(p)[::-1],),
        [StructField("payload", BinaryType())],
    )
    assert rev.columns == df.columns
    assert sorted((r.id, r.payload) for r in rev.collect()) == [
        ("a", b"zyx"), ("b", None), ("c", b""),
    ]
