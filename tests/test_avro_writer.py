"""Avro container writer tests (S3 write parity): round-trip the reference's
own clk_voters_a fixture through write_avro/read_avro, codec coverage,
deterministic output, and the Spark per-partition part-file writer."""


import pytest

from pprl_scaling_framework_spark.sources.avro_reader import read_avro
from pprl_scaling_framework_spark.sources.avro_writer import (
    spark_schema_to_avro,
    write_avro,
    write_avro_dataframe,
)

MR_DATA = (
    "/root/reference/pprl-scaling-framework-mapreduce/"
    "pprl-scaling-framework-mapreduce-blocking/src/test/resources/data"
)
FIXTURE = f"{MR_DATA}/clk_voters_a/avro/clk_voters_a.avro"


@pytest.mark.reference(FIXTURE)
@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_roundtrip_reference_fixture(tmp_path, codec):
    schema, records = read_avro(FIXTURE)
    out = str(tmp_path / f"rt_{codec}.avro")
    write_avro(out, schema, records, codec=codec)
    schema2, records2 = read_avro(out)
    assert schema2 == schema
    assert records2 == records  # fixed bytes + strings byte-equal


@pytest.mark.reference(FIXTURE)
def test_write_is_deterministic(tmp_path):
    schema, records = read_avro(FIXTURE)
    p1, p2 = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    write_avro(p1, schema, records, codec="deflate")
    write_avro(p2, schema, records, codec="deflate")
    assert open(p1, "rb").read() == open(p2, "rb").read()
    # write -> read -> write is byte-identical (content-addressable outputs)
    _, r2 = read_avro(p1)
    p3 = str(tmp_path / "c.avro")
    write_avro(p3, schema, r2, codec="deflate")
    assert open(p3, "rb").read() == open(p1, "rb").read()


def test_all_value_types_roundtrip(tmp_path):
    schema = {
        "type": "record", "name": "T", "fields": [
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "o", "type": "boolean"},
            {"name": "x", "type": {"type": "fixed", "name": "X", "size": 4}},
        ],
    }
    recs = [
        {"s": "héllo", "b": b"\x00\xff", "i": -42, "l": 1 << 40, "f": 0.5,
         "d": -2.25, "o": True, "x": b"\x01\x02\x03\x04"},
        {"s": "", "b": b"", "i": 0, "l": -(1 << 40), "f": -0.0, "d": 0.0,
         "o": False, "x": b"\xff\xfe\xfd\xfc"},
    ]
    p = str(tmp_path / "t.avro")
    write_avro(p, schema, recs, codec="deflate", block_records=1)
    schema2, got = read_avro(p)
    assert got == recs


def test_spark_partition_writer(spark, tmp_path):
    df = spark.range(0, 1000, 1, 4).selectExpr(
        "CAST(id AS LONG) AS id", "CAST(id % 2 = 0 AS BOOLEAN) AS even",
        "CONCAT('row-', id) AS name",
    )
    parts = write_avro_dataframe(df, str(tmp_path / "out"), codec="deflate")
    assert len(parts) == 4 and sum(n for _, n in parts) == 1000
    back = []
    for path, _ in parts:
        back.extend(read_avro(path)[1])
    assert {r["id"] for r in back} == set(range(1000))
    assert all(r["even"] == (r["id"] % 2 == 0) for r in back)
