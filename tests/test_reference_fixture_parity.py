"""Byte-for-byte parity against the reference's checked-in encoded fixtures.

The reference ships ``clk_voters_{a,b}`` (CLK N=1024 K=10 Q=2 over
surname,name,address,city — params recovered from its name-mangled schema)
and the raw ``voters_{a,b}`` Avro parts. Re-encoding every raw row with our
batch kernel must reproduce the fixture Bloom filters byte-for-byte.

Note: those fixtures were generated when the reference's ``addData`` used the
createHashesV1 scheme (full-BigInteger Kirsch-Mitzenmacher); the current
reference code selects V3 (``lib/encoding/BloomFilter.java:202-228``), whose
parity we prove separately against JDK-generated goldens. The kernel supports
both via ``EncodingConfig.hash_version``.
"""

import glob
import os

import pandas as pd
import pytest

from pprl_scaling_framework_spark.encoding.batch_kernel import BatchEncoder
from pprl_scaling_framework_spark.encoding.schemes import EncodingConfig
from pprl_scaling_framework_spark.sources.avro_reader import (
    parse_reference_schema,
    read_avro,
)

REF = "/root/reference"
MR_DATA = f"{REF}/pprl-scaling-framework-mapreduce/pprl-scaling-framework-mapreduce-blocking/src/test/resources/data"
SVC_DATA = f"{REF}/pprl-scaling-framework-service/src/test/resources/data"

pytestmark = pytest.mark.reference(MR_DATA)


@pytest.mark.parametrize("party,limit", [("a", 20000), ("b", 5000)])
def test_clk_voters_fixture_byte_parity(party, limit):
    schema, enc_recs = read_avro(f"{MR_DATA}/clk_voters_{party}/avro/clk_voters_{party}.avro")
    params = parse_reference_schema(schema)
    assert params.scheme == "CLK"
    assert (params.N, params.K, params.Q) == (1024, 10, 2)
    golden = {r["id"]: bytes(r[params.encoding_field]) for r in enc_recs}

    raw = []
    for path in sorted(glob.glob(f"{SVC_DATA}/voters_{party}/avro/*.avro")):
        raw.extend(read_avro(path)[1])
    raw = raw[:limit]
    assert raw, "no raw fixture rows"

    cfg = EncodingConfig(
        scheme="clk", fields=params.source_fields,
        N=params.N, K=params.K, Q=params.Q, hash_version="v1",
    )
    enc = BatchEncoder(cfg)
    cols = [pd.Series([r[f] for r in raw]) for f in params.source_fields]
    mine = enc.encode(cols)

    checked = mismatched = 0
    for i, r in enumerate(raw):
        g = golden.get(r["id"])
        if g is None:
            continue
        checked += 1
        if bytes(mine.iloc[i]) != g:
            mismatched += 1
    assert checked > 1000
    assert mismatched == 0, f"{mismatched}/{checked} fixture records differ"


def test_reference_schema_parser_roundtrip():
    schema, _ = read_avro(f"{MR_DATA}/clk_voters_a/avro/clk_voters_a.avro")
    p = parse_reference_schema(schema)
    assert p.source_fields == ("surname", "name", "address", "city")
    assert p.encoding_field.startswith("encoding_field_1024_10_2")


def test_pprl_golden_config_matches_fixture():
    """Guard: the checked-in goldens were generated for THIS pipeline config.

    If _pprl_config or the fixture synth changes, the goldens must be
    regenerated (tools/export_pprl_input.py + java tests/gen_pprl_golden) —
    this test fails loudly instead of letting the driver oracle drift red.
    """
    import os
    from pprl_scaling_framework_spark.entry_queries import _pprl_config, _PPRL_ENTITIES

    golden = os.path.join(os.path.dirname(__file__), "golden")
    props = dict(
        line.strip().split("=")
        for line in open(os.path.join(golden, "pprl_plan.properties"))
        if "=" in line
    )
    cfg = _pprl_config()
    plan = cfg.plan()
    assert int(props["C"]) == plan.C and int(props["L"]) == plan.L
    assert int(props["N"]) == cfg.encoding.N and int(props["K"]) == cfg.encoding.K
    assert int(props["Q"]) == cfg.encoding.Q
    assert int(props["hlsh_K"]) == cfg.hlsh_K and int(props["hlsh_seed"]) == cfg.hlsh_seed
    assert float(props["threshold"]) == cfg.threshold
    assert _PPRL_ENTITIES == 300
    # input row count matches the export
    with open(os.path.join(golden, "pprl_input.csv")) as f:
        assert sum(1 for _ in f) - 1 == 620
