"""Every PPRL Python UDF runs once per input row.

Counts ``ArrowEvalPython`` nodes per UDF name in executed plans. Two
optimizer rewrites used to clone a UDF: the filter Catalyst infers for an
inner ``posexplode`` (the HLSH keys) and a threshold filter pushed through
the scoring projection (Dice). An unpersisted stage with several consumers
re-ran its UDF once per consumer.
"""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from pprl_scaling_framework_spark.blocking import hlsh
from pprl_scaling_framework_spark.encoding import schemes
from pprl_scaling_framework_spark.matching.score import matched_pairs
from pprl_scaling_framework_spark.pipeline.linkage import (
    LinkageConfig,
    run_dedup_pipeline,
    run_linkage_pipeline,
)
from pprl_scaling_framework_spark.sources import repos as repos_src
from pprl_scaling_framework_spark.streaming import stream_linkage

N_BITS = 256
KEYS_UDF, DICE_UDF, ENCODE_UDF = "_keys", "_sim", "_encode"


def udf_evaluations(plan, jvm) -> Counter:
    """ArrowEvalPython nodes per Python UDF name in a physical plan.

    A cached relation is computed once however many scans read it, so each
    InMemoryRelation subtree is counted once, not once per scan. Adaptive
    plans and query stages are walked through to the plan they wrap.
    """
    counts, seen = Counter(), set()

    def walk(node):
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if kind.endswith("QueryStageExec"):
            return walk(node.plan())
        if kind == "InMemoryTableScanExec":
            builder = node.relation().cacheBuilder()
            ident = jvm.System.identityHashCode(builder)
            if ident not in seen:
                seen.add(ident)
                walk(builder.cachedPlan())
            return
        if kind == "ArrowEvalPythonExec":
            udfs = node.udfs()
            counts.update(udfs.apply(i).name() for i in range(udfs.size()))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(plan)
    return counts


def df_udf_evaluations(df) -> Counter:
    return udf_evaluations(
        df._jdf.queryExecution().executedPlan(), df.sparkSession._jvm)


@pytest.fixture(scope="module")
def encoded(spark):
    rng = np.random.default_rng(5)
    rows = [(f"u{i}", rng.integers(0, 256, N_BITS // 8, dtype=np.uint8).tobytes())
            for i in range(64)]
    return spark.createDataFrame(rows, "uid string, bf binary")


@pytest.fixture(scope="module")
def positions():
    return hlsh.position_matrix(6, 12, N_BITS, 42)


def test_blocking_keys_one_udf_node(encoded, positions):
    keys = hlsh.blocking_keys(encoded, "uid", "bf", positions, N_BITS)
    assert df_udf_evaluations(keys) == {KEYS_UDF: 1}
    assert keys.count() == 64 * 6


def test_blocking_keys_stream_one_udf_node(spark, encoded, positions, tmp_path):
    src = str(tmp_path / "enc")
    encoded.write.parquet(src)
    stream = spark.readStream.schema(encoded.schema).parquet(src)
    q = (
        stream_linkage.blocking_keys_stream(stream, positions, N_BITS, hash_uid=True)
        .writeStream.format("memory").queryName("udf_plan_keys")
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(120)
        plan = q._jsq.streamingQuery().lastExecution().executedPlan()
        assert udf_evaluations(plan, spark._jvm) == {KEYS_UDF: 1}
    finally:
        q.stop()
    assert spark.sql("SELECT * FROM udf_plan_keys").count() == 64 * 6


def test_matched_pairs_one_udf_node(spark, encoded):
    pairs = spark.createDataFrame(
        [(f"u{i}", f"u{i + 1}") for i in range(63)], "id_a string, id_b string")
    for method, threshold in (("dice", 0.5), ("hamming", 130)):
        m = matched_pairs(pairs, encoded, method, threshold, N_BITS)
        assert df_udf_evaluations(m) == {DICE_UDF: 1}, method
    # the filter still applies: random 256-bit filters have Dice ~0.5
    assert 0 < matched_pairs(pairs, encoded, "dice", 0.5, N_BITS).count() < 63


@pytest.fixture(scope="module")
def records(spark):
    return repos_src.with_uid_and_sha(
        repos_src.synth_repos(spark, n_entities=60, seed=42, skew_every=20))


CFG = LinkageConfig(
    encoding=schemes.clk(["content"], N=1024, K=8, Q=2),
    hlsh_K=30, hlsh_seed=420, theta=40, threshold=0.8,
    hot_threshold=8, salt_shards=4,
)


def test_unstaged_dedup_pipeline_one_udf_node_per_stage(spark, records):
    res = run_dedup_pipeline(spark, records, CFG, cluster=False)
    try:
        assert df_udf_evaluations(res.candidate_pairs) == {
            ENCODE_UDF: 1, KEYS_UDF: 1}
        assert df_udf_evaluations(res.matched_pairs) == {
            ENCODE_UDF: 1, KEYS_UDF: 1, DICE_UDF: 1}
        assert res.matched_pairs.count() > 0
    finally:
        res.release()


def test_unstaged_two_party_pipeline_one_udf_node_per_party(spark, records):
    # one encode and one key evaluation per party, one Dice per pair;
    # distinct halves, since identical plans would share one cache
    half = F.pmod(F.xxhash64("uid"), F.lit(2))
    res = run_linkage_pipeline(
        spark, records.filter(half == 0), records.filter(half == 1), CFG)
    try:
        assert df_udf_evaluations(res.matched_pairs) == {
            ENCODE_UDF: 2, KEYS_UDF: 2, DICE_UDF: 1}
    finally:
        res.release()
