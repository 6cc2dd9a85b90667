"""Skew-safe bucketed joins for candidate-pair generation.

Shared by the PPRL FPS blocking path (``blocking/fps``) and the LSH
dedup/similarity operators (minhash bands, simhash bands, hyperplane
buckets, explicit blocks): one degenerate bucket — empty documents,
boilerplate headers, zero vectors, low-entropy blocking keys — otherwise
lands in a single shuffle task and goes quadratic there.

Salting is pair-set-invariant: the A side of a hot bucket is sharded
deterministically by ``xxhash64(id) % n_shards``; the B side is replicated
across those shards, so every (a, b) combination still meets exactly once
per bucket. ``n_shards`` is proportional to the actual bucket size
(``ceil(size / hot_threshold)``, capped at ``shards``) so replication —
i.e. shuffle volume — scales with the skew instead of a flat factor.

Optional ``max_bucket`` drops buckets above a hard cap (changes the output —
off by default; for 100 TB runs where a boilerplate bucket's pairs are
worthless and quadratic).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: flagged-table broadcast cutoff (rows). The hot tail is bounded by
#: rows/hot_threshold but we only broadcast when it is MEASURED small:
#: ~40 B/row -> <=10 MB broadcast, microseconds of driver build time.
HOT_BROADCAST_MAX_ROWS = 250_000

#: every DataFrame persisted by the skew/ANN operators in this session, in
#: persist order. These persists are load-bearing (the hot-tail sizes table
#: and multi-consumer LSH bases are each read 2-5 times within one query
#: plan) but outlive the query: a long session that calls these operators in
#: a loop (bench passes, per-operator driver checks, lsh_topk batches)
#: accumulates cached blocks until executor storage memory evicts them.
#: Call :func:`release_persists` after the consuming action completes.
_TRACKED_PERSISTS: list[DataFrame] = []


def track_persist(df: DataFrame, registry: list[DataFrame] | None = None) -> DataFrame:
    """persist() + register for later bulk release (see _TRACKED_PERSISTS).

    ``registry``: an optional caller-scoped list the DataFrame is ALSO
    appended to, so a consumer (e.g. a pipeline result) can release exactly
    its own caches via :func:`release_scoped` without touching another live
    operator's — the process-global ``release_persists`` sweep is for
    harnesses that know no other consumer is active.
    """
    df = df.persist()
    _TRACKED_PERSISTS.append(df)
    if registry is not None:
        registry.append(df)
    return df


def release_scoped(registry: list[DataFrame], blocking: bool = False) -> int:
    """Unpersist exactly the DataFrames in ``registry`` (a scoped list filled
    by ``track_persist(df, registry)``); removes them from the global sweep
    list so a later ``release_persists()`` does not double-release."""
    n = 0
    while registry:
        df = registry.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
        try:
            _TRACKED_PERSISTS.remove(df)
        except ValueError:
            pass  # already swept by release_persists()
    return n


def release_persists(blocking: bool = False) -> int:
    """Unpersist every operator-internal cached table; returns the count.

    Safe to call at any time: unpersisting only drops cached blocks — plans
    still referencing the DataFrame recompute from lineage. Intended after
    the consuming action (pipeline stage barrier, bench pass, oracle check).
    """
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def salted_sides(
    keys_a: DataFrame,
    keys_b: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    hot_threshold: int,
    shards: int,
    max_bucket: int | None = None,
    materialize_hot: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Attach ``salt`` columns for a skew-safe join on ``bucket_cols + salt``.

    Bucket sizes are measured on the B side for a self-join (``keys_a is
    keys_b``) and on the UNION of both sides otherwise — a bucket hot on only
    one side (e.g. the A party of a two-party linkage) must still be salted,
    or all its rows land in one shuffle task. Three tiers by size ``sz``:

    - ``sz > max_bucket`` (when set): DROPPED from both sides;
    - ``hot_threshold < sz <= max_bucket``: salted — A sharded
      deterministically by id hash over ``ceil(sz / hot_threshold)`` shards
      (capped at ``shards``), B replicated across those shards; every pair
      still meets exactly once per bucket, counts unchanged;
    - ``sz <= hot_threshold``: salt 0.

    ``materialize_hot`` (default): the hot tail is persisted + counted once,
    and BROADCAST into both tag joins when measured small (the overwhelmingly
    common case — it is bounded by ``rows / hot_threshold`` and is usually a
    few thousand rows). Without it, with AQE disabled or cost-based stats
    unavailable, Catalyst shuffle-joins the FULL key set against the sizes
    aggregate TWICE (once per side) — measured as ~30% of the candidates
    stage at 10M keys. A measured-large hot tail (pathological skew) stays a
    persisted shuffle join: never a driver-built broadcast of an unbounded
    table. Tiering is exact either way — salting/caps never guess.
    """
    size_src = (
        keys_b.select(*bucket_cols)
        if keys_a is keys_b
        else keys_a.select(*bucket_cols).unionByName(keys_b.select(*bucket_cols))
    )
    sizes = size_src.groupBy(*bucket_cols).agg(F.count("*").alias("_bs"))
    n_shards = F.least(
        F.lit(shards), F.ceil(F.col("_bs") / F.lit(hot_threshold)).cast("int")
    )
    flagged = sizes.filter(F.col("_bs") > hot_threshold).select(
        *bucket_cols, n_shards.alias("_ns"),
        (F.col("_bs") > max_bucket if max_bucket is not None else F.lit(False)).alias("_mega"),
    )
    if materialize_hot is None:
        # default on; PPRL_MATERIALIZE_HOT=0 flips the fleet for A/B runs —
        # the trade is one extra action (the count) + a driver-built
        # broadcast vs two full-key-set shuffle joins against the sizes agg
        materialize_hot = os.environ.get("PPRL_MATERIALIZE_HOT", "1") != "0"
    if materialize_hot:
        flagged = track_persist(flagged)
        if flagged.count() <= HOT_BROADCAST_MAX_ROWS:
            flagged = F.broadcast(flagged)
    a = (
        keys_a.join(flagged, bucket_cols, "left")
        .filter(F.col("_mega").isNull() | ~F.col("_mega"))
        .withColumn(
            "salt",
            F.when(F.col("_ns").isNotNull(), F.pmod(F.xxhash64(id_col), F.col("_ns").cast("long")))
            .otherwise(F.lit(0).cast("long")),
        )
        .drop("_mega", "_ns")
    )
    b = (
        keys_b.join(flagged, bucket_cols, "left")
        .filter(F.col("_mega").isNull() | ~F.col("_mega"))
        .withColumn(
            "_salts",
            F.when(
                F.col("_ns").isNotNull(),
                F.sequence(F.lit(0).cast("long"), (F.col("_ns") - 1).cast("long")),
            ).otherwise(F.array(F.lit(0).cast("long"))),
        )
        .withColumn("salt", F.explode("_salts"))
        .drop("_salts", "_mega", "_ns")
    )
    return a, b


def salted_pair_candidates(
    keyed: DataFrame,
    bucket_cols: list[str],
    id_col: str = "id",
    payload_cols: tuple[str, ...] = (),
    hot_threshold: int = 2000,
    shards: int = 16,
    max_bucket: int | None = None,
    dedup: bool = True,
    keep_bucket_cols: bool = False,
    materialize_hot: bool | None = None,
    spread: int | None = None,
) -> DataFrame:
    """-> distinct (id_a, id_b[, <payload>_a, <payload>_b]) with id_a < id_b.

    ``keyed``: one row per (bucket, member) with columns ``bucket_cols`` +
    ``id_col`` + ``payload_cols``. Keep payloads to cheap scalars (e.g. a
    simhash long); heavy arrays should be re-attached AFTER the distinct.

    ``dedup=False`` skips the final distinct — correct (and one shuffle
    cheaper) when each id appears in exactly ONE bucket (explicit blocks,
    single-signature LSH), where every pair already meets exactly once.

    ``keep_bucket_cols=True`` includes the bucket columns in the output
    (useful when the caller's result is keyed by block, e.g. J1).

    ``spread=N``: round-robin repartition ``keyed`` into N partitions first.
    A small/single-file source arrives as ONE scan partition, and when the
    salted join resolves to broadcast/hash joins with no exchange on the
    streamed side, the whole quadratic pair fan-out runs in a single task
    (measured: 2.6 s serial of a 4.7 s query). The shuffle moved is the tiny
    keyed table; the fan-out then parallelizes. Only widens: an input that
    already has ``spread`` or more partitions is left as it is, never
    repartitioned down.
    """
    if spread is not None and keyed.rdd.getNumPartitions() < spread:
        keyed = keyed.repartition(spread)
    a, b = salted_sides(
        keyed, keyed, bucket_cols, id_col, hot_threshold, shards, max_bucket,
        materialize_hot=materialize_hot,
    )
    sel_a = [F.col(f"a.{id_col}").alias("id_a")] + [
        F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols
    ]
    sel_b = [F.col(f"b.{id_col}").alias("id_b")] + [
        F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols
    ]
    if keep_bucket_cols:
        sel_a += [F.col(f"a.{c}") for c in bucket_cols]
    out = (
        a.alias("a")
        .join(b.alias("b"), [*bucket_cols, "salt"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*sel_a, *sel_b)
    )
    return out.distinct() if dedup else out
