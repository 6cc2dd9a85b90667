"""Structured-Streaming incremental encode/block.

The reference is batch-only MR; this is new-in-rebuild surface: a stream of
repo-file records is encoded and blocked incrementally — the same vectorized
UDFs run unchanged on a streaming DataFrame, so a 100 TB backfill and a
trickle of new commits share one code path. Candidate generation against an
existing (static) index is a stream-static join, which Spark supports
without watermarks; stream-stream self-joins of blocking keys would need an
event-time watermark on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..blocking import hlsh
from ..encoding.encode import encode_udf
from ..encoding.schemes import EncodingConfig


def encode_stream(
    stream_df: DataFrame, config: EncodingConfig, uid_col: str = "uid"
) -> DataFrame:
    """Streaming encode: identical UDF as batch (works on readStream DFs)."""
    udf = encode_udf(config)
    return stream_df.select(
        F.col(uid_col).alias("uid"),
        udf(*[F.col(f) for f in config.fields]).alias("bf"),
    )


def blocking_keys_stream(
    encoded_stream: DataFrame, positions, n_bits: int, hash_uid: bool = False
) -> DataFrame:
    """Streaming HLSH keys: delegates to the batch ``hlsh.blocking_keys``,
    so both paths share one plan shape and cannot drift apart.

    ``hash_uid``: same 8-byte xxhash64 surrogate as the batch path
    (``blocking.hlsh.blocking_keys``), applied BEFORE the L-way explode. At
    800k records the candidate join + collision aggregation carry two ids
    per row; with ~60-byte uid strings the per-batch partial aggregation
    spilled gigabytes of sorted runs — with int64 rids the same rows are
    ~8x smaller and the hash map stays in memory. Pair with an identically
    hashed static index and re-attach real uids from a (rid, uid)
    dictionary after the C-threshold, exactly like ``fps.candidate_pairs``.
    """
    return hlsh.blocking_keys(
        encoded_stream, "uid", "bf", positions, n_bits, hash_uid=hash_uid
    )


def cap_static_index(static_keys: DataFrame, max_bucket: int) -> DataFrame:
    """Drop mega-buckets (> ``max_bucket`` rows per (group_id, key)) from a
    static blocking index — the streaming counterpart of the batch path's
    ``max_bucket`` cap (``ops/bucket_join.salted_sides``).

    Without it the stream-static join output explodes on the same
    low-information hot keys that carry ~73% of batch join volume: measured
    at 800k records, the UNCAPPED join fed the per-batch partial aggregation
    billions of rows, overflowed every hash-agg into sort-based fallback
    (16 executor threads spilling for >15 min, 13 GB written), and with the
    heap-backed state store OOM-killed the JVM. Mega-buckets are few (~0.1%
    of keys), so the drop set is broadcast into an anti-join; the caller
    should persist the result once — the stream re-reads the static plan
    every micro-batch.
    """
    dropped = (
        static_keys.groupBy("group_id", "key")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > max_bucket)
        .select("group_id", "key")
    )
    return static_keys.join(
        F.broadcast(dropped), ["group_id", "key"], "left_anti"
    )


def stream_candidates_against_index(
    key_stream: DataFrame, static_keys: DataFrame, C: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """Stream-static join: new records probe the existing blocking index.

    Emits (id_new, id_indexed, collisions >= C) per micro-batch. The static
    side is the snapshot of a prior batch run (e.g. the ``block`` stage
    parquet) — the streaming analog of the reference's V1 'buckets in
    distributed cache' design (``mr-blocking/FPSMapperV1.java:158-209``).

    ``max_bucket`` applies :func:`cap_static_index` to the static side —
    REQUIRED at scale (see that function's docstring); match the batch
    pipeline's cap so stream and batch emit identical candidate sets. A
    dropped bucket contributes no stream-index pairs, exactly like the batch
    cap's drop-from-both-sides semantics.
    """
    s = key_stream.select(
        F.col("uid").alias("id_new"), "group_id", "key"
    )
    idx = static_keys.select(
        F.col("uid").alias("id_indexed"), "group_id", "key"
    )
    if max_bucket is not None:
        idx = cap_static_index(idx, max_bucket)
    return (
        s.join(idx, ["group_id", "key"])
        .filter(F.col("id_new") != F.col("id_indexed"))
        .groupBy("id_new", "id_indexed")
        .agg(F.count("*").alias("collisions"))
        .filter(F.col("collisions") >= C)
    )


def windowed_event_counts(
    events_stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked windowed aggregation (late-data-safe throughput metrics).

    Used for per-window pipeline metrics over an event stream; also serves
    as the streaming-agg coverage for the engine surface.
    """
    # watermarks need TIMESTAMP (with timezone); parquet NTZ columns are cast
    events_stream = events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )
