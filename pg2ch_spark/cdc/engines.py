"""Group I — pg2ch engine semantics re-expressed relationally (SURVEY §2.2/2.3 I).

The reference's three ClickHouse table engines define what "current
state" means after a change stream is applied:

- ReplacingMergeTree FINAL  → argmax-by-version per key
  (`pkg/tableengines/replacingMergeTree.go`: every change emits the new
  row with a version derived from the LSN)
- CollapsingMergeTree FINAL → latest row per key unless the latest op
  is a delete (`pkg/tableengines/collapsingMergeTree.go`: ±sign rows)
- MergeTree                 → bag append, duplicates preserved
  (`pkg/tableengines/mergeTree.go`)

Scale notes: every FINAL here is one window (= one shuffle by key).
pg2ch relies on ClickHouse background merges to converge the same
state; Spark computes it directly. At 100 TB the same plans hold: the
shuffle is by the CDC key, skew handled by AQE, and the signed-log
expansion (R5) is a narrow map-side explode — no shuffle at all until
the verification aggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pg2ch_spark import catalog
from pg2ch_spark.cdc.derive import CDC_CTE, derive_cdc
from pg2ch_spark.registry import register

def _latest_per_key(cdc: DataFrame) -> DataFrame:
    by_key_desc = Window.partitionBy("key").orderBy(F.col("ver").desc())
    return (
        cdc.withColumn("_rn", F.row_number().over(by_key_desc))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@register(
    "cdc_replacing_final",
    oracle=CDC_CTE
    + """
    SELECT key, ver, op, value FROM cdc
    QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1
    """,
)
def cdc_replacing_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplacingMergeTree FINAL: row with max version per key."""
    return _latest_per_key(derive_cdc(spark, sf_dir)).select("key", "ver", "op", "value")


@register(
    "cdc_collapsing_final",
    oracle=CDC_CTE
    + """
    SELECT key, ver, value FROM cdc
    QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1 AND op != 'D'
    """,
)
def cdc_collapsing_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollapsingMergeTree FINAL: latest row per key, absent if deleted."""
    return (
        _latest_per_key(derive_cdc(spark, sf_dir))
        .where(F.col("op") != "D")
        .select("key", "ver", "value")
    )


@register(
    "cdc_collapsing_signed_log",
    oracle=CDC_CTE
    + """
    , w AS (
        SELECT key, ver, op, value,
               lag(value) OVER (PARTITION BY key ORDER BY ver) AS prev_value
        FROM cdc
    ), signed AS (
        SELECT key, ver, value, 1 AS sign FROM w WHERE op IN ('I', 'U')
        UNION ALL
        SELECT key, ver, prev_value AS value, -1 AS sign FROM w WHERE op IN ('U', 'D')
    )
    SELECT key,
           CAST(sum(sign) AS BIGINT) AS net_sign,
           count(*) AS n_rows,
           round(sum(sign * value), 2) AS val_balance
    FROM signed GROUP BY key
    """,
)
def cdc_collapsing_signed_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ±sign row expansion itself (pg2ch R5): insert→(+1), update→
    (−1 old, +1 new), delete→(−1 old); verified by per-key aggregates.

    "Old" is reconstructed with lag() since the event log carries only
    new images — the same information pgoutput's REPLICA IDENTITY FULL
    old-tuple provides in the reference.
    """
    cdc = derive_cdc(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("ver")
    with_prev = cdc.withColumn("prev_value", F.lag("value").over(w))
    plus = (
        with_prev.where(F.col("op").isin("I", "U"))
        .select("key", "ver", "value", F.lit(1).alias("sign"))
    )
    minus = (
        with_prev.where(F.col("op").isin("U", "D"))
        .select("key", "ver", F.col("prev_value").alias("value"), F.lit(-1).alias("sign"))
    )
    signed = plus.unionByName(minus)
    return signed.groupBy("key").agg(
        F.sum("sign").cast("bigint").alias("net_sign"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("sign") * F.col("value")), 2).alias("val_balance"),
    )


@register(
    "cdc_append_mergetree",
    oracle=CDC_CTE
    + """
    , snap AS (
        SELECT key, ver, value FROM cdc
        QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver) = 1
    )
    SELECT key, ver, value, 'snap' AS src FROM snap
    UNION ALL
    SELECT key, ver, value, 'ins' AS src FROM cdc WHERE op = 'I'
    """,
)
def cdc_append_mergetree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeTree bag append: an initial snapshot (first row per key)
    union all insert events — duplicates preserved (bag semantics)."""
    cdc = derive_cdc(spark, sf_dir)
    w_asc = Window.partitionBy("key").orderBy("ver")
    snap = (
        cdc.withColumn("_rn", F.row_number().over(w_asc))
        .where(F.col("_rn") == 1)
        .select("key", "ver", "value", F.lit("snap").alias("src"))
    )
    ins = cdc.where(F.col("op") == "I").select(
        "key", "ver", "value", F.lit("ins").alias("src")
    )
    return snap.unionByName(ins)


@register(
    "cdc_snapshot_handoff",
    oracle=CDC_CTE
    + """
    , cut AS (SELECT max(ver) // 2 AS c FROM cdc),
    snap AS (
        SELECT key, ver, op, value FROM cdc, cut WHERE ver < c
        QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1
    ),
    tail AS (SELECT key, ver, op, value FROM cdc, cut WHERE ver >= c),
    merged AS (SELECT * FROM snap UNION ALL SELECT * FROM tail)
    SELECT key, ver, op, value FROM merged
    QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1
    """,
)
def cdc_snapshot_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot ⊎ stream-tail handoff (pg2ch R1→R2): the collapsed
    pre-cutoff snapshot unions the raw post-cutoff stream; per-key
    latest wins across the LSN boundary, no row lost or double-applied.

    The cutoff (max ver / 2) is computed in-plan and broadcast — no
    driver-side collect.
    """
    cdc = derive_cdc(spark, sf_dir)
    cut = cdc.agg(F.expr("max(ver) div 2").alias("c"))
    with_cut = cdc.crossJoin(F.broadcast(cut))
    snap = _latest_per_key(with_cut.where(F.col("ver") < F.col("c"))).select(
        "key", "ver", "op", "value"
    )
    tail = with_cut.where(F.col("ver") >= F.col("c")).select("key", "ver", "op", "value")
    return _latest_per_key(snap.unionByName(tail)).select("key", "ver", "op", "value")


@register(
    "cdc_delete_tombstones",
    oracle=CDC_CTE
    + """
    , latest AS (
        SELECT key, op FROM cdc
        QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1
    ), dels AS (SELECT key FROM latest WHERE op = 'D')
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM dels WHERE key = c_custkey)
    """,
)
def cdc_delete_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a delete set to a snapshot via anti-join (tombstone
    semantics — the relational form of a trailing −1 sign row)."""
    c = catalog.load(spark, sf_dir, "customer")
    dels = (
        _latest_per_key(derive_cdc(spark, sf_dir))
        .where(F.col("op") == "D")
        .select("key")
    )
    return c.join(dels, c.c_custkey == dels.key, "left_anti").select("c_custkey", "c_name")


@register(
    "cdc_truncate",
    oracle=CDC_CTE
    + """
    , mk AS (SELECT max(ver) AS m FROM cdc WHERE op = 'D'),
    tail AS (SELECT key, ver, op, value FROM cdc, mk WHERE ver > m)
    SELECT key, ver, op, value FROM tail
    QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1
    """,
)
def cdc_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncate propagation (pg2ch R10): state after the truncate marker
    (last delete overall) is rebuilt from post-marker events only."""
    cdc = derive_cdc(spark, sf_dir)
    mk = cdc.where(F.col("op") == "D").agg(F.max("ver").alias("m"))
    tail = (
        cdc.crossJoin(F.broadcast(mk))
        .where(F.col("ver") > F.col("m"))
        .select("key", "ver", "op", "value")
    )
    return _latest_per_key(tail).select("key", "ver", "op", "value")


@register(
    "cdc_bucketed_compaction",
    oracle=CDC_CTE
    + """
    SELECT key, ver, op, value FROM cdc
    QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1
    """,
)
def cdc_bucketed_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplacingMergeTree state built through the O(touched)
    `BucketedMergeSink` (the production MERGE shape — hash-bucketed
    main state, flushes rewrite only delta-touched buckets): the
    derived CDC log is applied in three interleaved batches with a
    forced compaction each, and the answer is the sink's final on-disk
    state. The oracle is the plain latest-per-key SQL — if bucket
    routing, pruning, staged renames, or the buffer tier drop or
    duplicate any row, the hash gate fails. The derived log holds no
    TRUNCATE marker, so the batches go to ``sink.merge`` directly.
    Crash/replay properties are covered in tests/test_cdc_properties.py."""
    import shutil
    import uuid

    from pg2ch_spark.cdc.merge_sink import BucketedMergeSink
    from pg2ch_spark.streaming.runner import scratch_dir

    base = scratch_dir("pg2ch_buckq_")
    root = base + "/" + uuid.uuid4().hex[:8]
    try:
        # The three interleaved batches slice the SAME derived log: persist
        # it once (r8) so each batch's buffer append reads the cache, not a
        # fresh events scan per batch — at 100 TB that is 1 source scan
        # instead of 3 for the same bytes written.
        from pg2ch_spark.caching import eager_persist

        cdc = eager_persist(derive_cdc(spark, sf_dir))
        sink = BucketedMergeSink(
            spark, root + "/state", "key", "ver", merge_every=1, n_buckets=16
        )
        for b in range(3):
            sink.merge(cdc.where(F.pmod("ver", F.lit(3)) == b))
        state = sink.state().select("key", "ver", "op", "value")
        # materialize before the scratch tree is reclaimed
        return state.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "cdc_aggregating_final",
    oracle=CDC_CTE
    + """
    SELECT key,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS val_sum,
           min(value) AS val_min,
           max(value) AS val_max,
           arg_max(value, ver) AS val_last,
           max(ver) AS last_ver
    FROM cdc WHERE op IN ('I', 'U')
    GROUP BY key
    """,
)
def cdc_aggregating_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AggregatingMergeTree FINAL — the engine-family member the other
    group-I operators leave out: each part holds a pre-aggregated
    STATE per key (count / sum / min / max / argMax-by-version), and a
    merge COMBINES states instead of replacing (Replacing), cancelling
    (Collapsing), or summing one column (Summing). ClickHouse persists
    these as -State columns read back with -Merge; here every chosen
    aggregate is algebraically mergeable, so Spark's map-side partial
    aggregation IS the engine's background merge and the shuffle
    carries one state row per (partition, key).

    The sum state is decimal-mediated (see cdc_summing_final); min /
    max / argMax pass stored doubles through untouched, so no
    arithmetic crosses the engine boundary for them. Deletes are
    excluded like Summing — pg2ch's counter tables never tombstone
    into aggregating state.
    """
    log = derive_cdc(spark, sf_dir)
    return (
        log.where(F.col("op").isin("I", "U"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("val_sum"),
            F.min("value").alias("val_min"),
            F.max("value").alias("val_max"),
            # "latest NON-NULL payload by version" — pinned explicitly
            # because the engines disagree on bare argMax over NULLs:
            # DuckDB's arg_max skips a NULL payload at the max version
            # (ClickHouse-like — aggregate combinators skip NULLs),
            # Spark's max_by returns it. The CASE guard nulls the
            # ordering key instead, which BOTH argMax variants ignore
            # (caught by the 10%-NULL randomized corpus, round 4).
            F.expr("max_by(value, CASE WHEN value IS NOT NULL THEN ver END)").alias(
                "val_last"
            ),
            F.max("ver").alias("last_ver"),
        )
    )
