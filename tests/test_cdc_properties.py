"""Engine-semantics property tests (SURVEY §5.2): random op sequences →
collapsing/replacing invariants, merge-sink replay idempotence."""

from __future__ import annotations

import random
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import Window


def _random_cdc(spark, seed: int, n: int = 300, n_keys: int = 12):
    rng = random.Random(seed)
    rows = [
        (rng.randrange(n_keys), ver, rng.choice("IUD"), round(rng.uniform(0, 100), 2))
        for ver in range(n)
    ]
    return spark.createDataFrame(rows, "key long, ver long, op string, value double")


def _replacing_final(cdc):
    w = Window.partitionBy("key").orderBy(F.col("ver").desc())
    return cdc.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def test_replacing_final_is_argmax(spark):
    cdc = _random_cdc(spark, seed=1)
    got = {r.key: (r.ver, r.value) for r in _replacing_final(cdc).collect()}
    expected: dict[int, tuple[int, float]] = {}
    for r in cdc.collect():  # driver-side oracle on tiny data
        if r.key not in expected or r.ver > expected[r.key][0]:
            expected[r.key] = (r.ver, r.value)
    assert got == expected


def test_collapsing_net_sign_is_inserts_minus_deletes(spark):
    """The ±1 expansion must balance: per key, sum(sign) == #I − #D."""
    cdc = _random_cdc(spark, seed=2)
    w = Window.partitionBy("key").orderBy("ver")
    with_prev = cdc.withColumn("prev_value", F.lag("value").over(w))
    plus = with_prev.where(F.col("op").isin("I", "U")).select("key", F.lit(1).alias("sign"))
    minus = with_prev.where(F.col("op").isin("U", "D")).select("key", F.lit(-1).alias("sign"))
    net = plus.unionByName(minus).groupBy("key").agg(F.sum("sign").alias("net"))
    counts = cdc.groupBy("key").agg(
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("i"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("d"),
    )
    joined = net.join(counts, "key")
    bad = joined.where(F.col("net") != F.col("i") - F.col("d")).count()
    assert bad == 0


def test_merge_sink_replay_idempotent(spark):
    """Replaying the same batch (at-least-once delivery) must not change
    state — pg2ch's convergence argument (SURVEY §1.1)."""
    from pg2ch_spark.cdc.merge_sink import ReplacingMergeSink

    cdc = _random_cdc(spark, seed=3)
    path = tempfile.mkdtemp(prefix="pg2ch_sinktest_") + "/state"
    sink = ReplacingMergeSink(spark, path, key_col="key", ver_col="ver")

    half = cdc.where(F.col("ver") < 150)
    sink.merge(half, epoch_id=0)
    sink.merge(half, epoch_id=0)  # replay
    sink.merge(cdc.where(F.col("ver") >= 150), epoch_id=1)
    sink.merge(cdc.where(F.col("ver") >= 150), epoch_id=1)  # replay

    got = sorted(
        (r.key, r.ver, r.value) for r in sink.state().select("key", "ver", "value").collect()
    )
    want = sorted(
        (r.key, r.ver, r.value)
        for r in _replacing_final(cdc).select("key", "ver", "value").collect()
    )
    assert got == want


def test_merge_sink_out_of_order_batches_converge(spark):
    """Batches applied out of LSN order still converge to argmax(ver)."""
    from pg2ch_spark.cdc.merge_sink import ReplacingMergeSink

    cdc = _random_cdc(spark, seed=4)
    path = tempfile.mkdtemp(prefix="pg2ch_sinktest_") + "/state"
    sink = ReplacingMergeSink(spark, path, key_col="key", ver_col="ver")
    sink.merge(cdc.where(F.col("ver") >= 150))  # later data first
    sink.merge(cdc.where(F.col("ver") < 150))
    got = sink.state().count()
    want = _replacing_final(cdc).count()
    assert got == want


def test_buffered_sink_converges_like_single_tier(spark):
    """Two-tier buffer→merge (pg2ch R8/R9) must reach the same final
    state as the per-batch sink under replayed, out-of-order batches —
    while committing the O(state) merge only every merge_every batches
    (per-batch cost is an O(batch) buffer append)."""
    from pg2ch_spark.cdc.merge_sink import BufferedMergeSink, ReplacingMergeSink

    cdc = _random_cdc(spark, seed=5)
    base = tempfile.mkdtemp(prefix="pg2ch_sinktest_")
    single = ReplacingMergeSink(spark, base + "/single", key_col="key", ver_col="ver")
    two_tier = BufferedMergeSink(
        spark, base + "/buffered", key_col="key", ver_col="ver", merge_every=3
    )

    batches = [
        cdc.where((F.col("ver") % 4) == i) for i in range(4)
    ]
    # out-of-order + replayed delivery
    schedule = [batches[2], batches[0], batches[0], batches[3], batches[1], batches[3], batches[1]]
    for b in schedule:
        single.merge(b)
        two_tier.merge(b)

    got = sorted(
        (r.key, r.ver, r.value) for r in two_tier.state().select("key", "ver", "value").collect()
    )
    want = sorted(
        (r.key, r.ver, r.value) for r in single.state().select("key", "ver", "value").collect()
    )
    assert got == want
    # 7 batches, threshold 3 -> 2 threshold merges + 1 flush-on-read;
    # the single-tier sink paid the O(state) rewrite 7 times.
    assert two_tier.merges_done == 3


def test_bucketed_sink_converges_like_single_tier(spark):
    """The bucketed compaction must produce byte-identical state to the
    rewrite-everything sink on the same batch sequence."""
    from pg2ch_spark.cdc.merge_sink import BucketedMergeSink, ReplacingMergeSink

    base = tempfile.mkdtemp(prefix="pg2ch_bucktest_")
    ref = ReplacingMergeSink(spark, base + "/ref", "key", "ver")
    buck = BucketedMergeSink(
        spark, base + "/buck", "key", "ver", merge_every=2, n_buckets=8
    )
    cdc = _random_cdc(spark, seed=7, n=400, n_keys=40)
    for b in range(4):
        batch = cdc.where(F.pmod("ver", F.lit(4)) == b)
        ref.merge(batch)
        buck.merge(batch)
    got = {(r.key, r.ver, r.op, r.value) for r in buck.state().collect()}
    want = {(r.key, r.ver, r.op, r.value) for r in ref.state().collect()}
    assert got == want


def test_bucketed_sink_rewrites_only_touched_buckets(spark):
    """A delta touching one key must rewrite exactly one bucket dir;
    every other bucket's files stay untouched on disk."""
    import os

    from pg2ch_spark.cdc.merge_sink import BucketedMergeSink

    base = tempfile.mkdtemp(prefix="pg2ch_bucktest_")
    sink = BucketedMergeSink(
        spark, base + "/s", "key", "ver", merge_every=1, n_buckets=8
    )
    sink.merge(_random_cdc(spark, seed=8, n=200, n_keys=40))  # full spread
    full_rewrites = sink.buckets_rewritten
    snapshot = {
        d: sorted(os.listdir(os.path.join(sink.path, d)))
        for d in os.listdir(sink.path)
    }
    one_key = spark.createDataFrame(
        [(5, 10_000, "U", 1.0)], "key long, ver long, op string, value double"
    )
    sink.merge(one_key)
    assert sink.buckets_rewritten == full_rewrites + 1
    changed = [
        d
        for d in snapshot
        if sorted(os.listdir(os.path.join(sink.path, d))) != snapshot[d]
    ]
    assert len(changed) == 1
    # and the updated row won
    got = {r.key: r.ver for r in sink.state().collect()}
    assert got[5] == 10_000


def test_bucketed_sink_recovers_bucket_crash_window(spark):
    """A crash between the two renames of one bucket (only ``.old``
    left) must be healed on the next read, like the single-tier
    sink's state() recovery."""
    import os

    from pg2ch_spark.cdc.merge_sink import BucketedMergeSink

    base = tempfile.mkdtemp(prefix="pg2ch_bucktest_")
    sink = BucketedMergeSink(
        spark, base + "/s", "key", "ver", merge_every=1, n_buckets=4
    )
    sink.merge(_random_cdc(spark, seed=9, n=100, n_keys=20))
    before = {(r.key, r.ver) for r in sink.state().collect()}
    victim = os.path.join(sink.path, "b1")
    os.rename(victim, victim + ".old")  # simulate crash between renames
    after = {(r.key, r.ver) for r in sink.state().collect()}
    assert after == before
    assert os.path.exists(victim) and not os.path.exists(victim + ".old")


def test_bucketed_sink_reflush_same_buffer_is_noop(spark):
    """Re-running a flush whose buffer survived a crash (buffer truncate
    is the last step) must converge to the same state."""
    import shutil

    from pg2ch_spark.cdc.merge_sink import BucketedMergeSink

    base = tempfile.mkdtemp(prefix="pg2ch_bucktest_")
    sink = BucketedMergeSink(
        spark, base + "/s", "key", "ver", merge_every=2, n_buckets=4
    )
    batch = _random_cdc(spark, seed=10, n=120, n_keys=15)
    # merge_every=2, one merge() buffers without flushing
    sink.merge(batch)
    shutil.copytree(sink.buffer_path, sink.buffer_path + ".saved")
    sink.flush()
    state1 = {(r.key, r.ver, r.value) for r in sink.state().collect()}
    # crash-replay: the truncated buffer "reappears" and is re-flushed
    shutil.copytree(sink.buffer_path + ".saved", sink.buffer_path)
    sink.flush()
    state2 = {(r.key, r.ver, r.value) for r in sink.state().collect()}
    assert state1 == state2


def test_random_op_streams_with_truncates_converge(spark):
    """Randomized convergence property for the full op surface: random
    I/U/D/T sequences, random batch boundaries, and a random replayed
    batch, through every Replacing-family sink — the final state must
    equal the batch-global oracle (rows after the LAST truncate,
    argmax ver per key) regardless of how the stream was chopped or
    re-delivered."""
    import tempfile

    from pg2ch_spark.cdc.merge_sink import (
        BucketedMergeSink,
        BufferedMergeSink,
        ReplacingMergeSink,
        merge_batch,
    )

    for seed in (3, 17, 44):
        rng = random.Random(seed)
        rows = []
        for ver in range(1, 181):
            roll = rng.random()
            if roll < 0.04:
                rows.append((None, ver, "T", None))
            elif roll < 0.30:
                rows.append((rng.randrange(12), ver, "D", None))
            else:
                op = "I" if roll < 0.6 else "U"
                rows.append((rng.randrange(12), ver, op, round(rng.random() * 100, 2)))

        # batch-global oracle
        tmax = max((v for k, v, o, _ in rows if o == "T"), default=-1)
        live = {}
        for k, v, o, val in rows:
            if v > tmax and o != "T":
                if k not in live or v > live[k][0]:
                    live[k] = (v, o, val)
        expected = {(k, v, o, val) for k, (v, o, val) in live.items()}

        # random batch boundaries + one replayed batch
        cuts = sorted(rng.sample(range(1, len(rows)), 5))
        batches = [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
        replay_at = rng.randrange(len(batches))

        base = tempfile.mkdtemp(prefix=f"pg2ch_trunc_prop_{seed}_")
        sinks = [
            ReplacingMergeSink(spark, base + "/r", "key", "ver"),
            BufferedMergeSink(spark, base + "/f", "key", "ver", merge_every=2),
            BucketedMergeSink(spark, base + "/b", "key", "ver", merge_every=2, n_buckets=4),
        ]
        for i, b in enumerate(batches):
            df = spark.createDataFrame(b, "key bigint, ver bigint, op string, value double")
            for s in sinks:
                merge_batch(s, df)
                if i == replay_at:
                    merge_batch(s, df)  # at-least-once re-delivery
        for s in sinks:
            got = {(r.key, r.ver, r.op, r.value) for r in s.state().collect()}
            assert got == expected, (seed, type(s).__name__)


def test_buffered_batch_counter_survives_reconstruction(spark, tmp_path):
    """The daemon builds a FRESH sink every pass: the pending-batch
    count must be disk-backed or merge_threshold would never trigger
    for a table receiving fewer batches per pass than the threshold
    (code-review r7 finding)."""
    from pg2ch_spark.cdc.merge_sink import BufferedMergeSink

    path = str(tmp_path / "state")
    df = spark.createDataFrame(
        [(1, 1, "I", 1.0)], "key bigint, ver bigint, op string, value double"
    )
    args = (spark, path, "key", "ver")
    s1 = BufferedMergeSink(*args, merge_every=3)
    s1.merge(df, 0)
    s2 = BufferedMergeSink(*args, merge_every=3)  # new pass, new sink
    assert s2._batches_buffered == 1  # read back from disk
    s2.merge(df.withColumn("ver", df.ver + 1), 1)
    s3 = BufferedMergeSink(*args, merge_every=3)
    s3.merge(df.withColumn("ver", df.ver + 2), 2)  # third batch: threshold
    assert s3.merges_done == 1, "threshold merge never fired across passes"
    import os

    assert not os.path.exists(path + ".buffer")  # buffer consumed
    [row] = spark.read.parquet(path).collect()
    assert row.ver == 3  # latest version won
