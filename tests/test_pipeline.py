"""End-to-end replication pipeline (R14 config + R15 lifecycle).

Drives `pg2ch_spark.pipeline.run_pipeline` the way a pg2ch user drives
the daemon: declare per-table specs (engine, key, version, merge
knobs), point it at a change source, and verify the resulting states
against independent DuckDB computations of the same engine semantics —
including a MULTI-batch replay (one file per micro-batch) that
exercises the collapsing sink's cross-batch prior-value carry, and a
re-run proving checkpointed idempotence.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from pg2ch_spark.pipeline import (
    TableSpec,
    read_state,
    run_pipeline,
    spec_from_mapping,
    teardown,
)
from tests.oracle import compare_frames

CDC_SQL = """
    SELECT user_id AS key, event_id AS ver,
           CASE event_type WHEN 'signup' THEN 'I'
                           WHEN 'error'  THEN 'D'
                           ELSE 'U' END AS op,
           value
    FROM read_parquet('{path}/events.parquet/*.parquet')
"""


@pytest.fixture(scope="module")
def pipe_sf_dir(tmp_path_factory):
    """A two-file events 'table': file 1 = first half of the log by
    version, file 2 = the rest — so maxFilesPerTrigger=1 yields two
    micro-batches whose per-key histories straddle the boundary."""
    t0 = pd.Timestamp("2024-03-01")
    rows = []
    # interleaved multi-key history: inserts, updates, deletes, re-adds
    script = [
        (1, "signup"), (2, "signup"), (1, "view"), (3, "view"),  # u3 starts with U
        (2, "purchase"), (1, "error"), (4, "signup"), (2, "view"),
        # --- file boundary ---
        (1, "signup"), (3, "error"), (4, "click"), (2, "error"),
        (5, "view"), (4, "purchase"), (5, "signup"), (1, "click"),
    ]
    for i, (u, et) in enumerate(script, start=1):
        rows.append((i, t0 + pd.Timedelta(seconds=10 * i), u, et, float(i), '{"k":1}'))
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = tmp_path_factory.mktemp("pipe_sf")
    table_dir = os.path.join(d, "events.parquet")
    os.makedirs(table_dir)
    df.iloc[:8].to_parquet(os.path.join(table_dir, "part-0.parquet"))
    df.iloc[8:].to_parquet(os.path.join(table_dir, "part-1.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def pipe_result(spark, pipe_sf_dir, tmp_path_factory):
    state_root = str(tmp_path_factory.mktemp("pipe_state"))
    specs = [
        TableSpec(main_table="t_replacing", engine="ReplacingMergeTree"),
        TableSpec(
            main_table="t_replacing_buffered",
            engine="ReplacingMergeTree",
            merge_threshold=2,
        ),
        TableSpec(main_table="t_collapsing", engine="CollapsingMergeTree"),
        TableSpec(main_table="t_append", engine="MergeTree"),
    ]
    res = run_pipeline(
        spark, specs, pipe_sf_dir, state_root, max_files_per_trigger=1
    )
    yield spark, pipe_sf_dir, state_root, specs, res
    teardown(state_root)


def _duck(pipe_sf_dir):
    return duckdb.connect(), CDC_SQL.format(path=pipe_sf_dir)


def _state(pipe_result, table):
    spark, _, state_root, specs, _ = pipe_result
    spec = next(s for s in specs if s.main_table == table)
    return read_state(spark, spec, state_root)


def test_multibatch_replay_ran_two_batches(pipe_result):
    *_, res = pipe_result
    assert res.batches["t_replacing"] >= 2  # one per file


def test_replacing_state_matches_oracle(pipe_result):
    spark, sf, *_ = pipe_result
    con, cdc = _duck(sf)
    expected = con.execute(
        f"WITH cdc AS ({cdc}) SELECT key, ver, op, value FROM cdc "
        "QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1"
    ).df()
    r = compare_frames(
        "replacing", _state(pipe_result, "t_replacing").toPandas(), expected
    )
    assert r.ok, str(r)


def test_buffered_replacing_equals_single_tier(pipe_result):
    a = (
        _state(pipe_result, "t_replacing")
        .toPandas()
        .sort_values("key")
        .reset_index(drop=True)
    )
    b = (
        _state(pipe_result, "t_replacing_buffered")
        .toPandas()
        .sort_values("key")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_collapsing_signed_log_matches_lag_oracle(pipe_result):
    """The epoch-wise expansion with carried prior values must equal
    the global lag() expansion — per-key (net, rows, value balance)."""
    spark, sf, state_root, *_ , res = pipe_result
    con, cdc = _duck(sf)
    expected = con.execute(
        f"""
        WITH cdc AS ({cdc}),
        w AS (
            SELECT key, ver, op, value,
                   lag(value) OVER (PARTITION BY key ORDER BY ver) AS prev_value
            FROM cdc
        ), signed AS (
            SELECT key, ver, value, 1 AS sign FROM w WHERE op IN ('I', 'U')
            UNION ALL
            SELECT key, ver, prev_value AS value, -1 AS sign
            FROM w WHERE op IN ('U', 'D')
        )
        SELECT key, CAST(sum(sign) AS BIGINT) AS net_sign,
               count(*) AS n_rows,
               round(sum(sign * value), 2) AS val_balance
        FROM signed GROUP BY key
        """
    ).df()
    log = spark.read.parquet(os.path.join(state_root, "t_collapsing", "state"))
    import pyspark.sql.functions as F

    got = (
        log.groupBy("key")
        .agg(
            F.sum("sign").cast("bigint").alias("net_sign"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("sign") * F.col("value")), 2).alias("val_balance"),
        )
    ).toPandas()
    r = compare_frames("collapsing_log", got, expected)
    assert r.ok, str(r)


def test_append_log_is_the_full_change_stream(pipe_result):
    spark, sf, *_ = pipe_result
    con, cdc = _duck(sf)
    expected = con.execute(f"WITH cdc AS ({cdc}) SELECT * FROM cdc").df()
    got = (
        _state(pipe_result, "t_append").select("key", "ver", "op", "value").toPandas()
    )
    r = compare_frames("append", got, expected)
    assert r.ok, str(r)


def test_rerun_is_idempotent(pipe_result):
    """Re-running against the same state_root resumes from the
    checkpoint: zero new batches, states unchanged."""
    spark, sf, state_root, specs, res = pipe_result
    before = _state(pipe_result, "t_replacing").toPandas().sort_values("key")
    res2 = run_pipeline(spark, specs, sf, state_root, max_files_per_trigger=1)
    assert all(n == 0 for n in res2.batches.values()), res2.batches
    after = _state(pipe_result, "t_replacing").toPandas().sort_values("key")
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True)
    )


def test_spec_mapping_rejects_unknown_keys():
    with pytest.raises(ValueError, match="unknown TableSpec keys"):
        spec_from_mapping({"main_table": "t", "mane_table": "typo"})
    with pytest.raises(ValueError, match="unknown engine"):
        TableSpec(main_table="t", engine="SummingMergeTree2")


@pytest.fixture
def checkpoint_calls(spark, monkeypatch):
    """Records every localCheckpoint call. Patches the session's
    concrete DataFrame class: in PySpark 4.1 patching
    `pyspark.sql.DataFrame` catches nothing."""
    df_cls = type(spark.range(1))
    calls = []
    real = df_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        calls.append(args)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "localCheckpoint", spy)
    return calls


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn, *args)`` runs ``fn(*args)`` and returns (Spark
    jobs it launched, its result), read off the DAG scheduler's job id
    counter."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def count(fn, *args, **kwargs):
        before = int(dag.nextJobId())
        out = fn(*args, **kwargs)
        return int(dag.nextJobId()) - before, out

    return count


@pytest.mark.parametrize("seed", [7, 21, 99])
def test_collapsing_carry_equals_global_expansion(spark, tmp_path, seed):
    """Property: for a random op log split into random batches, the
    collapsing sink's accumulated signed log (with per-key prior-value
    carry across batches) equals the single-pass lag() expansion of
    the whole log — per-key net sign, row count, and value balance."""
    import numpy as np
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from pg2ch_spark.pipeline import _CollapsingSink

    rng = np.random.default_rng(seed)
    n = 60
    ops = rng.choice(["I", "U", "D"], n, p=[0.3, 0.5, 0.2])
    keys = rng.integers(1, 8, n)
    log = pd.DataFrame(
        {
            "key": keys.astype("int64"),
            "ver": range(1, n + 1),
            "op": ops,
            "value": rng.uniform(0, 50, n).round(3),
        }
    )
    # random batch boundaries (2-5 batches), contiguous in ver order
    cuts = sorted(rng.choice(range(5, n - 5), size=int(rng.integers(1, 4)), replace=False))
    batches = np.split(log, cuts)

    sink = _CollapsingSink(spark, str(tmp_path / "clog"), "key", "sign")
    for i, b in enumerate(batches):
        sink.merge(spark.createDataFrame(b), epoch_id=i)

    got = (
        sink.state()
        .groupBy("key")
        .agg(
            F.sum("sign").cast("bigint").alias("net_sign"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("sign") * F.col("value")), 2).alias("val_balance"),
        )
        .toPandas()
    )

    whole = spark.createDataFrame(log)
    w = Window.partitionBy("key").orderBy("ver")
    wp = whole.withColumn("prev_value", F.lag("value").over(w))
    plus = wp.where(F.col("op").isin("I", "U")).select(
        "key", "ver", "value", F.lit(1).alias("sign")
    )
    minus = wp.where(F.col("op").isin("U", "D")).select(
        "key", "ver", F.col("prev_value").alias("value"), F.lit(-1).alias("sign")
    )
    expected = (
        plus.unionByName(minus)
        .groupBy("key")
        .agg(
            F.sum("sign").cast("bigint").alias("net_sign"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("sign") * F.col("value")), 2).alias("val_balance"),
        )
        .toPandas()
    )
    r = compare_frames(f"carry-seed{seed}", got, expected)
    assert r.ok, str(r)


def test_collapsing_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-applied
    epoch must regenerate byte-identical signed rows (the carry must
    come from the snapshot PRECEDING the epoch, not the post-image the
    first application left behind)."""
    import pyspark.sql.functions as F

    from pg2ch_spark.pipeline import _CollapsingSink

    b0 = pd.DataFrame(
        {"key": [1, 2, 1], "ver": [1, 2, 3], "op": ["I", "I", "U"],
         "value": [10.0, 20.0, 11.0]}
    )
    b1 = pd.DataFrame(
        {"key": [1, 2], "ver": [4, 5], "op": ["U", "D"], "value": [12.0, 20.0]}
    )
    sink = _CollapsingSink(spark, str(tmp_path / "clog"), "key", "sign")
    sink.merge(spark.createDataFrame(b0), epoch_id=0)
    sink.merge(spark.createDataFrame(b1), epoch_id=1)

    def epoch1_rows():
        return (
            spark.read.parquet(str(tmp_path / "clog" / "epoch=1"))
            .orderBy("ver", "sign")
            .toPandas()
        )

    first = epoch1_rows()
    # epoch-1 minus rows must carry epoch-0 priors: U(key1)→11.0, D(key2)→20.0
    minus = first[first["sign"] == -1].set_index("key")["value"]
    assert minus[1] == 11.0 and minus[2] == 20.0
    # replay epoch 1 (crash between merge and checkpoint commit)
    sink.merge(spark.createDataFrame(b1), epoch_id=1)
    pd.testing.assert_frame_equal(first, epoch1_rows())
    # net state is unaffected by the replay
    net = sink.final().orderBy("key").toPandas()
    assert net["net"].tolist() == [1]  # key 2 deleted, key 1 alive


def test_collapsing_snapshot_staging_crash_recovers(spark, tmp_path):
    """A crash that leaves only a stale .staging snapshot dir must not
    lose the carry state: the rerun overwrites staging and derives the
    same rows from the intact prior snapshot."""
    from pg2ch_spark.pipeline import _CollapsingSink

    b0 = pd.DataFrame(
        {"key": [7], "ver": [1], "op": ["I"], "value": [5.0]}
    )
    b1 = pd.DataFrame(
        {"key": [7], "ver": [2], "op": ["U"], "value": [6.0]}
    )
    sink = _CollapsingSink(spark, str(tmp_path / "clog"), "key", "sign")
    sink.merge(spark.createDataFrame(b0), epoch_id=0)
    # simulate: epoch-1 application crashed after writing the staging
    # snapshot but before promoting it
    stale = sink._snapshot_path(1) + ".staging"
    os.makedirs(stale)
    with open(os.path.join(stale, "junk"), "w") as f:
        f.write("partial write")
    sink.merge(spark.createDataFrame(b1), epoch_id=1)
    minus = (
        spark.read.parquet(str(tmp_path / "clog" / "epoch=1"))
        .where("sign = -1")
        .toPandas()
    )
    assert minus["value"].tolist() == [5.0]  # prior carried, not lost
    assert not os.path.exists(stale)


def test_collapsing_merge_checkpoints_once(spark, tmp_path, checkpoint_calls):
    """One eager localCheckpoint per `_CollapsingSink.merge`: the
    expanded batch, read by both the epoch write and the snapshot
    write. The new carry snapshot has one reader and is not pinned."""
    from pg2ch_spark.pipeline import _CollapsingSink

    sink = _CollapsingSink(spark, str(tmp_path / "clog"), "key", "sign")
    batches = [
        [(1, 1, "I", 10.0), (2, 2, "I", 20.0)],
        [(1, 3, "U", 11.0), (2, 4, "D", 20.0)],
    ]
    for epoch, rows in enumerate(batches):
        sink.merge(_cdc_batch(spark, rows), epoch_id=epoch)
        assert len(checkpoint_calls) == epoch + 1
    assert {r.key: r.net for r in sink.final().collect()} == {1: 1}


def test_append_state_has_no_synthetic_epoch_column(pipe_result):
    cols = set(_state(pipe_result, "t_append").columns)
    assert cols == {"key", "ver", "op", "value"}


def test_zero_batch_stream_yields_empty_typed_state(spark, tmp_path):
    """A table whose stream produces no batches must yield an EMPTY
    DataFrame with the declared schema, not None (callers .select on
    it)."""
    from pg2ch_spark.streaming.queries import _SCHEMA_CACHE, _events_schema
    from pg2ch_spark import catalog

    # empty source dir; schema comes from the cache as it would for a
    # daemon that has seen the table before
    sf = tmp_path / "sf_empty"
    src = sf / "events.parquet"
    os.makedirs(src)
    real_schema = _events_schema(spark, "/root/testdata/sf0.001")
    _SCHEMA_CACHE[catalog.table_path(str(sf), "events")] = real_schema

    state_root = str(tmp_path / "state")
    specs = [
        TableSpec(main_table="t_r", engine="ReplacingMergeTree"),
        TableSpec(main_table="t_c", engine="CollapsingMergeTree"),
        TableSpec(main_table="t_a", engine="MergeTree"),
    ]
    run_pipeline(spark, specs, str(sf), state_root)
    for spec in specs[0], specs[2]:
        df = read_state(spark, spec, state_root)
        assert df is not None and df.count() == 0
        assert set(df.columns) == {"key", "ver", "op", "value"}
        df.select("key", "value").count()  # selectable, typed
    dfc = read_state(spark, specs[1], state_root)
    assert dfc is not None and dfc.count() == 0
    assert set(dfc.columns) == {"key", "net"}
    teardown(state_root)


def test_pipeline_reclaims_stream_source_scratch(spark, tmp_path):
    """Every invocation must remove the symlink dirs it creates to
    expose SINGLE-FILE fixtures as stream sources (both the managed
    and the maxFilesPerTrigger branches) — the real sf fixtures are
    single files, so this is the daemon's steady-state leak path."""
    import glob

    from pg2ch_spark.streaming.runner import scratch_dir

    # single-file events table → the symlink-dir branch triggers
    sf = tmp_path / "sf_single"
    os.makedirs(sf)
    pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-03-01", "2024-03-02"]),
            "user_id": [1, 2],
            "event_type": ["signup", "view"],
            "value": [1.0, 2.0],
            "props": ['{"k":1}', '{"k":2}'],
        }
    ).to_parquet(sf / "events.parquet")
    assert os.path.isfile(sf / "events.parquet")

    probe = scratch_dir("probe_")
    base = os.path.dirname(probe)
    os.rmdir(probe)

    def leftovers():
        return set(glob.glob(os.path.join(base, "pg2ch_pipe_src_*"))) | set(
            glob.glob(os.path.join(base, "pg2ch_streamsrc_*"))
        )

    before = leftovers()
    specs = [TableSpec(main_table="t_r", engine="ReplacingMergeTree")]
    run_pipeline(spark, specs, str(sf), str(tmp_path / "s1"))
    run_pipeline(
        spark, specs, str(sf), str(tmp_path / "s2"), max_files_per_trigger=1
    )
    assert leftovers() == before
    teardown(str(tmp_path / "s1"))
    teardown(str(tmp_path / "s2"))


def test_bucketed_spec_equals_single_tier(spark, pipe_sf_dir, tmp_path_factory):
    """A bucketed ReplacingMergeTree TableSpec (n_buckets) must produce
    the identical replicated state as the rewrite-everything sink over
    the same two-batch replay, with the bucket layout on disk."""
    state_root = str(tmp_path_factory.mktemp("pipe_bucket_state"))
    specs = [
        TableSpec(main_table="t_plain", engine="ReplacingMergeTree"),
        TableSpec(
            main_table="t_bucketed",
            engine="ReplacingMergeTree",
            merge_threshold=1,
            n_buckets=8,
        ),
    ]
    run_pipeline(spark, specs, pipe_sf_dir, state_root, max_files_per_trigger=1)
    try:
        a = (
            read_state(spark, specs[0], state_root)
            .toPandas()
            .sort_values("key")
            .reset_index(drop=True)
        )
        b = (
            read_state(spark, specs[1], state_root)
            .toPandas()
            .sort_values("key")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)
        bucket_dirs = os.listdir(os.path.join(state_root, "t_bucketed", "state"))
        assert all(d.startswith("b") for d in bucket_dirs) and bucket_dirs
    finally:
        teardown(state_root)


def test_pass_reads_no_state_and_checkpoints_nothing(
    spark, pipe_sf_dir, tmp_path, checkpoint_calls, monkeypatch
):
    """A pass only flushes deltas, as pg2ch's daemon does: no table is
    read back or localCheckpointed on the way out (the derived-log
    collapsing sink is left out — its merge checkpoints its expanded
    batch). The state is still all there for `read_state` to find."""
    state_root = str(tmp_path / "state")
    specs = [
        TableSpec(main_table="t_plain"),
        TableSpec(main_table="t_bucketed", merge_threshold=2, n_buckets=4),
        TableSpec(main_table="t_append", engine="MergeTree"),
    ]
    res = run_pipeline(
        spark, specs, pipe_sf_dir, state_root, max_files_per_trigger=1
    )
    assert all(n >= 2 for n in res.batches.values()), res.batches
    assert checkpoint_calls == []
    monkeypatch.undo()

    con, cdc = _duck(pipe_sf_dir)
    latest = con.execute(
        f"WITH cdc AS ({cdc}) SELECT key, ver, op, value FROM cdc "
        "QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1"
    ).df()
    log = con.execute(f"WITH cdc AS ({cdc}) SELECT * FROM cdc").df()
    for spec, expected in zip(specs, (latest, latest, log)):
        got = read_state(spark, spec, state_root).toPandas()
        r = compare_frames(spec.main_table, got, expected)
        assert r.ok, str(r)


def test_bucketed_spec_rejected_for_other_engines():
    with pytest.raises(ValueError, match="bucketed state requires"):
        TableSpec(main_table="x", engine="MergeTree", n_buckets=4)


# ---------------------------------------------------------------------------
# TRUNCATE propagation (R10) through the Replacing sink family: a 'T'
# marker, applied by merge_sink.merge_batch, wipes all state ordered
# before its version — in the single-tier merge, across the buffer
# tier, and across EVERY bucket of the bucket-pruned sink.


def _cdc_batch(spark, rows):
    return spark.createDataFrame(rows, "key bigint, ver bigint, op string, value double")


@pytest.mark.parametrize("n_buckets", [0, 4])
def test_truncate_wipes_prior_state(spark, tmp_path, n_buckets):
    from pg2ch_spark.cdc.merge_sink import (
        BucketedMergeSink,
        ReplacingMergeSink,
        merge_batch,
    )

    path = str(tmp_path / f"st{n_buckets}")
    if n_buckets:
        sink = BucketedMergeSink(spark, path, "key", "ver", merge_every=1, n_buckets=n_buckets)
    else:
        sink = ReplacingMergeSink(spark, path, "key", "ver")
    merge_batch(sink, _cdc_batch(spark, [(1, 1, "I", 10.0), (2, 2, "I", 20.0)]))
    # truncate at ver 3, then a survivor AFTER it in the same batch
    truncate_batch = [(None, 3, "T", None), (3, 4, "I", 30.0)]
    merge_batch(sink, _cdc_batch(spark, truncate_batch))
    got = {r.key: r.value for r in sink.state().collect()}
    assert got == {3: 30.0}
    # at-least-once replay of the truncate batch is a no-op
    merge_batch(sink, _cdc_batch(spark, truncate_batch))
    assert {r.key: r.value for r in sink.state().collect()} == {3: 30.0}


def test_truncate_only_batch_empties_bucketed_state(spark, tmp_path):
    """Every bucket dir must GO AWAY, not linger as stale state."""
    import os

    from pg2ch_spark.cdc.merge_sink import BucketedMergeSink, merge_batch

    path = str(tmp_path / "stb")
    sink = BucketedMergeSink(spark, path, "key", "ver", merge_every=1, n_buckets=4)
    merge_batch(sink, _cdc_batch(spark, [(k, k, "I", float(k)) for k in range(1, 9)]))
    assert sink.state().count() == 8
    merge_batch(sink, _cdc_batch(spark, [(None, 100, "T", None)]))
    state = sink.state()
    assert state is None or state.count() == 0
    assert not any(
        d.startswith("b") and os.listdir(os.path.join(path, d))
        for d in (os.listdir(path) if os.path.exists(path) else [])
        if os.path.isdir(os.path.join(path, d))
    )


def test_truncate_across_buffer_tier(spark, tmp_path):
    """A marker wipes both tiers: rows before the LAST marker drop
    even when they arrived in earlier, still-buffered batches; later
    markers subsume earlier ones."""
    from pg2ch_spark.cdc.merge_sink import BufferedMergeSink, merge_batch

    sink = BufferedMergeSink(spark, str(tmp_path / "buf"), "key", "ver", merge_every=10)
    merge_batch(sink, _cdc_batch(spark, [(1, 1, "I", 10.0)]))
    merge_batch(sink, _cdc_batch(spark, [(None, 2, "T", None), (2, 3, "I", 20.0)]))
    merge_batch(sink, _cdc_batch(spark, [(None, 4, "T", None), (3, 5, "I", 30.0)]))
    got = {r.key: r.value for r in sink.state().collect()}  # state() flushes
    assert got == {3: 30.0}


def test_truncate_is_relation_scoped_through_the_pipeline(spark, tmp_path):
    """A TRUNCATE of table a must never wipe table b: the spool rows
    carry the relation (R4 route) and each spec consumes only its own
    — the failure mode was a GLOBAL horizon wiping every configured
    table's state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2ch_spark.pipeline import TableSpec, run_pipeline

    spool = tmp_path / "spool"
    os.makedirs(spool)
    rows = [
        ("a", 1, 1, "I", 10.0),
        ("b", 1, 2, "I", 99.0),
        ("a", None, 3, "T", None),   # truncates a ONLY
        ("a", 2, 4, "I", 20.0),
    ]
    t = pa.table(
        {
            "table": pa.array([r[0] for r in rows], pa.string()),
            "key": pa.array([r[1] for r in rows], pa.int64()),
            "ver": pa.array([r[2] for r in rows], pa.int64()),
            "op": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        }
    )
    pq.write_table(t, str(spool / f"cdc-{0x100:016x}.parquet"))
    specs = [TableSpec(main_table="a"), TableSpec(main_table="b")]
    state_root = str(tmp_path / "state")
    run_pipeline(spark, specs, str(spool), state_root, source_format="cdc")
    a = {r.key: r.value for r in read_state(spark, specs[0], state_root).collect()}
    b = {r.key: r.value for r in read_state(spark, specs[1], state_root).collect()}
    assert a == {2: 20.0}   # pre-truncate row gone, survivor kept
    assert b == {1: 99.0}   # untouched by a's truncate


def test_truncate_wipes_collapsing_and_append_sinks(spark, tmp_path):
    """R10 for the other engines: the signed log (and its per-key
    carry side state) and the append log are wiped, not left carrying
    pre-truncate rows — and the first post-truncate change per key
    sees NO carry."""
    from pg2ch_spark.cdc.merge_sink import merge_batch
    from pg2ch_spark.pipeline import _AppendSink, _CollapsingSink

    batches = [
        [(1, 1, "I", 10.0), (1, 2, "U", 11.0)],
        [(None, 3, "T", None), (1, 4, "I", 30.0)],
    ]

    ap = _AppendSink(spark, str(tmp_path / "ap"), "key", "sign")
    cs = _CollapsingSink(spark, str(tmp_path / "cs"), "key", "sign")
    for e, rows in enumerate(batches):
        df = _cdc_batch(spark, rows)
        merge_batch(ap, df, epoch_id=e)
        merge_batch(cs, df, epoch_id=e)

    ap_rows = [(r.key, r.op) for r in ap.final().collect()]
    assert ap_rows == [(1, "I")]  # only the post-truncate insert

    cs_final = {r.key: r.net for r in cs.final().collect()}
    assert cs_final == {1: 1}  # one +1, no −1 from a wiped carry
    # the signed log itself holds exactly the post-truncate +1 row:
    # a surviving carry would have emitted a −1 with the OLD value
    log = [(r.key, r.sign, r.value) for r in cs.state().collect()]
    assert log == [(1, 1, 30.0)]

    # at-least-once replay of the truncate epoch converges identically
    merge_batch(ap, _cdc_batch(spark, batches[1]), epoch_id=1)
    merge_batch(cs, _cdc_batch(spark, batches[1]), epoch_id=1)
    assert [(r.key, r.op) for r in ap.final().collect()] == [(1, "I")]
    assert {r.key: r.net for r in cs.final().collect()} == {1: 1}


@pytest.mark.parametrize("with_marker", [False, True])
def test_truncate_horizon_is_one_job(spark, count_jobs, with_marker):
    """The horizon read runs on every micro-batch, marker or not, so it
    is one collect of the marker rows, not a two-stage aggregate."""
    from pg2ch_spark.cdc.merge_sink import truncate_horizon

    rows = [(1, 1, "I", 10.0), (2, 5, "U", 20.0), (3, 6, "I", 30.0)]
    if with_marker:
        rows += [(None, 2, "T", None), (None, 4, "T", None)]
    df = _cdc_batch(spark, rows)
    jobs, horizon = count_jobs(truncate_horizon, df, "ver")
    assert jobs == 1
    assert horizon == (4 if with_marker else None)


def test_batch_hook_sees_post_horizon_batches(spark, tmp_path):
    """The hook contract: every engine's hook call gets the batch the
    sink merged — no marker row, no row at or before the marker — and
    ``truncated`` is True exactly for the marker's epoch. The state is
    the rows after the last marker, per engine."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = [
        [(1, 1, "I", 10.0), (2, 2, "I", 20.0), (3, 3, "I", 30.0), (1, 4, "U", 11.0)],
        [
            (2, 5, "U", 21.0), (4, 6, "I", 40.0), (None, 7, "T", None),
            (1, 8, "I", 12.0), (2, 9, "I", 22.0), (1, 10, "U", 13.0),
        ],
        [(3, 11, "I", 31.0), (2, 12, "D", None), (4, 13, "I", 41.0), (3, 14, "U", 32.0)],
    ]
    marker = 7
    specs = [
        TableSpec(main_table="t_plain"),
        TableSpec(main_table="t_bucketed", merge_threshold=2, n_buckets=4),
        TableSpec(main_table="t_collapsing", engine="CollapsingMergeTree"),
        TableSpec(main_table="t_append", engine="MergeTree"),
    ]
    spool = tmp_path / "spool"
    os.makedirs(spool)
    for i, rows in enumerate(files):
        rows = [(s.main_table, *r) for s in specs for r in rows]
        cols = list(zip(*rows))
        path = str(spool / f"cdc-{i:016x}.parquet")
        pq.write_table(
            pa.table(
                {
                    "table": pa.array(cols[0], pa.string()),
                    "key": pa.array(cols[1], pa.int64()),
                    "ver": pa.array(cols[2], pa.int64()),
                    "op": pa.array(cols[3], pa.string()),
                    "value": pa.array(cols[4], pa.float64()),
                }
            ),
            path,
        )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))  # file order

    seen = []

    def hook(spec, batch_df, truncated, epoch_id):
        rows = [(r.ver, r.op) for r in batch_df.collect()]
        seen.append((spec.main_table, epoch_id, truncated, rows))

    state_root = str(tmp_path / "state")
    res = run_pipeline(
        spark, specs, str(spool), state_root,
        max_files_per_trigger=1, source_format="cdc", batch_hook=hook,
    )
    assert res.batches == {s.main_table: 3 for s in specs}
    for spec in specs:
        calls = sorted(c[1:] for c in seen if c[0] == spec.main_table)
        assert [(e, t) for e, t, _ in calls] == [(0, False), (1, True), (2, False)]
        for epoch, _, rows in calls:
            assert all(op != "T" for _, op in rows), (spec.main_table, rows)
            if epoch >= 1:
                assert rows and all(v > marker for v, _ in rows), rows

    after = [r for rows in files for r in rows if r[1] > marker]
    latest = {}
    for r in after:
        latest[r[0]] = r
    net = {}
    for k, _, op, _ in after:
        net[k] = net.get(k, 0) + {"I": 1, "D": -1}.get(op, 0)

    def got(spec):
        return read_state(spark, spec, state_root).collect()

    for spec in specs[:2]:
        assert {tuple(r) for r in got(spec)} == set(latest.values())
    assert {r.key: r.net for r in got(specs[2])} == {
        k: n for k, n in net.items() if n > 0
    }
    assert sorted(
        (r.key, r.ver, r.op, r.value) for r in got(specs[3])
    ) == sorted(after)


def test_concurrent_tables_match_serial(spark, tmp_path):
    """max_concurrent_tables > 1 runs independent table streams side by
    side; the replicated states must be IDENTICAL to the serial run —
    per-table checkpoints, sinks and route filters share nothing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2ch_spark.pipeline import TableSpec, run_pipeline

    spool = tmp_path / "spool"
    os.makedirs(spool)
    rows = []
    for t in ("a", "b", "c"):
        for k in range(1, 6):
            rows.append((t, k, k, "I", float(k) * 1.5))
            rows.append((t, k, k + 100, "U", float(k) * 2.5))
    pq.write_table(
        pa.table({
            "table": pa.array([r[0] for r in rows], pa.string()),
            "key": pa.array([r[1] for r in rows], pa.int64()),
            "ver": pa.array([r[2] for r in rows], pa.int64()),
            "op": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        }),
        str(spool / f"cdc-{0x90:016x}.parquet"),
    )
    specs = lambda: [  # noqa: E731 — fresh specs per run
        TableSpec(main_table="a"),
        TableSpec(main_table="b", merge_threshold=2),
        TableSpec(main_table="c", engine="MergeTree"),
    ]
    serial = run_pipeline(
        spark, specs(), str(spool), str(tmp_path / "s1"), source_format="cdc"
    )
    conc = run_pipeline(
        spark, specs(), str(spool), str(tmp_path / "s2"),
        source_format="cdc", max_concurrent_tables=3,
    )
    assert serial.batches == conc.batches
    for spec in specs():
        s = read_state(spark, spec, str(tmp_path / "s1")).collect()
        c = read_state(spark, spec, str(tmp_path / "s2")).collect()
        assert sorted(map(tuple, s)) == sorted(map(tuple, c)), spec.main_table


# ---------------------------------------------------------------------------
# Fixed Spark work per micro-batch: sink state reads launch no job
# (merge_sink.read_parquet takes the schema from a footer on the
# driver), and the bucketed flush is one shuffle.

_FOUR_ENGINES = [
    TableSpec(main_table="t_replacing"),
    TableSpec(main_table="t_bucketed", n_buckets=4),
    TableSpec(main_table="t_collapsing", engine="CollapsingMergeTree"),
    TableSpec(main_table="t_append", engine="MergeTree"),
]


@pytest.mark.parametrize("spec", _FOUR_ENGINES, ids=lambda s: s.main_table)
def test_read_state_launches_no_job(spark, tmp_path, count_jobs, spec):
    from pg2ch_spark.cdc.merge_sink import merge_batch
    from pg2ch_spark.pipeline import build_sink

    root = str(tmp_path / "state")
    batches = [
        [(1, 1, "I", 10.0), (2, 2, "I", 20.0), (3, 3, "I", 30.0)],
        [(1, 4, "U", 11.0), (2, 5, "D", 20.0)],
    ]
    for epoch, rows in enumerate(batches):
        merge_batch(build_sink(spark, spec, root), _cdc_batch(spark, rows), epoch)
    jobs, state = count_jobs(read_state, spark, spec, root)
    assert jobs == 0
    if spec.engine == "CollapsingMergeTree":
        assert {r.key: r.net for r in state.collect()} == {1: 1, 3: 1}
    elif spec.engine == "MergeTree":
        assert state.count() == 5
    else:
        got = {r.key: (r.ver, r.op) for r in state.collect()}
        assert got == {1: (4, "U"), 2: (5, "D"), 3: (3, "I")}


def test_bucketed_flush_into_state_is_five_jobs(spark, tmp_path, count_jobs):
    """A bucketed merge that flushes into existing buckets: the buffer
    append (1), the touched-bucket probe (2) and the one-shuffle merge
    write (2). Reading the buffer and the touched buckets adds none."""
    from pg2ch_spark.cdc.merge_sink import BucketedMergeSink

    sink = BucketedMergeSink(
        spark, str(tmp_path / "b"), "key", "ver", merge_every=1, n_buckets=4
    )
    sink.merge(_cdc_batch(spark, [(k, k, "I", float(k)) for k in range(40)]))
    delta = _cdc_batch(spark, [(k, 100 + k, "U", -1.0) for k in range(0, 40, 3)])
    jobs, _ = count_jobs(sink.merge, delta)
    assert jobs == 5
    got = {r.key: r.ver for r in sink.state().collect()}
    assert got == {k: (100 + k if k % 3 == 0 else k) for k in range(40)}


def test_replacing_merge_over_state_is_two_jobs(spark, tmp_path, count_jobs):
    """The argmax window's shuffle and the commit write; reading the
    existing state launches no job."""
    from pg2ch_spark.cdc.merge_sink import ReplacingMergeSink

    sink = ReplacingMergeSink(spark, str(tmp_path / "r"), "key", "ver")
    sink.merge(_cdc_batch(spark, [(k, k, "I", float(k)) for k in range(10)]))
    jobs, _ = count_jobs(sink.merge, _cdc_batch(spark, [(3, 50, "U", -3.0)]))
    assert jobs == 2
    got = {r.key: r.value for r in sink.state().collect()}
    assert got == {k: (-3.0 if k == 3 else float(k)) for k in range(10)}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_read_parquet_falls_back_without_spark_footer(spark, tmp_path):
    """A dir pyarrow wrote carries no Spark schema key: the read infers,
    giving exactly what `spark.read.parquet` gives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2ch_spark.cdc.merge_sink import read_parquet

    d = tmp_path / "pa"
    os.makedirs(d)
    pq.write_table(
        pa.table({"key": pa.array([1, 2], pa.int64()), "v": ["a", None]}),
        str(d / "part-0.parquet"),
    )
    got, want = read_parquet(spark, str(d)), spark.read.parquet(str(d))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want) == [(1, "a"), (2, None)]


def test_read_parquet_typed_state_schema_equals_inferred(
    spark, tmp_path, count_jobs
):
    """The footer schema of a typed Replacing state is the inferred one:
    decimal, date, timestamp and array columns keep their types."""
    import datetime as dt
    from decimal import Decimal

    from pg2ch_spark.cdc.merge_sink import ReplacingMergeSink, read_parquet
    from pg2ch_spark.cdc.typed_query import _TYPED_COLUMNS

    cols = ", ".join(f"{n} {t}" for n, t in _TYPED_COLUMNS.items())
    batch = spark.createDataFrame(
        [
            (1, 1, "I", Decimal("19.99"), dt.date(2024, 1, 2),
             dt.datetime(2024, 1, 2, 3, 4, 5), "u1", [1, 7]),
            (2, 2, "I", None, None, None, None, None),
        ],
        f"key bigint, ver bigint, op string, {cols}",
    )
    path = str(tmp_path / "typed")
    ReplacingMergeSink(spark, path, "key", "ver").merge(batch)
    jobs, got = count_jobs(read_parquet, spark, path)
    assert jobs == 0
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_read_parquet_walks_into_partition_dirs(spark, tmp_path, count_jobs):
    """A `_b=` partitioned staging dir: the leading `_` marks metadata
    only on names without `=`, so the walk finds the part files below."""
    import pyspark.sql.functions as F

    from pg2ch_spark.cdc.merge_sink import read_parquet

    staging = str(tmp_path / "staging")
    (
        _cdc_batch(spark, [(k, k, "I", float(k)) for k in range(8)])
        .withColumn("_b", F.pmod(F.col("key"), F.lit(3)))
        .write.partitionBy("_b")
        .parquet(staging)
    )
    top = os.listdir(staging)
    assert {n for n in top if "=" in n} == {"_b=0", "_b=1", "_b=2"}
    assert not any(n.endswith(".parquet") for n in top)
    jobs, got = count_jobs(read_parquet, spark, staging)
    assert jobs == 0
    want = spark.read.parquet(staging)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
