"""Structured Streaming test runner: deterministic availableNow replays.

pg2ch's consumer loop (`pkg/consumer`) reads the WAL stream until caught
up; `Trigger.AvailableNow` is the Spark-native equivalent — process all
available input, then stop. The checkpoint directory plays the role of
pg2ch's kvstorage (R13): offsets + state survive restarts, giving
at-least-once delivery into idempotent sinks (same convergence argument
as CH collapsing/replacing merges).

Two collection strategies:
- ``replay_available_now``: row-preserving transforms → foreachBatch
  appends to a parquet dir (a real distributed sink; scale-safe).
- ``run_complete_to_df``: streaming aggregations → memory sink in
  complete mode (test-only; in production this is foreachBatch into a
  merge sink, see pg2ch_spark.cdc.merge_sink).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class _few_state_partitions:
    """Temporarily tune session confs while a streaming query plans/runs.

    - Shuffle partitions: the state store creates one instance per
      shuffle partition per stateful operator; at test scale 32
      partitions ≈ 32 near-empty state stores whose per-batch commit
      overhead dominates. (The partition count is baked into the
      checkpoint at first run — production jobs size it to the cluster
      up front.)
    - No-data micro-batches: availableNow appends a trailing empty
      batch to advance the watermark; our replay harness reads final
      state after termination, so it is pure overhead (~0.1s/query
      measured). Append-mode production jobs that rely on watermark-
      driven finalization must leave it on — hence scoped here, not in
      catalog.tune().
    - RocksDB state store (``rocksdb=True``): the default
      HDFSBackedStateStoreProvider is an IN-HEAP hashmap that cannot
      spill — a 150M-key dedup state (the 1000× probe) OOMed the JVM
      from the state-store maintenance thread. RocksDB keeps state
      off-heap on local disk, the production provider for any state
      that scales with KEY CARDINALITY (dedup ids, per-user folds,
      stream-stream join buffers). Window-bounded aggregate states
      (|windows × types| entries) stay on the in-heap provider — it is
      ~0.5-1 s/query cheaper and those states cannot grow with the
      corpus. Baked into the checkpoint like the partition count.
    """

    _CONFS = {
        "spark.sql.shuffle.partitions": None,  # filled per-instance
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }

    _ROCKSDB_CONFS = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        # commit a changelog instead of snapshotting the full store
        # per batch (snapshots compact in the background)
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
            "true",
    }

    def __init__(self, spark: SparkSession, n: int | None = None, rocksdb: bool = False):
        self.spark = spark
        # Precedence: SPARK_GRAFT_STATE_PARTITIONS env (explicit cluster
        # sizing) > per-query tuned ``n`` > 2. The per-query values are
        # TEST-SCALE tunings (at sf0.1, 2 beats 8 by 0.3-1.2 s/query —
        # state-store commit overhead scales with instance count over a
        # few thousand keys); at real scale the partition count IS the
        # stateful operator's parallelism and must size to the cluster:
        # the round-7 stream_session sweep at 1000× measured 4→374.7 s
        # vs 32→118.0 s (same changelog setting) — the flagged cost was
        # partition starvation, not provider overhead (BASELINE.md).
        env = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
        self.n = int(env) if env is not None else (n if n is not None else 2)
        self.rocksdb = rocksdb
        self.old: dict[str, str | None] = {}

    def __enter__(self):
        targets = dict(self._CONFS)
        if self.rocksdb:
            targets.update(self._ROCKSDB_CONFS)
        targets["spark.sql.shuffle.partitions"] = str(self.n)
        for key, val in targets.items():
            self.old[key] = self.spark.conf.get(key, None)
            self.spark.conf.set(key, val)
        return self

    def __exit__(self, *exc):
        for key, val in self.old.items():
            if val is not None:
                self.spark.conf.set(key, val)
            else:
                self.spark.conf.unset(key)


def scratch_dir(prefix: str) -> str:
    """Scratch space for checkpoints/staging: tmpfs when available.

    Streaming state-store commits and checkpoint writes are fsync-heavy
    small-file I/O — on-disk /tmp adds ~0.1-0.3s per micro-batch. The
    checkpoint contents here are replayable test/bench state, so tmpfs
    durability is sufficient; production jobs point this at durable
    shared storage via SPARK_GRAFT_SCRATCH.
    """
    base = os.environ.get("SPARK_GRAFT_SCRATCH")
    if base is None and os.path.isdir("/dev/shm"):
        base = "/dev/shm"
    return tempfile.mkdtemp(prefix=prefix, dir=base)


# parquet-sink RESULT dirs: they must outlive their run_complete_to_df
# call (the caller reads them lazily), so they cannot be reclaimed
# inline — but leaving them behind leaked one result copy per
# invocation, and on the tmpfs scratch base that leak is RAM across a
# bench loop. Policy: results go to REAL DISK (never the tmpfs base —
# the fsync argument for tmpfs applies to checkpoint small-file I/O,
# not to a result written once and read once); a NEW result for the
# same prefix (≙ query key) reclaims its predecessor — so a long-lived
# process that re-runs queries holds at most ONE result copy per key,
# not one per invocation (ADVICE r6) — and whatever remains is
# reclaimed at interpreter exit. Callers that must keep a prior
# result past a re-run materialize it (localCheckpoint), which every
# registered query already does.
_RESULT_DIRS: dict[str, str] = {}


def _reclaim_result_dirs() -> None:
    while _RESULT_DIRS:
        shutil.rmtree(_RESULT_DIRS.popitem()[1], ignore_errors=True)


def result_dir(prefix: str, key: str | None = None) -> str:
    """Disk-backed scratch for a streaming RESULT that outlives its
    query (see _RESULT_DIRS policy note). ``key`` identifies the QUERY
    (distinct queries never reclaim each other, concurrent suites
    included); a re-run of the same key reclaims its predecessor.
    ``key=None`` tracks the dir for exit-time reclaim only."""
    if not _RESULT_DIRS:
        atexit.register(_reclaim_result_dirs)
    d = tempfile.mkdtemp(prefix=prefix)  # tempfile default: real /tmp
    if key is not None:
        prev = _RESULT_DIRS.pop(key, None)
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        _RESULT_DIRS[key] = d
    else:
        _RESULT_DIRS[d] = d
    return d


def release_result_dir(d: str) -> None:
    """Explicit reclaim for callers that consumed a result and will not
    re-run its query (bounds /tmp even without a re-run or clean exit)."""
    for key, val in list(_RESULT_DIRS.items()):
        if val == d:
            del _RESULT_DIRS[key]
    shutil.rmtree(d, ignore_errors=True)


def _num_input_rows(progress) -> int:
    """numInputRows across PySpark progress representations (object
    attribute in 4.x, plain dict in older json-parsed forms)."""
    try:
        return int(progress.numInputRows)
    except AttributeError:
        return int(progress["numInputRows"])


def _stream_source(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    df, _ = _stream_source_managed(spark, path, schema)
    return df


def _stream_source_managed(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> tuple[DataFrame, str | None]:
    """Stream source plus the scratch dir backing it (None if the path
    was already a directory) so callers can reclaim it after the query
    terminates. The file stream source requires a directory; the
    fixtures are single parquet files, so expose one through a temp dir
    of symlinks (in production this is a real directory of parts / a
    Kafka topic). ``max_files_per_trigger`` caps the files per
    micro-batch (1 = one file per batch, the shape a continuous daemon
    sees)."""
    d = None
    if os.path.isfile(path):
        d = scratch_dir("pg2ch_streamsrc_")
        os.symlink(path, os.path.join(d, os.path.basename(path)))
        path = d
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path), d


def replay_available_now(
    spark: SparkSession,
    path: str,
    schema: StructType,
    transform: Callable[[DataFrame], DataFrame],
    *,
    rocksdb: bool = False,
) -> DataFrame:
    """Replay a parquet path as a file stream; collect transformed rows.

    foreachBatch writes each micro-batch to a parquet staging dir (the
    pg2ch buffer-table analog, R8) which is read back as the result.
    ``rocksdb=True`` for transforms whose state scales with key
    cardinality (see _few_state_partitions).
    """
    out = scratch_dir("pg2ch_replay_out_")
    ckpt = scratch_dir("pg2ch_replay_ckpt_")
    shutil.rmtree(out, ignore_errors=True)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    src, src_dir = _stream_source_managed(spark, path, schema)
    with _few_state_partitions(spark, rocksdb=rocksdb):
        q = (
            transform(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if src_dir:
        shutil.rmtree(src_dir, ignore_errors=True)
    # Materialize so the staging dir can be reclaimed immediately (a
    # lazy read would pin it for the result's lifetime).
    result = spark.read.parquet(out).localCheckpoint(eager=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    return result


def run_complete_to_df(
    spark: SparkSession,
    path: str,
    schema: StructType,
    transform: Callable[[DataFrame], DataFrame],
    *,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    rocksdb: bool = False,
    parquet_sink: bool = False,
) -> DataFrame:
    """Run a streaming aggregation to completion; return the final result.

    Memory sink (or a parquet spill sink), availableNow trigger. The
    query name is unique per run so repeated invocations in one session
    don't collide. ``state_partitions`` overrides the local default
    (2): JVM-side stateful aggs want few state stores, but Python-heavy
    stateful operators (applyInPandasWithState) parallelize per
    partition and want more. ``rocksdb=True`` for key-cardinality state
    (see _few_state_partitions). ``parquet_sink=True`` when the RESULT
    is corpus-scale (one row per user/session): the memory sink holds
    every result row in JVM heap — the 1000× probe OOMed collecting
    ~10M session rows — while the parquet sink streams each (complete
    re-)emission to disk, overwriting the previous one.
    """
    name = f"pg2ch_mem_{uuid.uuid4().hex[:12]}"
    ckpt = scratch_dir("pg2ch_mem_ckpt_")
    out = (
        # keyed by the calling query (the transform closure's qualname
        # names its enclosing query function): a long-lived process
        # re-running the same query holds ONE result copy per query
        result_dir("pg2ch_mem_out_", key=getattr(transform, "__qualname__", None))
        if parquet_sink
        else None
    )
    src, src_dir = _stream_source_managed(spark, path, schema)
    with _few_state_partitions(spark, state_partitions, rocksdb=rocksdb):
        tdf = transform(src)
        writer = tdf.writeStream
        if parquet_sink:
            writer = writer.foreachBatch(
                lambda batch_df, _eid: batch_df.write.mode("overwrite").parquet(out)
            )
        else:
            writer = writer.format("memory").queryName(name)
        q = (
            writer.outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if output_mode != "complete":
        # The memory sink in update/append mode APPENDS every
        # re-emission of a key (and the parquet sink OVERWRITES with
        # only the updated keys), so reading the sink as the final
        # answer is only correct when exactly one data micro-batch ran.
        # Our single-file sources guarantee that; a >1000-file source
        # dir or maxFilesPerTrigger would silently break it — enforce
        # the assumption instead of relying on it.
        data_batches = sum(1 for p in q.recentProgress if _num_input_rows(p) > 0)
        if data_batches > 1:
            raise AssertionError(
                f"{'parquet' if parquet_sink else 'memory'} sink in "
                f"{output_mode} mode saw {data_batches} data batches; "
                "re-updated keys would appear as stale or lost rows. "
                "Use a keyed merge sink (cdc.merge_sink) for multi-batch runs."
            )
    if parquet_sink:
        # The result stays DISK-backed: re-materializing a corpus-scale
        # result through localCheckpoint would pull every row back into
        # JVM RDD blocks — the exact heap residency this sink exists to
        # avoid. The result dir therefore outlives this call (real
        # disk, reclaimed at interpreter exit — see result_dir); it
        # holds exactly one copy of the result, nothing more.
        if not any(f.endswith(".parquet") for f in os.listdir(out)):
            # zero data micro-batches: foreachBatch never wrote, and
            # schema inference over an empty dir throws where the
            # memory-sink path returned an empty typed result — match it
            result = spark.createDataFrame([], tdf.schema)
        else:
            result = spark.read.parquet(out)
    else:
        # Materialize before the temp view could be replaced by a later
        # run; memory-sink results are small by contract.
        result = spark.table(name).localCheckpoint(eager=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    if src_dir:
        shutil.rmtree(src_dir, ignore_errors=True)
    return result
