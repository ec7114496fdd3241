"""CH-style merge sink for foreachBatch (SURVEY §4.3.1).

pg2ch's flush-and-merge path (R8/R9/R12: in-memory buffer → CH buffer
table → `INSERT INTO main SELECT … FROM buffer` + truncate) maps to
Structured Streaming's foreachBatch: each micro-batch is merged
idempotently into a keyed state table. The checkpoint dir supplies the
at-least-once replay guard pg2ch gets from kvstorage-persisted LSNs —
replays converge because the merge is an argmax by version
(ReplacingMergeTree semantics, `pkg/tableengines/replacingMergeTree.go`).

Locally the state table is a parquet dir rewritten per batch. At scale
the identical ``merge`` plan targets a transactional sink (Delta/Iceberg
MERGE INTO, or a ClickHouse JDBC writer feeding a real
ReplacingMergeTree) — only ``_commit`` changes, not the dataflow.

Every sink's ``merge`` takes post-horizon batches; :func:`merge_batch`
is the one place a micro-batch's TRUNCATE markers (R10) are applied.
Sink state is read through :func:`read_parquet`, which launches no
Spark job.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.types import StructType

# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _listed(name: str) -> bool:
    """Spark's file-listing filter: `_`/`.` names are metadata (the
    `_SUCCESS` marker, `.crc` files), except `k=v` partition dirs."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def _first_part_file(path: str) -> str | None:
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if _listed(d))
        for f in sorted(files):
            if _listed(f):
                return os.path.join(root, f)
    return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job.

    Inference runs a one-task Spark job to read one file footer; on a
    sink that reads its state on every micro-batch that job is pure
    fixed cost. The same footer holds the schema Spark wrote, so it is
    read here on the driver (one part file, pyarrow) and handed to the
    reader. Files Spark did not write carry no such key and fall back
    to the inferring read."""
    import pyarrow.parquet as pq

    part = next(
        (f for f in map(_first_part_file, paths) if f is not None), None
    )
    meta = (pq.read_schema(part).metadata or {}) if part is not None else {}
    if _SPARK_SCHEMA_KEY not in meta:
        return spark.read.parquet(*paths)
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(*paths)


def truncate_horizon(df: DataFrame | None, ver_col: str):
    """Highest TRUNCATE-marker version in ``df`` (op == 'T'), or None.

    pg2ch R10: a truncate wipes everything ordered before it — the
    marker's version IS the horizon, and the rows that survive a
    micro-batch are exactly those with ``ver > horizon`` (the last
    marker subsumes earlier ones; markers sit AT their own horizon so
    they never persist). One job: the marker rows' versions are
    collected (one row per marker, so the collect stays tiny) and the
    max is taken on the driver — a global aggregate would cost a
    shuffle stage more, on every batch, marker or not.

    Ordering contract: the horizon is read from the INCOMING batch and
    is not persisted, so a wipe of whatever a sink has stored is only
    correct because of Structured Streaming's commit order — replays
    re-deliver only the last uncommitted epoch, in order, so nothing a
    sink holds when a marker arrives is newer than the marker (the
    property the epoch-snapshot machinery in pipeline._CollapsingSink
    also depends on). A sink fed arbitrarily re-ordered history would
    need a persisted horizon; argmax-by-version alone is order-free,
    truncate is not."""
    if df is None or "op" not in df.columns:
        return None
    rows = df.where(F.col("op") == "T").select(ver_col).collect()
    return max((v for (v,) in rows if v is not None), default=None)


def merge_batch(sink, batch_df: DataFrame, epoch_id: int | None = None):
    """The R10 entry point for one micro-batch: ``(batch', truncated)``.

    With a TRUNCATE marker in ``batch_df``, ``sink.truncate()`` wipes
    everything the sink has stored and only the rows after the last
    marker are merged; without one the batch is merged as is. Either
    way ``batch'`` is what the sink received — the post-horizon delta a
    remote consumer (the daemon's ClickHouse fan-out) ships after its
    own TRUNCATE when ``truncated``. Correct only under the ordering
    contract of :func:`truncate_horizon`: a replay of the marker's
    epoch re-wipes and relands the same rows. Every sink's ``merge``
    takes post-horizon batches only; a caller whose events can hold no
    marker may call ``merge`` directly."""
    horizon = truncate_horizon(batch_df, sink.ver_col)
    truncated = horizon is not None
    if truncated:
        sink.truncate()
        batch_df = batch_df.where(F.col(sink.ver_col) > horizon)
    sink.merge(batch_df, epoch_id)
    return batch_df, truncated


class ReplacingMergeSink:
    """Idempotent merge-by-key sink: state converges to argmax(ver) per key."""

    def __init__(self, spark: SparkSession, path: str, key_col: str, ver_col: str):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.ver_col = ver_col

    def state(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            # Crash recovery: _commit renames current -> .old before
            # promoting staging. A failure between the two renames
            # leaves only .old — and the streaming checkpoint has
            # already acked earlier batches, so losing it would break
            # the at-least-once-but-convergent contract. Promote it
            # back; the in-flight batch replays from the checkpoint.
            old = self.path + ".old"
            if os.path.exists(old):
                os.rename(old, self.path)
            else:
                return None
        return read_parquet(self.spark, self.path)

    def _latest_per_key(self, df: DataFrame, *within: str) -> DataFrame:
        """ReplacingMergeTree semantics: argmax(ver) row per key (per
        ``within`` columns first, when given)."""
        w = Window.partitionBy(*within, self.key_col).orderBy(
            F.col(self.ver_col).desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def merge(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        """foreachBatch entry point: union existing state + batch, keep the
        max-version row per key, commit atomically. Re-running the same
        batch (at-least-once replay) is a no-op by construction. Takes
        post-horizon batches: :func:`merge_batch` applies TRUNCATE
        markers (R10) before calling it."""
        current = self.state()
        merged = batch_df if current is None else current.unionByName(batch_df)
        self._commit(self._latest_per_key(merged))

    def truncate(self) -> None:
        """R10: drop all stored state (the committed table and any
        crash-window ``.old``, first, so ``state()`` cannot promote it
        back after a crash between the two removals)."""
        shutil.rmtree(self.path + ".old", ignore_errors=True)
        shutil.rmtree(self.path, ignore_errors=True)

    def _commit(self, df: DataFrame) -> None:
        """Two-rename commit; any single crash point loses at most the
        in-flight batch (replayed from the checkpoint): before the first
        rename the current state is intact; between renames ``state()``
        recovers from ``.old``; after the second rename the stale
        ``.old`` is swept here on the next commit."""
        tmp = self.path + ".staging"
        df.write.mode("overwrite").parquet(tmp)
        old = self.path + ".old"
        shutil.rmtree(old, ignore_errors=True)  # stale leftover from a crash
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)


class BufferedMergeSink(ReplacingMergeSink):
    """Two-tier buffer→merge sink — pg2ch's actual flush topology.

    The reference inserts every flush into a ClickHouse *buffer table*
    and only merges into the main table after ``merge_threshold``
    flushes (R8/R9). The single-tier ``ReplacingMergeSink`` re-reads
    and rewrites the WHOLE state per micro-batch — convergent but
    O(total state × n_batches). Here each batch is an O(batch) parquet
    append to the buffer dir; the O(state) replacing merge runs every
    ``merge_every`` batches (and on demand), so the amortized write
    cost per batch is O(batch + state/merge_every).

    Convergence under at-least-once replay is inherited: a replayed
    batch appends duplicate rows to the buffer, and the argmax-by-
    version merge collapses them. Crash windows: a crash between the
    merge commit and the buffer truncate re-merges the same buffer —
    idempotent; a crash mid-append loses only the in-flight batch,
    which the streaming checkpoint replays.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        ver_col: str,
        merge_every: int = 4,
    ):
        super().__init__(spark, path, key_col, ver_col)
        self.buffer_path = path + ".buffer"
        self.merge_every = merge_every
        # The pending-batch count is DISK-backed (a dot-file inside the
        # buffer dir — invisible to Spark's listing): the daemon builds
        # a FRESH sink per pass, and an in-memory counter would reset to
        # 0 every pass, so a continuously-active table below
        # merge_every batches PER PASS would never reach the threshold
        # and its buffer would grow without bound. Worst case of a
        # crash between parquet append and counter write is one
        # undercounted batch — the next merge or the inactivity timer
        # still collapses it (argmax is count-insensitive).
        self._counter_path = os.path.join(self.buffer_path, ".batches")
        self._batches_buffered = self._read_counter()
        self.merges_done = 0

    def _read_counter(self) -> int:
        try:
            with open(self._counter_path) as f:
                return int(f.read().strip() or 0)
        except (OSError, ValueError):
            return 0

    def _write_counter(self, n: int) -> None:
        tmp = self._counter_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(n))
        os.replace(tmp, self._counter_path)

    def merge(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        """O(batch): append to the buffer tier; merge only at threshold."""
        batch_df.write.mode("append").parquet(self.buffer_path)
        self._batches_buffered += 1
        self._write_counter(self._batches_buffered)
        if self._batches_buffered >= self.merge_every:
            self.flush()

    def truncate(self) -> None:
        """R10 across both tiers: the buffered batches predate the
        marker as much as the main table does."""
        super().truncate()
        shutil.rmtree(self.buffer_path, ignore_errors=True)
        self._batches_buffered = 0

    def flush(self) -> None:
        """Replacing-merge the buffer tier into the main state table."""
        if not os.path.exists(self.buffer_path):
            return
        buf = read_parquet(self.spark, self.buffer_path)
        current = super().state()
        merged = buf if current is None else current.unionByName(buf)
        self._commit(self._latest_per_key(merged))
        shutil.rmtree(self.buffer_path, ignore_errors=True)
        self._batches_buffered = 0
        self.merges_done += 1

    def state(self) -> DataFrame | None:
        """Merged view: forces a flush so reads see all buffered batches
        (pg2ch reads only the main table; its readers tolerate buffer
        lag — a FINAL-style read here keeps the test contract exact)."""
        self.flush()
        return super().state()


class BucketedMergeSink(BufferedMergeSink):
    """Buffer→merge sink whose compaction is O(touched state), not
    O(total state) — the production MERGE shape.

    `BufferedMergeSink` amortizes the per-batch cost, but its flush
    still rewrites the WHOLE main state: at 100 TB of keyed state a
    micro-batch touching 0.1% of keys would rewrite 100 TB. Real
    engines avoid that by file-level pruning (Delta/Iceberg MERGE INTO
    rewrites only data files containing matched keys; ClickHouse merges
    per-part). This sink implements the same idea directly: main state
    lives in ``n_buckets`` fixed hash buckets of the key
    (``pmod(xxhash64(key), n)``, one parquet dir ``b<i>`` each — plain
    names, so no partition-discovery column leaks into the schema), and
    a flush

    1. lists the buffer's DISTINCT buckets (≤ n_buckets ints — the only
       driver-side data, bounded by construction),
    2. replacing-merges the raw buffer + existing state FOR THOSE
       BUCKETS ONLY with one shuffle: hash-partitioned on the bucket,
       argmax per (bucket, key) — that partitioning and ordering also
       serve the bucket-partitioned staging write, which adds no
       shuffle or sort of its own,
    3. promotes each touched bucket with the two-rename protocol.

    Untouched buckets are never read, never written. At scale
    n_buckets is sized so a bucket ≈ a compaction unit (e.g. 4096
    buckets over 100 TB → ~25 GB rewrites per touched bucket).

    Convergence under at-least-once replay is inherited: the bucket
    renames are not atomic as a group, but a crash anywhere before the
    buffer truncate re-runs the same flush, and re-merging an
    already-merged delta is a no-op by argmax(ver). Per-bucket ``.old``
    recovery mirrors ``ReplacingMergeSink.state()``. ``truncate()`` is
    inherited: every bucket dir (and its ``.old``) lives under ``path``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        ver_col: str,
        merge_every: int = 4,
        n_buckets: int = 16,
    ):
        super().__init__(spark, path, key_col, ver_col, merge_every)
        self.n_buckets = n_buckets
        self.buckets_rewritten = 0  # cumulative, for pruning assertions

    def _bucket_expr(self) -> Column:
        """THE routing hash — the probe's touched-set and the actual
        bucket assignment must come from this one expression or they
        silently drift (and the flush would merge against the wrong
        existing buckets)."""
        return F.pmod(F.xxhash64(self.key_col), F.lit(self.n_buckets))

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("_b", self._bucket_expr())

    def _bucket_dir(self, b: int) -> str:
        return os.path.join(self.path, f"b{b}")

    def _recover_bucket(self, b: int) -> str | None:
        """Promote a crash-window ``.old`` back, return the dir if it
        holds data."""
        bdir = self._bucket_dir(b)
        if not os.path.exists(bdir) and os.path.exists(bdir + ".old"):
            os.rename(bdir + ".old", bdir)
        return bdir if os.path.exists(bdir) else None

    def flush(self) -> None:
        if not os.path.exists(self.buffer_path):
            return
        buf = read_parquet(self.spark, self.buffer_path)
        # collect_set is bounded by n_buckets ints
        touched = sorted(
            buf.agg(F.collect_set(self._bucket_expr())).collect()[0][0]
        )
        existing = [
            d for d in (self._recover_bucket(b) for b in touched) if d is not None
        ]
        merged = self._bucket(buf)
        if existing:
            current = self._bucket(read_parquet(self.spark, *existing))
            merged = current.unionByName(merged)
        staging = self.path + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        (
            self._latest_per_key(merged.repartition(max(len(touched), 1), "_b"), "_b")
            .write.partitionBy("_b")
            .mode("overwrite")
            .parquet(staging)
        )
        os.makedirs(self.path, exist_ok=True)
        for b in touched:
            src = os.path.join(staging, f"_b={b}")
            if not os.path.exists(src):
                continue  # defensive: argmax keeps ≥1 row per delta key
            bdir = self._bucket_dir(b)
            old = bdir + ".old"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(bdir):
                os.rename(bdir, old)
            os.rename(src, bdir)
            shutil.rmtree(old, ignore_errors=True)
            self.buckets_rewritten += 1
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(self.buffer_path, ignore_errors=True)
        self._batches_buffered = 0
        self.merges_done += 1

    def state(self) -> DataFrame | None:
        self.flush()
        dirs = [
            d
            for d in (self._recover_bucket(b) for b in range(self.n_buckets))
            if d is not None
        ]
        if not dirs:
            return None
        return read_parquet(self.spark, *dirs)
