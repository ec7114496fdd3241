"""Config-driven replication pipeline — the reference's user surface.

pg2ch is operated through one YAML file: PG/CH connections plus a
per-table block `{main_table, engine, key/sign/ver columns, buffer
knobs}`; the daemon then replicates every configured table
continuously (SURVEY §2.1 R14 config/catalog + R15 lifecycle). This
module is that surface re-expressed for Spark: declare `TableSpec`s,
call `run_pipeline`, and each table's change stream is consumed via
Structured Streaming (availableNow micro-batches ≙ buffered flushes,
checkpoint ≙ slot LSN) into the engine-appropriate sink:

- ``ReplacingMergeTree``  → argmax-by-version upsert state
  (single-tier or two-tier buffered, per the spec's merge knob)
- ``CollapsingMergeTree`` → signed-row log, net-summed per key
- ``MergeTree``           → plain append log

A spec maps 1:1 to the reference's per-table YAML block; the helper
`spec_from_mapping` accepts exactly that dict shape. Restart-resume
and at-least-once convergence come from the streaming checkpoint plus
the sinks' idempotent merges — the same argument pg2ch makes with the
slot position + CH merge semantics.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pg2ch_spark import catalog
from pg2ch_spark.cdc.merge_sink import (
    BucketedMergeSink,
    BufferedMergeSink,
    ReplacingMergeSink,
    merge_batch,
    read_parquet,
)

ENGINES = ("ReplacingMergeTree", "CollapsingMergeTree", "MergeTree")


@dataclass
class TableSpec:
    """One replicated table — the analog of a pg2ch per-table YAML block."""

    main_table: str
    engine: str = "ReplacingMergeTree"
    key_col: str = "key"
    ver_col: str = "ver"
    sign_col: str = "sign"
    # 1 = merge every flush (single-tier); >1 = two-tier buffer (R8/R9)
    merge_threshold: int = 1
    # 0 = rewrite-everything compaction; >0 = hash-bucketed main state,
    # flushes rewrite only delta-touched buckets (O(touched) — the
    # production MERGE shape; ReplacingMergeTree only)
    n_buckets: int = 0
    # Per-column TYPE MAP for the live replication path (the pg2ch YAML
    # column-mapping analog, SURVEY §1.2): VALUE column name → Spark DDL
    # type ("decimal(18,2)", "date", "timestamp", "array<bigint>", …).
    # None = the generic (key, value double) fixture shape. Typed specs
    # consume a TYPED spool (sources.spool.typed_rows /
    # typed_spool_schema) so replicated state is never stringly-typed.
    columns: dict[str, str] | None = None
    key_type: str = "bigint"

    def __post_init__(self) -> None:
        if self.engine not in ENGINES:
            raise ValueError(f"unknown engine {self.engine!r}; one of {ENGINES}")
        if self.merge_threshold < 1:
            raise ValueError("merge_threshold must be >= 1")
        if self.n_buckets < 0:
            raise ValueError("n_buckets must be >= 0")
        if self.n_buckets and self.engine != "ReplacingMergeTree":
            raise ValueError("bucketed state requires engine=ReplacingMergeTree")
        if self.columns is not None:
            # Typed CollapsingMergeTree consumes a PRE-SIGNED spool
            # (sources.spool.typed_rows_signed): the −1/+1 pair is
            # derived from the wire's RI FULL old tuple — the
            # reference's own design, no sink-side carry state at all.
            if self.ver_col != "ver":
                # the typed spool's envelope hardcodes its version
                # column name (typed_spool_schema/typed_spool_ddl emit
                # "ver"); a renamed ver_col would declare a stream
                # schema the spool files don't have — refuse at
                # declaration time, not at stream start
                raise ValueError(
                    "typed columns require ver_col='ver' (the typed "
                    "spool envelope's version column)"
                )
            reserved = {self.key_col, "ver", "op", "table"}
            clash = reserved & set(self.columns)
            if clash:
                raise ValueError(f"typed columns clash with envelope: {sorted(clash)}")
            # fail at declaration time, not first batch
            from pg2ch_spark.sources.spool import _arrow_type

            _arrow_type(self.key_type)
            for ddl in self.columns.values():
                _arrow_type(ddl)


def spec_from_mapping(m: dict) -> TableSpec:
    """Accept the reference's YAML dict shape (unknown keys rejected —
    a typo'd knob silently defaulting is how replication configs rot)."""
    allowed = {f.name for f in TableSpec.__dataclass_fields__.values()}  # type: ignore[attr-defined]
    unknown = set(m) - allowed
    if unknown:
        raise ValueError(f"unknown TableSpec keys: {sorted(unknown)}")
    return TableSpec(**m)


@dataclass
class PipelineResult:
    # micro-batches consumed per table this run; the replicated state
    # itself is read on demand through `read_state`
    batches: dict[str, int] = field(default_factory=dict)


class _AppendSink:
    """MergeTree: epoch-keyed append log; `final()` is the log itself.

    Replays are NOT naturally idempotent for a raw append log, so each
    batch is written to an epoch-keyed path — re-delivery of epoch E
    overwrites E instead of double-appending (the same dedup pg2ch
    gets from CH buffer-table generations)."""

    def __init__(
        self, spark: SparkSession, path: str, key_col: str, sign_col: str,
        ver_col: str = "ver",
    ):
        self.spark, self.path = spark, path
        self.key_col, self.sign_col, self.ver_col = key_col, sign_col, ver_col

    def merge(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        """Land one post-horizon batch (see merge_sink.merge_batch)."""
        out = os.path.join(self.path, f"epoch={int(epoch_id or 0)}")
        batch_df.write.mode("overwrite").parquet(out)

    def truncate(self) -> None:
        """R10: ClickHouse TRUNCATE on a MergeTree wipes the table, so
        every already-landed epoch goes."""
        shutil.rmtree(self.path, ignore_errors=True)

    def state(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        # Partition discovery surfaces the epoch= dirs as a synthetic
        # column; it is commit bookkeeping, not part of the log schema,
        # so drop it from the reader-facing state.
        return read_parquet(self.spark, self.path).drop("epoch")

    def final(self) -> DataFrame | None:
        return self.state()


class _CollapsingSink(_AppendSink):
    """CollapsingMergeTree (pg2ch R5): insert→(+1), update→(−1 old,
    +1 new), delete→(−1 old); `final()` nets the signed log per key.

    The −1 rows need each key's PRIOR value. The reference reads it
    straight off the wire (REPLICA IDENTITY FULL ships the old tuple);
    a derived log has only new images, so the sink carries a per-key
    last-value side state (one row per key — the same O(keys) footprint
    as the reference's in-memory table buffers): within a batch the
    prior value is a lag() window; the batch's first change per key
    reads it from the side state.

    Replay safety: foreachBatch is at-least-once, so the side state is
    kept as IMMUTABLE per-epoch snapshots (``{path}.prev/e{N}`` = state
    after applying epoch N). Deriving epoch E always reads the newest
    snapshot with epoch < E — a replay of an already-applied epoch
    therefore resolves the same carry it saw the first time and
    rewrites ``epoch=E`` with identical rows, instead of reading the
    batch's own post-image as "prior value". Snapshots are committed by
    staging-dir rename (any crash point either leaves the old snapshot
    set intact or leaves a stale ``.staging`` that the rerun
    overwrites); only the newest two are retained, since streaming
    replays at most the last uncommitted epoch."""

    def __init__(
        self, spark: SparkSession, path: str, key_col: str, sign_col: str,
        ver_col: str = "ver",
    ):
        super().__init__(spark, path, key_col, sign_col, ver_col)
        self.prev_root = path + ".prev"

    def _applied_epochs(self) -> list[int]:
        if not os.path.isdir(self.prev_root):
            return []
        return sorted(
            int(name[1:])
            for name in os.listdir(self.prev_root)
            if name.startswith("e") and name[1:].isdigit()
        )

    def _snapshot_path(self, epoch: int) -> str:
        return os.path.join(self.prev_root, f"e{epoch}")

    def _prev(self, before_epoch: int) -> DataFrame | None:
        """Side state as it stood before ``before_epoch`` was applied."""
        prior = [a for a in self._applied_epochs() if a < before_epoch]
        if not prior:
            return None
        return read_parquet(self.spark, self._snapshot_path(prior[-1]))

    def truncate(self) -> None:
        """R10 wipes the signed log AND the per-key side state — after a
        truncate the table is empty, so the first change per key
        afterwards must see NO carry (its −1 sibling would resurrect a
        wiped value). A replay of the truncate epoch re-wipes the
        snapshot its first application wrote and rebuilds it
        identically."""
        super().truncate()
        shutil.rmtree(self.prev_root, ignore_errors=True)

    def merge(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        from pyspark.sql import Window

        k = self.key_col
        v = self.ver_col
        epoch = int(epoch_id or 0)
        w = Window.partitionBy(k).orderBy(v)
        prev = self._prev(epoch)
        b = batch_df.withColumn("_lag", F.lag("value").over(w))
        if prev is not None:
            b = b.join(
                prev.select(F.col(k), F.col("value").alias("_carry")), k, "left_outer"
            )
        else:
            b = b.withColumn("_carry", F.lit(None).cast("double"))
        # two actions read b (the epoch write and the snapshot write)
        b = b.withColumn("prev_value", F.coalesce("_lag", "_carry")).localCheckpoint(
            eager=True
        )
        plus = b.where(F.col("op").isin("I", "U")).select(
            k, v, "value", F.lit(1).alias(self.sign_col)
        )
        minus = b.where(F.col("op").isin("U", "D")).select(
            k,
            v,
            F.col("prev_value").alias("value"),
            F.lit(-1).alias(self.sign_col),
        )
        out = os.path.join(self.path, f"epoch={epoch}")
        plus.unionByName(minus).write.mode("overwrite").parquet(out)
        # advance the side state: latest value per key across old + batch,
        # committed as the immutable snapshot for this epoch
        latest = b.withColumn("_rn", F.row_number().over(w.orderBy(F.desc(v)))).where(
            F.col("_rn") == 1
        ).select(k, v, "value")
        merged = latest if prev is None else prev.unionByName(latest)
        w2 = Window.partitionBy(k).orderBy(F.desc(v))
        newprev = (
            merged.withColumn("_rn", F.row_number().over(w2))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        snap = self._snapshot_path(epoch)
        tmp = snap + ".staging"
        newprev.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(snap, ignore_errors=True)  # replay: rebuilt identically
        os.rename(tmp, snap)
        # retain current + predecessor; older epochs can no longer replay
        for stale in self._applied_epochs()[:-2]:
            shutil.rmtree(self._snapshot_path(stale), ignore_errors=True)

    def final(self) -> DataFrame | None:
        log = self.state()
        if log is None:
            return None
        return (
            log.groupBy(self.key_col)
            .agg(F.sum(self.sign_col).alias("net"))
            .where(F.col("net") > 0)
            .select(self.key_col, "net")
        )


class _SignedTypedSink(_AppendSink):
    """Typed CollapsingMergeTree over a PRE-SIGNED spool: the −1/+1
    rows were derived from the wire (typed_rows_signed), so the sink is
    a plain epoch-keyed append — the reference's own topology (pg2ch
    emits signed rows; ClickHouse nets them at merge/FINAL). No per-key
    carry snapshots exist, unlike the derived-log _CollapsingSink.

    ``final()`` = CollapsingMergeTree FINAL: per key, the latest +1 row
    survives iff the key's net sign is positive."""

    def final(self) -> DataFrame | None:
        from pyspark.sql import Window

        log = self.state()
        if log is None:
            return None
        k, v = self.key_col, self.ver_col
        net = F.sum(self.sign_col).over(Window.partitionBy(k))
        w_latest = Window.partitionBy(k).orderBy(F.desc(v))
        return (
            log.withColumn("_net", net)
            .where(F.col(self.sign_col) == 1)
            .withColumn("_rn", F.row_number().over(w_latest))
            .where((F.col("_rn") == 1) & (F.col("_net") > 0))
            .drop("_rn", "_net")
        )


# The spool's normalized CDC shape. ``table`` is the R4 routing key:
# each configured TableSpec consumes only its own relation's rows, so
# a TRUNCATE of one replicated table can never wipe another's state.
CDC_SPOOL_SCHEMA = "table string, key bigint, ver bigint, op string, value double"


def build_sink(spark: SparkSession, spec: TableSpec, state_root: str):
    """The engine-appropriate sink for one TableSpec. All sink state is
    DISK-backed under ``<state_root>/<table>/state`` — a fresh instance
    over the same root resumes the same buffers/state, which is what
    lets the daemon's inactivity timer flush a table outside a pass."""
    state_path = os.path.join(state_root, spec.main_table, "state")
    if spec.engine == "ReplacingMergeTree":
        if spec.n_buckets:
            return BucketedMergeSink(
                spark,
                state_path,
                spec.key_col,
                spec.ver_col,
                merge_every=spec.merge_threshold,
                n_buckets=spec.n_buckets,
            )
        if spec.merge_threshold == 1:
            return ReplacingMergeSink(spark, state_path, spec.key_col, spec.ver_col)
        return BufferedMergeSink(
            spark,
            state_path,
            spec.key_col,
            spec.ver_col,
            merge_every=spec.merge_threshold,
        )
    if spec.engine == "CollapsingMergeTree":
        if spec.columns is not None:
            return _SignedTypedSink(
                spark, state_path, spec.key_col, spec.sign_col, spec.ver_col
            )
        return _CollapsingSink(
            spark, state_path, spec.key_col, spec.sign_col, spec.ver_col
        )
    return _AppendSink(
        spark, state_path, spec.key_col, spec.sign_col, spec.ver_col
    )


def read_state(spark: SparkSession, spec: TableSpec, state_root: str) -> DataFrame:
    """The replicated state of one table (the engine's FINAL view:
    latest row per key, net-positive keys, or the append log) — the
    only code path that reads sink state back. Buffered sinks flush
    first, so the read sees every buffered batch. Lazy: the frame reads
    ``state_root`` when evaluated, so a caller that removes the root
    first must materialize it. A table that never received a batch
    reads as an empty frame with the engine's declared schema, so
    downstream .select/.join never see None."""
    sink = build_sink(spark, spec, state_root)
    final = sink.final() if hasattr(sink, "final") else sink.state()
    if final is not None:
        return final
    if spec.engine == "CollapsingMergeTree" and spec.columns is None:
        return spark.createDataFrame([], f"{spec.key_col} bigint, net bigint")
    if spec.columns is not None:
        sign = "sign int, " if spec.engine == "CollapsingMergeTree" else ""
        cols = ", ".join(f"{n} {t}" for n, t in spec.columns.items())
        return spark.createDataFrame(
            [],
            f"{spec.key_col} {spec.key_type}, {spec.ver_col} bigint, "
            f"op string, {sign}{cols}",
        )
    return spark.createDataFrame(
        [],
        f"{spec.key_col} bigint, {spec.ver_col} bigint, op string, value double",
    )


def run_pipeline(
    spark: SparkSession,
    specs: list[TableSpec],
    sf_dir: str,
    state_root: str,
    max_files_per_trigger: int | None = None,
    source_format: str = "events",
    batch_hook=None,
    flush_buffers: bool = True,
    max_concurrent_tables: int = 1,
) -> PipelineResult:
    """Replicate every configured table, availableNow (≙ catch-up run
    of a continuous daemon; rerunning resumes from each checkpoint).

    Per table: stream the source, derive the CDC log (R3) and feed the
    engine sink via foreachBatch (R5-R9). Like pg2ch's daemon, a pass
    only flushes deltas and never reads a table back; callers that
    want the replicated state ask `read_state`. Tables are independent
    pipelines exactly as in the reference — a failure in one does not
    advance the others' offsets.

    ``source_format``: "events" streams ``<sf_dir>/events.parquet`` and
    derives the CDC log from it (the fixture contract); "cdc" streams
    ``sf_dir`` as a directory of already-normalized CDC files — the
    shape `sources.spool.spool_transactions` lands from the live
    walsender client, closing the R2→R5 chain end-to-end.

    Each micro-batch goes through `merge_sink.merge_batch`, the one
    place TRUNCATE markers (R10) apply: a marker wipes the sink and
    only the rows after the last marker are merged.

    ``batch_hook(spec, batch_df, truncated, epoch_id)`` runs AFTER each
    micro-batch's local merge commits — the R12 fan-out point (the
    daemon posts each batch delta to ClickHouse here). ``batch_df`` is
    the post-horizon batch the sink merged (no marker rows, no row at
    or before the last marker's version); ``truncated`` says the batch
    held a marker, so the remote table must be truncated before the
    rows land; ``epoch_id`` is the checkpointed micro-batch id, which
    remote sinks must fold into their dedup token (two epochs can
    serialize byte-identical bodies). It sees the DELTA, not the
    state: at 100 TB re-shipping full state per pass is wrong, and
    replayed deltas converge on the remote merge engine exactly as
    they do on the local sink.

    ``max_concurrent_tables``: >1 runs that many tables' catch-up
    streams CONCURRENTLY (a thread pool over independent streaming
    queries — Spark schedules their jobs side by side). Tables are
    already fully independent (own source path/filter, checkpoint,
    sink state), so at a 100-table deployment serial catch-up latency
    is additive for no reason; pg2ch interleaves tables within one WAL
    stream for the same effect. Default 1 preserves strictly serial
    behavior.

    ``flush_buffers=False`` (daemon timer mode,
    ``inactivity_merge_timeout_s``): the two-tier buffers PERSIST
    across passes — merges happen at merge_threshold or by the
    daemon's inactivity timer, not unconditionally per pass (pg2ch's
    actual topology)."""
    from pg2ch_spark.streaming.queries import _events_schema
    from pg2ch_spark.streaming.runner import (
        _few_state_partitions,
        _stream_source_managed,
    )

    if source_format not in ("events", "cdc"):
        raise ValueError(f"unknown source_format {source_format!r}")
    result = PipelineResult()
    catalog.configure(spark)
    if source_format == "cdc":
        path, schema = sf_dir, CDC_SPOOL_SCHEMA
    else:
        path = catalog.table_path(sf_dir, "events")
        schema = _events_schema(spark, sf_dir)

    def replicate_one(spec: TableSpec, manage_confs: bool = True):
        table_dir = os.path.join(state_root, spec.main_table)
        ckpt = os.path.join(table_dir, "_checkpoint")
        sink = build_sink(spark, spec, state_root)

        spec_schema = schema
        spec_path = path
        if source_format == "cdc":
            # ROUTED-SPOOL convention (sources.spool.
            # spool_transactions_routed): a subdirectory named after the
            # table holds that table's own files in its own schema —
            # required for typed tables, transparent for flat spools
            routed = os.path.join(path, spec.main_table)
            if os.path.isdir(routed):
                spec_path = routed
        if spec.columns is not None:
            if source_format != "cdc":
                raise ValueError("typed columns require source_format='cdc'")
            from pg2ch_spark.sources.spool import (
                typed_signed_spool_ddl,
                typed_spool_ddl,
            )

            if spec.engine == "CollapsingMergeTree":
                spec_schema = typed_signed_spool_ddl(
                    spec.key_col, spec.key_type, spec.columns
                )
            else:
                spec_schema = typed_spool_ddl(
                    spec.key_col, spec.key_type, spec.columns
                )
        src, _src_dir = _stream_source_managed(
            spark, spec_path, spec_schema,
            max_files_per_trigger=max_files_per_trigger,
        )
        if source_format == "cdc":
            # R4 route: this spec consumes only its own relation's rows
            normalized = src.where(
                F.col("table") == spec.main_table
            ).drop("table")
        else:
            normalized = derive_cdc_stream(src)
        if spec.columns is not None:
            # typed spool: key/ver columns already carry the spec's
            # names (typed_spool_ddl emits them), value columns are the
            # declared map — pass everything through typed (plus the
            # pre-derived sign column for collapsing)
            extra = ["sign"] if spec.engine == "CollapsingMergeTree" else []
            cdc = normalized.select(
                spec.key_col, spec.ver_col, "op", *extra, *spec.columns
            )
        else:
            cdc = normalized.select(
                F.col("key").alias(spec.key_col) if spec.key_col != "key" else F.col("key"),
                F.col("ver").alias(spec.ver_col) if spec.ver_col != "ver" else F.col("ver"),
                "op",
                "value",
            )

        n_batches = 0

        def sink_batch(batch_df: DataFrame, epoch_id: int) -> None:
            nonlocal n_batches
            batch_df, truncated = merge_batch(sink, batch_df, epoch_id)
            if batch_hook is not None:
                batch_hook(spec, batch_df, truncated, epoch_id)
            n_batches += 1

        try:
            # concurrent mode: the (identical) session confs are set
            # once around the whole pool — per-thread enter/exit of the
            # same context would race on the save/restore bookkeeping
            from contextlib import nullcontext

            ctx = _few_state_partitions(spark) if manage_confs else nullcontext()
            with ctx:
                q = (
                    cdc.writeStream.foreachBatch(sink_batch)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
        finally:
            # the symlink dir exposing a single-file fixture as a stream
            # source is per-invocation scratch — reclaim it
            if _src_dir is not None:
                shutil.rmtree(_src_dir, ignore_errors=True)
        if flush_buffers and isinstance(sink, BufferedMergeSink):
            sink.flush()  # ≙ pg2ch's graceful-stop final merge
        return n_batches

    if max_concurrent_tables <= 1 or len(specs) <= 1:
        for spec in specs:
            result.batches[spec.main_table] = replicate_one(spec)
    else:
        from concurrent.futures import ThreadPoolExecutor

        with _few_state_partitions(spark):
            with ThreadPoolExecutor(max_workers=max_concurrent_tables) as ex:
                futures = {
                    spec.main_table: ex.submit(replicate_one, spec, False)
                    for spec in specs
                }
            for name, fut in futures.items():
                result.batches[name] = fut.result()  # re-raises a table's failure
    return result


def derive_cdc_stream(src: DataFrame) -> DataFrame:
    """Streaming-safe variant of cdc.derive.derive_cdc (same derivation,
    applied to a stream source instead of a catalog load)."""
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    return src.select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("ver"),
        op.alias("op"),
        "value",
        "props",
    )


def teardown(state_root: str) -> None:
    shutil.rmtree(state_root, ignore_errors=True)
