"""Daemon lifecycle — the long-running replicator process (SURVEY
§2.1 R15, pg2ch `cmd/pg2ch/main.go` entry/lifecycle analog).

pg2ch's main loop: load config, connect, then consume the WAL stream
until interrupted; SIGTERM/SIGINT trigger a graceful stop that flushes
buffers and persists the slot position before exiting. Here each
iteration is an availableNow catch-up pass of `run_pipeline` (process
everything new, flush the engine sinks, commit the streaming
checkpoint), then sleep `poll_interval_s` and repeat. A signal sets a
stop flag; the in-flight pass always runs to its checkpointed
completion — the flush-and-checkpoint is the unit of progress, so a
mid-run SIGTERM can never leave a half-applied batch (replays resume
from the last committed checkpoint into idempotent merges).

Per-pass progress goes to stdout as one JSON line so an operator (or
the e2e test) can follow the daemon without scraping Spark logs.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading

from pyspark.sql import SparkSession

from pg2ch_spark.config import DaemonConfig, WalSenderSource
from pg2ch_spark.pipeline import run_pipeline


def build_session(cfg: DaemonConfig) -> SparkSession:
    return (
        SparkSession.builder.master(cfg.spark.master)
        .appName(cfg.spark.app_name)
        .config("spark.sql.shuffle.partitions", str(cfg.spark.shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def install_signal_handlers(stop: threading.Event) -> None:
    """SIGTERM/SIGINT -> set the stop flag (graceful stop after the
    in-flight pass commits). Only possible from the main thread; callers
    embedding the daemon elsewhere pass their own stop event instead."""

    def handler(signum, frame):  # noqa: ARG001
        stop.set()

    signal.signal(signal.SIGTERM, handler)
    signal.signal(signal.SIGINT, handler)


def start_walsender_spool(
    ws: WalSenderSource, spool_dir: str, stop: threading.Event, out=None,
    specs=None,
) -> threading.Thread:
    """The live R2 consumer as a daemon thread: protocol client →
    LSN-named spool files (`sources.spool`), flush-then-ack all the way
    through (the generator acks an LSN only after its file is durable).
    Reconnects with backoff on any socket/protocol error — a restart
    replays from the last acked LSN into the same file names, which the
    passes' streaming offset log dedups. One connection per slot by
    protocol; the Spark side fans out from the files.

    With ``specs`` (the daemon's table list) the spool is ROUTED: one
    subdirectory per configured table in that table's own schema —
    typed when the spec declares ``columns`` — which is what lets the
    live path replicate decimal/date/timestamp/uuid/array columns as
    real types end to end."""
    from pg2ch_spark.sources.pgoutput import SchemaDriftError, replication_stream
    from pg2ch_spark.sources.spool import (
        spool_transactions,
        spool_transactions_routed,
    )

    out = out or sys.stdout
    password = os.environ.get(ws.password_env) if ws.password_env else None

    def run() -> None:
        while not stop.is_set():
            try:
                stream = replication_stream(
                    ws.host,
                    ws.port,
                    slot=ws.slot,
                    publication=ws.publication,
                    user=ws.user,
                    database=ws.database,
                    password=password,
                    sslmode=ws.sslmode,
                )
                if specs is not None:
                    spooled = spool_transactions_routed(stream, spool_dir, specs)
                else:
                    spooled = spool_transactions(stream, spool_dir)
                for lsn, _path in spooled:
                    if stop.is_set():
                        return
                # clean CopyDone from the server: fall through to retry
            except (SchemaDriftError, ValueError) as e:
                # PERMANENT data-shape errors (source DDL drift, an
                # unresolvable typed/RI mapping): a reconnect replays
                # from the acked LSN straight into the same boundary —
                # retrying forever is the worst outcome. Honor the
                # runbook: report fatally and STOP THE DAEMON.
                print(
                    json.dumps({"walsender_fatal": str(e)[:400]}),
                    file=out,
                    flush=True,
                )
                stop.set()
                return
            except Exception as e:  # noqa: BLE001 — transient: reconnect
                print(
                    json.dumps({"walsender_error": str(e)[:200]}),
                    file=out,
                    flush=True,
                )
            if stop.wait(ws.retry_s):
                return

    t = threading.Thread(target=run, name="walsender-spool", daemon=True)
    t.start()
    return t


def run_daemon(
    cfg: DaemonConfig,
    spark: SparkSession,
    *,
    once: bool = False,
    max_passes: int | None = None,
    stop: threading.Event | None = None,
    out=None,
) -> int:
    """Run catch-up passes until stopped. Returns a process exit code.

    ``once`` is the batch mode (single catch-up pass, then exit) —
    pg2ch has no direct analog but every CDC daemon grows one; it is
    also what a scheduler invokes. ``max_passes`` bounds continuous
    mode for tests.

    With ``cfg.walsender`` the daemon IS the reference's full shape:
    the protocol client spools committed transactions concurrently
    while the passes consume the spool; with ``cfg.clickhouse`` every
    merged micro-batch delta is also POSTed as TabSeparated to
    ``<database>.<table>`` (R12) — replays converge on the CH merge
    engine exactly as on the local sink."""
    out = out or sys.stdout
    stop = stop or threading.Event()
    spool_thread = None
    if cfg.walsender is not None:
        os.makedirs(cfg.source_dir, exist_ok=True)
        # Pre-create every spec's routed subdir SYNCHRONOUSLY, before
        # either the spool thread or the first pipeline pass starts:
        # spool_transactions_routed mkdirs them too, but only after the
        # walsender connects, and run_pipeline's routed-spool detection
        # (os.path.isdir) must not race that — a table whose stream binds
        # to the flat root on pass 1 would see its source path change
        # under the same checkpoint on pass 2 (ADVICE r7).
        for spec in cfg.tables:
            os.makedirs(
                os.path.join(cfg.source_dir, spec.main_table), exist_ok=True
            )
        spool_thread = start_walsender_spool(
            cfg.walsender, cfg.source_dir, stop, out=out, specs=cfg.tables
        )

    batch_hook = None
    if cfg.clickhouse is not None:
        from pg2ch_spark.sources.clickhouse import clickhouse_sink, truncate_table

        ch_http = cfg.clickhouse.http_options()

        def batch_hook(spec, batch_df, truncated, epoch_id) -> None:
            table = f"{cfg.clickhouse.database}.{spec.main_table}"
            # R10 remotely: pg2ch TRUNCATEs the CH table. The batch
            # arrives already cut to the rows after the marker (markers
            # are commands, never data rows: a \\N key would either fail
            # a non-Nullable column or linger as a ghost row forever).
            if truncated:
                truncate_table(cfg.clickhouse.endpoint, table, ch_http)
            # Real checkpointed epoch id, NOT a constant: the dedup
            # token is md5(epoch:partition: | body) and two different
            # micro-batches CAN serialize byte-identical bodies — a
            # constant epoch would give them the same token and CH
            # would silently drop the second within its dedup window.
            clickhouse_sink(
                cfg.clickhouse.endpoint, table, batch_df.columns, ch_http
            )(batch_df, epoch_id=epoch_id)

    # pg2ch's inactivity_merge_timeout as a real timer (SURVEY §3.1
    # path 3): with the timeout set, passes stop force-flushing the
    # two-tier buffers (merges happen at merge_threshold), and a table
    # that has been QUIET for at least the timeout gets a timed merge
    # here between passes. Sink state is disk-backed, so a fresh
    # build_sink over the same root flushes the persisted buffer.
    import time

    from pg2ch_spark.cdc.merge_sink import BufferedMergeSink
    from pg2ch_spark.pipeline import build_sink

    timer_mode = cfg.inactivity_merge_timeout_s is not None
    last_activity = {spec.main_table: time.monotonic() for spec in cfg.tables}

    def timed_merges() -> list[str]:
        merged = []
        now = time.monotonic()
        for spec in cfg.tables:
            if now - last_activity[spec.main_table] < cfg.inactivity_merge_timeout_s:
                continue
            sink = build_sink(spark, spec, cfg.state_root)
            if not isinstance(sink, BufferedMergeSink):
                continue
            if not os.path.exists(sink.buffer_path):
                continue  # nothing buffered — quiet AND merged
            sink.flush()
            merged.append(spec.main_table)
            last_activity[spec.main_table] = now  # merged; re-arm
        return merged

    n_pass = 0
    while True:
        res = run_pipeline(
            spark,
            cfg.tables,
            cfg.source_dir,
            cfg.state_root,
            max_files_per_trigger=cfg.max_files_per_trigger,
            source_format=cfg.source_format,
            batch_hook=batch_hook,
            flush_buffers=not timer_mode,
            max_concurrent_tables=cfg.max_concurrent_tables,
        )
        n_pass += 1
        if timer_mode:
            now = time.monotonic()
            for table, n in res.batches.items():
                if n:
                    last_activity[table] = now
        stopping = stop.is_set() or once or (max_passes is not None and n_pass >= max_passes)
        if timer_mode and stopping:
            # graceful stop flushes every buffered table (pg2ch's
            # signal-handler flush) regardless of idle age
            for spec in cfg.tables:
                last_activity[spec.main_table] = float("-inf")
        merged = timed_merges() if timer_mode else []
        line = {"pass": n_pass, "batches": res.batches, "stopping": stopping}
        if merged:
            line["inactivity_merge"] = merged
        print(json.dumps(line), file=out, flush=True)
        if stopping:
            return _shutdown(stop, spool_thread)
        # interruptible sleep: a signal during the pause exits promptly
        # (the pass just committed, nothing is in flight)
        if stop.wait(cfg.poll_interval_s):
            if timer_mode:
                for spec in cfg.tables:
                    last_activity[spec.main_table] = float("-inf")
                timed_merges()
            print(
                json.dumps({"pass": n_pass, "batches": {}, "stopping": True}),
                file=out,
                flush=True,
            )
            return _shutdown(stop, spool_thread)


def _shutdown(stop: threading.Event, spool_thread: threading.Thread | None) -> int:
    """Every daemon exit path stops the spool thread WITH the passes:
    once/max_passes exits previously left it reconnecting and spooling
    forever (live socket + writer targeting a stale spool dir for the
    rest of the process). The join is best-effort — the thread may sit
    in a blocking recv up to its socket timeout; it is a daemon thread
    and checks the stop flag at its next yield/retry either way."""
    stop.set()
    if spool_thread is not None:
        spool_thread.join(timeout=2.0)
    return 0
