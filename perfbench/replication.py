"""The replication workloads: pgoutput frames → ``sources.pgoutput``
decode → ``sources.spool`` LSN-named files → ``daemon.run_daemon``
availableNow passes → engine sinks → ``sources.clickhouse`` TSV POSTs
to the local stand-in.

``trickle``: four tables preloaded with a few thousand keys each; a
closed loop in which every round lands a small fixed delta and then
runs one ``run_daemon(once=True)`` pass. The next delta lands only
after the pass returns.

``bulk``: every round starts from empty tables (fresh spool, state,
checkpoints and ClickHouse database), lands one large backlog and
catches it up in one pass. The backlog is generated once, so every
round does identical work.

Both run the tables side by side (``max_concurrent_tables`` = cores).

A run measures at least two rounds, and starts another only while it
would end within the run length at the median round time so far. Every
time metric is a median over the run's rounds, so one slow round (the
host's, or a late warm-up) does not decide a run.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass

from changegen import TABLES, ChangeStream, Model, write_preload
from chstandin import Received, StandIn
from spans import SparkCounters, Tracer, peak_rss_mb


@dataclass(frozen=True)
class Shape:
    preload_keys: int
    tx_per_round: int
    rows_per_table: int  # per transaction
    fresh_rounds: bool
    tail_pct: float  # lag_tail_s percentile


SHAPES = {
    "trickle": Shape(5_000, 25, 20, False, 0.90),
    "bulk": Shape(0, 48, 250, True, 0.94),
}

# sink / ClickHouse spans; pipeline.stream_s is pass time outside them
SINK_SPANS = (
    "merge_sink.merge",
    "merge_sink.flush",
    "merge_sink.horizon",
    "pipeline.collapsing_merge",
    "pipeline.append_merge",
    "clickhouse.sink",
)


class _NoTrace(Tracer):
    """Untraced runs: a span is a shared no-op context."""

    _null = nullcontext()

    def span(self, name: str):
        return self._null


def install_spans(tr: Tracer) -> None:
    """Wrap the public entry points of every replication layer."""
    from pyspark.sql.classic.dataframe import DataFrame

    from pg2ch_spark import daemon, pipeline
    from pg2ch_spark.cdc import merge_sink
    from pg2ch_spark.sources import clickhouse

    tr.wrap(merge_sink.ReplacingMergeSink, "merge", "merge_sink.merge")
    tr.wrap(merge_sink.BufferedMergeSink, "merge", "merge_sink.merge")

    def flushed(args, _out):
        # buckets_rewritten is cumulative per sink instance
        sink = args[0]
        seen = getattr(sink, "_bench_seen", 0)
        if sink.buckets_rewritten > seen:
            tr.count("merge_sink.flushes")
            tr.count("merge_sink.buckets", sink.buckets_rewritten - seen)
            sink._bench_seen = sink.buckets_rewritten

    tr.wrap(merge_sink.BufferedMergeSink, "flush", "merge_sink.flush")
    tr.wrap(merge_sink.BucketedMergeSink, "flush", "merge_sink.flush", after=flushed)
    tr.wrap(merge_sink, "truncate_horizon", "merge_sink.horizon")
    tr.wrap(pipeline._CollapsingSink, "merge", "pipeline.collapsing_merge")
    tr.wrap(pipeline._AppendSink, "merge", "pipeline.append_merge")

    def batches(_args, res):
        tr.count("pipeline.batches", sum(res.batches.values()))

    tr.wrap(daemon, "run_pipeline", "pipeline.run", after=batches)
    tr.wrap(DataFrame, "localCheckpoint", "spark.localCheckpoint")

    orig_sink = clickhouse.clickhouse_sink

    def ch_sink(*a, **k):
        fn = orig_sink(*a, **k)

        def timed(batch_df, epoch_id):
            with tr.span("clickhouse.sink"):
                return fn(batch_df, epoch_id=epoch_id)

        return timed

    tr.patch(clickhouse, "clickhouse_sink", ch_sink)


class Lander:
    """The walsender side: frames → decoder → routed spool, one
    transaction at a time, as ``daemon.start_walsender_spool`` runs it."""

    def __init__(self, tr: Tracer):
        from pg2ch_spark.sources.pgoutput import WalDecoder

        self.tr = tr
        self.dec = WalDecoder()
        for f in ChangeStream.relation_frames():
            list(self.dec.push(f))

    def land(self, delta, spool_dir: str, specs, handed: dict) -> None:
        from pg2ch_spark.sources.spool import spool_transactions_routed

        tr, dec = self.tr, self.dec

        def stream():
            for frames, changes in delta:
                lsn = changes[0].ver >> 20
                handed[lsn] = time.perf_counter()
                rows = []
                with tr.span("pgoutput.decode"):
                    for f in frames:
                        rows.extend(dec.push(f))
                tr.count("pgoutput.rows", len(rows))
                yield lsn, rows

        with tr.span("spool.land"):
            for _lsn, paths in spool_transactions_routed(stream(), spool_dir, specs):
                tr.count("spool.files", len(paths))


def _config(root: str, endpoint: str, database: str, cores: int):
    from pg2ch_spark.config import ClickHouseSink, DaemonConfig, SparkConfig
    from pg2ch_spark.pipeline import TableSpec

    return DaemonConfig(
        source_dir=os.path.join(root, "spool"),
        state_root=os.path.join(root, "state"),
        tables=[
            TableSpec(main_table=t.name, engine=t.engine, n_buckets=t.n_buckets)
            for t in TABLES
        ],
        source_format="cdc",
        poll_interval_s=0.0,
        max_concurrent_tables=cores,
        clickhouse=ClickHouseSink(endpoint=endpoint, database=database),
        spark=SparkConfig(master=f"local[{cores}]", app_name="perfbench"),
    )


def _pct(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    return sorted_vals[max(0, math.ceil(p * len(sorted_vals) - 1e-9) - 1)]


def _cdc_rows(pdf):
    """(key, ver, op, value) tuples of a state frame; NaN value -> None."""
    for r in pdf.itertuples(index=False):
        value = None if r.value != r.value else float(r.value)
        yield int(r.key), int(r.ver), r.op, value


def check_state(spark, cfg, model: Model) -> list[str]:
    """Local sink state against the model; returns the mismatches."""
    from pg2ch_spark.pipeline import build_sink

    errors = []
    for spec, t in zip(cfg.tables, TABLES):
        sink = build_sink(spark, spec, cfg.state_root)
        if t.engine == "ReplacingMergeTree":
            got = Counter(_cdc_rows(sink.state().toPandas()))
            want = Counter(model.replacing(t.name))
        elif t.engine == "CollapsingMergeTree":
            pdf = sink.final().toPandas()
            got = Counter((int(r.key), int(r.net)) for r in pdf.itertuples(index=False))
            want = Counter(model.collapsing(t.name))
        else:
            got = Counter(_cdc_rows(sink.state().toPandas()))
            want = model.append(t.name)
        if got != want:
            errors.append(f"{t.name}: local state differs from the model")
    return errors


def check_received(rec: Received, model: Model, log) -> list[str]:
    errors = []
    for t in TABLES:
        if rec.rows.get(t.name) != model.delta_rows(t.name):
            errors.append(f"{t.name}: stand-in rows differ from the model's deltas")
    if log.token_conflicts:
        errors.append(f"{log.token_conflicts} dedup tokens arrived with two bodies")
    if log.bad_requests:
        errors.append(f"{log.bad_requests} requests the stand-in could not parse")
    return errors


def run(workload: str, seed: int, seconds: float, trace: bool, root: str, cores: int) -> dict:
    import io

    from pg2ch_spark.daemon import build_session, run_daemon

    shape = SHAPES[workload]
    tr = Tracer() if trace else _NoTrace()
    quiet = io.StringIO()
    errors: list[str] = []

    with StandIn() as ch:
        # ---- set-up: session, inputs, untimed warm passes
        t_setup = time.perf_counter()
        cfg = _config(os.path.join(root, "r0"), ch.endpoint, "r0", cores)
        with tr.span("setup.session"):
            spark = build_session(cfg)
            spark.sparkContext.setLogLevel("ERROR")
        if trace:
            install_spans(tr)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        counters = SparkCounters(spark)
        gen = ChangeStream(seed)
        model = Model()
        rec = Received()
        with tr.span("setup.inputs"):
            if shape.preload_keys:
                preload = gen.preload(shape.preload_keys)
                write_preload(cfg.source_dir, preload)
                for rows in preload.values():
                    model.add(rows)
            backlog = [
                gen.transaction(shape.rows_per_table) for _ in range(shape.tx_per_round)
            ]
        with tr.span("setup.warm"):
            # trickle: the pass that catches up the preload, then one
            # round-sized pass, since the first small-delta pass after the
            # preload runs slower and less steadily than the next;
            # bulk: the backlog's first quarter into scratch tables
            if shape.fresh_rounds:
                warm_rounds = [backlog[: len(backlog) // 4]]
            else:
                warm_rounds = [
                    backlog,
                    [gen.transaction(shape.rows_per_table) for _ in range(shape.tx_per_round)],
                ]
                backlog = None
            lander = Lander(_NoTrace())
            warm_s: list[float] = []
            for warm in warm_rounds:
                t0 = time.perf_counter()
                if not shape.fresh_rounds:
                    for _frames, changes in warm:
                        model.add(changes)
                lander.land(warm, cfg.source_dir, cfg.tables, {})
                run_daemon(cfg, spark, once=True, out=quiet)
                warm_s.append(time.perf_counter() - t0)
                warm_posts = ch.take()
                if not shape.fresh_rounds:
                    rec.add(warm_posts)
        setup_s = time.perf_counter() - t_setup
        tr.reset(keep="setup.")

        if shape.fresh_rounds:
            model = Model()
            for _frames, changes in backlog:
                model.add(changes)

        # ---- timed rounds
        round_s: list[float] = []
        round_rows: list[int] = []
        round_spark: list[dict] = []
        round_lags: list[list[float]] = []
        traffic = {"posts": 0, "bytes": 0}
        attempted = failed = 0
        lander = Lander(tr)
        mark = counters.mark()
        t_timed = time.perf_counter()
        # at least two rounds; another only while, at the median round
        # time so far, it would end within ``seconds``
        while len(round_s) < 2 or (
            time.perf_counter() - t_timed + statistics.median(round_s) <= seconds
        ):
            if shape.fresh_rounds:
                shutil.rmtree(os.path.dirname(cfg.source_dir), ignore_errors=True)
                n = len(round_s) + 1
                cfg = _config(os.path.join(root, f"r{n}"), ch.endpoint, f"r{n}", cores)
                delta = backlog
                rec = Received()
                lander = Lander(tr)
            else:
                delta = [
                    gen.transaction(shape.rows_per_table)
                    for _ in range(shape.tx_per_round)
                ]
                for _frames, changes in delta:
                    model.add(changes)
            handed: dict[int, float] = {}
            t0 = time.perf_counter()
            lander.land(delta, cfg.source_dir, cfg.tables, handed)
            with tr.span("daemon.pass"):
                run_daemon(cfg, spark, once=True, out=quiet)
            round_s.append(time.perf_counter() - t0)
            # ---- between rounds, untimed: stand-in log, Spark counters
            posts = ch.take()
            round_rows.append(rec.add(posts))
            traffic["posts"] += len(posts)
            traffic["bytes"] += sum(len(p.body) for p in posts)
            lags = []
            for _frames, changes in delta:
                lsn = changes[0].ver >> 20
                for t in TABLES:
                    attempted += 1
                    done = rec.tx_done.get((t.name, lsn))
                    if done is None:
                        failed += 1
                    else:
                        lags.append(done - handed[lsn])
            round_lags.append(sorted(lags))
            nxt = counters.mark()
            round_spark.append(counters.window(mark, nxt))
            mark = nxt
            if shape.fresh_rounds:
                errors += check_received(rec, model, ch.log)
        traffic["rows"] = sum(round_rows)

        # ---- correctness, untimed
        if not shape.fresh_rounds:
            errors += check_received(rec, model, ch.log)
        errors += check_state(spark, cfg, model)
        rss = peak_rss_mb(jvm_pid)
        tr.restore()
        gateway = spark.sparkContext._gateway
        spark.stop()

    med = statistics.median
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (med(round_s), "s"),
        "rows_per_s": (med(n / s for n, s in zip(round_rows, round_s)), "rows/s"),
        "lag_p50_s": (med(_pct(lags, 0.5) for lags in round_lags if lags), "s"),
        "lag_tail_s": (med(_pct(lags, shape.tail_pct) for lags in round_lags if lags), "s"),
        "spark_jobs": (med(w["jobs"] for w in round_spark), "count"),
        "shuffle_mb": (med(w["shuffle_write_mb"] for w in round_spark), "MB"),
        "peak_rss_mb": (rss, "MB"),
    }
    layers = {}
    if trace:
        layers = _layer_metrics(tr, traffic, round_s, round_spark)
    return {
        "gateway": gateway,
        "errors": errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "layers": layers,
        "round_s": round_s,
        "warm_s": warm_s,
        "lag_samples": sum(map(len, round_lags)),
    }


def _layer_metrics(tr, traffic, round_s, round_spark) -> dict:
    med = statistics.median
    rounds = len(round_s)
    decode_s = tr.total["pgoutput.decode"]
    pass_windows = tr.intervals["daemon.pass"]
    pass_s = sum(b - a for a, b in pass_windows)
    outside = pass_s - sum(
        tr.covered(SINK_SPANS, a, b) for a, b in pass_windows
    )
    ckpt = sum(
        tr.covered(("spark.localCheckpoint",), a, b) for a, b in pass_windows
    ) - sum(
        tr.covered(("spark.localCheckpoint",), a, b)
        for a, b in tr.intervals["pipeline.collapsing_merge"]
    )
    flushes = tr.counts["merge_sink.flushes"]
    task_s = sum(w["task_s"] for w in round_spark)
    per_round = lambda name: sum(w[name] for w in round_spark) / rounds  # noqa: E731
    return {
        "pgoutput.decode_s": (decode_s / rounds, "s"),
        "pgoutput.rows_per_s": (tr.counts["pgoutput.rows"] / decode_s, "rows/s"),
        "spool.write_s": ((tr.total["spool.land"] - decode_s) / rounds, "s"),
        "spool.files": (tr.counts["spool.files"] / rounds, "count"),
        "daemon.pass_s": (med(tr.samples["daemon.pass"]), "s"),
        "pipeline.stream_s": (outside / rounds, "s"),
        "pipeline.state_checkpoint_s": (ckpt / rounds, "s"),
        "pipeline.batches": (tr.counts["pipeline.batches"] / rounds, "count"),
        "merge_sink.merge_s": (tr.self_s["merge_sink.merge"] / rounds, "s"),
        "merge_sink.flush_s": (tr.total["merge_sink.flush"] / rounds, "s"),
        "merge_sink.horizon_s": (tr.total["merge_sink.horizon"] / rounds, "s"),
        "merge_sink.buckets_per_flush": (
            tr.counts["merge_sink.buckets"] / flushes if flushes else 0.0,
            "count",
        ),
        "pipeline.collapsing_merge_s": (
            tr.total["pipeline.collapsing_merge"] / rounds, "s"
        ),
        "pipeline.append_merge_s": (tr.total["pipeline.append_merge"] / rounds, "s"),
        "clickhouse.sink_s": (tr.total["clickhouse.sink"] / rounds, "s"),
        "clickhouse.posts": (traffic["posts"] / rounds, "count"),
        "clickhouse.rows_per_post": (traffic["rows"] / traffic["posts"], "rows"),
        "clickhouse.post_mb": (traffic["bytes"] / 1e6 / rounds, "MB"),
        "setup.session_s": (tr.total["setup.session"], "s"),
        "setup.inputs_s": (tr.total["setup.inputs"], "s"),
        "setup.warm_s": (tr.total["setup.warm"], "s"),
        "spark.jobs": (per_round("jobs"), "count"),
        "spark.stages": (per_round("stages"), "count"),
        "spark.tasks": (per_round("tasks"), "count"),
        "spark.task_s": (task_s / rounds, "s"),
        "spark.parallelism": (task_s / sum(round_s), "ratio"),
        "spark.shuffle_write_mb": (per_round("shuffle_write_mb"), "MB"),
        "spark.spill_mb": (per_round("spill_mb"), "MB"),
        "spark.gc_s": (per_round("gc_s"), "s"),
        "trace.wall_s": (med(round_s), "s"),
    }
