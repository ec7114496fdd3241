"""The WHOLE reference daemon in one test: PG socket → pgoutput decode
→ engine merge → ClickHouse HTTP insert.

Every stage has its own e2e suite (test_walsender_e2e, test_pipeline,
test_clickhouse_e2e); this file chains them over real sockets the way
pg2ch actually runs — a replication connection consumed transaction by
transaction with flush-then-ack, each transaction merged into
ReplacingMergeTree state (both the plain and the bucket-pruned sink),
and the final state POSTed as TabSeparated to the CH endpoint — so a
regression anywhere in the R2→R9→R12 chain fails ONE assertion about
bytes received by "ClickHouse".
"""

from __future__ import annotations

import socketserver
import threading

import pytest

from pg2ch_spark.sources import clickhouse as ch
from pg2ch_spark.sources import pgoutput as pg
from tests.test_clickhouse_e2e import http_stub  # noqa: F401  (fixture)
from tests.test_walsender_e2e import (
    FIXED_CLOCK,
    LSN1,
    LSN2,
    WAL_SCRIPT,
    FakeWalSender,
    _expected_ack,
)


@pytest.fixture()
def walsender():
    server = socketserver.TCPServer(("127.0.0.1", 0), FakeWalSender)
    server.log = {}
    server.done = threading.Event()
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield server
    server.shutdown()
    server.server_close()


@pytest.mark.parametrize("n_buckets", [0, 4])
def test_pg_socket_to_clickhouse_http(
    spark, walsender, http_stub, tmp_path, n_buckets  # noqa: F811
):
    from pg2ch_spark.cdc.merge_sink import BucketedMergeSink, ReplacingMergeSink

    host, port = walsender.server_address
    endpoint, received = http_stub

    state = str(tmp_path / f"state{n_buckets}")
    if n_buckets:
        sink = BucketedMergeSink(
            spark, state, "key", "ver", merge_every=1, n_buckets=n_buckets
        )
    else:
        sink = ReplacingMergeSink(spark, state, "key", "ver")

    # R2: consume the replication stream; R5/R9: merge each committed
    # transaction BEFORE resuming (resume == flush-then-ack).
    stream = pg.replication_stream(
        host,
        port,
        slot="pg2ch_slot",
        publication="pg2ch_pub",
        clock=lambda: FIXED_CLOCK,
    )
    n_tx = 0
    try:
        for commit_lsn, rows in stream:
            batch = spark.createDataFrame(
                [
                    (int(r.values["id"]), r.scalar_ver, r.op, float(r.values["balance"]))
                    for r in rows
                ],
                "key long, ver long, op string, value double",
            )
            sink.merge(batch)  # sink commit, THEN the generator resume acks
            n_tx += 1
    finally:
        stream.close()  # keep the single-threaded fixture server unstuck
    assert n_tx == 2 and walsender.done.wait(5)

    # flush-then-ack order on the wire, byte-for-byte
    assert walsender.log["acks"] == [
        _expected_ack(0),
        _expected_ack(LSN1),
        _expected_ack(LSN2),
        _expected_ack(LSN2),
    ]

    # R12: final state → ClickHouse TSV over HTTP
    final = sink.state().orderBy("key")
    ch.clickhouse_sink(endpoint, "db.accounts", ["key", "ver", "op", "value"])(
        final.coalesce(1), epoch_id=0
    )

    # what "ClickHouse" received must be the argmax-per-key of the WAL
    expected = {}
    for r in pg.decode_stream(WAL_SCRIPT):
        k = int(r.values["id"])
        if k not in expected or r.scalar_ver > expected[k][0]:
            expected[k] = (r.scalar_ver, r.op, float(r.values["balance"]))
    body = b"".join(b for _, b in received).decode()
    got = {}
    for line in filter(None, body.split("\n")):
        k, ver, op, val = line.split("\t")
        got[int(k)] = (int(ver), op, float(val))
    assert got == expected
    # and the INSERT targeted the right table (query is URL-encoded)
    import urllib.parse

    assert received and all(
        "INSERT INTO `db`.`accounts`" in urllib.parse.unquote(path)
        for path, _ in received
    )


def test_config_driven_daemon_pg_socket_to_clickhouse(spark, tmp_path, http_stub):  # noqa: F811
    """pg2ch's WHOLE operating shape from ONE config mapping: a
    `source.walsender` block makes the daemon run the live protocol
    client in a spool thread (R2→R13) while its passes consume the
    spool into engine state (R5–R9), and a `clickhouse` block posts
    every merged micro-batch delta as TabSeparated (R12). The fake
    walsender replays its script on every reconnect — the at-least-
    once behavior of a real slot with a re-used start LSN — and the
    LSN-named spool plus the streaming offset log absorb it."""
    import io
    import json
    import os
    import time

    from pg2ch_spark.config import config_from_mapping
    from pg2ch_spark.daemon import run_daemon

    server = socketserver.TCPServer(("127.0.0.1", 0), FakeWalSender)
    server.log = {}
    server.done = threading.Event()
    threading.Thread(target=server.serve_forever, daemon=True).start()
    host, port = server.server_address
    endpoint, received = http_stub

    cfg = config_from_mapping(
        {
            "source": {
                "sf_dir": str(tmp_path / "spool"),
                "walsender": {
                    "host": host,
                    "port": port,
                    "slot": "pg2ch_slot",
                    "publication": "pg2ch_pub",
                    "retry_s": 0.2,
                },
            },
            "state_root": str(tmp_path / "state"),
            "poll_interval_s": 0.3,
            "tables": {"accounts": {"engine": "ReplacingMergeTree"}},
            "clickhouse": {"endpoint": endpoint, "database": "db"},
        }
    )
    assert cfg.source_format == "cdc" and cfg.walsender.port == port

    out = io.StringIO()
    assert run_daemon(cfg, spark, max_passes=8, out=out) == 0
    passes = [json.loads(line) for line in out.getvalue().splitlines()
              if "pass" in line]
    assert passes[-1]["pass"] == 8

    # local engine state converged to the WAL's per-key latest
    state_path = os.path.join(cfg.state_root, "accounts", "state")
    deadline = time.time() + 10
    final = {}
    while time.time() < deadline:
        final = {r.key: r.value for r in spark.read.parquet(state_path).collect()}
        if final == {1: 10.5, 2: 20.0, 3: 30.25}:
            break
        time.sleep(0.2)
    assert final == {1: 10.5, 2: 20.0, 3: 30.25}

    # ClickHouse received every merged delta, TabSeparated, right table
    import urllib.parse

    assert received, "no CH inserts arrived"
    assert all(
        "INSERT INTO `db`.`accounts`" in urllib.parse.unquote(path)
        for path, _ in received
    )
    posted = {}
    for _, body in received:
        for line in filter(None, body.decode().split("\n")):
            k, ver, op, val = line.split("\t")
            if int(ver) >= posted.get(int(k), (0,))[0]:
                posted[int(k)] = (int(ver), float(val))
    assert {k: v for k, (_, v) in posted.items()} == {1: 10.5, 2: 20.0, 3: 30.25}

    server.shutdown()
    server.server_close()


def test_daemon_posts_remote_truncate(spark, tmp_path, http_stub):  # noqa: F811
    """R10 reaches ClickHouse: a TRUNCATE marker in a micro-batch must
    become a TRUNCATE TABLE statement on the remote (pg2ch executes
    exactly that), followed by an insert of only the post-horizon
    survivors — never a \\N-key marker row shipped as data."""
    import io
    import os
    import urllib.parse

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2ch_spark.config import config_from_mapping
    from pg2ch_spark.daemon import run_daemon

    endpoint, received = http_stub
    spool = tmp_path / "spool"
    os.makedirs(spool)
    rows = [
        ("accounts", 1, 1, "I", 10.0),
        ("accounts", None, 2, "T", None),
        ("accounts", 3, 3, "I", 30.0),
    ]
    pq.write_table(
        pa.table(
            {
                "table": pa.array([r[0] for r in rows], pa.string()),
                "key": pa.array([r[1] for r in rows], pa.int64()),
                "ver": pa.array([r[2] for r in rows], pa.int64()),
                "op": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
            }
        ),
        str(spool / f"cdc-{0x100:016x}.parquet"),
    )
    cfg = config_from_mapping(
        {
            "source": {"sf_dir": str(spool), "format": "cdc"},
            "state_root": str(tmp_path / "state"),
            "tables": {"accounts": {}},
            "clickhouse": {"endpoint": endpoint, "database": "db"},
        }
    )
    out = io.StringIO()
    assert run_daemon(cfg, spark, once=True, out=out) == 0

    queries = [urllib.parse.unquote(path) for path, _ in received]
    assert any("TRUNCATE TABLE `db`.`accounts`" in q for q in queries)
    # the truncate precedes every insert for the table
    t_idx = next(i for i, q in enumerate(queries) if "TRUNCATE" in q)
    ins = [i for i, q in enumerate(queries) if "INSERT INTO" in q]
    assert ins and all(i > t_idx for i in ins)
    # only the survivor row was shipped — no marker, no pre-truncate row
    body = b"".join(b for _, b in received).decode()
    lines = [ln for ln in body.split("\n") if ln]
    assert lines == ["3\t3\tI\t30"] or lines == ["3\t3\tI\t30.0"]

    # local state agrees with the remote
    state = os.path.join(cfg.state_root, "accounts", "state")
    assert {r.key: r.value for r in spark.read.parquet(state).collect()} == {3: 30.0}


def test_daemon_ch_tokens_distinct_across_epochs(spark, tmp_path, http_stub):  # noqa: F811
    """The insert-dedup token must differ across MICRO-BATCHES even
    when two batches serialize byte-identical TSV bodies — the token
    is md5(epoch:partition: | body) and the daemon must feed the REAL
    checkpointed epoch id through the fan-out hook (a constant would
    let ClickHouse silently drop the later batch as a duplicate)."""
    import io
    import os
    import urllib.parse

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2ch_spark.config import config_from_mapping
    from pg2ch_spark.daemon import run_daemon

    endpoint, received = http_stub
    spool = tmp_path / "spool"
    os.makedirs(spool)
    # two spool files with IDENTICAL rows -> with max_files_per_trigger
    # 1, two micro-batches whose posted bodies are byte-identical
    for i in range(2):
        pq.write_table(
            pa.table(
                {
                    "table": pa.array(["accounts"], pa.string()),
                    "key": pa.array([1], pa.int64()),
                    "ver": pa.array([1], pa.int64()),
                    "op": pa.array(["I"], pa.string()),
                    "value": pa.array([10.0], pa.float64()),
                }
            ),
            str(spool / f"cdc-{0x100 + i:016x}.parquet"),
        )
    cfg = config_from_mapping(
        {
            "source": {
                "sf_dir": str(spool),
                "format": "cdc",
                "max_files_per_trigger": 1,
            },
            "state_root": str(tmp_path / "state"),
            "tables": {"accounts": {}},
            "clickhouse": {"endpoint": endpoint, "database": "db"},
        }
    )
    assert run_daemon(cfg, spark, once=True, out=io.StringIO()) == 0

    inserts = [
        (urllib.parse.parse_qs(urllib.parse.urlparse(path).query), body)
        for path, body in received
        if "INSERT" in urllib.parse.unquote(path)
    ]
    assert len(inserts) == 2, f"expected 2 micro-batch posts, got {len(inserts)}"
    (qs_a, body_a), (qs_b, body_b) = inserts
    assert body_a == body_b  # the hazard: byte-identical bodies
    tok_a = qs_a["insert_deduplication_token"][0]
    tok_b = qs_b["insert_deduplication_token"][0]
    assert tok_a != tok_b, "distinct epochs must never share a dedup token"


def test_daemon_resumes_through_walsender_crash(spark, tmp_path):
    """VERDICT r5 item 5 — the full chain with a mid-transaction kill:
    live walsender protocol → WalSenderClient → spool landing zone →
    `run_daemon` (checkpointed streaming into the Replacing merge sink)
    → crash BEFORE the first transaction's ack → reconnect, full WAL
    replay (what a real slot does with an unacked LSN) → daemon resume
    from its checkpoint → state converges exactly once, replay and all.
    """
    import io
    import json
    import os

    from pg2ch_spark.config import config_from_mapping
    from pg2ch_spark.daemon import run_daemon
    from pg2ch_spark.sources.spool import spool_transactions

    spool = str(tmp_path / "spool")
    cfg = config_from_mapping(
        {
            "source": {"sf_dir": spool, "format": "cdc"},
            "state_root": str(tmp_path / "state"),
            "tables": {"accounts": {"engine": "ReplacingMergeTree"}},
        }
    )

    def one_connection():
        server = socketserver.TCPServer(("127.0.0.1", 0), FakeWalSender)
        server.log = {}
        server.done = threading.Event()
        threading.Thread(target=server.serve_forever, daemon=True).start()
        host, port = server.server_address
        stream = pg.replication_stream(
            host, port, slot="pg2ch_slot", publication="pg2ch_pub",
            clock=lambda: FIXED_CLOCK,
        )
        return server, stream

    # -- connection 1: spool tx1, then DIE before resuming (no ack) --
    server1, stream1 = one_connection()
    sp1 = spool_transactions(stream1, spool)
    lsn, path1 = next(sp1)
    assert lsn == LSN1 and os.path.exists(path1)
    sp1.close()  # crash: generator never resumed → LSN1 never acked
    assert server1.done.wait(5)
    assert server1.log["acks"] == [_expected_ack(0)]  # keepalive only
    server1.shutdown(); server1.server_close()

    # -- daemon pass 1 over the partial spool --
    out = io.StringIO()
    assert run_daemon(cfg, spark, once=True, out=out) == 0
    assert json.loads(out.getvalue())["batches"] == {"accounts": 1}
    state_path = os.path.join(cfg.state_root, "accounts", "state")
    mid = {r.key: r.value for r in spark.read.parquet(state_path).collect()}
    assert mid == {1: 10.5, 2: 20.0}  # tx1 applied, tx2 not yet spooled

    # -- connection 2: the slot re-delivers from LSN1 (unacked) --
    server2, stream2 = one_connection()
    spooled = [lsn for lsn, _ in spool_transactions(stream2, spool)]
    assert spooled == [LSN1, LSN2]  # full replay: tx1 again, then tx2
    assert server2.done.wait(5)
    # this time every commit was acked after its file landed
    assert server2.log["acks"][1:3] == [_expected_ack(LSN1), _expected_ack(LSN2)]
    server2.shutdown(); server2.server_close()
    # the replayed tx1 rewrote the SAME file name — two files, not three
    assert len([f for f in os.listdir(spool) if f.endswith(".parquet")]) == 2

    # -- daemon pass 2: checkpoint resume dedups the replayed file --
    out = io.StringIO()
    assert run_daemon(cfg, spark, once=True, out=out) == 0
    final = {
        r.key: (r.ver, r.value) for r in spark.read.parquet(state_path).collect()
    }
    expected = {}
    for r in pg.decode_stream(WAL_SCRIPT):
        k = int(r.values["id"])
        if k not in expected or r.scalar_ver > expected[k][0]:
            expected[k] = (r.scalar_ver, float(r.values["balance"]))
    assert final == expected  # converged exactly once through the replay


def test_inactivity_timer_merges_quiet_table(spark, tmp_path):
    """pg2ch's inactivity_merge_timeout as a REAL timer (VERDICT r6
    item 9): with the timeout configured, passes stop force-flushing
    the two-tier buffer — a table whose batches stay BELOW
    merge_threshold and then goes quiet is merged by the timer between
    passes, not left buffered until shutdown."""
    import io
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2ch_spark.config import config_from_mapping
    from pg2ch_spark.daemon import run_daemon

    spool = tmp_path / "spool"
    os.makedirs(spool)

    def write_tx(lsn, rows):
        pq.write_table(
            pa.table({
                "table": pa.array(["t"] * len(rows), pa.string()),
                "key": pa.array([r[0] for r in rows], pa.int64()),
                "ver": pa.array([r[1] for r in rows], pa.int64()),
                "op": pa.array([r[2] for r in rows], pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
            }),
            str(spool / f"cdc-{lsn:016x}.parquet"),
        )

    write_tx(0x10, [(1, 1, "I", 10.0), (2, 2, "I", 20.0)])

    cfg = config_from_mapping({
        "source": {"sf_dir": str(spool), "format": "cdc"},
        "state_root": str(tmp_path / "state"),
        "poll_interval_s": 0.2,
        "inactivity_merge_timeout_s": 0.05,
        # threshold never reached: only the TIMER can merge this
        "tables": {"t": {"engine": "ReplacingMergeTree", "merge_threshold": 10}},
    })

    out = io.StringIO()
    assert run_daemon(cfg, spark, max_passes=3, out=out) == 0
    lines = [json.loads(line) for line in out.getvalue().splitlines()]

    state_path = os.path.join(cfg.state_root, "t", "state")
    buffer_path = state_path + ".buffer"
    # pass 1 buffered the batch below threshold; a LATER pass (table
    # quiet >= timeout) carries the timed merge
    merged_passes = [ln["pass"] for ln in lines if ln.get("inactivity_merge")]
    assert merged_passes and merged_passes[0] > 1, lines
    assert os.path.exists(state_path), "timed merge never materialized state"
    assert not os.path.exists(buffer_path), "buffer not consumed by the merge"
    rows = sorted(tuple(r) for r in spark.read.parquet(state_path).collect())
    assert rows == [(1, 1, "I", 10.0), (2, 2, "I", 20.0)]

    # a table ACTIVE every pass must NOT be timer-merged: feed a new
    # transaction right before a second daemon run with a long timeout
    write_tx(0x20, [(3, 3, "I", 30.0)])
    cfg2 = config_from_mapping({
        "source": {"sf_dir": str(spool), "format": "cdc"},
        "state_root": str(tmp_path / "state"),
        "poll_interval_s": 0.05,
        "inactivity_merge_timeout_s": 600.0,
        "tables": {"t": {"engine": "ReplacingMergeTree", "merge_threshold": 10}},
    })
    out2 = io.StringIO()
    assert run_daemon(cfg2, spark, max_passes=2, out=out2) == 0
    lines2 = [json.loads(line) for line in out2.getvalue().splitlines()]
    # no timer fire mid-run (idle age < timeout) — but the graceful
    # stop still flushes the buffered tx (pg2ch's signal-handler flush)
    mid = [ln for ln in lines2 if ln.get("inactivity_merge") and not ln["stopping"]]
    assert mid == [], lines2
    final = [ln for ln in lines2 if ln["stopping"]]
    assert final and final[-1].get("inactivity_merge") == ["t"], lines2
    rows = sorted(tuple(r) for r in spark.read.parquet(state_path).collect())
    assert rows == [(1, 1, "I", 10.0), (2, 2, "I", 20.0), (3, 3, "I", 30.0)]


def test_live_walsender_replicates_typed_columns(spark, tmp_path):
    """The FULL typed live chain (round 7): a walsender script carrying
    NUMERIC/DATE/TIMESTAMP/UUID/ARRAY wire text → protocol client →
    typed decode → ROUTED typed spool (one subdir per configured table,
    that table's own schema) → pipeline → ReplacingMergeTree state with
    REAL Spark types. The second transaction updates with a
    TOAST-unchanged balance (RI FULL old tuple carries it), exercising
    the per-column resolution on the live path."""
    import io
    import json
    import os

    from pyspark.sql import types as T
    from tests.test_pgoutput import begin, commit, insert, relation, update
    from pg2ch_spark.sources.pgoutput import UNCHANGED
    from pg2ch_spark.config import config_from_mapping
    from pg2ch_spark.daemon import run_daemon

    lsn1, lsn2 = (1 << 32) | 0x10, (1 << 32) | 0x20
    cols = [(1, "id", 20), (0, "balance", 1700), (0, "opened", 1082),
            (0, "tags", 1016)]
    script = [
        begin(lsn1, xid=3),
        relation(91, "wallets", cols),
        insert(91, 7, "1234567890123.45", "2024-02-29", "{7,49}"),
        commit(lsn1),
        begin(lsn2, xid=4),
        # balance TOAST-unchanged; RI FULL old tuple resolves it
        update(91, (7, UNCHANGED, "2024-03-01", "{7,77}"),
               old=(7, "1234567890123.45", "2024-02-29", "{7,49}"),
               old_kind=b"O"),
        commit(lsn2),
    ]

    server = socketserver.TCPServer(("127.0.0.1", 0), FakeWalSender)
    server.log = {}
    server.done = threading.Event()
    server.script = script
    threading.Thread(target=server.serve_forever, daemon=True).start()
    host, port = server.server_address
    try:
        cfg = config_from_mapping({
            "source": {
                "sf_dir": str(tmp_path / "spool"),
                "walsender": {
                    "host": host, "port": port,
                    "slot": "s", "publication": "p", "retry_s": 0.2,
                },
            },
            "state_root": str(tmp_path / "state"),
            "poll_interval_s": 0.3,
            "tables": {"wallets": {
                "engine": "ReplacingMergeTree",
                "key_col": "id",
                "columns": {"balance": "decimal(18,2)", "opened": "date",
                            "tags": "array<bigint>"},
            }},
        })
        out = io.StringIO()
        assert run_daemon(cfg, spark, max_passes=6, out=out) == 0
    finally:
        server.shutdown()
        server.server_close()

    # routed spool: the table's own subdir, its own typed schema
    subdir = os.path.join(cfg.source_dir, "wallets")
    assert os.path.isdir(subdir)
    assert sorted(os.listdir(subdir)) == [
        f"wallets-{lsn1:016x}.parquet", f"wallets-{lsn2:016x}.parquet",
    ]

    state = spark.read.parquet(os.path.join(cfg.state_root, "wallets", "state"))
    sch = {f.name: f.dataType for f in state.schema.fields}
    assert sch["balance"] == T.DecimalType(18, 2)
    assert sch["opened"] == T.DateType()
    assert sch["tags"] == T.ArrayType(T.LongType(), True)
    [row] = state.collect()
    import datetime as dt
    from decimal import Decimal

    assert row.id == 7
    assert row.balance == Decimal("1234567890123.45")  # resolved, exact
    assert row.opened == dt.date(2024, 3, 1)
    assert row.tags == [7, 77]


def test_walsender_thread_stops_on_schema_drift(tmp_path):
    """Source DDL mid-stream is PERMANENT: the spool thread must report
    it fatally and STOP THE DAEMON, not reconnect-and-replay into the
    same boundary forever (code-review r7 finding; the runbook lives on
    SchemaDriftError)."""
    import io
    import json

    from tests.test_pgoutput import begin, commit, insert, relation
    from pg2ch_spark.config import WalSenderSource
    from pg2ch_spark.daemon import start_walsender_spool

    lsn = (1 << 32) | 0x10
    script = [
        begin(lsn, xid=1),
        relation(7, "t", [(1, "id", 23)]),
        insert(7, 1),
        commit(lsn),
        begin(lsn + 1, xid=2),
        relation(7, "t", [(1, "id", 23), (0, "added", 25)]),  # DDL!
        insert(7, 2, "x"),
        commit(lsn + 1),
    ]
    server = socketserver.TCPServer(("127.0.0.1", 0), FakeWalSender)
    server.log = {}
    server.done = threading.Event()
    server.script = script
    threading.Thread(target=server.serve_forever, daemon=True).start()
    host, port = server.server_address
    try:
        ws = WalSenderSource(host=host, port=port, slot="s",
                             publication="p", retry_s=0.1)
        stop = threading.Event()
        out = io.StringIO()
        t = start_walsender_spool(ws, str(tmp_path / "spool"), stop, out=out)
        assert stop.wait(timeout=15), "drift did not stop the daemon"
        t.join(timeout=5)
        lines = [json.loads(line) for line in out.getvalue().splitlines()]
        fatals = [ln for ln in lines if "walsender_fatal" in ln]
        assert fatals and "changed shape mid-stream" in fatals[0]["walsender_fatal"]
        # no reconnect loop: exactly one fatal, zero transient retries after
        assert len(fatals) == 1
    finally:
        server.shutdown()
        server.server_close()


def test_live_walsender_typed_collapsing(spark, tmp_path):
    """Typed CollapsingMergeTree over the LIVE path: the spool thread
    derives ±sign rows from the wire's RI FULL old tuples (the
    reference's collapsing topology — zero sink-side carry state) and
    FINAL nets them: an updated key survives with its new image, a
    deleted key vanishes."""
    import io
    import os

    from pyspark.sql import types as T
    from tests.test_pgoutput import begin, commit, delete, insert, relation, update
    from pg2ch_spark.config import config_from_mapping
    from pg2ch_spark.daemon import run_daemon

    lsn = (1 << 32) | 0x10
    cols = [(1, "id", 20), (0, "balance", 1700)]
    script = [
        begin(lsn, xid=1),
        relation(93, "ledg", cols),
        insert(93, 1, "10.00"),
        insert(93, 2, "20.00"),
        commit(lsn),
        begin(lsn + 1, xid=2),
        update(93, (1, "15.50"), old=(1, "10.00"), old_kind=b"O"),
        delete(93, 2, "20.00", kind=b"O"),
        commit(lsn + 1),
    ]
    server = socketserver.TCPServer(("127.0.0.1", 0), FakeWalSender)
    server.log = {}
    server.done = threading.Event()
    server.script = script
    threading.Thread(target=server.serve_forever, daemon=True).start()
    host, port = server.server_address
    try:
        cfg = config_from_mapping({
            "source": {
                "sf_dir": str(tmp_path / "spool"),
                "walsender": {"host": host, "port": port, "slot": "s",
                              "publication": "p", "retry_s": 0.2},
            },
            "state_root": str(tmp_path / "state"),
            "poll_interval_s": 0.3,
            "tables": {"ledg": {
                "engine": "CollapsingMergeTree",
                "key_col": "id",
                "columns": {"balance": "decimal(18,2)"},
            }},
        })
        out = io.StringIO()
        assert run_daemon(cfg, spark, max_passes=6, out=out) == 0
    finally:
        server.shutdown()
        server.server_close()

    # the signed spool landed in the table's routed subdir
    assert os.path.isdir(os.path.join(cfg.source_dir, "ledg"))
    log = spark.read.parquet(os.path.join(cfg.state_root, "ledg", "state"))
    assert "sign" in log.columns
    from pg2ch_spark.pipeline import _SignedTypedSink

    final = _SignedTypedSink(
        spark, os.path.join(cfg.state_root, "ledg", "state"), "id", "sign"
    ).final()
    assert {f.name: f.dataType for f in final.schema.fields}["balance"] == (
        T.DecimalType(18, 2)
    )
    from decimal import Decimal

    got = [(r.id, r.balance) for r in final.collect()]
    assert got == [(1, Decimal("15.50"))]  # key 2 collapsed away


def test_daemon_fanout_renders_timestamps_in_utc(spark, tmp_path, http_stub):  # noqa: F811
    """The spool stores timestamps UTC-naive, so the ClickHouse bodies
    must render them in UTC whatever zone the session started with:
    `run_pipeline` sets the session zone to UTC (catalog.configure)
    before any batch runs, so a New York session still ships 12:00."""
    import datetime as dt
    import io
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2ch_spark.config import config_from_mapping
    from pg2ch_spark.daemon import run_daemon
    from pg2ch_spark.sources.spool import typed_spool_schema

    endpoint, received = http_stub
    spool = tmp_path / "spool"
    os.makedirs(spool)
    columns = {"ts": "timestamp"}
    pq.write_table(
        pa.Table.from_pylist(
            [{"table": "ev", "key": 1, "ver": 1, "op": "I",
              "ts": dt.datetime(2024, 1, 1, 12, 0, 0)}],
            schema=typed_spool_schema("key", "bigint", columns),
        ),
        str(spool / f"cdc-{0x100:016x}.parquet"),
    )
    cfg = config_from_mapping(
        {
            "source": {"sf_dir": str(spool), "format": "cdc"},
            "state_root": str(tmp_path / "state"),
            "tables": {"ev": {"columns": columns}},
            "clickhouse": {"endpoint": endpoint, "database": "db"},
        }
    )
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        assert run_daemon(cfg, spark, once=True, out=io.StringIO()) == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    body = b"".join(b for _, b in received).decode()
    assert "2024-01-01 12:00:00" in body, body
