"""Typed live-replication roundtrip — the declared-query proof that
the R2→R11 chain carries REAL COLUMN TYPES, not strings.

pg2ch maps each replicated table's PostgreSQL columns onto ClickHouse
types through its per-table YAML column map (SURVEY §1.2); the Spark
analog is `TableSpec.columns` + the typed spool
(`sources.spool.typed_rows` / `typed_spool_schema`) + the typed text
decoders in `sources.pgoutput.decode_value` (NUMERIC → Decimal, DATE →
date, TIMESTAMP[TZ] → UTC datetime, UUID → canonical string, arrays →
lists). This key drives decimal / date / timestamp / uuid /
array<bigint> values through the WHOLE live path:

    pgoutput binary frames (text-format values exactly as the wire
    carries them) → WalDecoder → typed spool parquet → streaming
    pipeline (TableSpec.columns) → ReplacingMergeSink state

and the oracle recomputes the expected typed state independently in
DuckDB — so a stringly-typed regression anywhere in the chain (a
Decimal collapsing to float, a timestamp shifting timezone, an array
flattening to text) hash-fails.

The frame builders below ENCODE the pgoutput v1 message format
(PostgreSQL docs, "Logical Streaming Replication Protocol"); the
decoder under test lives in sources/pgoutput.py.
"""

from __future__ import annotations

import shutil
import struct
import uuid as _uuidlib
from datetime import datetime, time, timedelta

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pg2ch_spark import catalog
from pg2ch_spark.registry import register

# ---------------------------------------------------------------------------
# pgoutput v1 frame ENCODERS (inverse of sources/pgoutput.parse_message)


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _tuple_data(vals: tuple) -> bytes:
    """Values → TupleData: str → 't' text field, None → 'n' null,
    Ellipsis → 'u' TOAST-unchanged."""
    out = [struct.pack(">h", len(vals))]
    for v in vals:
        if v is None:
            out.append(b"n")
        elif v is Ellipsis:
            out.append(b"u")
        else:
            b = str(v).encode()
            out.append(b"t" + struct.pack(">i", len(b)) + b)
    return b"".join(out)


def begin_frame(lsn: int, xid: int) -> bytes:
    return b"B" + struct.pack(">qqi", lsn, 0, xid)


def commit_frame(lsn: int) -> bytes:
    return b"C" + struct.pack(">bqqq", 0, lsn, lsn, 0)


def relation_frame(oid: int, name: str, cols: list[tuple[int, str, int]]) -> bytes:
    body = struct.pack(">I", oid) + _cstr("public") + _cstr(name)
    body += struct.pack(">bh", 100, len(cols))  # ident 'd'
    for flags, cname, type_oid in cols:
        body += struct.pack(">b", flags) + _cstr(cname)
        body += struct.pack(">Ii", type_oid, -1)
    return b"R" + body


def insert_frame(oid: int, vals: tuple) -> bytes:
    return b"I" + struct.pack(">I", oid) + b"N" + _tuple_data(vals)


def update_frame(oid: int, new: tuple, old: tuple, old_kind: bytes = b"O") -> bytes:
    return (
        b"U" + struct.pack(">I", oid) + old_kind + _tuple_data(old)
        + b"N" + _tuple_data(new)
    )


def delete_frame(oid: int, key_vals: tuple) -> bytes:
    return b"D" + struct.pack(">I", oid) + b"K" + _tuple_data(key_vals)


# ---------------------------------------------------------------------------

_TYPED_COLUMNS = {
    "price": "decimal(18,2)",
    "odate": "date",
    "ts": "timestamp",
    "uid": "string",
    "tags": "array<bigint>",
}

# wire column list: (flags, name, type_oid) — int8 key, numeric, date,
# timestamp, uuid, _int8 array
_WIRE_COLS = [
    (1, "key", 20),
    (0, "price", 1700),
    (0, "odate", 1082),
    (0, "ts", 1114),
    (0, "uid", 2950),
    (0, "tags", 1016),
]


def _wire_values(k: int, d) -> dict:
    """Deterministic typed values for order key ``k`` (order date ``d``)
    in their WIRE TEXT form — both the Spark path (through the binary
    decoder) and the DuckDB oracle derive the same values from the same
    orders columns."""
    if isinstance(d, datetime):  # testdata stores o_orderdate as timestamp
        d = d.date()
    cents = (k * 123) % 10_000_000
    ts = datetime.combine(d, time()) + timedelta(seconds=k % 86399)
    return {
        "price": f"{cents // 100}.{cents % 100:02d}",
        "odate": str(d),
        "ts": ts.strftime("%Y-%m-%d %H:%M:%S"),
        "uid": str(_uuidlib.UUID(int=k)).upper(),  # wire may be uppercase
        "tags_v1": f"{{{k},{(k * 7) % 1000}}}",
        "tags_v2": f"{{{k},{(k * 11) % 1000}}}",
    }


@register(
    "cdc_typed_roundtrip",
    oracle="""
    WITH sel AS (
        SELECT o_orderkey AS k,
               o_orderdate AS d,
               CAST((o_orderkey * 123) % 10000000 AS BIGINT) AS cents,
               printf('%032x', o_orderkey) AS h
        FROM orders
        WHERE o_orderkey % 97 = 1 AND o_orderkey % 5 <> 0
    )
    SELECT k AS key,
           printf('%d.%02d', cents // 100, cents % 100) AS price,
           strftime(CAST(d AS DATE), '%Y-%m-%d') AS odate,
           CAST(d AS TIMESTAMP) + (k % 86399) * INTERVAL '1 second' AS ts,
           substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' || substr(h, 13, 4)
             || '-' || substr(h, 17, 4) || '-' || substr(h, 21, 12) AS uid,
           CAST(k AS VARCHAR) || ',' || CAST((k * 11) % 1000 AS VARCHAR) AS tags
    FROM sel
    """,
)
def cdc_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed columns through the LIVE replication chain (see module
    docstring). Three transactions on a sampled orders slice: INSERTs,
    then UPDATEs whose ``price`` is TOAST-UNCHANGED (resolved from the
    REPLICA IDENTITY FULL old tuple — the per-column resolution the
    typed mapper owns) with a changed ``tags`` array, then DELETEs of
    every fifth key. Expected state: the update image with the insert's
    price, minus the deleted keys — recomputed independently by the
    oracle. decimal/array columns are projected to strings for
    cross-engine hashing (D5); the STATE itself is typed, asserted in
    tests/test_typed_replication.py.

    Scale: the frame synthesis is the PROTOCOL-CLIENT side — inherently
    one walsender session (bounded here by the key sample, as pg2ch's
    is by one slot's WAL bandwidth); everything from the spool on is a
    distributed stream → sink plan, fanning out by spool file."""
    from pg2ch_spark.pipeline import TableSpec, read_state, run_pipeline
    from pg2ch_spark.sources.pgoutput import WalDecoder
    from pg2ch_spark.sources.spool import (
        spool_transactions,
        typed_rows,
        typed_spool_schema,
    )
    from pg2ch_spark.streaming.runner import scratch_dir

    orders = catalog.load(spark, sf_dir, "orders")
    sample = (
        orders.where(F.col("o_orderkey") % 97 == 1)
        .select("o_orderkey", "o_orderdate")
        .collect()  # bounded: ~1/97th of orders, the protocol-client side
    )

    oid, lsn0 = 77, 1 << 32

    def frames():
        yield relation_frame(oid, "orders_t", _WIRE_COLS)
        # tx1: INSERT every key (price v1, tags v1)
        yield begin_frame(lsn0 + 1, xid=1)
        for r in sample:
            w = _wire_values(r.o_orderkey, r.o_orderdate)
            yield insert_frame(
                oid,
                (r.o_orderkey, w["price"], w["odate"], w["ts"], w["uid"],
                 w["tags_v1"]),
            )
        yield commit_frame(lsn0 + 1)
        # tx2: UPDATE every key — price TOAST-unchanged ('u'), tags v2;
        # RI FULL old tuple carries the v1 image the resolution needs
        yield begin_frame(lsn0 + 2, xid=2)
        for r in sample:
            w = _wire_values(r.o_orderkey, r.o_orderdate)
            old = (r.o_orderkey, w["price"], w["odate"], w["ts"], w["uid"],
                   w["tags_v1"])
            new = (r.o_orderkey, Ellipsis, w["odate"], w["ts"], w["uid"],
                   w["tags_v2"])
            yield update_frame(oid, new, old, old_kind=b"O")
        yield commit_frame(lsn0 + 2)
        # tx3: DELETE every fifth key (RI key tuple: non-key cols NULL)
        yield begin_frame(lsn0 + 3, xid=3)
        for r in sample:
            if r.o_orderkey % 5 == 0:
                yield delete_frame(
                    oid, (r.o_orderkey, None, None, None, None, None)
                )
        yield commit_frame(lsn0 + 3)

    def tx_stream():
        dec = WalDecoder()
        buf, cur = [], None
        for f in frames():
            for row in dec.push(f):
                if cur is not None and row.lsn != cur:
                    yield cur, buf
                    buf = []
                cur = row.lsn
                buf.append(row)
        if buf:
            yield cur, buf

    base = scratch_dir("pg2ch_typedq_")
    spool, root = base + "/spool", base + "/state"
    try:
        list(
            spool_transactions(
                tx_stream(),
                spool,
                to_rows=typed_rows("key", _TYPED_COLUMNS),
                table="orders_t",
                schema=typed_spool_schema("key", "bigint", _TYPED_COLUMNS),
            )
        )
        spec = TableSpec(main_table="orders_t", columns=_TYPED_COLUMNS)
        run_pipeline(spark, [spec], spool, root, source_format="cdc")
        # result handoff: the backing dir is removed before the caller
        # evaluates the frame
        state = read_state(spark, spec, root).localCheckpoint(eager=True)
        return state.where(F.col("op") != "D").select(
            "key",
            F.col("price").cast("string").alias("price"),
            # dates cross engines as yyyy-MM-dd strings (the D5
            # convention); the STATE column stays DateType
            F.date_format("odate", "yyyy-MM-dd").alias("odate"),
            "ts",
            "uid",
            F.array_join(
                F.transform("tags", lambda x: x.cast("string")), ","
            ).alias("tags"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "cdc_typed_collapsing",
    oracle="""
    SELECT o_orderkey AS key,
           printf('%d.%02d',
                  CAST((o_orderkey * 57) % 10000000 AS BIGINT) // 100,
                  CAST((o_orderkey * 57) % 10000000 AS BIGINT) % 100) AS price
    FROM orders
    WHERE o_orderkey % 83 = 1 AND o_orderkey % 7 <> 0
    """,
)
def cdc_typed_collapsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed CollapsingMergeTree end to end: a PRE-SIGNED typed log
    (the −1/+1 pairs the live mapper `typed_rows_signed` derives from
    RI FULL old tuples) streamed through the pipeline into the
    epoch-keyed signed sink, whose FINAL nets signs per key — the
    reference's own collapsing topology, zero sink-side carry state.

    Per sampled order key: INSERT (+1, price v1), UPDATE (−1 v1 /
    +1 v2), and for every 7th key a DELETE (−1 v2) that collapses the
    key to net zero. Expected FINAL: the update image for surviving
    keys only — recomputed independently by the oracle. Decimal
    projected to string for cross-engine hashing (D5); the state
    column is DecimalType (tests/test_typed_replication.py).

    Scale: the signed log is a distributed write; netting is one
    groupBy-window pass per key partition."""
    from pg2ch_spark.pipeline import TableSpec, read_state, run_pipeline
    from pg2ch_spark.streaming.runner import scratch_dir

    o = catalog.load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 83 == 1)
    k = F.col("o_orderkey")

    def price(mult: int):
        cents = (k * mult) % 10_000_000
        return (
            cents.cast("decimal(18,0)") / F.lit(100).cast("decimal(4,0)")
        ).cast("decimal(18,2)")

    def rows(op: str, sign: int, ver, p, where=None):
        d = o.where(where) if where is not None else o
        return d.select(
            F.lit("t").alias("table"),
            k.alias("key"),
            ver.alias("ver"),
            F.lit(op).alias("op"),
            F.lit(sign).cast("int").alias("sign"),
            p.alias("price"),
        )

    signed = (
        rows("I", 1, k * 4, price(123))
        .unionByName(rows("U", -1, k * 4 + 1, price(123)))
        .unionByName(rows("U", 1, k * 4 + 1, price(57)))
        .unionByName(rows("D", -1, k * 4 + 2, price(57), where=k % 7 == 0))
    )
    base = scratch_dir("pg2ch_typedcolq_")
    spool, root = base + "/spool", base + "/state"
    try:
        signed.repartition(2).write.mode("overwrite").parquet(spool)
        spec = TableSpec(
            main_table="t",
            engine="CollapsingMergeTree",
            key_col="key",
            columns={"price": "decimal(18,2)"},
        )
        run_pipeline(spark, [spec], spool, root, source_format="cdc")
        # result handoff: the backing dir is removed before the caller
        # evaluates the frame
        state = read_state(spark, spec, root).localCheckpoint(eager=True)
        return state.select("key", F.col("price").cast("string").alias("price"))
    finally:
        shutil.rmtree(base, ignore_errors=True)
