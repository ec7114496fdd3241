"""Declared-query wrapper for the replication pipeline (R14/R15).

Runs the config-driven daemon surface end-to-end inside one query key,
so the driver's correctness gate exercises the TableSpec → stream →
engine-sink path itself, not just the batch-SQL engine semantics: a
ReplacingMergeTree spec replicates the derived change stream into
fresh state under a scratch root, and the final state is the answer.
The oracle is the independent latest-per-key SQL over the same derived
log — if the stream source, checkpointing, sink merge, or commit
protocol drop or duplicate anything, the hash comparison fails.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from pg2ch_spark.cdc.derive import CDC_CTE
from pg2ch_spark.registry import register


@register(
    "cdc_pipeline_replicating",
    oracle=CDC_CTE
    + """
    SELECT key, ver, op, value FROM cdc
    QUALIFY row_number() OVER (PARTITION BY key ORDER BY ver DESC) = 1
    """,
)
def cdc_pipeline_replicating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full replication pipeline as a query: one ReplacingMergeTree
    TableSpec consumed from the events stream (availableNow ≙ catch-up
    run), answer = the replicated state table. Fresh scratch root per
    invocation (the checkpoint/state lifecycle is the thing under
    test; rerun-resume idempotence is covered by
    tests/test_pipeline.py)."""
    from pg2ch_spark.pipeline import TableSpec, read_state, run_pipeline
    from pg2ch_spark.streaming.runner import scratch_dir

    base = scratch_dir("pg2ch_pipeq_")
    root = base + "/" + uuid.uuid4().hex[:8]
    spec = TableSpec(main_table="t", engine="ReplacingMergeTree")
    try:
        run_pipeline(spark, [spec], sf_dir, root)
        # result handoff: the backing dir is removed before the caller
        # evaluates the frame
        state = read_state(spark, spec, root).localCheckpoint(eager=True)
        return state.select("key", "ver", "op", "value")
    finally:
        shutil.rmtree(base, ignore_errors=True)
