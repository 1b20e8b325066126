"""Stateful streaming counter (SURVEY.md B24) + upsert sink (B25).

The reference counter is a serial fold over commands (INCR/DECR/SET,
src/plan-server.ts:50–83) — order-dependent, so it is NOT a commutative
streaming aggregate. The streaming form is ``foreachBatch``: each
micro-batch of counter events is appended to a transactional log table
(the B25 idempotent-upsert pattern, keyed by epoch for exactly-once) and
the current value is the same last-writer-wins replay used in batch
(operators/counter.py) — guaranteeing stream/batch equivalence by
construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_plan_service_spark.operators.counter import current_counter_value
from hive_plan_service_spark.sources.catalog import counter_events_from
from hive_plan_service_spark.sources.materialize import read_or_empty
from hive_plan_service_spark.streaming.epoch_store import drain, write_epoch
from hive_plan_service_spark.streaming.source import events_stream


def streaming_counter_value(
    spark: SparkSession, events_path: str, workdir: str
) -> DataFrame:
    """Replay the events feed as a stream; return the final counter value.

    Epoch-partitioned appends make re-delivered batches overwrite their
    own partition instead of double-counting (idempotent sink).
    """
    log_dir = os.path.join(workdir, "counter_log")
    ce = counter_events_from(events_stream(spark, events_path))
    drain(
        ce,
        lambda batch_df, epoch_id: write_epoch(batch_df, log_dir, epoch_id),
        os.path.join(workdir, "ckpt_counter"),
    )
    # empty feed (first boot): no batch ever committed a partition —
    # replay the fold over zero commands
    log = read_or_empty(spark, log_dir, ce.schema).drop("epoch")
    return current_counter_value(log)


def fold_counter_batch(value: int, batch) -> int:
    """Fold one SORTED pandas batch of counter commands into ``value``.

    Vectorized EXACT equivalent of the reference's per-row arrival-order
    fold (src/plan-server.ts:50–83): only the batch-END value matters to
    the caller, and a SET overwrites everything before it, so the result
    is (the last SET's value, else the carried ``value``) plus the
    integer deltas strictly after that point. All-integer arithmetic —
    no accumulation-order concern. The per-row iterrows loop this
    replaced folds ~25k rows/s (19.7 s for a 500k-command batch on the
    one serial-by-semantics key vs 0.013 s vectorized — measured,
    identical result; ROUND5_NOTES §12). Equivalence to the per-row
    model is hypothesis-pinned (tests/test_properties.py).
    """
    ops = batch["op"].to_numpy()
    set_pos = (ops == "set").nonzero()[0]
    start = 0
    if len(set_pos):
        import pandas as pd

        last = int(set_pos[-1])
        sv = batch["set_value"].iloc[last]
        # a SET carrying NULL (the reference's numberVerifier 403s it at
        # the API edge; in-log it can occur — r8 numeric-NULL sweep) is
        # defined as SET 0, mirroring the batch fold's
        # coalesce(set_value, 0) in operators/counter.py — int(NaN)
        # crashed this kernel before
        value = 0 if pd.isna(sv) else int(sv)
        start = last + 1
    tail = batch["delta"].iloc[start:]
    if len(tail):  # no SET rows past `start` ⇒ no NaN deltas here
        value += int(tail.astype("int64").sum())
    return value


def stateful_counter_transform(
    spark: SparkSession, events_path: str
) -> DataFrame:
    """The B24 streaming transform WITHOUT a sink: the keyed
    ``applyInPandasWithState`` fold as a streaming DataFrame, so
    callers choose the sink and checkpoint. ``stateful_counter_stream``
    drives it to completion on an ephemeral checkpoint (the registered
    query); ``scripts/restart_probe.py`` drives it across a real
    checkpointed stop/restart to certify state-store reload."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ce = counter_events_from(events_stream(spark, events_path)).withColumn(
        "k", F.lit(1)
    )

    def fold(key, pdfs, state: "GroupState"):
        import pandas as pd

        value, seq = state.get if state.exists else (0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], ignore_index=True)
        value = fold_counter_batch(value, batch)
        seq += 1
        state.update((value, seq))
        yield pd.DataFrame({"seq": [seq], "joined_count": [value]})

    return ce.groupBy("k").applyInPandasWithState(
        fold,
        outputStructType="seq bigint, joined_count bigint",
        stateStructType="value bigint, seq bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_counter_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """B24 via ``applyInPandasWithState``: the counter as a keyed stateful op.

    The reference applies INCR/DECR/SET in *arrival order* (Redis command
    stream, src/plan-server.ts:50–83); this operator reproduces exactly
    that: per micro-batch, commands are sorted by (ts, event_id) and
    folded into the state value — SET overwrites, deltas accumulate.
    Emits the running value per batch; the last emission is the answer.
    On a full single-batch replay this equals the batch last-writer-wins
    fold (oracle-checked).

    DELIBERATE no-Python-rule carve-out: this is the one registered query
    whose data path executes Python (``applyInPandasWithState`` has no
    JVM surface — demonstrating the custom-stateful-operator API is the
    point of B24). It stays scale-safe anyway: state is O(#counter keys),
    each key's per-batch commands arrive as ONE Arrow batch, and the fold
    is a per-key serial reduction that no JVM aggregate can express
    (order-dependent SET). tests/test_plans.py's BatchEvalPython ban
    covers scalar paths; streaming/effectful queries are excluded there
    (``_EFFECTFUL``), so the ban stays crisp: JVM-side everywhere except
    where Python IS the operator under test (B24/B26/B30).
    """
    out = stateful_counter_transform(spark, events_path)

    from hive_plan_service_spark.streaming.windows import run_to_completion

    emitted = run_to_completion(out, output_mode="update")
    if not emitted.take(1):  # bounded control-flow probe of the memory sink
        # empty feed: a stream with zero batches emits nothing, but the
        # reference's GET returns the null-default on an empty command
        # log (A12) — replay the batch fold over zero commands so the
        # stream and batch forms agree on first boot (empty-fixture
        # sweep, ROUND5_NOTES §13)
        empty_ce = counter_events_from(events_stream(spark, events_path))
        return current_counter_value(
            spark.createDataFrame([], empty_ce.schema)
        )
    last = emitted.orderBy(F.col("seq").desc()).limit(1)
    return last.select(F.col("joined_count").cast("bigint").alias("joined_count"))
