"""Streaming read-committed view — the sequencer as keyed state.

State per producer is exactly the reference's ProducerState checkpoint
entry — {min_clock, max_clock, pending run}
(consumer/protocol/protocol.proto:294-304, message/sequencer.go:90-110
partialSeq) — carried across micro-batches by Spark's state store,
which plays the role of the reference's sequencer ring + replay
(sequencer.go:26-37: ring insufficient → replay; here: state is
durable, no replay needed).

Semantics are the outcome table restated in
core_spark/operators/sequencer.py — including QueueAckRollback's
DOWNWARD horizon reset (sequencer.go:236-257), so re-sends after an
upstream checkpoint recovery are accepted (at-least-once fallback)
instead of silently dropped. Batch and streaming agree bit-for-bit
(asserted in tests/test_streaming.py).

The operator is `applyInPandasWithState`: the per-producer state is
one tuple row (horizon clocks plus the pending run as parallel
arrays), and the idle prune is GroupStateTimeout.ProcessingTimeTimeout
+ state.remove(). A producer idle longer than `idle_prune_ms` has its
state evicted — the direct analog of the reference's 24h
messageSequencerPruneHorizon (consumer/shard.go:35-38). A producer
reappearing after prune re-initializes from its next message, exactly
as a reference partialSeq would be recreated.

The state shuffles on producer — identical partitioning to the batch
formulation. Within-batch and cross-batch delivery must be
offset-ordered per producer (journal reads are; the file-stream
source preserves fragment order).

The state function is self-contained (pandas + stdlib only) so
cloudpickle ships it by value — Python workers never need core_spark
importable (the driver harness runs from outside the repo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Message schema this operator consumes/emits (the message_view shape).
MESSAGE_SCHEMA = (
    "event_id long, user_id long, value double, off long, "
    "producer long, clock long, flags long"
)

DEFAULT_IDLE_PRUNE_MS = 24 * 3600 * 1000  # messageSequencerPruneHorizon

_COLS = ["event_id", "user_id", "value", "off", "producer", "clock", "flags"]

_STATE_SCHEMA = (
    "min_clock long, max_clock long, "
    "pend_off array<long>, pend_clock array<long>, "
    "pend_event array<long>, pend_user array<long>, pend_value array<double>"
)


def stream_read_committed(
    messages: DataFrame, idle_prune_ms: int | None = None
) -> DataFrame:
    """Read-committed view of a streaming DataFrame in the
    message_view shape. Keyed state per producer; append output.

    `idle_prune_ms` enables the idle-state prune horizon (pass
    DEFAULT_IDLE_PRUNE_MS for the reference's 24h). It is OPT-IN
    because processing-time timers make the streaming engine run
    continuous micro-batches to evaluate them — correct behavior for
    a long-lived consumer with a trigger interval, surprising for
    ad-hoc bounded streams (and it stalls processAllAvailable-style
    test harnesses).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    prune_ms = None if idle_prune_ms is None else int(idle_prune_ms)

    def fn(key, pdfs, state):
        """Fold offset-ordered pandas batches of one producer through
        its (min_clock, max_clock, pending) state."""
        import pandas as _pd

        if state.hasTimedOut:
            # idle horizon passed: evict this producer's partial state
            state.remove()
            return
        if state.exists:
            min_clock, max_clock, po, pc, pe, pu, pv = state.get
            pending = [list(t) for t in zip(po, pc, pe, pu, pv)]
            inited = True
        else:
            min_clock = max_clock = 0
            pending, inited = [], False

        producer = key[0]
        out_rows = []

        def emit(off, clock, flags, ev, us, val):
            out_rows.append([ev, us, val, off, producer, clock, flags])

        for pdf in pdfs:
            pdf = pdf.sort_values("off")
            for r in pdf.itertuples(index=False):
                clock, flags = int(r.clock), int(r.flags)
                if clock == 0:  # zero-UUID passthrough, no state touch
                    emit(int(r.off), clock, flags, int(r.event_id),
                         int(r.user_id), float(r.value))
                    continue
                if not inited:
                    min_clock = max_clock = clock - 1
                    inited = True
                if flags == 2:  # ACK: commit >min, else rollback
                    if clock > min_clock:
                        for off, c, ev, us, val in pending:
                            if c <= clock:
                                emit(off, c, 1, ev, us, val)
                    # either way: horizon = ack clock (a rollback
                    # RESETS DOWNWARD — QueueAckRollback)
                    pending = []
                    min_clock = max_clock = clock
                elif flags == 1:  # CONTINUE
                    if clock <= min_clock or clock <= max_clock:
                        continue  # acked / duplicate delivery
                    pending.append(
                        [int(r.off), clock, int(r.event_id),
                         int(r.user_id), float(r.value)]
                    )
                    max_clock = clock
                else:  # OUTSIDE (unknown flags fall through here)
                    if clock <= min_clock:
                        continue  # behind committed horizon
                    emit(int(r.off), clock, flags, int(r.event_id),
                         int(r.user_id), float(r.value))
                    pending = []  # commit clobbers the pending run
                    min_clock = max_clock = clock

        if inited:
            state.update(
                (
                    min_clock,
                    max_clock,
                    [p[0] for p in pending],
                    [p[1] for p in pending],
                    [p[2] for p in pending],
                    [p[3] for p in pending],
                    [p[4] for p in pending],
                )
            )
            if prune_ms is not None:
                state.setTimeoutDuration(prune_ms)
        if out_rows:
            yield _pd.DataFrame(out_rows, columns=_COLS)

    return messages.groupBy("producer").applyInPandasWithState(
        fn,
        outputStructType=MESSAGE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if prune_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
