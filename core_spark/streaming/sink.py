"""Exactly-once sink protocol: fenced, idempotent-by-batch commits
with post-commit ACK intents.

Reference mapping (SURVEY.md §4.3.2-3):
- The consumer transaction commits {state + checkpoint + staged ACK
  intents} atomically in its store, then appends the ACKs
  (consumer/transaction.go:436-505, message/publisher.go:114-188).
- The remote-SQL store pattern is a `gazette_checkpoints(shard, fence,
  checkpoint)` row updated with a fence-increment CAS
  (consumer/store_sql.go:12-146).

Spark shape: `foreachBatch(sink)` — the micro-batch id is the
transaction id. The sink:
  1. acquires its fence FROM THE STORE at construction
     (Journal.acquire_fence: a register-only manifest CAS increments
     fence:{shard}), so every incarnation holds a unique,
     strictly-larger fence — two writers constructed concurrently
     serialize on the CAS and cannot share a fence;
  2. skips batch ids at or below the committed watermark (idempotent
     re-delivery after restart — Spark may re-run the last batch);
  3. writes the batch's data fragments to the output journal and
     commits {batch_id} via the journal's manifest CAS, carrying the
     fence in the journal registers — a zombie writer holding a stale
     fence loses the register check / CAS and aborts (write fence,
     consumer/recoverylog/fsm.go:41-56);
  4. after the commit, appends one ACK_TXN marker per touched journal
     (BuildAckIntents) so downstream read-committed consumers release
     the batch's CONTINUE run. The ACK path is fence-gated too: a
     zombie re-delivering an already-committed batch may not write
     ACKs either — re-sends belong to the live incarnation, which
     re-appends recovered AckIntents at startup
     (consumer/transaction.go:45-91).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from core_spark.sources.journal import Journal, RegisterMismatch


class FencedJournalSink:
    """foreachBatch target writing exactly-once into a Journal."""

    def __init__(
        self, root: str, journal: str, shard: str, fmt: str = "parquet"
    ):
        self.journal = Journal(root, journal)
        self.shard = shard
        self.fmt = fmt  # per-transaction fragment format (codec ok)
        # Store-assigned unique fence: newer incarnations bump it;
        # older writers then fail their register check / ack gate.
        self.fence = self.journal.acquire_fence(shard)

    def committed_batch(self) -> int:
        m = self.journal.manifest()
        return int(m.registers.get(f"batch:{self.shard}", "-1"))

    def _check_fence(self) -> None:
        held = int(
            self.journal.manifest().registers.get(f"fence:{self.shard}", "0")
        )
        if held > self.fence:
            raise RegisterMismatch(
                f"fenced off: journal holds {held} > {self.fence}"
            )

    def _ensure_ack(self, batch_id: int) -> None:
        """Write the batch's ACK intent if absent. Called on the commit
        path AND on re-delivery: a crash between commit and ACK must
        re-send the ACK when the batch is re-delivered (the recovered
        checkpoint's AckIntents are re-appended at startup,
        consumer/transaction.go:45-91 — idempotent because keyed by
        batch id). Fence-checked by callers: zombies don't ACK."""
        ack_path = os.path.join(self.journal.root, f"_acks/batch-{batch_id}.json")
        if os.path.exists(ack_path):
            return
        os.makedirs(os.path.dirname(ack_path), exist_ok=True)
        with open(ack_path, "w") as fh:
            json.dump(
                {"shard": self.shard, "batch": batch_id, "flags": "ACK_TXN"}, fh
            )

    def __call__(
        self,
        df: DataFrame,
        batch_id: int,
        read_through_fn=None,
    ) -> None:
        """`read_through_fn` is a zero-arg callable returning the map
        source journal name -> exclusive end offset consumed by this
        batch (typically closing over an `Observation` riding the
        batch plan, so no extra job re-scans the source). It is
        resolved after the data write and its `rt:<shard>:<journal>`
        registers are committed ATOMICALLY with the batch via the same
        manifest CAS, giving offset-granular progress (not just the
        batch watermark) for await_offset."""
        self._check_fence()  # zombies neither write data nor ACK
        if batch_id <= self.committed_batch():
            self._ensure_ack(batch_id)  # ACK re-send after crash-between
            return  # idempotent re-delivery

        post = None
        if read_through_fn is not None:
            def post():
                return {
                    f"rt:{self.shard}:{j}": str(int(off))
                    for j, off in (read_through_fn() or {}).items()
                }
        staged = df.withColumn("_batch", F.lit(batch_id))
        self.journal.append(
            staged,
            fmt=self.fmt,
            # the append itself re-validates the fence against the
            # manifest it commits over — the CAS closes the
            # check-then-act window _check_fence alone would leave
            check_registers={f"fence:{self.shard}": str(self.fence)},
            set_registers={f"batch:{self.shard}": str(batch_id)},
            post_write_registers=post,
        )
        # Post-commit ACK intent (idempotent: keyed by batch id).
        self._ensure_ack(batch_id)
