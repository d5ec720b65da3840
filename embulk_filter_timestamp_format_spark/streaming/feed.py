"""Lake-as-CDC-source: cursor-tracked incremental changelog consumption.

``IceTable.changes(v1, v2)`` is the pull primitive (net changes between
two committed versions, cost ∝ churn). This module adds the consumer
side — what Delta calls a CDF readStream and Iceberg an incremental
read, in availableNow form:

* :class:`ChangesFeed` — a durable cursor over a table's version log.
  ``poll()`` returns the net changes since the last committed cursor;
  ``commit()`` advances it. The cursor is a tiny JSON file next to the
  consumer (NOT in the source table: one table fans out to many
  independent consumers, each owning its own position — the Kafka
  consumer-group model, not a table property).
* :func:`replicate_changes` — exactly-once table→table replication:
  postimages upsert, delete preimages delete, and the TARGET table's
  batch-id fence (keyed by the source version reached) makes redelivery
  a no-op, so a consumer that crashes between merge and cursor-commit
  resumes without double-applying (the same fence discipline the ingest
  path uses — streaming/cdc.py).

Scale notes: a poll is one driver-side metadata diff + a read of every
file covering a churned BUCKET, aggregated once per key. Pruning is per
bucket, not per row: a batch of 100 uniformly hashed keys touches every
bucket of an 8-bucket table, and then the poll reads the whole table.
Tables that are polled often want more buckets than a batch has keys.
Consumers that fall behind N versions pay ONE net diff over the whole
range (not N diffs) because ``changes()`` nets internally — interposing
snapshots collapse.

Reference scope anchor: the reference plugin is a per-record filter
inside someone else's pipeline (TimestampFormatFilterPlugin.java:142
``open()`` returns a PageOutput); this engine owns the pipeline, so the
change feed is the part the reference delegates to Embulk's runner.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ChangesFeed:
    """Durable-cursor consumer of an IceTable's changelog.

    ``start_version`` seeds a NEW cursor (default: the table's current
    version — "changes from now on"; pass the creation version, usually
    1, for "everything"). An existing cursor file always wins over
    ``start_version`` — resuming a consumer must not rewind it.
    """

    def __init__(self, table, cursor_path: str, start_version: "int | None" = None):
        self.table = table
        self.cursor_path = cursor_path
        if os.path.exists(cursor_path):
            with open(cursor_path) as f:
                self._cursor = json.load(f)["version"]
        else:
            self._cursor = (
                start_version if start_version is not None
                else table.current_version()
            )
            self._persist()

    @property
    def cursor(self) -> int:
        return self._cursor

    def _persist(self) -> None:
        tmp = self.cursor_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": self._cursor}, f)
        os.replace(tmp, self.cursor_path)  # atomic on POSIX

    def poll(self) -> "tuple[DataFrame, int] | None":
        """Net changes from the committed cursor to the table's current
        version, as ``(changes_df, to_version)``; None when caught up.
        Does NOT advance the cursor — call :meth:`commit` after the
        batch is durably applied downstream."""
        to_version = self.table.current_version()
        if to_version is None or to_version <= self._cursor:
            return None
        return self.table.changes(self._cursor, to_version), to_version

    def commit(self, to_version: int) -> None:
        if to_version < self._cursor:
            raise ValueError(
                f"cursor cannot rewind: {self._cursor} -> {to_version}"
            )
        self._cursor = to_version
        self._persist()


def replicate_changes(
    feed: ChangesFeed,
    target,
    source: str = "replication",
) -> "int | None":
    """Apply one feed batch onto ``target`` exactly-once; returns the
    source version replicated through, or None when caught up.

    The merge's batch id IS the source version reached, fenced per
    ``source`` in the target's snapshot summary: crash-replay delivers
    the same (batch_id, updates) and the fence makes it a no-op, after
    which the cursor commit catches the file up. Run in a loop (or a
    scheduler tick) for continuous availableNow replication."""
    batch = feed.poll()
    if batch is None:
        return None
    changes, to_version = batch
    payload = [c for c in changes.columns if c != "_change_type"]
    updates = changes.select(
        *payload,
        F.when(F.col("_change_type") == "delete", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    target.merge_into(updates, batch_id=to_version, source=source)
    feed.commit(to_version)
    return to_version
