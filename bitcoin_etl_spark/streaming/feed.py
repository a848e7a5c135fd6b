"""ChangeFeedTailer — the downstream-consumer loop over a LakeTable.

`ChangeLogTailer` moves changes INTO the table; this is the mirror-image
surface OUT of it: poll the manifest chain for newly committed
snapshots, hand each increment (``LakeTable.read_changes`` between the
last consumed version and the head) to a sink callback, and durably
advance a cursor file — the Delta CDF / Iceberg incremental-consumer
pattern, with the same loop shape as the reference's streamer cursor
(``blockchainetl/streaming/streamer.py:72-103``: poll head → clamp →
process batch → commit cursor).

Delivery contract: the cursor advances AFTER the sink returns, so the
sink sees each version range at-least-once (a crash between sink and
cursor write re-delivers the SAME ``(from_version, to_version)`` range).
Ranges are deterministic and content-identical on re-delivery — a sink
keyed on the range (or writing idempotently) gets exactly-once effect,
the same two-layer scheme the apply side uses. Only the driver touches
the manifest/cursor (O(1) JSON); all row work stays in distributed
DataFrame jobs with rev-stats file skipping.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..lake.table import LakeTable


class ChangeFeedTailer:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        sink: Callable[[DataFrame, int, int], None],
        cursor_path: str,
        classify: bool = True,
        max_versions_per_batch: int | None = None,
    ):
        self.spark = spark
        self.table = table
        self.sink = sink
        self.cursor_path = cursor_path
        self.classify = classify
        self.max_versions_per_batch = max_versions_per_batch
        self.batch_log: list[dict] = []

    def _read_cursor(self) -> int | None:
        if not os.path.exists(self.cursor_path):
            return None
        with open(self.cursor_path) as f:
            return json.load(f)["last_version"]

    def _write_cursor(self, version: int) -> None:
        tmp = f"{self.cursor_path}.tmp"
        with open(tmp, "w") as f:
            json.dump({"last_version": version}, f)
        os.replace(tmp, self.cursor_path)  # atomic on POSIX

    def run_available(self) -> list[dict]:
        """Drain every committed snapshot past the cursor, one sink call
        per increment (bounded by ``max_versions_per_batch`` manifest
        versions per call so a long-idle consumer catches up in chunks
        instead of one table-sized diff). Returns the batch log."""
        out: list[dict] = []
        while True:
            head = self.table.current_version()
            last = self._read_cursor()
            if last is None:
                # first run: start from the current head (tail semantics);
                # pass a cursor file with {"last_version": 0} to replay
                # from the beginning instead
                self._write_cursor(head)
                return out
            if head <= last:
                return out
            to_v = head
            if self.max_versions_per_batch is not None:
                to_v = min(head, last + self.max_versions_per_batch)
            feed = self.table.read_changes(
                self.spark, last, to_v, classify=self.classify
            )
            self.sink(feed, last, to_v)
            self._write_cursor(to_v)
            entry = {"from_version": last, "to_version": to_v}
            self.batch_log.append(entry)
            out.append(entry)


class TableMirror:
    """Incrementally-maintained derived table: applies the upstream
    change feed into a DOWNSTREAM LakeTable — the materialized-view /
    replica-maintenance pattern built from the two exactly-once layers
    the engine already has (feed ranges are deterministic and
    re-deliverable; the downstream ledger keyed on the range's
    ``to_version`` makes re-application a no-op).

    Row-level derivations only: ``where`` (SQL predicate over payload
    columns) and ``select`` (payload projection; the key and ``_rev``
    are always carried). An upstream row that stops satisfying
    ``where`` becomes a downstream DELETE — correct incremental view
    maintenance for filters, because the feed delivers the full
    after-image of every changed key. Aggregated views need different
    machinery (re-aggregation or retraction streams) and are out of
    scope here.

    Scale shape: each increment is one read_changes scan (file-skipped
    to new data) + one narrow append into the downstream table — no
    state besides the two tables' own metadata; a 10^10-row upstream
    costs the mirror only its churn."""

    def __init__(
        self,
        spark: SparkSession,
        upstream: LakeTable,
        downstream: LakeTable,
        cursor_path: str,
        where: str | None = None,
        select: list[str] | None = None,
        max_versions_per_batch: int | None = None,
    ):
        from pyspark.sql import functions as F

        self._F = F
        self.upstream = upstream
        self.downstream = downstream
        self.where = where
        self.select = select
        self.tailer = ChangeFeedTailer(
            spark, upstream, self._sink, cursor_path, classify=False,
            max_versions_per_batch=max_versions_per_batch,
        )
        # The mirror commits epoch_id = to_version into the downstream
        # ledger ATOMICALLY with the rows, then advances the cursor. A
        # crash between the two would re-deliver the old range — and if
        # new upstream commits landed meanwhile, under a NEW epoch id
        # (to_version moved), appending duplicate (key, _rev) rows that
        # only the final-state dedup hides (ADVICE r05). The ledger is the
        # authoritative exactly-once record, so the cursor is seeded at
        # (or fast-forwarded to) the last applied to_version — 0, the
        # beginning, for an empty downstream — through the tailer's
        # atomic temp-file + rename write: a crash mid-write leaves the
        # old cursor readable.
        applied = max((int(e) for e in downstream.ledger("mirror")), default=0)
        last = self.tailer._read_cursor()
        if last is None or applied > last:
            self.tailer._write_cursor(applied)

    def _sink(self, feed: DataFrame, from_v: int, to_v: int) -> None:
        from ..lake.table import DELETED_COL, REV_COL

        F = self._F
        deleted = F.col("_change_type") == "DELETE"
        if self.where is not None:
            # a changed row that no longer passes the predicate must be
            # deleted downstream (NULL predicate counts as not passing)
            deleted = F.when(deleted, F.lit(True)).otherwise(
                ~F.coalesce(F.expr(self.where), F.lit(False))
            )
        rows = feed.withColumn(DELETED_COL, deleted).drop("_change_type")
        if self.select is not None:
            keep = [self.upstream.key, *self.select, REV_COL, DELETED_COL]
            rows = rows.select(*dict.fromkeys(keep))
        self.downstream.append_delta(
            rows, pipeline_id="mirror", epoch_id=to_v
        )

    def run_available(self) -> list[dict]:
        return self.tailer.run_available()
