"""EpochApplier — apply one epoch of change events into a LakeTable.

This is the collapsed form of the reference's entire apply/repair layer
(SURVEY.md §3.3): what bitcoin-etl does as a sequence of non-transactional
ClickHouse statements (stage → validate → populate → finalize), this
engine does as one DataFrame pipeline ending in a single atomic manifest
commit per epoch:

    validate (quarantine bad rows)                 [P-class transforms]
    → per-key last-event-wins reduction            [C1 pre-merge, skew-safe]
    → project to table row shape (_rev, _deleted)  [P13 PK + version stamp]
    → LakeTable.append_delta(epoch_id=…)           [C1 + exactly-once ledger]
    → periodic compact                             [C2 OPTIMIZE FINAL]

Reorg rollbacks need no special path: compensation D events become
tombstones with higher ``_rev`` than the rows they kill (C4/C5 analog).

Cost model, per epoch: the delta write is one Spark job. Below the
one-partition bound (``spark.sql.autoBroadcastJoinThreshold``, see
``last_event_wins`` and ``write_parquet``) that job collects the delta
as Arrow and the driver encodes and writes its one file, which skips
Spark's write planning, committer set-up and job commit; above it,
Spark's writer runs the job. With ``pre_reduce``, an epoch above the
bound adds one job: AQE runs the reduction's shuffle map stage as its
own job. A small epoch is reduced in one partition, inside the write
job. Validation/reduction stats ride the delta-write action as
``Observation`` metrics (the ``observe()`` analog of the reference's
AtomicCounter sink metrics, A7/T8 — ``composite_item_exporter.py:70-79``)
instead of separate count jobs. Quarantine is ``eager`` or ``lazy``:

* ``eager`` writes the epoch's bad rows through the same
  ``write_parquet`` as one more job, so a small eager, pre-reduced
  epoch runs 2 jobs (3 above the bound). That write runs on a
  background thread alongside the delta write (keeping the caller's job
  group) and is joined before the manifest publish: an epoch enters the
  ledger only once its bad rows are durable, and a failed quarantine
  write fails the commit.
* ``lazy`` writes nothing: bad rows remain derivable from the change log
  via ``scan_quarantine``, and their count rides the delta write.

The epoch's expressions (validity predicate, observed aggregates, table
row projection) are built once per applier and reused by every epoch:
building them from Column trees costs hundreds of py4j round trips per
epoch, a large share of a small epoch's commit time.
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import Future, wait
from functools import cached_property

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from ..lake.table import (
    DELETED_COL, REV_COL, LakeTable, last_event_wins, write_parquet,
)
from .validate import tokens_valid_expr

CHANGE_META_COLS = ("seq", "epoch", "op", "block", "reorg_of", "ingest_ts")


def _in_background(spark: SparkSession, fn) -> Future:
    """Run ``fn`` on an ``InheritableThread``, so its Spark jobs keep the
    caller's job group and local properties. ``result()`` on the returned
    future waits for ``fn`` and re-raises its failure."""
    fut: Future = Future()

    def run():
        try:
            fut.set_result(fn())
        except BaseException as e:  # re-raised by the joiner
            fut.set_exception(e)

    InheritableThread(target=run, session=spark).start()
    return fut


class EpochApplier:
    def __init__(
        self,
        table: LakeTable,
        pipeline_id: str = "default",
        quarantine_dir: str | None = None,
        compact_every: int = 0,
        quarantine_mode: str = "eager",  # "eager" | "lazy"
        pre_reduce: bool = True,
    ):
        self.table = table
        self.pipeline_id = pipeline_id
        self.quarantine_dir = quarantine_dir or os.path.join(
            table.path, "quarantine"
        )
        self.compact_every = compact_every
        self.quarantine_mode = quarantine_mode
        # pre_reduce=True collapses each epoch to one row per key before
        # the delta write (one hash shuffle per epoch — right when epochs
        # churn the same keys). pre_reduce=False appends raw versioned
        # rows NARROW (scan→write, zero shuffle) and defers dedup to
        # read_final/compact — exactly the ReplacingMergeTree part-insert
        # + background-merge split (reference pipelines/bitcoin.py:128-131
        # + OPTIMIZE FINAL C2). The second mode is the 10^10-scale path:
        # per-event cost is O(1) with no per-epoch shuffle barrier.
        self.pre_reduce = pre_reduce
        self._applied_since_compact = 0
        self._projections: dict[tuple, list[Column]] = {}

    # Expressions are built on first use and reused by every epoch:
    # unresolved Columns carry no plan, so one Column serves any frame.
    @cached_property
    def _valid(self) -> Column:
        return tokens_valid_expr()

    @cached_property
    def _invalid(self) -> Column:
        return ~self._valid

    @cached_property
    def _flagged(self) -> tuple[list[Column], Column, Column]:
        """Lazy mode's input columns plus a validity flag, the flag's
        invalid-row metric and its filter: the predicate is evaluated
        once per row, for both."""
        valid = F.col("_valid")
        return ([F.col("*"), self._valid.alias("_valid")],
                F.sum((~valid).cast("long")).alias("n_bad"), valid)

    @cached_property
    def _bad_count(self) -> Column:
        return F.count(F.lit(1)).alias("n_bad")

    @cached_property
    def _out_metrics(self) -> list[Column]:
        return [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(DELETED_COL).cast("long")).alias("d"),
            F.max(REV_COL).alias("mx"),
        ]

    def _projection(self, columns: tuple[str, ...]) -> list[Column]:
        """Change-event columns → table row: payload + _rev + tombstone
        flag, one projection per distinct input column list."""
        if columns not in self._projections:
            self._projections[columns] = [
                F.col(c) for c in columns if c not in CHANGE_META_COLS
            ] + [F.col("seq").alias(REV_COL),
                 (F.col("op") == "D").alias(DELETED_COL)]
        return self._projections[columns]

    def _quarantine_path(self, epoch_id: int) -> str:
        # deterministic, so a replay of an unpublished epoch replaces the
        # rows an earlier attempt wrote instead of adding a second copy
        return os.path.join(self.quarantine_dir, f"pipeline={self.pipeline_id}",
                            f"epoch={epoch_id}")

    def apply_epoch(self, spark: SparkSession, df: DataFrame, epoch_id: int) -> dict:
        """Idempotently apply one epoch. Returns commit stats."""
        if epoch_id in self.table.committed_epochs(self.pipeline_id):
            return {"skipped": True, "epoch": epoch_id}

        tag = f"{epoch_id}-{uuid.uuid4().hex[:6]}"
        pending: Future | None = None
        try:
            if self.quarantine_mode == "eager":
                # the bad-row count rides the quarantine write as an
                # Observation; the write overlaps the delta write below
                qdir = self._quarantine_path(epoch_id)
                obs_bad = Observation(f"bad-{tag}")
                bad_rows = df.where(self._invalid).observe(
                    obs_bad, self._bad_count)
                pending = _in_background(spark, lambda: write_parquet(
                    bad_rows, qdir, mode="overwrite"))
                valid = df.where(self._valid)
            else:
                # lazy: count invalids as an observed metric on the same pass
                cols, n_bad, is_valid = self._flagged
                obs_bad = Observation(f"in-{tag}")
                valid = df.select(*cols).observe(obs_bad, n_bad).where(is_valid)

            rows = valid.select(*self._projection(tuple(df.columns)))
            if self.pre_reduce:
                rows = last_event_wins(rows, key=self.table.key, seq=REV_COL)
            obs_out = Observation(f"out-{tag}")
            rows = rows.observe(obs_out, *self._out_metrics)
            captured: dict = {}

            def _stats() -> dict:
                # called after the delta write, before the publish: the
                # quarantine rows must be durable before the epoch commits
                if pending is not None:
                    pending.result()
                bad = int(obs_bad.get.get("n_bad") or 0)
                if pending is not None and not bad:
                    shutil.rmtree(qdir, ignore_errors=True)
                m = obs_out.get
                captured.update(
                    {
                        "upserts": int(m.get("n") or 0) - int(m.get("d") or 0),
                        "deletes": int(m.get("d") or 0),
                        "quarantined": bad,
                        "max_seq": int(m["mx"]) if m.get("mx") is not None else -1,
                    }
                )
                return captured

            res = self.table.append_delta(
                rows, pipeline_id=self.pipeline_id, epoch_id=epoch_id,
                stats_cb=_stats,
            )
        finally:
            if pending is not None:
                wait([pending])
        res = {**res, **captured}
        if not res.get("skipped"):
            self._applied_since_compact += 1
            if self.compact_every and self._applied_since_compact >= self.compact_every:
                self.table.compact(spark)
                self._applied_since_compact = 0
        return res

    def apply_changes_df(self, spark: SparkSession, df: DataFrame) -> list[dict]:
        """Apply a multi-epoch frame in ascending epoch order, one
        ``apply_epoch`` per epoch: the batch entry of the CLI ``replay``
        command and of ``repair.patch_by_replay``. The streaming tail does
        not come here: ``ChangeLogTailer._apply_batch`` calls
        ``apply_epoch`` once per micro-batch, keyed by the batch id, so
        the per-epoch ``epoch == e`` literal (a fresh plan, and a code
        compilation, per epoch) costs no tailed commit anything. The
        distinct-epoch list is tiny (bounded by the frame's epochs)."""
        epochs = sorted(
            r["epoch"] for r in df.select("epoch").distinct().collect()
        )
        results = []
        for e in epochs:
            results.append(
                self.apply_epoch(spark, df.filter(F.col("epoch") == e), int(e))
            )
        return results

    def quarantined(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.isdir(self.quarantine_dir):
            return None
        return spark.read.option("recursiveFileLookup", "true").parquet(
            self.quarantine_dir
        )

    def scan_quarantine(self, changes: DataFrame) -> DataFrame:
        """Lazy-mode quarantine view: invalid rows derived from the log."""
        return changes.where(self._invalid)
