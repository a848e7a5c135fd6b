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

Cost model: ONE Spark job per epoch. Validation/reduction stats ride the
delta-write action as ``Observation`` metrics (the ``observe()`` analog
of the reference's AtomicCounter sink metrics, A7/T8 —
``composite_item_exporter.py:70-79``) instead of separate count jobs.
Quarantine is ``eager`` (bad rows written per epoch — one extra job) or
``lazy`` (bad rows remain derivable from the change log via
``scan_quarantine``; nothing extra on the hot path).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..lake.table import DELETED_COL, REV_COL, LakeTable, last_event_wins
from .validate import tokens_valid_expr, tokens_valid_udf

CHANGE_META_COLS = ("seq", "epoch", "op", "block", "reorg_of", "ingest_ts")


class EpochApplier:
    def __init__(
        self,
        table: LakeTable,
        pipeline_id: str = "default",
        quarantine_dir: str | None = None,
        compact_every: int = 0,
        use_pandas_udf_validation: bool = False,
        quarantine_mode: str = "eager",  # "eager" | "lazy"
        pre_reduce: bool = True,
    ):
        self.table = table
        self.pipeline_id = pipeline_id
        self.quarantine_dir = quarantine_dir or os.path.join(
            table.path, "quarantine"
        )
        self.compact_every = compact_every
        self.use_pandas_udf_validation = use_pandas_udf_validation
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

    def _valid_flag(self):
        if self.use_pandas_udf_validation:
            return tokens_valid_udf(F.col("tokens"), F.col("n_tok"), F.col("op"))
        return tokens_valid_expr()

    def _to_table_rows(self, df: DataFrame) -> DataFrame:
        """Change-event rows → table rows: payload + _rev + tombstone flag."""
        drop = [
            c for c in ("epoch", "block", "reorg_of", "ingest_ts") if c in df.columns
        ]
        return (
            df.withColumn(REV_COL, F.col("seq"))
            .withColumn(DELETED_COL, F.col("op") == "D")
            .drop("seq", "op", *drop)
        )

    def apply_epoch(self, spark: SparkSession, df: DataFrame, epoch_id: int) -> dict:
        """Idempotently apply one epoch. Returns commit stats."""
        if epoch_id in self.table.committed_epochs(self.pipeline_id):
            return {"skipped": True, "epoch": epoch_id}

        n_bad = 0
        if self.quarantine_mode == "eager":
            # one pass: the bad-row count rides the quarantine write as
            # an Observation (no separate count job, no recompute); an
            # all-valid epoch just removes its empty quarantine dir
            flagged = df.withColumn("_valid", self._valid_flag())
            bad = flagged.filter(~F.col("_valid")).drop("_valid")
            qdir = os.path.join(
                self.quarantine_dir, f"epoch={epoch_id}-{uuid.uuid4().hex[:8]}"
            )
            obs_bad = Observation(f"bad-{epoch_id}-{uuid.uuid4().hex[:6]}")
            bad.observe(
                obs_bad, F.count(F.lit(1)).alias("n_bad")
            ).write.mode("errorifexists").parquet(qdir)
            n_bad = int(obs_bad.get.get("n_bad") or 0)
            if not n_bad:
                shutil.rmtree(qdir, ignore_errors=True)
            valid = flagged.filter(F.col("_valid")).drop("_valid")
            obs_in = None
        else:
            # lazy: count invalids as an observed metric on the same pass
            obs_in = Observation(f"in-{epoch_id}-{uuid.uuid4().hex[:6]}")
            flagged = df.withColumn("_valid", self._valid_flag()).observe(
                obs_in,
                F.sum((~F.col("_valid")).cast("long")).alias("n_bad"),
            )
            valid = flagged.filter(F.col("_valid")).drop("_valid")

        reduced = (
            last_event_wins(valid, key=self.table.key, seq="seq")
            if self.pre_reduce
            else valid
        )
        obs_out = Observation(f"out-{epoch_id}-{uuid.uuid4().hex[:6]}")
        rows = self._to_table_rows(reduced).observe(
            obs_out,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(DELETED_COL).cast("long")).alias("d"),
            F.max(REV_COL).alias("mx"),
            # HLL distinct-key estimate riding the SAME write job: feeds
            # the manifest's running keys_bound so compaction can decide
            # broadcast-join vs shuffle with NO winner-count job at all
            # (the job-free exact-auto replacement, VERDICT r04 #1)
            F.approx_count_distinct(self.table.key).alias("kd"),
        )
        captured: dict = {}

        def _stats() -> dict:
            m = obs_out.get
            bad = n_bad
            if obs_in is not None:
                bad = int(obs_in.get.get("n_bad") or 0)
            captured.update(
                {
                    "upserts": int(m.get("n") or 0) - int(m.get("d") or 0),
                    "deletes": int(m.get("d") or 0),
                    "quarantined": int(bad),
                    "max_seq": int(m["mx"]) if m.get("mx") is not None else -1,
                    "distinct_keys": (
                        int(m["kd"]) if m.get("kd") is not None else None
                    ),
                }
            )
            return captured

        res = self.table.append_delta(
            rows, pipeline_id=self.pipeline_id, epoch_id=epoch_id, stats_cb=_stats
        )
        res = {**res, **captured}
        if not res.get("skipped"):
            self._applied_since_compact += 1
            if self.compact_every and self._applied_since_compact >= self.compact_every:
                self.table.compact(spark)
                self._applied_since_compact = 0
        return res

    def apply_changes_df(self, spark: SparkSession, df: DataFrame) -> list[dict]:
        """Apply a multi-epoch batch in ascending epoch order (used by the
        streaming foreachBatch body, where one micro-batch may span
        epochs). Distinct-epoch list is tiny (bounded by batch size)."""
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
        return changes.withColumn("_v", self._valid_flag()).filter(
            ~F.col("_v")
        ).drop("_v")
