"""Repair & invariant jobs — the reference's ClickHouse script battery
re-expressed as small DataFrame jobs (each cites its analog):

* ``find_missing_epochs``   — sequence ⟕anti⟕ applied set (J6; reference
  ``clickhouse/clickhouse_missing_block_detection.py:47-60`` generates a
  numbers() sequence and anti-joins block numbers).
* ``find_duplicate_keys``   — GROUP BY key HAVING count>1 (A3; reference
  ``clickhouse/clickhouse_sync_data.py:303-315``).
* ``count_conservation``    — net inserts minus deletes equals final row
  count (A1; reference ``…_202309.py:273-301`` count guards).
* ``patch_by_replay``       — re-apply withheld/missing epochs through the
  normal idempotent path (C5; reference
  ``clickhouse/clickhouse_missing_block_patching.py:34-59``).
* ``find_unapplied_changes``— change-log keys whose latest image is absent
  from the table (J4 left-anti; reference
  ``pipelines/block_sync_pipeline.py:503-520``).
* ``enrichment_disagreement`` — rows whose table image disagrees with the
  change-log's latest image (J7 theta-compare; reference
  ``clickhouse/clickhouse_unrich_partition_detection.py:35-64``).

All are metadata-light: they read the ledger (driver-side JSON) or do one
pruned scan + anti-join, so they stay cheap at 10^10-event scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lake.table import REV_COL, LakeTable, last_event_wins


def find_missing_epochs(
    spark: SparkSession, table: LakeTable, pipeline_id: str = "default",
    expected_max: int | None = None,
) -> DataFrame:
    """Gaps in the applied-epoch sequence: range(0..max) anti-join ledger."""
    applied = sorted(table.committed_epochs(pipeline_id))
    hi = expected_max if expected_max is not None else (applied[-1] if applied else -1)
    seq = spark.range(0, hi + 1).withColumnRenamed("id", "epoch")
    have = spark.createDataFrame([(e,) for e in applied], "epoch long")
    return seq.join(have, "epoch", "left_anti").orderBy("epoch")


def find_duplicate_keys(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Keys violating PK uniqueness in a final-state frame."""
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def count_conservation(
    spark: SparkSession, table: LakeTable, changes: DataFrame
) -> dict:
    """Net last-wins live keys in the change log == final table rows."""
    latest = last_event_wins(
        changes.select("doc_id", "seq", "op"), key="doc_id", seq="seq"
    )
    expected = latest.filter(F.col("op") != "D").count()
    actual = table.read_final(spark).count()
    return {"expected_live_keys": expected, "table_rows": actual,
            "conserved": expected == actual}


def patch_by_replay(
    spark: SparkSession, applier, patches_df: DataFrame
) -> list[dict]:
    """Heal gaps by replaying the withheld epochs through the normal apply
    path — idempotent because of the ledger + versioned upserts."""
    return applier.apply_changes_df(spark, patches_df)


def find_unapplied_changes(
    spark: SparkSession, table: LakeTable, changes: DataFrame
) -> DataFrame:
    """Latest live change-log images missing from the table (should be
    empty after full replay)."""
    latest = last_event_wins(changes, key=table.key, seq="seq")
    live = latest.filter(F.col("op") != "D").select(table.key, "seq")
    final = table.read_final(spark).select(table.key, F.col(REV_COL).alias("_t_rev"))
    return live.join(final, table.key, "left_anti")


def enrichment_disagreement(
    spark: SparkSession, table: LakeTable, changes: DataFrame
) -> DataFrame:
    """Inner-join table vs latest change image, keep rows whose payload
    disagrees (revision mismatch ⇒ apply bug)."""
    latest = (
        last_event_wins(changes, key=table.key, seq="seq")
        .filter(F.col("op") != "D")
        .select(table.key, F.col("seq").alias("_c_rev"),
                F.col("n_tok").alias("_c_n_tok"))
    )
    final = table.read_final(spark).select(
        table.key, F.col(REV_COL).alias("_t_rev"), F.col("n_tok").alias("_t_n_tok")
    )
    j = final.join(latest, table.key, "inner")
    return j.filter(
        (F.col("_t_rev") != F.col("_c_rev"))
        | (F.col("_t_n_tok") != F.col("_c_n_tok"))
    )
