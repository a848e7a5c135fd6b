"""End-to-end CDC replay scenarios vs the pandas oracle — the analog of
the reference's golden-fixture job tests
(``tests/bitcoinetl/job/test_export_blocks_job.py:40-95``): replay the
full change log through the engine, assert final table state equals the
independent oracle row-for-row under token-array equality
(FIXTURES.md §4 scenario matrix)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bitcoin_etl_spark.changelog import ChangeLogSpec, generate_scenario
from bitcoin_etl_spark.lake import LakeTable
from bitcoin_etl_spark.operators import EpochApplier
from bitcoin_etl_spark.operators.repair import (
    count_conservation,
    enrichment_disagreement,
    find_duplicate_keys,
    find_missing_epochs,
    find_unapplied_changes,
    patch_by_replay,
)
from bitcoin_etl_spark.schemas import CHANGES_SCHEMA, DOCS_COMPARE_COLUMNS, DOCS_SCHEMA
from tests.helpers import assert_docs_equal, spark_docs_to_pandas

import pandas as pd


def _read_changes(spark, scen_dir, sub="changes"):
    return (
        spark.read.schema(_schema_with_epoch())
        .option("basePath", f"{scen_dir}/{sub}")
        .parquet(f"{scen_dir}/{sub}")
    )


def _schema_with_epoch():
    # CHANGES_SCHEMA already declares `epoch` (a directory-partition
    # column in the on-disk layout)
    return CHANGES_SCHEMA


def _payload_schema():
    from pyspark.sql import types as T

    return T.StructType([f for f in DOCS_SCHEMA.fields if f.name != "_rev"])


def _replay(spark, scen_dir, table_dir, *, compact_every=0,
            pre_reduce=True, quarantine_mode="eager"):
    table = LakeTable.create(table_dir, _payload_schema(), key="doc_id", n_buckets=8)
    applier = EpochApplier(
        table, compact_every=compact_every, pre_reduce=pre_reduce,
        quarantine_mode=quarantine_mode,
    )
    changes = _read_changes(spark, scen_dir)
    applier.apply_changes_df(spark, changes)
    return table, applier, changes


def _assert_matches_oracle(spark, table, scen_dir):
    actual = spark_docs_to_pandas(
        table.read_final(spark).select(*DOCS_COMPARE_COLUMNS)
    )
    expected = pd.read_parquet(f"{scen_dir}/expected_docs.parquet")[
        DOCS_COMPARE_COLUMNS
    ]
    assert_docs_equal(actual, expected)


SCENARIOS = {
    "base_insert_only": ChangeLogSpec(
        n_epochs=4, events_per_epoch=400, n_keys=5000, update_frac=0, delete_frac=0
    ),
    "upsert_mix": ChangeLogSpec(n_epochs=6, events_per_epoch=500, n_keys=800),
    "dup_in_batch": ChangeLogSpec(
        n_epochs=4, events_per_epoch=400, n_keys=300, dup_in_batch_frac=0.2
    ),
    "replayed_epoch": ChangeLogSpec(
        n_epochs=5, events_per_epoch=300, n_keys=400, replay_epochs=[1, 3]
    ),
    "reorg_rollback": ChangeLogSpec(
        n_epochs=6, events_per_epoch=300, n_keys=400, reorgs=[(2, 5), (4, 12)]
    ),
    "hot_key_zipf": ChangeLogSpec(
        n_epochs=4, events_per_epoch=2000, n_keys=1000, zipf_a=1.2
    ),
    "bad_rows": ChangeLogSpec(
        n_epochs=4, events_per_epoch=400, n_keys=300, bad_row_frac=0.1
    ),
}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_replay_matches_oracle(spark, tmp_path, name):
    scen_dir = str(tmp_path / name)
    generate_scenario(scen_dir, SCENARIOS[name])
    table, applier, changes = _replay(spark, scen_dir, str(tmp_path / "t"))
    _assert_matches_oracle(spark, table, scen_dir)
    # invariants (FIXTURES.md §6)
    final = table.read_final(spark)
    assert find_duplicate_keys(final).count() == 0
    assert find_missing_epochs(spark, table).count() == 0
    cons = count_conservation(spark, table, _valid_changes(changes))
    assert cons["conserved"], cons


def _valid_changes(changes):
    from bitcoin_etl_spark.operators.validate import tokens_valid_expr

    return changes.withColumn("_v", tokens_valid_expr()).filter(F.col("_v")).drop("_v")


def test_narrow_append_mode_matches_oracle(spark, tmp_path):
    """pre_reduce=False (ReplacingMergeTree part-insert path: narrow
    append, dedup deferred to read/compact) + lazy quarantine must yield
    the same final state — incl. bad rows and reorgs."""
    spec = ChangeLogSpec(
        n_epochs=5, events_per_epoch=400, n_keys=300, dup_in_batch_frac=0.2,
        bad_row_frac=0.05, reorgs=[(3, 6)],
    )
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, spec)
    table, applier, changes = _replay(
        spark, scen_dir, str(tmp_path / "t"),
        pre_reduce=False, quarantine_mode="lazy",
    )
    _assert_matches_oracle(spark, table, scen_dir)
    table.compact(spark)
    _assert_matches_oracle(spark, table, scen_dir)
    # lazy quarantine: invalid rows derivable from the log, counted in ledger
    nq = applier.scan_quarantine(changes).count()
    assert nq > 0
    lin = table.lineage(spark).toPandas()
    assert lin["quarantined"].sum() == nq


def test_replayed_epoch_is_idempotent(spark, tmp_path):
    """Re-applying every epoch a second time must not change the state
    (exactly-once ledger; FIXTURES.md §6.5)."""
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, SCENARIOS["upsert_mix"])
    table, applier, changes = _replay(spark, scen_dir, str(tmp_path / "t"))
    v_before = table.current_version()
    results = applier.apply_changes_df(spark, changes)  # full duplicate replay
    assert all(r["skipped"] for r in results)
    assert table.current_version() == v_before
    _assert_matches_oracle(spark, table, scen_dir)


def test_compaction_preserves_state_and_dedups_files(spark, tmp_path):
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, SCENARIOS["upsert_mix"])
    table, applier, _ = _replay(spark, scen_dir, str(tmp_path / "t"))
    res = table.compact(spark)
    assert res["compacted"]
    m = table.manifest()
    assert all(f["kind"] == "base" for f in m["files"])
    assert all(f["bucket"] is not None for f in m["files"])
    _assert_matches_oracle(spark, table, scen_dir)
    # base fast path: no dedup agg needed; row count equals file meta sum
    assert table.read_final(spark).count() == sum(
        f["rows"] for f in m["files"]
    ) - table.read_raw(spark).filter("_deleted").count()
    # vacuum drops unreferenced deltas but table still reads fine
    removed = table.vacuum(keep_versions=1)
    assert removed > 0
    _assert_matches_oracle(spark, table, scen_dir)


def test_periodic_compaction_during_replay(spark, tmp_path):
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, SCENARIOS["reorg_rollback"])
    table, applier, _ = _replay(
        spark, scen_dir, str(tmp_path / "t"), compact_every=2
    )
    _assert_matches_oracle(spark, table, scen_dir)


def test_gap_and_patch(spark, tmp_path):
    """Withheld epoch → gap detected → patch-by-replay heals (C5/J6)."""
    spec = ChangeLogSpec(
        n_epochs=6, events_per_epoch=300, n_keys=400, withhold_epochs=[2]
    )
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, spec)
    table, applier, changes = _replay(spark, scen_dir, str(tmp_path / "t"))
    missing = find_missing_epochs(spark, table, expected_max=5)
    assert [r["epoch"] for r in missing.collect()] == [2]
    patches = _read_changes(spark, scen_dir, sub="patches")
    patch_by_replay(spark, applier, patches)
    assert find_missing_epochs(spark, table, expected_max=5).count() == 0
    _assert_matches_oracle(spark, table, scen_dir)


def test_bad_rows_are_quarantined(spark, tmp_path):
    spec = SCENARIOS["bad_rows"]
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, spec)
    table, applier, changes = _replay(spark, scen_dir, str(tmp_path / "t"))
    q = applier.quarantined(spark)
    assert q is not None and q.count() > 0
    # every quarantined row violates the validity rule
    from bitcoin_etl_spark.operators.validate import tokens_valid_expr

    assert q.withColumn("_v", tokens_valid_expr()).filter(F.col("_v")).count() == 0
    # lineage records quarantine counts
    lin = table.lineage(spark).toPandas()
    assert lin["quarantined"].sum() == q.count()


def _bad_rows_epoch0(spark, tmp_path):
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, SCENARIOS["bad_rows"])
    table = LakeTable.create(str(tmp_path / "t"), _payload_schema(),
                             key="doc_id", n_buckets=8)
    e0 = _read_changes(spark, scen_dir).filter(F.col("epoch") == 0)
    return table, e0


def test_quarantine_replay_after_crash_before_publish(spark, tmp_path,
                                                      monkeypatch):
    """A crash between the quarantine write and the manifest publish,
    then a replay of the epoch: the quarantine holds one copy of the
    epoch's bad rows, not two."""
    table, e0 = _bad_rows_epoch0(spark, tmp_path)
    applier = EpochApplier(table)
    publish = LakeTable._publish
    crashed = []

    def crash_once(self, manifest):
        if not crashed:
            crashed.append(manifest["version"])
            raise RuntimeError("crash before publish")
        return publish(self, manifest)

    monkeypatch.setattr(LakeTable, "_publish", crash_once)
    with pytest.raises(RuntimeError, match="crash before publish"):
        applier.apply_epoch(spark, e0, 0)
    assert 0 not in table.committed_epochs(applier.pipeline_id)
    assert not applier.apply_epoch(spark, e0, 0)["skipped"]
    n_bad = table.lineage(spark).toPandas()["quarantined"].sum()
    assert n_bad > 0
    assert applier.quarantined(spark).count() == n_bad


def _data_files(table):
    import os

    return [n for _r, _d, names in os.walk(os.path.join(table.path, "data"))
            for n in names if n.endswith(".parquet")]


def test_failed_quarantine_write_aborts_the_commit(spark, tmp_path):
    """The eager quarantine write runs beside the delta write; if it
    fails, the epoch publishes nothing and leaves no delta files, and a
    retry commits normally."""
    table, e0 = _bad_rows_epoch0(spark, tmp_path)
    qroot = tmp_path / "q"
    qroot.write_text("a file where the quarantine directory should be")
    applier = EpochApplier(table, quarantine_dir=str(qroot))
    v0 = table.current_version()
    with pytest.raises(Exception):
        applier.apply_epoch(spark, e0, 0)
    assert table.current_version() == v0
    assert 0 not in table.committed_epochs(applier.pipeline_id)
    assert _data_files(table) == []
    assert table.vacuum() == 0

    qroot.unlink()
    res = applier.apply_epoch(spark, e0, 0)
    assert not res["skipped"] and res["quarantined"] > 0
    assert 0 in table.committed_epochs(applier.pipeline_id)
    assert applier.quarantined(spark).count() == res["quarantined"]


def test_eager_quarantine_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Every job of an eager epoch, the overlapped quarantine write
    included, runs under the job group set by the caller."""
    import uuid

    table, e0 = _bad_rows_epoch0(spark, tmp_path)
    applier = EpochApplier(table)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    settle = sc._jsc.sc().listenerBus().waitUntilEmpty
    group = f"apply-{uuid.uuid4().hex[:8]}"
    settle()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "eager apply")
    try:
        res = applier.apply_epoch(spark, e0, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    settle()
    assert res["quarantined"] > 0
    # quarantine write + the delta write: the small epoch's pre-reduce
    # runs in one partition, so it adds no shuffle map job
    assert len(tracker.getJobIdsForGroup(group)) == 2
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_validity_expr_flags_the_same_rows_as_pandas_udf(spark, tmp_path):
    """The hot-path predicate (built once per applier) against the
    plain-pandas mask the oracles filter with (``is_valid_event``): the
    same ``seq``s are invalid."""
    from bitcoin_etl_spark.changelog.generator import is_valid_event
    from bitcoin_etl_spark.operators.validate import tokens_valid_expr

    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, SCENARIOS["bad_rows"])
    changes = _read_changes(spark, scen_dir)
    flags = changes.select(
        "seq", "op", "tokens", "n_tok", tokens_valid_expr().alias("expr"),
    ).toPandas()
    assert flags["expr"].notna().all()
    bad_expr = sorted(flags.loc[~flags["expr"].astype(bool), "seq"])
    bad_mask = sorted(flags.loc[~is_valid_event(flags), "seq"])
    assert bad_expr and bad_expr == bad_mask
    applier = EpochApplier(LakeTable.create(str(tmp_path / "t"),
                                            _payload_schema()))
    scanned = sorted(r.seq for r in applier.scan_quarantine(changes)
                     .select("seq").collect())
    assert scanned == bad_expr


def test_repair_probes_clean_after_replay(spark, tmp_path):
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, SCENARIOS["reorg_rollback"])
    table, applier, changes = _replay(spark, scen_dir, str(tmp_path / "t"))
    valid = _valid_changes(changes)
    assert find_unapplied_changes(spark, table, valid).count() == 0
    assert enrichment_disagreement(spark, table, valid).count() == 0


def test_time_travel_and_snapshots(spark, tmp_path):
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, SCENARIOS["upsert_mix"])
    table, applier, _ = _replay(spark, scen_dir, str(tmp_path / "t"))
    snaps = table.snapshots()
    assert len(snaps) >= 2
    # an old snapshot has no more rows than the final one has revisions
    early = table.read_raw(spark, version=1).count()
    late = table.read_raw(spark).count()
    assert early <= late


def test_incremental_compaction(spark, tmp_path):
    """Minor (L0→L1 fold) + bucket-subset major compaction preserve the
    exact final state at every step — the incremental OPTIMIZE path a
    100 TB table needs instead of full rewrites."""
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, SCENARIOS["upsert_mix"])
    # narrow appends → unbucketed delta files
    table, applier, _ = _replay(
        spark, scen_dir, str(tmp_path / "t"), pre_reduce=False
    )
    assert any(f["bucket"] is None for f in table.manifest()["files"])

    res = table.compact_deltas(spark)
    assert res["compacted"]
    m = table.manifest()
    assert all(f["bucket"] is not None for f in m["files"])
    assert all(f["kind"] == "delta" for f in m["files"])
    _assert_matches_oracle(spark, table, scen_dir)

    # major-compact half the buckets: mixed base/delta manifest
    half = set(range(table.n_buckets // 2))
    res = table.compact(spark, buckets=half)
    assert res["compacted"]
    m = table.manifest()
    kinds = {f["kind"] for f in m["files"]}
    assert kinds == {"base", "delta"}
    assert all(
        f["kind"] == "base" for f in m["files"] if f["bucket"] in half
    )
    _assert_matches_oracle(spark, table, scen_dir)

    # compact the remaining buckets → fully base, fast path
    rest = set(range(table.n_buckets)) - half
    res = table.compact(spark, buckets=rest)
    assert res["compacted"]
    assert all(f["kind"] == "base" for f in table.manifest()["files"])
    _assert_matches_oracle(spark, table, scen_dir)

    # idempotent: nothing left to do
    assert table.compact(spark, buckets=half)["compacted"] is False


def test_compaction_retains_tombstones_against_stale_replay(spark, tmp_path):
    """Withheld-epoch replay safety (the patch-by-replay flow, C5):
    compaction must RETAIN tombstones so a replayed OLDER epoch's upsert
    for a deleted-then-compacted key loses max-_rev dedup instead of
    resurrecting the row; `min_retained_rev` purges only tombstones
    below the caller's replay horizon (the purge_tombstones analog)."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)

    def delta(rows, epoch):
        df = spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )
        table.append_delta(df, epoch_id=epoch)

    delta([("a", 1, 1, False), ("b", 2, 2, False)], epoch=0)
    delta([("a", None, 5, True)], epoch=1)          # delete a @ rev 5
    table.compact(spark)
    assert [r["doc_id"] for r in table.read_final(spark).collect()] == ["b"]
    raw = table.read_raw(spark)
    assert raw.filter("_deleted").count() == 1      # tombstone survives

    # stale replay: the withheld epoch's upsert of a at rev 3 (< 5)
    delta([("a", 99, 3, False)], epoch=99)
    got = {r["doc_id"]: r["val"] for r in table.read_final(spark).collect()}
    assert got == {"b": 2}, f"deleted key resurrected: {got}"
    table.compact(spark)
    got = {r["doc_id"]: r["val"] for r in table.read_final(spark).collect()}
    assert got == {"b": 2}

    # purge behind the replay horizon: rev 5 < 6 → tombstone dropped
    res = table.compact(spark, min_retained_rev=6)
    assert res["compacted"]
    assert table.read_raw(spark).filter("_deleted").count() == 0
    assert {r["doc_id"] for r in table.read_final(spark).collect()} == {"b"}


def test_read_changes_incremental_feed(spark, tmp_path):
    """Incremental change-feed read (the Iceberg changelog-scan / Delta
    CDF analog): net I/U/D between two snapshots, no-op deletes dropped,
    compaction produces an EMPTY feed, and the scan file-skips every
    file whose footer _rev range predates the from-snapshot."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)

    def delta(rows, epoch):
        df = spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )
        table.append_delta(df, epoch_id=epoch)

    delta([("a", 1, 1, False), ("b", 2, 2, False), ("c", 3, 3, False)], 0)
    v0 = table.current_version()
    assert table.rev_high(v0) == 3

    # b updated twice (nets to final), c deleted, d inserted,
    # e deleted-without-ever-existing (must not surface)
    delta([("b", 20, 4, False), ("d", 40, 5, False)], 1)
    delta([("b", 21, 6, False), ("c", None, 7, True),
           ("e", None, 8, True)], 2)
    v1 = table.current_version()

    feed = {
        r["doc_id"]: (r["_change_type"], r["val"])
        for r in table.read_changes(spark, v0, v1).collect()
    }
    assert feed == {
        "b": ("UPDATE_AFTER", 21),
        "c": ("DELETE", None),
        "d": ("INSERT", 40),
    }
    # unclassified single-scan form
    up = {
        r["doc_id"]: r["_change_type"]
        for r in table.read_changes(spark, v0, v1, classify=False).collect()
    }
    assert up == {"b": "UPSERT", "c": "DELETE", "d": "UPSERT", "e": "DELETE"}

    # compaction rewrites files but changes no state: empty feed, and
    # the rewritten base files carry old revs → candidate set is empty
    table.compact(spark)
    v2 = table.current_version()
    assert table.read_changes(spark, v1, v2).count() == 0
    rev_b = table.rev_high(v1)
    cand = [
        f for f in table.manifest(v2)["files"]
        if f.get("rev_max") is None or f["rev_max"] > rev_b
    ]
    assert cand == [], "compacted files must be skippable by rev stats"

    # post-compaction delta: feed reads ONLY the new file
    delta([("a", 100, 9, False)], 3)
    v3 = table.current_version()
    cand = [
        f for f in table.manifest(v3)["files"]
        if f.get("rev_max") is None or f["rev_max"] > rev_b
    ]
    assert len(cand) == 1
    feed = {
        r["doc_id"]: (r["_change_type"], r["val"])
        for r in table.read_changes(spark, v1, v3).collect()
    }
    assert feed == {"a": ("UPDATE_AFTER", 100)}
    # full-range feed from the empty-table snapshot: everything alive
    # is an INSERT at its net value, deleted keys a no-op
    # v0 has no files: its empty from-state must still carry a size
    # estimate, or the whole small increment takes the shuffle plan
    feed0_df = table.read_changes(spark, 0, v3)
    plan = _executed_plan(feed0_df)
    assert "Exchange" not in plan and "LeftSemi" not in plan, plan[:2000]
    feed0 = {
        r["doc_id"]: (r["_change_type"], r["val"])
        for r in feed0_df.collect()
    }
    assert feed0 == {
        "a": ("INSERT", 100), "b": ("INSERT", 21), "d": ("INSERT", 40),
    }


def _reference_final(spark, table):
    """The engine-independent reference ``read_final`` is pinned to: the
    ``FINAL`` rule as one Spark SQL window over every row version,
    tombstones dropped (the query the verify recipe's DuckDB compare
    runs)."""
    import uuid

    from bitcoin_etl_spark.lake.table import DELETED_COL, REV_COL

    raw = table.read_raw(spark)
    view = f"raw_{uuid.uuid4().hex[:8]}"
    raw.createOrReplaceTempView(view)
    cols = ", ".join(f"`{c}`" for c in raw.columns if c != DELETED_COL)
    return spark.sql(
        f"SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY "
        f"`{table.key}` ORDER BY {REV_COL} DESC) AS _rn FROM {view}) "
        f"WHERE _rn = 1 AND NOT {DELETED_COL}")


def _rowset(df):
    return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _spy_write_plans(monkeypatch):
    """The executed plan of every frame ``_write_data`` is handed, in
    call order."""
    plans = []
    write_data = LakeTable._write_data

    def spy(self, df, *args, **kwargs):
        plans.append(_executed_plan(df))
        return write_data(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_data", spy)
    return plans


def _assert_one_aggregate(plan):
    assert ("Window" not in plan and "max_by" in plan
            and "BroadcastHashJoin" not in plan), plan[:2000]


def test_dedup_auto_exact_winner_decision(spark, tmp_path, monkeypatch):
    """The one dedup plan, the ``last_event_wins`` aggregate, over a
    hot-key table whose delta rows collapse to 8 winners, one delta file
    replayed so its (key, _rev) rows appear twice: ``read_final``, and
    ``read_final`` after ``compact``, equal the SQL window reference, in
    the payload schema's column order although the key is not its first
    column, and neither the read nor the compaction write plans a
    window or a broadcast join. The table carries the inert
    ``assume_unique_rev`` property that older writers set; it changes
    nothing."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("val", T.LongType(), True),
        T.StructField("doc_id", T.StringType(), False),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4,
                             properties={"assume_unique_rev": True})
    write_plans = _spy_write_plans(monkeypatch)

    rows = []
    rev = 0
    for burst in range(5):  # 5 revisions of the same 6 hot keys
        for k in range(6):
            rev += 1
            rows.append((f"k{k}", burst * 10 + k, rev, False))
    rows += [("extra1", 1, rev + 1, False), ("extra2", 2, rev + 2, False)]
    chunks = [rows[i:i + 8] for i in range(0, len(rows), 8)]
    # the last chunk, every key's winner, replayed under a new epoch id
    for e, chunk in enumerate(chunks + chunks[-1:]):
        table.append_delta(spark.createDataFrame(
            chunk, "doc_id string, val long, _rev long, _deleted boolean"
        ), epoch_id=e)

    expect = {f"k{k}": 40 + k for k in range(6)} | {"extra1": 1, "extra2": 2}
    ref = _rowset(_reference_final(spark, table))
    final = table.read_final(spark)
    assert final.columns == [*payload.names, "_rev"]
    _assert_one_aggregate(_executed_plan(final))
    assert {r["doc_id"]: r["val"] for r in final.collect()} == expect
    assert _rowset(final) == ref

    write_plans.clear()
    table.compact(spark)
    (executed,) = write_plans
    _assert_one_aggregate(executed)
    assert table.read_raw(spark).count() == len(expect)  # one row per key
    assert _rowset(table.read_final(spark)) == ref


def test_compaction_above_the_bound_reduces_a_hot_key_before_the_exchange(
        spark, tmp_path, monkeypatch):
    """Above the one-partition bound the dedup shuffles on the key: the
    compaction write's plan runs ``partial_max_by`` below the
    ``Exchange``, so a hot key's 50 versions over three unbucketed
    deltas reach the shuffle as at most one row per input partition.
    ``read_final`` before and after ``compact`` equals the SQL window
    reference."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        table = _kv_table(tmp_path, n_buckets=4)
        write_plans = _spy_write_plans(monkeypatch)
        rev = 0
        for e, n_hot in enumerate((17, 17, 16)):
            rows = []
            for _ in range(n_hot):
                rev += 1
                rows.append(("hot", rev * 7, rev, False))
            hot_rev = rev
            for i in range(10):
                rev += 1
                rows.append((f"c{e}{i}", rev, rev, i == 9 and e > 0))
            _append(spark, table, rows, e)
        ref = _rowset(_reference_final(spark, table))
        final = table.read_final(spark)
        # 30 cold keys, two of them deleted in the epoch that wrote them
        assert len(ref) == 29
        assert {r["doc_id"]: r["val"] for r in final.collect()}["hot"] == \
            hot_rev * 7
        assert _rowset(final) == ref

        write_plans.clear()
        table.compact(spark)
        (plan,) = write_plans
        lines = plan.splitlines()
        exchange = next(i for i, ln in enumerate(lines)
                        if "Exchange hashpartitioning(doc_id" in ln)
        partial = next(i for i, ln in enumerate(lines)
                       if "partial_max_by" in ln)
        assert exchange < partial, plan
        assert "Window" not in plan, plan
        assert _rowset(table.read_final(spark)) == ref
    finally:
        spark.conf.set(conf, saved)


def test_read_changes_across_schema_evolution(spark, tmp_path):
    """A feed spanning an additive schema evolution reads old files with
    the evolved schema: pre-evolution rows that change later surface
    with the new column, and unchanged-but-rewritten rows stay out."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)
    df = spark.createDataFrame(
        [("a", 1, 1, False), ("b", 2, 2, False)],
        "doc_id string, val long, _rev long, _deleted boolean",
    )
    table.append_delta(df, epoch_id=0)
    v0 = table.current_version()
    # evolved delta: new source_meta column auto-evolves the table
    df2 = spark.createDataFrame(
        [("a", 10, 3, False, "crawl"), ("c", 30, 4, False, "curated")],
        "doc_id string, val long, _rev long, _deleted boolean, source_meta string",
    )
    table.append_delta(df2, epoch_id=1)
    feed = {
        r["doc_id"]: (r["_change_type"], r["val"], r["source_meta"])
        for r in table.read_changes(spark, v0).collect()
    }
    assert feed == {
        "a": ("UPDATE_AFTER", 10, "crawl"),
        "c": ("INSERT", 30, "curated"),
    }
    assert "source_meta" in [f.name for f in table.payload_schema().fields]


def test_read_changes_repair_watermark_forces_snapshot_diff(spark, tmp_path):
    """Patch-by-replay of a withheld epoch writes rows at their ORIGINAL
    low seq — below the feed cursor's rev high-water mark. The appended-
    rev watermark must detect the out-of-order commit inside the feed
    range and fall back to a full snapshot diff, surfacing the net
    changes rev-skipping would drop: a brand-new key inserted by the
    replayed epoch and a delete of a key last touched before it
    (ADVICE r04 medium)."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)

    def delta(rows, epoch):
        df = spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )
        table.append_delta(df, epoch_id=epoch)

    # epochs 1 (revs 1-2) and 3 (revs 7-8) applied; epoch 2 (revs 4-6)
    # withheld. 'old' is last touched in epoch 1.
    delta([("old", 1, 1, False), ("a", 2, 2, False)], 1)
    delta([("a", 30, 7, False), ("b", 40, 8, False)], 3)
    v_cursor = table.current_version()
    assert table.rev_high(v_cursor) == 8

    # the withheld epoch 2: inserts brand-new key 'new' (rev 4), deletes
    # 'old' (rev 5, beats old's rev 1), and re-updates 'a' (rev 6 — must
    # LOSE to a's rev-7 image, no feed row)
    delta([("new", 99, 4, False), ("old", None, 5, True),
           ("a", 777, 6, False)], 2)
    v_after = table.current_version()

    # watermark sees the low-rev commit in range
    assert table._min_appended_rev(v_cursor, v_after) == 4
    feed = {
        r["doc_id"]: (r["_change_type"], r["val"])
        for r in table.read_changes(spark, v_cursor, v_after).collect()
    }
    assert feed == {"new": ("INSERT", 99), "old": ("DELETE", None)}
    up = {
        r["doc_id"]: r["_change_type"]
        for r in table.read_changes(
            spark, v_cursor, v_after, classify=False).collect()
    }
    assert up == {"new": "UPSERT", "old": "DELETE"}

    # a feed range NOT containing the repair stays on the fast path and
    # still sees later in-order commits
    delta([("c", 5, 9, False)], 4)
    v_final = table.current_version()
    assert table._min_appended_rev(v_after, v_final) == 9
    feed2 = {
        r["doc_id"]: (r["_change_type"], r["val"])
        for r in table.read_changes(spark, v_after, v_final).collect()
    }
    assert feed2 == {"c": ("INSERT", 5)}

    # full-range feed from the empty snapshot nets everything correctly
    # (repair included: 'old' inserted then deleted → absent)
    feed0 = {
        r["doc_id"]: (r["_change_type"], r["val"])
        for r in table.read_changes(spark, 0, v_final).collect()
    }
    assert feed0 == {
        "a": ("INSERT", 30), "b": ("INSERT", 40),
        "new": ("INSERT", 99), "c": ("INSERT", 5),
    }


def test_read_changes_retention_guard(spark, tmp_path):
    """A feed cursor lagging beyond vacuum retention must fail LOUDLY
    (never reconstruct a partial from-state): read_changes raises a
    ValueError naming the vacuumed snapshot once its data files are
    gone (ADVICE r04: ChangeFeedTailer retention guard)."""
    import pytest
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)

    def delta(rows, epoch):
        df = spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )
        table.append_delta(df, epoch_id=epoch)

    delta([("a", 1, 1, False)], 0)
    v_old = table.current_version()
    delta([("b", 2, 2, False)], 1)
    # compaction rewrites everything; vacuum(1) then deletes v_old's files
    table.compact(spark)
    removed = table.vacuum(keep_versions=1)
    assert removed > 0
    with pytest.raises(ValueError, match="no longer retained"):
        table.read_changes(spark, v_old)
    # the head snapshot is always readable
    head = table.current_version()
    assert table.read_changes(spark, head).count() == 0


def _kv_table(tmp_path, n_buckets=8):
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    return LakeTable.create(str(tmp_path / "t"), payload, n_buckets=n_buckets)


def _random_epoch(rng, rev, n_keys=60, n_events=30):
    """One epoch of seeded upserts and deletes, one row per key, revs
    from ``rev + 1``."""
    keys = rng.sample(range(n_keys), n_events)
    return [(f"k{k:03d}", rng.randrange(1000), rev + i + 1,
             rng.random() < 0.2) for i, k in enumerate(keys)]


_KV_DDL = "doc_id string, val long, _rev long, _deleted boolean"


def _append(spark, table, rows, epoch, ddl=_KV_DDL):
    table.append_delta(spark.createDataFrame(rows, ddl), epoch_id=epoch)


def _run_grouped(spark, fn):
    """``fn()``'s result, the number of Spark jobs it ran and the
    number of generated-code compilations it triggered."""
    import uuid

    sc = spark.sparkContext
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME().getCount
    group = f"probe-{uuid.uuid4().hex[:8]}"
    c0 = compiled()
    sc.setJobGroup(group, "probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return (out, len(sc.statusTracker().getJobIdsForGroup(group)),
            compiled() - c0)


def _rule_off(monkeypatch):
    """Force every input above the one-partition bound."""
    from bitcoin_etl_spark.lake import table as table_mod

    monkeypatch.setattr(table_mod, "_fits_one_partition", lambda df: False)


def test_manifest_cache_holds_the_head_and_a_bounded_lru(tmp_path):
    """Parsed manifests stay bounded however long the version chain
    grows (no Spark: metadata-only commits), and an evicted version
    reads back equal to its file."""
    import json

    from pyspark.sql import types as T

    from bitcoin_etl_spark.lake.table import _MANIFEST_LRU

    table = LakeTable.create(str(tmp_path / "t"), T.StructType(
        [T.StructField("doc_id", T.StringType(), False)]))
    for epoch in range(300):
        nm = table._next_manifest("append-delta")
        nm["files"].append({"path": f"data/d{epoch}.parquet", "bucket": None,
                            "rows": 1, "rev_min": epoch, "rev_max": epoch})
        nm["ledger"].setdefault("p", {})[str(epoch)] = {"rows": 1}
        table._publish(nm)
        table.committed_epochs("p")
        assert len(table._manifest_cache) <= _MANIFEST_LRU
    assert table.manifest()["version"] == 300
    assert 3 not in table._manifest_cache
    with open(tmp_path / "t" / "manifest" / "v3.json") as f:
        assert table.manifest(3) == json.load(f)
    assert table.manifest()["version"] == 300
    assert table.rev_high(200) == 199
    assert len(table._manifest_cache) <= _MANIFEST_LRU


def test_classified_feed_runs_one_aggregate(spark, tmp_path, monkeypatch):
    """An in-order classified increment over a compacted base plus
    deltas dedups no from-state (no Window). Below the one-partition
    bound it runs as one Spark job, and the next increment compiles no
    new code (the no-op ``_rev`` filter is left out). Above the bound
    it keeps its left-semi join and runs at most one job more than the
    unclassified scan of the same range."""
    import random

    rng = random.Random(7)
    table = _kv_table(tmp_path)
    rev = 0
    for e in range(3):
        rows = _random_epoch(rng, rev)
        _append(spark, table, rows, e)
        rev += len(rows)
    table.compact(spark)
    for e in range(3, 5):
        rows = _random_epoch(rng, rev)
        _append(spark, table, rows, e)
        rev += len(rows)
    v = table.current_version()
    rows = _random_epoch(rng, rev)
    _append(spark, table, rows, 5)
    rev += len(rows)

    def count(from_v, classify=True):
        feed = table.read_changes(spark, from_v, from_v + 1,
                                  classify=classify)
        n, jobs, compiled = _run_grouped(spark, feed.count)
        return n, jobs, compiled, feed._jdf.queryExecution().optimizedPlan(
            ).toString()

    n_flat, flat_jobs, _, _ = count(v, classify=False)
    n_classified, classified_jobs, _, plan = count(v)
    assert 0 < n_classified <= n_flat
    assert (flat_jobs, classified_jobs) == (1, 1)
    assert "Window" not in plan and "LeftSemi" not in plan, plan

    _append(spark, table, _random_epoch(rng, rev), 6)
    n_next, _, compiled, _ = count(v + 1)
    assert n_next > 0 and compiled == 0, compiled

    _rule_off(monkeypatch)
    n_off, flat_jobs, _, _ = count(v, classify=False)
    assert n_off == n_flat
    n_wide, wide_jobs, _, plan = count(v)
    assert n_wide == n_classified
    assert wide_jobs <= flat_jobs + 1, (wide_jobs, flat_jobs)
    assert "Window" not in plan and "LeftSemi" in plan, plan


def _feed_across_maintenance(spark, tmp_path):
    """Assert that the in-order feed (new rows plus the changed keys'
    prior rows) equals the out-of-order snapshot diff over ranges that
    hold an append, a minor compaction (bucketed new files), a full
    compaction, a further append and an additive schema evolution.
    Returns the in-order feeds' ``_rev > rev_high(v_a)`` filter use,
    one flag per range."""
    import random

    rng = random.Random(11)
    table = _kv_table(tmp_path)
    rev = 0

    def epoch(e, ddl=_KV_DDL, extra=()):
        nonlocal rev
        rows = [r + extra for r in _random_epoch(rng, rev)]
        _append(spark, table, rows, e, ddl)
        rev += len(rows)

    for e in range(3):
        epoch(e)
    table.compact(spark)
    epoch(3)
    v_a = table.current_version()
    heads = []
    epoch(4)
    heads.append(table.current_version())
    assert table.compact_deltas(spark)["compacted"]
    heads.append(table.current_version())
    epoch(5)
    assert table.compact(spark)["compacted"]
    heads.append(table.current_version())
    epoch(6)
    heads.append(table.current_version())
    epoch(7, _KV_DDL + ", tag string", ("t",))
    heads.append(table.current_version())
    assert "tag" in table.payload_schema().names

    rev_a = table.rev_high(v_a)
    minor = [f for f in table.manifest(heads[1])["files"]
             if f.get("rev_max") is None or f["rev_max"] > rev_a]
    assert minor and all(f["bucket"] is not None for f in minor)

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    feeds = {v: table.read_changes(spark, v_a, v) for v in heads}
    filtered = [f"> {rev_a})" in feeds[v]._jdf.queryExecution()
                .optimizedPlan().toString() for v in heads]
    in_order = {v: rows(feeds[v]) for v in heads}
    table._min_appended_rev = lambda *a: -(1 << 62)
    for v in heads:
        assert in_order[v] == rows(table.read_changes(spark, v_a, v)), v
    assert in_order[heads[-1]]
    return filtered


def test_in_order_feed_matches_snapshot_diff_across_maintenance(spark,
                                                                tmp_path):
    """The one-partition plan (every table here is below the bound)
    against the snapshot diff. The ``_rev`` row filter is left out only
    where every new file lies wholly above the cursor: the minor
    compaction rewrites pre-cursor deltas and the full one every row."""
    assert _feed_across_maintenance(spark, tmp_path) == [
        False, True, True, True, True]


def test_in_order_feed_matches_snapshot_diff_above_the_bound(
        spark, tmp_path, monkeypatch):
    """The left-semi-join plan, taken above the one-partition bound,
    against the snapshot diff over the same ranges."""
    _rule_off(monkeypatch)
    assert _feed_across_maintenance(spark, tmp_path) == [
        False, True, True, True, True]


def test_in_order_feed_after_key_widening(spark, tmp_path):
    """Files bucketed under an int key keep their int-hash buckets after
    the key widens to long: the in-order feed must still find the prior
    rows of keys that bucketed new files change."""
    from pyspark.sql import types as T

    table = LakeTable.create(str(tmp_path / "t"), T.StructType([
        T.StructField("k", T.IntegerType(), False),
        T.StructField("val", T.LongType(), True),
    ]), key="k", n_buckets=8)
    ddl = "k {}, val long, _rev long, _deleted boolean"
    _append(spark, table, [(i, i, i + 1, False) for i in range(40)], 0,
            ddl.format("int"))
    table.compact(spark)
    _append(spark, table, [(100, 1, 100, False)], 1, ddl.format("long"))
    v = table.current_version()
    _append(spark, table, [(i, i, 200 + i, False) for i in range(10)], 2,
            ddl.format("long"))
    assert table.compact_deltas(spark)["compacted"]
    feed = {r["k"]: r["_change_type"]
            for r in table.read_changes(spark, v).collect()}
    assert feed == {i: "UPDATE_AFTER" for i in range(10)}


def test_bucket_rules_after_key_widening(spark, tmp_path):
    """Files bucketed under an int key hold int-hash buckets, which a
    widened long key no longer matches: lookups, ``read_final`` and a
    bucket-subset compaction must treat them as unbucketed."""
    from pyspark.sql import types as T

    table = LakeTable.create(str(tmp_path / "t"), T.StructType([
        T.StructField("k", T.IntegerType(), False),
        T.StructField("val", T.LongType(), True),
    ]), key="k", n_buckets=8)
    ddl = "k {}, val long, _rev long, _deleted boolean"
    _append(spark, table, [(i, i, i + 1, False) for i in range(40)], 0,
            ddl.format("int"))
    table.compact(spark)
    _append(spark, table, [(100, 1, 100, False)], 1, ddl.format("long"))
    assert [(r["k"], r["val"]) for r in table.point_lookup(spark, 5)
            .collect()] == [(5, 5)]

    _append(spark, table, [(i, 1000 + i, 200 + i, False) for i in range(10)],
            2, ddl.format("long"))
    assert table.compact_deltas(spark)["compacted"]
    want = {**{i: i for i in range(40)}, **{i: 1000 + i for i in range(10)},
            100: 1}
    final = [(r["k"], r["val"]) for r in table.read_final(spark).collect()]
    assert len(final) == len(want) and dict(final) == want
    assert [r["val"] for r in table.point_lookup(spark, 5).collect()] == [1005]
    assert [r["val"] for r in table.point_lookup(spark, 20).collect()] == [20]

    table.compact(spark, buckets={0})
    m = table.manifest()
    assert m["operation"] == "compact"
    assert {f["key_type"] for f in m["files"]} == {"long"}
    final = [(r["k"], r["val"]) for r in table.read_final(spark).collect()]
    assert len(final) == len(want) and dict(final) == want


def test_point_lookup_prunes_by_bucket_and_key_range(spark, tmp_path):
    """Single-key read path: point_lookup must return the latest live
    image while scanning ONLY files admitted by the hash bucket and the
    manifest's footer key-range stats — the Iceberg lower/upper-bounds
    skip. Deleted keys return empty; absent keys scan at most the
    bucket's files."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=8)

    def delta(rows, epoch):
        df = spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )
        table.append_delta(df, epoch_id=epoch)

    rows0 = [(f"k{i:03d}", i, i + 1, False) for i in range(40)]
    delta(rows0, 0)
    delta([("k007", 777, 100, False), ("k009", None, 101, True)], 1)
    table.compact(spark)  # bucketed base files with key stats
    delta([("k007", 778, 102, False)], 2)  # fresh delta on top

    # key stats present on every bucketed file
    m = table.manifest()
    assert all("key_min" in f for f in m["files"] if f["rows"]), m["files"]

    got, jobs, _ = _run_grouped(
        spark, lambda: table.point_lookup(spark, "k007").collect())
    assert len(got) == 1 and got[0]["val"] == 778 and got[0]["_rev"] == 102
    # the key's bucket hash, then the pruned read in one partition
    assert jobs == 2, jobs
    assert table.point_lookup(spark, "k009").count() == 0  # deleted
    assert table.point_lookup(spark, "nope").count() == 0  # absent
    ref = _reference_final(spark, table)
    for k in ("k000", "k007", "k009", "nope"):
        assert _rowset(table.point_lookup(spark, k)) == \
            _rowset(ref.filter(F.col("doc_id") == k)), k

    # pruning is real: candidates for one key are a strict subset
    bucket = int(spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("k007")), F.lit(8))).first()[0])
    cand = table._point_lookup_files("k007", bucket)
    n_files = len([f for f in m["files"] if f["rows"]])
    assert 0 < len(cand) < n_files, (len(cand), n_files)
    # every candidate is either k007's bucket or unbucketed
    assert all(f.get("bucket") in (None, bucket) for f in cand)


def test_write_audit_publish_staged_commits(spark, tmp_path):
    """Write-audit-publish (Iceberg WAP / branch-commit pattern): a
    staged append is invisible to every committed reader until
    publish_staged; read_staged exposes the would-be state for audits;
    abort removes the staged files; publish is conflict-checked against
    commits that landed after staging; vacuum never collects pending
    staged files."""
    import pytest
    from pyspark.sql import types as T

    from bitcoin_etl_spark.lake.table import CommitConflict

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)

    def df_of(rows):
        return spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )

    table.append_delta(df_of([("a", 1, 1, False), ("b", 2, 2, False)]),
                       epoch_id=0)
    v0 = table.current_version()

    # stage a batch that fails audit (negative value = bad)
    res = table.append_delta(df_of([("c", -99, 3, False)]),
                             epoch_id=1, staged=True)
    assert res["staged"] and res["parent_version"] == v0
    sid_bad = res["staging_id"]
    # invisible to committed readers; visible to the audit surface
    assert table.current_version() == v0
    assert table.read_final(spark).count() == 2
    staged_state = {r["doc_id"]: r["val"]
                    for r in table.read_staged(spark, sid_bad).collect()}
    assert staged_state == {"a": 1, "b": 2, "c": -99}
    # audit fails -> abort; files gone, nothing committed, epoch NOT in
    # the ledger (it can be retried)
    bad_rows = table.read_staged(spark, sid_bad).filter("val < 0").count()
    assert bad_rows == 1
    table.abort_staged(sid_bad)
    assert table.staged_commits() == []
    assert 1 not in table.committed_epochs("default")
    assert table.read_final(spark).count() == 2

    # stage a good batch; vacuum while pending must keep its files
    res = table.append_delta(df_of([("c", 30, 4, False)]),
                             epoch_id=1, staged=True)
    sid_good = res["staging_id"]
    table.vacuum(keep_versions=1)
    out = table.publish_staged(sid_good)
    assert out["version"] == v0 + 1
    assert {r["doc_id"]: r["val"] for r in table.read_final(spark).collect()} \
        == {"a": 1, "b": 2, "c": 30}
    assert 1 in table.committed_epochs("default")
    # the published ledger row makes a replay idempotent
    assert table.append_delta(df_of([("c", 30, 4, False)]),
                              epoch_id=1)["skipped"] is True

    # conflict: a commit lands between stage and publish
    res = table.append_delta(df_of([("d", 5, 5, False)]),
                             epoch_id=2, staged=True)
    table.append_delta(df_of([("e", 6, 6, False)]), epoch_id=3)
    with pytest.raises(CommitConflict, match="re-stage"):
        table.publish_staged(res["staging_id"])
    table.abort_staged(res["staging_id"])
    assert table.staged_commits() == []


def test_bucket_count_evolution(spark, tmp_path, monkeypatch):
    """compact(new_n_buckets=...) re-hashes the table into a new bucket
    count (full rewrite), records it in the manifest, and point_lookup
    keeps working against both the new head and (version-aware) the old
    snapshot; a subset compaction with a resize is refused. A resize
    whose publish fails changes nothing: later bucketed writes still
    hash under the manifest's count, so their keys stay findable."""
    import pytest
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)
    rows = [(f"k{i}", i, i + 1, False) for i in range(60)]
    table.append_delta(spark.createDataFrame(
        rows, "doc_id string, val long, _rev long, _deleted boolean"
    ), epoch_id=0)
    table.compact(spark)
    v_old = table.current_version()
    assert table.manifest()["n_buckets"] == 4

    with pytest.raises(ValueError, match="full compaction"):
        table.compact(spark, buckets={0}, new_n_buckets=16)

    publish = LakeTable._publish

    def fail_once(self, manifest):
        monkeypatch.setattr(LakeTable, "_publish", publish)
        raise OSError("publish lost")

    monkeypatch.setattr(LakeTable, "_publish", fail_once)
    with pytest.raises(OSError, match="publish lost"):
        table.compact(spark, new_n_buckets=32)
    assert table.n_buckets == 4
    late = [f"n{i}" for i in range(60)]
    table.append_delta(spark.createDataFrame(
        [(k, i, 100 + i, False) for i, k in enumerate(late)],
        "doc_id string, val long, _rev long, _deleted boolean"
    ), epoch_id=1)
    table.compact_deltas(spark)
    assert table.scan_keys(spark, late).count() == 60

    res = table.compact(spark, new_n_buckets=16)
    assert res["compacted"]
    assert table.manifest()["n_buckets"] == 16
    assert table.n_buckets == 16
    buckets = {f["bucket"] for f in table.manifest()["files"]}
    assert len(buckets) > 4  # rows actually spread over the new count

    # state identical; point_lookup works on the new layout AND the old
    # snapshot (old manifest keeps n_buckets=4)
    assert table.read_final(spark).count() == 120
    got = table.point_lookup(spark, "k37").collect()
    assert len(got) == 1 and got[0]["val"] == 37
    old = table.point_lookup(spark, "k37", version=v_old).collect()
    assert len(old) == 1 and old[0]["val"] == 37
    # loading fresh picks up the evolved count
    assert LakeTable.load(str(tmp_path / "t")).n_buckets == 16


def test_bucketed_files_are_key_sorted(spark, tmp_path):
    """Bucketed data files must come out key-sorted (the near-free
    clustering rider on the dynamic-partition writer's sort), so
    parquet row-group key stats are tight for point-lookup pruning."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)
    rows = [(f"k{i:04d}", i, i + 1, False) for i in range(500)]
    import random

    random.Random(3).shuffle(rows)
    table.append_delta(spark.createDataFrame(
        rows, "doc_id string, val long, _rev long, _deleted boolean"
    ), epoch_id=0)
    table.compact(spark)
    m = table.manifest()
    checked = 0
    for f in m["files"]:
        if not f["rows"]:
            continue
        col = pq.read_table(
            f"{table.path}/{f['path']}", columns=["doc_id"]
        )["doc_id"].to_pylist()
        assert col == sorted(col), f["path"]
        checked += 1
    assert checked >= 4


def test_plan_compaction_schedules_due_buckets(spark, tmp_path):
    """plan_compaction decides maintenance from manifest stats only: an
    all-base table owes nothing; raw epoch appends surface as L0 debt
    (minor fold first); after the fold, only buckets whose delta debt
    crosses the thresholds are scheduled, and running the suggested
    plan clears the debt."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)

    def delta(rows, epoch):
        df = spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )
        table.append_delta(df, epoch_id=epoch)

    delta([(f"k{i}", i, i + 1, False) for i in range(80)], 0)
    table.compact(spark)
    assert table.plan_compaction() == {
        "minor": False, "buckets": set(), "unbucketed_files": 0,
        "unbucketed_rows": 0, "delta_rows_by_bucket": {},
    }

    # two raw epoch appends: L0 debt counted against every bucket
    delta([(f"k{i}", 100 + i, 200 + i, False) for i in range(30)], 1)
    delta([(f"k{i}", 200 + i, 300 + i, False) for i in range(30, 60)], 2)
    plan = table.plan_compaction(max_delta_rows_per_bucket=10)
    assert plan["minor"] and plan["unbucketed_rows"] == 60

    table.compact_deltas(spark)
    plan = table.plan_compaction(max_delta_rows_per_bucket=10)
    assert not plan["minor"]
    assert plan["buckets"], "folded delta debt must localize to buckets"
    assert plan["buckets"] <= {0, 1, 2, 3}
    # generous threshold: nothing due
    assert table.plan_compaction(
        max_delta_rows_per_bucket=10_000,
        max_delta_files_per_bucket=100,
    )["buckets"] == set()

    # run the suggested subset compaction; debt clears, state correct
    table.compact(spark, buckets=plan["buckets"])
    after = table.plan_compaction(max_delta_rows_per_bucket=10)
    assert after["buckets"] == set() and not after["minor"]
    got = {r["doc_id"]: r["val"] for r in table.read_final(spark).collect()}
    assert len(got) == 80 and got["k0"] == 100 and got["k59"] == 259


def test_point_lookup_and_scan_keys_on_long_key(spark, tmp_path):
    """ADVICE r05: a NON-string key column must hash to the same bucket
    at lookup time as at write time — a Python-int literal hashed as
    int32 (or a key frame typed string) lands in the wrong bucket and
    the pruned scan silently returns empty."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=8)
    df = spark.createDataFrame(
        [(i, f"v{i}", i, False) for i in range(64)],
        "doc_id long, val string, _rev long, _deleted boolean",
    )
    table.append_delta(df, epoch_id=0)
    table.compact(spark)
    for k in (0, 7, 63):
        got = table.point_lookup(spark, k).collect()
        assert len(got) == 1 and got[0]["val"] == f"v{k}", k
    got = {r["doc_id"]: r["val"]
           for r in table.scan_keys(spark, [1, 33, 62]).collect()}
    assert got == {1: "v1", 33: "v33", 62: "v62"}


def test_scan_keys_batch_point_lookup(spark, tmp_path):
    """scan_keys returns the latest live images for a key list in one
    pruned scan: updated keys at their newest value, deleted and absent
    keys omitted, and the candidate file set is the union of the keys'
    bucket-admitted files (a strict subset of the table)."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=8)

    def delta(rows, epoch):
        df = spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )
        table.append_delta(df, epoch_id=epoch)

    delta([(f"k{i:03d}", i, i + 1, False) for i in range(50)], 0)
    table.compact(spark)
    delta([("k007", 700, 100, False), ("k011", None, 101, True)], 1)

    got = {r["doc_id"]: r["val"] for r in table.scan_keys(
        spark, ["k007", "k011", "k020", "nope"]).collect()}
    assert got == {"k007": 700, "k020": 20}
    keys = ["k007", "k011", "k020", "nope"]
    assert _rowset(table.scan_keys(spark, keys)) == _rowset(
        _reference_final(spark, table).filter(F.col("doc_id").isin(keys))
    )

    import pytest
    with pytest.raises(ValueError):
        table.scan_keys(spark, [])


def test_append_commit_retry_on_conflict(spark, tmp_path, monkeypatch):
    """Optimistic commit retry: when a concurrent writer takes the
    version, append_delta replans ONLY the manifest JSON on the new
    head (data files are parent-independent) and commits — and when the
    racing writer committed the SAME epoch, the append returns skipped
    and removes its orphaned files (exactly-once survives the race)."""
    import glob as _glob
    import os

    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    a = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)
    b = LakeTable.load(str(tmp_path / "t"))

    def df_of(rows):
        return spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )

    real_publish = LakeTable._publish
    state = {"armed": None}

    def racing(self, manifest):
        if state["armed"] and self is a \
                and manifest.get("operation") == "append-delta":
            payload_fn = state["armed"]
            state["armed"] = None
            payload_fn()  # the concurrent writer lands first
        return real_publish(self, manifest)

    monkeypatch.setattr(LakeTable, "_publish", racing)

    # race 1: different epochs — A must retry on the new head and land
    state["armed"] = lambda: b.append_delta(
        df_of([("b1", 1, 1, False)]), epoch_id=50)
    res = a.append_delta(df_of([("a1", 2, 2, False)]), epoch_id=1)
    assert res["skipped"] is False
    got = {r["doc_id"]: r["val"] for r in a.read_final(spark).collect()}
    assert got == {"a1": 2, "b1": 1}
    assert {1, 50} <= set(a.committed_epochs("default"))

    # race 2: SAME epoch committed by the racer — A skips and cleans up
    state["armed"] = lambda: b.append_delta(
        df_of([("w", 9, 9, False)]), epoch_id=7)
    res = a.append_delta(df_of([("w", 8, 8, False)]), epoch_id=7)
    assert res == {"skipped": True, "epoch": 7}
    got = {r["doc_id"]: r["val"] for r in a.read_final(spark).collect()}
    assert got["w"] == 9  # the racer's image won; A's attempt left no rows
    # no orphans: every parquet on disk is referenced by the manifest
    on_disk = {os.path.relpath(p, a.path) for p in _glob.glob(
        f"{a.path}/data/**/*.parquet", recursive=True)}
    referenced = {f["path"] for f in a.manifest()["files"]}
    assert on_disk == referenced, on_disk - referenced


def test_stats_and_shallow_clone(spark, tmp_path):
    """stats() summarizes the manifest with no job; clone_to hard-links
    the snapshot into an independent table: identical state, divergent
    after independent commits, and vacuum on the clone never harms the
    original (link counts protect shared inodes)."""
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)

    def delta(t, rows, epoch):
        df = spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        )
        t.append_delta(df, epoch_id=epoch)

    delta(table, [(f"k{i}", i, i + 1, False) for i in range(20)], 0)
    table.compact(spark)
    delta(table, [("k0", 99, 100, False)], 1)

    s = table.stats()
    assert s["base_rows"] == 20 and s["delta_rows"] == 1
    assert s["rev_high"] == 100 and s["committed_epochs"] == {"default": 2}

    clone = table.clone_to(str(tmp_path / "fork"))
    assert {r["doc_id"]: r["val"] for r in clone.read_final(spark).collect()} \
        == {r["doc_id"]: r["val"] for r in table.read_final(spark).collect()}
    # clone's ledger carried over: replaying epoch 1 into the clone skips
    assert clone.append_delta(spark.createDataFrame(
        [("k0", 99, 100, False)],
        "doc_id string, val long, _rev long, _deleted boolean",
    ), epoch_id=1)["skipped"] is True

    # divergence: clone takes new data the original never sees
    delta(clone, [("only_fork", 7, 200, False)], 5)
    assert clone.read_final(spark).count() == 21
    assert table.read_final(spark).count() == 20

    # clone compacts + vacuums its own chain; original still reads fine
    clone.compact(spark)
    removed = clone.vacuum(keep_versions=1)
    assert removed > 0
    assert table.read_final(spark).count() == 20
    assert {r["doc_id"] for r in table.point_lookup(spark, "k0").collect()} \
        == {"k0"}


def test_read_changes_rejects_backward_range(spark, tmp_path):
    """A feed cursor ahead of the requested to_version is a caller bug
    (cursor corruption / manual rollback past a vacuum): loud error, no
    silent garbage feed."""
    import pytest
    from pyspark.sql import types as T

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)
    for e in range(2):
        table.append_delta(spark.createDataFrame(
            [(f"k{e}", e, e + 1, False)],
            "doc_id string, val long, _rev long, _deleted boolean",
        ), epoch_id=e)
    with pytest.raises(ValueError, match="ahead of"):
        table.read_changes(spark, 2, 1)


def test_read_files_builds_with_a_fixed_number_of_py4j_calls(
        spark, tmp_path, monkeypatch):
    """Building a read of a snapshot's files must not cost one py4j
    round trip per file: the path list crosses as one Java array, so 4
    and 40 files make the same number of calls and read every row. A
    driver write (``write_parquet``) likewise makes the same number of
    calls for 10 rows and 1,000. Neither resolves a JVM class by name
    (a ``jvm.a.b.C`` lookup costs one round trip per package step)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import types as T

    from bitcoin_etl_spark.lake.table import _fits_one_partition, write_parquet

    payload = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
    ])
    table = LakeTable.create(str(tmp_path / "t"), payload, n_buckets=4)
    os.makedirs(os.path.join(table.path, "data", "probe"))
    files = []
    for i in range(40):
        rel = os.path.join("data", "probe", f"part-{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([i], pa.int64()),
            "val": [f"v{i}"],
            "_rev": pa.array([i], pa.int64()),
            "_deleted": [False],
        }), os.path.join(table.path, rel))
        files.append({"path": rel})
    schema = table.schema()
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        # "m" commands are py4j's deletes of garbage-collected proxies,
        # sent whenever Python's GC runs: not part of the measured work
        if not command.startswith("m\n"):
            calls.append(command)
        return send(self, command)

    def count_calls(fn):
        calls.clear()
        monkeypatch.setattr(ClientServerConnection, "send_command", counted)
        try:
            fn()
        finally:
            monkeypatch.setattr(ClientServerConnection, "send_command", send)
        # "r\nu\n<name>" is py4j's by-name lookup; a lower-case last
        # segment names a package, one step of a ``jvm.a.b.C`` walk
        assert not [c for c in calls if c.startswith("r\nu\n")
                    and c.split("\n")[2].rsplit(".", 1)[-1][:1].islower()]
        return len(calls)

    def build_calls(n):
        out = []
        n_calls = count_calls(
            lambda: out.append(table._read_files(spark, files[:n], schema)))
        assert sorted(r["doc_id"] for r in out[0].collect()) == list(range(n))
        return n_calls

    build_calls(4)  # warm the reader's JVM method lookups
    assert build_calls(4) == build_calls(40)

    def write_calls(n):
        df = spark.range(n).select(F.col("id").alias("doc_id"),
                                   F.lit("x").alias("val"))
        assert _fits_one_partition(df)  # the driver path
        out_dir = str(tmp_path / f"w{len(os.listdir(tmp_path))}")
        n_calls = count_calls(lambda: write_parquet(df, out_dir))
        assert spark.read.parquet(out_dir).count() == n
        return n_calls

    write_calls(10)
    assert write_calls(10) == write_calls(1000)


def _added_per_commit(table):
    """Per commit after v0: the non-empty file entries it added."""
    out, prev = [], set()
    for v in range(table.current_version() + 1):
        files = table.manifest(v)["files"]
        if v:
            out.append([f for f in files
                        if f["path"] not in prev and f["rows"]])
        prev = {f["path"] for f in files}
    return out


def _file_stats(entries):
    """One commit's added rows, ``_rev`` range and key range."""
    return (sum(f["rows"] for f in entries),
            min(f["rev_min"] for f in entries),
            max(f["rev_max"] for f in entries),
            min(f["key_min"] for f in entries),
            max(f["key_max"] for f in entries))


def test_spark_writer_above_the_bound_commits_what_the_driver_writes(
        spark, tmp_path):
    """Every epoch here fits the one-partition bound, so its delta and
    its eager quarantine rows are written from the driver, one file per
    commit. With the bound off (``autoBroadcastJoinThreshold=-1``) the
    same epochs go through Spark's writer; the final state, the change
    feed, the quarantine and each commit's file statistics are the
    same."""
    scen_dir = str(tmp_path / "scen")
    generate_scenario(scen_dir, SCENARIOS["bad_rows"])
    driver, d_app, _ = _replay(spark, scen_dir, str(tmp_path / "driver"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    bound = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        wide, w_app, _ = _replay(spark, scen_dir, str(tmp_path / "wide"))
    finally:
        spark.conf.set(key, bound)

    d_added, w_added = _added_per_commit(driver), _added_per_commit(wide)
    assert [len(a) for a in d_added] == [1] * len(d_added)
    assert list(map(_file_stats, d_added)) == list(map(_file_stats, w_added))

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    assert rows(driver.read_final(spark)) == rows(wide.read_final(spark))
    head = driver.current_version()
    assert head == wide.current_version()
    for a, b, classify in [(0, head, True), (1, head - 1, True),
                           (1, head, False)]:
        assert rows(driver.read_changes(spark, a, b, classify)) == \
            rows(wide.read_changes(spark, a, b, classify)), (a, b)

    def seqs(applier):
        return sorted(r.seq for r in applier.quarantined(spark)
                      .select("seq").collect())

    assert seqs(d_app) and seqs(d_app) == seqs(w_app)


def _sidecar(path):
    """The checksummed local file system's ``.crc`` file of ``path``."""
    import os

    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.crc")


def _range_delta(spark, n, rev0):
    """``n`` upserts with revs from ``rev0``: a frame Spark can size."""
    return spark.range(n).selectExpr(
        "format_string('k%03d', id) AS doc_id", "id AS val",
        f"id + {rev0} AS _rev", "false AS _deleted")


def test_driver_written_delta_is_checksummed(spark, tmp_path):
    """A delta below the bound is copied in through Hadoop's
    ``FileSystem``, which leaves the ``.crc`` sidecar Spark's writer
    leaves: one flipped byte fails the read with a ``ChecksumException``
    instead of returning wrong rows. An empty delta still commits one
    readable zero-row file."""
    import os

    from bitcoin_etl_spark.lake.table import _fits_one_partition

    table = _kv_table(tmp_path)
    df = _range_delta(spark, 50, 1)
    assert _fits_one_partition(df)
    table.append_delta(df, epoch_id=0)
    table.append_delta(_range_delta(spark, 0, 100), epoch_id=1)
    full, empty = (os.path.join(table.path, f["path"])
                   for f in table.manifest()["files"])
    assert os.path.exists(_sidecar(full)) and os.path.exists(_sidecar(empty))
    assert [f["rows"] for f in table.manifest()["files"]] == [50, 0]
    assert table.read_raw(spark).count() == 50

    with open(full, "r+b") as f:
        f.seek(8)
        b = f.read(1)
        f.seek(8)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        table.read_raw(spark).collect()


def test_vacuum_leaves_only_live_files(spark, tmp_path):
    """``vacuum`` removes each unreferenced data file with its ``.crc``
    sidecar, the temp file of a driver write a crash interrupted, and
    each write directory left holding only commit markers. ``data/``
    keeps the live files, their sidecars and the markers of the write
    that made them; the count returned is of data files."""
    import os
    import random

    from bitcoin_etl_spark.lake.table import _TMP_SUFFIX

    table = _kv_table(tmp_path, n_buckets=4)
    # an RDD-backed frame has no size estimate: Spark's writer
    _append(spark, table, _random_epoch(random.Random(5), 0), 0)
    for e in (1, 2):
        table.append_delta(_range_delta(spark, 40, 100 * e), epoch_id=e)
    delta_dir = os.path.dirname(table.manifest()["files"][-1]["path"])
    with open(os.path.join(table.path, delta_dir,
                           f".part-crashed.parquet{_TMP_SUFFIX}"), "w") as f:
        f.write("a driver write killed before its copy")
    table.compact(spark)

    def on_disk():
        return {os.path.relpath(os.path.join(r, n), table.path)
                for r, _d, names in os.walk(os.path.join(table.path, "data"))
                for n in names}

    before = {p for p in on_disk() if p.endswith(".parquet")}
    live = {f["path"] for f in table.manifest()["files"]}
    removed = table.vacuum(keep_versions=1)
    assert removed == len(before - live) > 0
    sidecars = {_sidecar(p) for p in live}
    markers = {os.path.join(*p.split(os.sep)[:2], m)
               for p in live for m in ("_SUCCESS", "._SUCCESS.crc")}
    left = on_disk()
    assert live | sidecars <= left
    assert left - live - sidecars <= markers, left - live - sidecars
    dirs = {os.path.relpath(r, table.path)
            for r, _d, _n in os.walk(os.path.join(table.path, "data"))}
    assert all(any(p.startswith(d + os.sep) for p in live)
               for d in dirs if d != "data"), dirs
    assert table.read_raw(spark).count() == sum(
        f["rows"] for f in table.manifest()["files"])


def test_manifests_read_back_as_written(spark, tmp_path, monkeypatch):
    """A published manifest and a staged one read back equal to the
    object that was serialized."""
    import json

    from bitcoin_etl_spark.lake import table as table_mod

    table = _kv_table(tmp_path)
    nm = table._next_manifest("probe")
    nm["properties"]["note"] = 'épsilon ✓ "quoted"\n'
    nm["ledger"]["p"] = {"0": {"rows": 2 ** 62, "duration_ms": 0.1 + 0.2}}
    table._publish(nm)
    with open(tmp_path / "t" / "manifest" / "v1.json") as f:
        assert json.load(f) == nm
    assert LakeTable.load(table.path).manifest() == nm

    written = []
    dumps = json.dumps

    def spy(obj, *args, **kwargs):
        written.append(obj)
        return dumps(obj, *args, **kwargs)

    monkeypatch.setattr(table_mod.json, "dumps", spy)
    res = table.append_delta(_range_delta(spark, 5, 1), epoch_id=0,
                             staged=True)
    monkeypatch.undo()
    (staged,) = [o for o in written if isinstance(o, dict)
                 and "data_sub" in o]
    assert table._load_staged(res["staging_id"]) == staged
    assert staged["manifest"]["ledger"]["default"]["0"]["rows"] == 5


def test_unserializable_manifest_leaves_no_debris(spark, tmp_path):
    """A commit whose manifest does not serialize (a stats callback that
    returns a non-JSON value) fails before any manifest file is opened,
    staged or not: ``manifest/`` keeps only ``v0.json``, no staged
    commit is listed, and ``vacuum`` runs and reclaims the two orphaned
    delta files."""
    import os

    table = _kv_table(tmp_path)
    for staged in (True, False):
        with pytest.raises(TypeError):
            table.append_delta(_range_delta(spark, 5, 1), epoch_id=0,
                               stats_cb=lambda: {"bad": object()},
                               staged=staged)
    assert os.listdir(os.path.join(table.path, "manifest")) == ["v0.json"]
    assert table.staged_commits() == []
    assert table.vacuum() == 2
    assert table.read_final(spark).count() == 0


def test_vacuum_always_keeps_the_head(spark, tmp_path):
    """``vacuum(keep_versions < 1)`` would keep no snapshot and delete
    the head's data files: it raises before any file is touched."""
    import os

    table = _kv_table(tmp_path)
    table.append_delta(_range_delta(spark, 5, 1), epoch_id=0)

    def on_disk():
        return sorted(os.path.join(r, n)
                      for r, _d, names in os.walk(table.path) for n in names)

    before = on_disk()
    for keep in (0, -1):
        with pytest.raises(ValueError, match="keep_versions"):
            table.vacuum(keep_versions=keep)
    assert on_disk() == before
    assert table.read_final(spark).count() == 5
