"""Structured Streaming tail: drain, checkpoint resume, exactly-once
under micro-batch replay (T1/T3/T5 analogs — reference
``blockchainetl/streaming/streamer.py:54-134``)."""

from __future__ import annotations

import shutil

import pandas as pd
from pyspark.sql import types as T

from bitcoin_etl_spark.changelog import ChangeLogSpec, generate_scenario
from bitcoin_etl_spark.lake import LakeTable
from bitcoin_etl_spark.operators import EpochApplier
from bitcoin_etl_spark.schemas import DOCS_COMPARE_COLUMNS, DOCS_SCHEMA
from bitcoin_etl_spark.streaming import ChangeLogTailer
from tests.helpers import assert_docs_equal, spark_docs_to_pandas


def _payload():
    return T.StructType([f for f in DOCS_SCHEMA.fields if f.name != "_rev"])


def test_stream_drain_resume_exactly_once(spark, tmp_path):
    # 6-epoch scenario; a second 8-epoch run of the same spec provides the
    # "later" epochs + the full-log oracle for the resumed stream.
    spec6 = ChangeLogSpec(n_epochs=6, events_per_epoch=300, n_keys=400,
                          reorgs=[(3, 6)], dup_in_batch_frac=0.1)
    spec8 = ChangeLogSpec(n_epochs=8, events_per_epoch=300, n_keys=400,
                          reorgs=[(3, 6)], dup_in_batch_frac=0.1)
    d6 = str(tmp_path / "s6")
    d8 = str(tmp_path / "s8")
    generate_scenario(d6, spec6)
    generate_scenario(d8, spec8)

    table = LakeTable.create(str(tmp_path / "t"), _payload(), n_buckets=8)
    applier = EpochApplier(table, pipeline_id="stream")
    ckpt = str(tmp_path / "ckpt")

    tail = ChangeLogTailer(spark, f"{d6}/changes", applier, ckpt,
                           max_files_per_trigger=2)
    log1 = tail.run_available()
    assert log1 and not any(b.get("skipped") for b in log1)

    # live tail: two more epochs arrive (deterministic continuation)
    for e in (6, 7):
        shutil.copytree(f"{d8}/changes/epoch={e}", f"{d6}/changes/epoch={e}")

    # resume with a FRESH tailer on the same checkpoint
    applier2 = EpochApplier(table, pipeline_id="stream")
    tail2 = ChangeLogTailer(spark, f"{d6}/changes", applier2, ckpt,
                            max_files_per_trigger=2)
    log2 = tail2.run_available()
    applied_batches = {b["batch_id"] for b in log1}
    assert all(b["batch_id"] not in applied_batches for b in log2)

    actual = spark_docs_to_pandas(
        table.read_final(spark).select(*DOCS_COMPARE_COLUMNS)
    )
    expected = pd.read_parquet(f"{d8}/expected_docs.parquet")[DOCS_COMPARE_COLUMNS]
    assert_docs_equal(actual, expected)

    # crash-replay of the last micro-batch: ledger must skip it
    last = max(b["batch_id"] for b in (log1 + log2))
    sch = tail2.schema
    df = (spark.read.schema(sch).option("basePath", f"{d6}/changes")
          .parquet(f"{d6}/changes"))
    res = applier2.apply_epoch(spark, df, epoch_id=last)
    assert res["skipped"] is True


def test_change_feed_tailer_exactly_once_ranges(spark, tmp_path):
    """Consumer-side tail loop: drains committed snapshots past the
    cursor, one idempotent (from, to) range per sink call; resume from
    the cursor re-delivers nothing; a cursor rolled back (crash between
    sink and cursor write) re-delivers the SAME content-identical
    range."""
    import json as _json

    from pyspark.sql import types as T

    from bitcoin_etl_spark.lake.table import LakeTable
    from bitcoin_etl_spark.streaming.feed import ChangeFeedTailer

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

    got: list[tuple[int, int, dict]] = []

    def sink(df, from_v, to_v):
        got.append((from_v, to_v,
                    {r["doc_id"]: (r["_change_type"], r["val"])
                     for r in df.collect()}))

    cursor = str(tmp_path / "cursor.json")
    tailer = ChangeFeedTailer(spark, table, sink, cursor)

    delta([("a", 1, 1, False)], 0)
    # first run initializes the cursor at head, delivers nothing
    assert tailer.run_available() == []
    v_head = table.current_version()

    delta([("a", 2, 2, False), ("b", 3, 3, False)], 1)
    delta([("a", None, 4, True)], 2)
    log = tailer.run_available()
    assert [tuple(e.values()) for e in log] == [(v_head, v_head + 2)]
    assert got[-1][2] == {"a": ("DELETE", None), "b": ("INSERT", 3)}

    # resume: a fresh tailer over the same cursor has nothing to do
    t2 = ChangeFeedTailer(spark, table, sink, cursor)
    assert t2.run_available() == []

    # crash-sim: roll the cursor back; the SAME range re-delivers with
    # identical content (at-least-once, idempotent by range key)
    _json.dump({"last_version": v_head}, open(cursor, "w"))
    n_before = len(got)
    t2.run_available()
    assert got[n_before][0] == v_head and got[n_before][2] == got[n_before - 1][2]

    # chunked catch-up honors max_versions_per_batch
    delta([("c", 9, 9, False)], 3)
    delta([("d", 10, 10, False)], 4)
    _json.dump({"last_version": v_head}, open(cursor, "w"))
    t3 = ChangeFeedTailer(spark, table, sink, cursor,
                          max_versions_per_batch=2)
    log = t3.run_available()
    assert len(log) == 2  # two chunks to reach head
    assert log[0]["to_version"] - log[0]["from_version"] == 2


def test_change_feed_tailer_crash_between_sink_and_cursor(spark, tmp_path):
    """At-least-once → exactly-once convergence under crash-replay
    (VERDICT r04 #7): the sink THROWS after materializing its effect
    (crash between sink work and cursor write); the cursor must NOT
    advance, the retry must re-deliver the SAME range with identical
    content, and an idempotent sink (keyed on the range) converges to
    the single-delivery state."""
    import json as _json

    from pyspark.sql import types as T

    from bitcoin_etl_spark.lake.table import LakeTable
    from bitcoin_etl_spark.streaming.feed import ChangeFeedTailer

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

    # idempotent sink: state keyed on the (from, to) range — a replayed
    # range overwrites itself, so delivery count doesn't matter
    state: dict[tuple[int, int], dict] = {}
    crashes = {"armed": True}

    def sink(df, from_v, to_v):
        rows = {r["doc_id"]: (r["_change_type"], r["val"])
                for r in df.collect()}
        state[(from_v, to_v)] = rows  # effect lands BEFORE the crash
        if crashes["armed"]:
            crashes["armed"] = False
            raise RuntimeError("simulated crash after sink effect")

    cursor = str(tmp_path / "cursor.json")
    tailer = ChangeFeedTailer(spark, table, sink, cursor)
    delta([("a", 1, 1, False)], 0)
    assert tailer.run_available() == []  # cursor initialized at head
    v0 = table.current_version()

    delta([("a", 2, 2, False), ("b", 3, 3, False)], 1)
    try:
        tailer.run_available()
        raise AssertionError("sink crash must propagate")
    except RuntimeError:
        pass
    # crash before cursor write: cursor still at v0
    assert _json.load(open(cursor))["last_version"] == v0
    first_delivery = dict(state)

    # retry (fresh tailer = process restart): same range, same content,
    # idempotent state converges to exactly the single-delivery outcome
    t2 = ChangeFeedTailer(spark, table, sink, cursor)
    log = t2.run_available()
    assert [e["from_version"] for e in log] == [v0]
    assert state == first_delivery
    assert state[(v0, table.current_version())] == {
        "a": ("UPDATE_AFTER", 2), "b": ("INSERT", 3),
    }
    assert _json.load(open(cursor))["last_version"] == table.current_version()


def test_table_mirror_filtered_projection(spark, tmp_path):
    """TableMirror maintains a filtered+projected downstream LakeTable
    off the upstream change feed with exactly-once effect: converges to
    upstream.read_final().filter(where).select(cols) after every drain,
    turns rows that stop satisfying the predicate into downstream
    DELETEs, and a re-driven range is skipped by the downstream
    ledger."""
    from pyspark.sql import types as T

    from bitcoin_etl_spark.lake.table import LakeTable
    from bitcoin_etl_spark.streaming.feed import TableMirror

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
        T.StructField("tag", T.StringType(), True),
    ])
    up = LakeTable.create(str(tmp_path / "up"), payload, n_buckets=4)
    down = LakeTable.create(
        str(tmp_path / "down"),
        T.StructType([payload[0], payload[1]]), n_buckets=4,
    )

    def delta(rows, epoch):
        df = spark.createDataFrame(
            rows,
            "doc_id string, val long, tag string, _rev long, _deleted boolean",
        )
        up.append_delta(df, epoch_id=epoch)

    def downstream_state():
        return {r["doc_id"]: r["val"]
                for r in down.read_final(spark).collect()}

    mirror = TableMirror(
        spark, up, down, str(tmp_path / "cursor.json"),
        where="val >= 10", select=["val"],
    )

    delta([("a", 5, "x", 1, False), ("b", 20, "y", 2, False),
           ("c", 30, "z", 3, False)], 0)
    mirror.run_available()
    assert downstream_state() == {"b": 20, "c": 30}  # 'a' filtered out

    # 'a' rises into the view; 'b' falls out of it; 'c' deleted upstream
    delta([("a", 50, "x", 4, False), ("b", 3, "y", 5, False),
           ("c", None, None, 6, True)], 1)
    mirror.run_available()
    assert downstream_state() == {"a": 50}

    # idempotence: re-drive the same range (fresh mirror, cursor rolled
    # back) — downstream ledger skips, state unchanged
    import json as _json

    _json.dump({"last_version": 0}, open(str(tmp_path / "cursor.json"), "w"))
    m2 = TableMirror(spark, up, down, str(tmp_path / "cursor.json"),
                     where="val >= 10", select=["val"])
    m2.run_available()
    assert downstream_state() == {"a": 50}
    # and the downstream is itself a feed source (chained CDC)
    kinds = {r["doc_id"]: r["_change_type"]
             for r in down.read_changes(spark, 0).collect()}
    assert kinds == {"a": "INSERT"}


def test_table_mirror_crash_redelivery_no_duplicates(spark, tmp_path):
    """ADVICE r05: a crash between the mirror's append_delta and its
    cursor write, followed by NEW upstream commits, re-delivers the old
    range under a NEW to_version epoch id — the ledger alone cannot
    skip it. The mirror must fast-forward its cursor from the ledger so
    the redelivered half is never re-applied: downstream raw rows stay
    unique per (key, _rev)."""
    import json as _json

    from pyspark.sql import functions as F, types as T

    from bitcoin_etl_spark.lake.table import LakeTable
    from bitcoin_etl_spark.streaming.feed import TableMirror

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    up = LakeTable.create(str(tmp_path / "up"), payload, n_buckets=4)
    down = LakeTable.create(str(tmp_path / "down"), payload, n_buckets=4)

    def delta(rows, epoch):
        up.append_delta(spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        ), epoch_id=epoch)

    cursor = str(tmp_path / "cursor.json")
    delta([("a", 1, 1, False), ("b", 2, 2, False)], 0)
    TableMirror(spark, up, down, cursor).run_available()

    # simulate the crash: rows + ledger committed, cursor write lost
    _json.dump({"last_version": 0}, open(cursor, "w"))
    # new upstream commit moves the head — redelivery would use a NEW id
    delta([("c", 3, 3, False)], 1)
    TableMirror(spark, up, down, cursor).run_available()

    state = {r["doc_id"]: r["val"] for r in down.read_final(spark).collect()}
    assert state == {"a": 1, "b": 2, "c": 3}
    raw = down.read_raw(spark).groupBy("doc_id", "_rev").agg(
        F.count("*").alias("n")
    ).filter(F.col("n") > 1).collect()
    assert raw == [], f"duplicate (key,_rev) rows appended: {raw}"


def test_table_mirror_torn_cursor_write_keeps_a_readable_cursor(
        spark, tmp_path, monkeypatch):
    """A write that dies midway through the mirror's cursor
    fast-forward must leave a cursor that still parses (temp file +
    atomic rename, never an in-place rewrite), and the next run must
    fast-forward from the ledger and append no duplicate (key, _rev)
    rows."""
    import json as _json

    import pytest
    from pyspark.sql import functions as F, types as T

    from bitcoin_etl_spark.lake.table import LakeTable
    from bitcoin_etl_spark.streaming.feed import TableMirror

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    up = LakeTable.create(str(tmp_path / "up"), payload, n_buckets=4)
    down = LakeTable.create(str(tmp_path / "down"), payload, n_buckets=4)

    def delta(rows, epoch):
        up.append_delta(spark.createDataFrame(
            rows, "doc_id string, val long, _rev long, _deleted boolean"
        ), epoch_id=epoch)

    cursor = str(tmp_path / "cursor.json")
    delta([("a", 1, 1, False), ("b", 2, 2, False)], 0)
    TableMirror(spark, up, down, cursor).run_available()
    # crash after the downstream commit, before the cursor write
    _json.dump({"last_version": 0}, open(cursor, "w"))
    delta([("c", 3, 3, False)], 1)

    def torn_dump(obj, f, *args, **kwargs):
        f.write('{"last_ver')
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(_json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            TableMirror(spark, up, down, cursor)
    with open(cursor) as f:
        assert _json.load(f) == {"last_version": 0}

    TableMirror(spark, up, down, cursor).run_available()
    state = {r["doc_id"]: r["val"] for r in down.read_final(spark).collect()}
    assert state == {"a": 1, "b": 2, "c": 3}
    raw = down.read_raw(spark).groupBy("doc_id", "_rev").agg(
        F.count("*").alias("n")
    ).filter(F.col("n") > 1).collect()
    assert raw == [], f"duplicate (key,_rev) rows appended: {raw}"


def test_table_mirror_follows_schema_evolution(spark, tmp_path):
    """A full (no-projection) TableMirror follows upstream ADDITIVE
    schema evolution: new columns appear downstream automatically (the
    feed carries the evolved after-image; append_delta auto-evolves the
    downstream table)."""
    from pyspark.sql import types as T

    from bitcoin_etl_spark.lake.table import LakeTable
    from bitcoin_etl_spark.streaming.feed import TableMirror

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    up = LakeTable.create(str(tmp_path / "up"), payload, n_buckets=4)
    down = LakeTable.create(str(tmp_path / "down"), payload, n_buckets=4)
    mirror = TableMirror(spark, up, down, str(tmp_path / "c.json"))

    up.append_delta(spark.createDataFrame(
        [("a", 1, 1, False)],
        "doc_id string, val long, _rev long, _deleted boolean",
    ), epoch_id=0)
    mirror.run_available()

    # upstream evolves: new source column
    up.append_delta(spark.createDataFrame(
        [("b", 2, "web", 2, False)],
        "doc_id string, val long, src string, _rev long, _deleted boolean",
    ), epoch_id=1)
    mirror.run_available()

    rows = {r["doc_id"]: (r["val"], r["src"])
            for r in down.read_final(spark).collect()}
    assert rows == {"a": (1, None), "b": (2, "web")}
    assert "src" in down.schema().fieldNames()
