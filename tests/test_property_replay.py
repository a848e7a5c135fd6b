"""Property-based replay correctness: for ANY sequence of I/U/D events
(random keys, random epoch splits, random duplicates), engine replay
must equal the independent pandas oracle. Exceeds the reference's test
strategy (golden fixtures only, SURVEY.md §5) with generated cases."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from bitcoin_etl_spark.lake import LakeTable
from bitcoin_etl_spark.operators import EpochApplier
from bitcoin_etl_spark.schemas import CHANGES_SCHEMA, DOCS_SCHEMA


@st.composite
def change_logs(draw):
    n = draw(st.integers(min_value=1, max_value=60))
    keys = draw(st.integers(min_value=1, max_value=8))
    events = []
    for seq in range(n):
        k = draw(st.integers(min_value=0, max_value=keys - 1))
        op = draw(st.sampled_from(["I", "U", "D"]))
        tok = draw(st.lists(st.integers(0, 50256), min_size=0, max_size=5))
        events.append((seq, k, op, tok))
    n_epochs = draw(st.integers(min_value=1, max_value=4))
    return events, n_epochs


def _oracle(events):
    last = {}
    for seq, k, op, tok in events:
        last[k] = (seq, op, tok)
    rows = [
        (f"doc_{k}", tuple(tok))
        for k, (seq, op, tok) in last.items()
        if op != "D"
    ]
    return sorted(rows)


_counter = [0]


@pytest.fixture(scope="module")
def applier_factory(spark, tmp_path_factory):
    def make():
        _counter[0] += 1
        payload = T.StructType(
            [f for f in DOCS_SCHEMA.fields if f.name != "_rev"]
        )
        tdir = str(tmp_path_factory.mktemp(f"prop{_counter[0]}") / "t")
        table = LakeTable.create(tdir, payload, n_buckets=4)
        return table, EpochApplier(table)

    return make


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(change_logs())
def test_any_replay_matches_oracle(spark, applier_factory, log):
    events, n_epochs = log
    table, applier = applier_factory()
    pdf = pd.DataFrame(
        {
            "seq": [e[0] for e in events],
            "epoch": [e[0] % n_epochs for e in events],
            "op": [e[2] for e in events],
            "doc_id": [f"doc_{e[1]}" for e in events],
            "tokens": [None if e[2] == "D" else list(e[3]) for e in events],
            "n_tok": [None if e[2] == "D" else len(e[3]) for e in events],
            "source": "btc",
            "block": 0,
            "reorg_of": None,
            "ingest_ts": pd.Timestamp("2024-01-01", tz="UTC"),
        }
    )
    sdf = spark.createDataFrame(pdf, schema=CHANGES_SCHEMA)
    # epochs applied in ORDER (engine requirement); content within
    # arbitrary
    applier.apply_changes_df(spark, sdf)
    got = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in table.read_final(spark).collect()
    )
    assert got == _oracle(events)
    # idempotence: full duplicate replay changes nothing
    applier.apply_changes_df(spark, sdf)
    got2 = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in table.read_final(spark).collect()
    )
    assert got2 == got


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(change_logs(), st.integers(min_value=1, max_value=3))
def test_any_change_feed_nets_to_state_delta(spark, applier_factory, log,
                                             split):
    """Property: for ANY change log split at any epoch boundary, the
    incremental feed read_changes(v_mid, head) must equal the
    state-level diff between the two snapshots — INSERTs for keys alive
    only at head, DELETEs for keys alive only at v_mid, UPDATE_AFTERs
    for keys whose winning (seq, tokens) changed; no row for unchanged
    keys — and the full-range feed from v0 must reconstruct the final
    live state, on both the in-order and the out-of-order feed path."""
    events, n_epochs = log
    table, applier = applier_factory()

    def to_sdf(evts):
        pdf = pd.DataFrame(
            {
                "seq": [e[0] for e in evts],
                "epoch": [e[0] % n_epochs for e in evts],
                "op": [e[2] for e in evts],
                "doc_id": [f"doc_{e[1]}" for e in evts],
                "tokens": [None if e[2] == "D" else list(e[3])
                           for e in evts],
                "n_tok": [None if e[2] == "D" else len(e[3])
                          for e in evts],
                "source": "btc",
                "block": 0,
                "reorg_of": None,
                "ingest_ts": pd.Timestamp("2024-01-01", tz="UTC"),
            }
        )
        return spark.createDataFrame(pdf, schema=CHANGES_SCHEMA)

    cut_epoch = split % n_epochs
    first = [e for e in events if e[0] % n_epochs <= cut_epoch]
    rest = [e for e in events if e[0] % n_epochs > cut_epoch]
    applier.apply_changes_df(spark, to_sdf(first))
    v_mid = table.current_version()
    if rest:
        applier.apply_changes_df(spark, to_sdf(rest))

    def live(evts):
        last = {}
        for seq, k, op, tok in evts:
            last[k] = (seq, op, tuple(tok))
        return {f"doc_{k}": (seq, tuple(tok))
                for k, (seq, op, tok) in last.items() if op != "D"}

    before, after = live(first), live(events)
    expect = {}
    for k, v in after.items():
        if k not in before:
            expect[k] = ("INSERT", v[1])
        elif before[k] != v:
            expect[k] = ("UPDATE_AFTER", v[1])
    for k in before:
        if k not in after:
            expect[k] = ("DELETE", None)

    def check_feeds():
        got = {
            r["doc_id"]: (r["_change_type"],
                          tuple(r["tokens"]) if r["tokens"] is not None
                          else None)
            for r in table.read_changes(spark, v_mid).collect()
        }
        assert got == expect

        feed0 = {
            r["doc_id"]: tuple(r["tokens"])
            for r in table.read_changes(spark, 0).collect()
            if r["_change_type"] == "INSERT"
        }
        assert feed0 == {k: v[1] for k, v in after.items()}

    check_feeds()
    # the same oracle on the out-of-order path: a repair watermark below
    # every cursor makes read_changes diff the two whole states
    table._min_appended_rev = lambda *a: -(1 << 62)
    check_feeds()
