"""Round-2 parity additions: Kafka frame round-trip (S8/S14, offline),
P12 list→indexed-fields converter, P9 nonce hex normalization,
S4 genesis static injection."""

import json

import pytest
from pyspark.sql import functions as F, types as T

from bitcoin_etl_spark.functions.converters import list_to_fields
from bitcoin_etl_spark.functions.core import normalize_nonce
from bitcoin_etl_spark.sources.genesis import genesis_static_df, inject_static_rows
from bitcoin_etl_spark.sources.kafka import (
    ITEM_TYPE_TO_TOPIC,
    decode_frames,
    encode_frames,
    parse_kafka_output,
    reader_options,
    writer_options,
)
from bitcoin_etl_spark.sources.raw_blocks import generate_raw_chain
from bitcoin_etl_spark.sources.mappers import map_transactions


@pytest.fixture(scope="module")
def chain(spark):
    df = generate_raw_chain(spark, n_blocks=4, txs_per_block=3, seed=7)
    df.cache()
    yield df
    df.unpersist()


def test_kafka_output_parsing():
    assert parse_kafka_output("kafka/127.0.0.1:9092") == "127.0.0.1:9092"
    with pytest.raises(ValueError):
        parse_kafka_output("127.0.0.1:9092")
    with pytest.raises(ValueError):
        parse_kafka_output("kafka/")


def test_kafka_frame_round_trip(spark, chain):
    """encode→decode identity on the transaction item schema — the
    broker-free proof of the reference's JSON wire format
    (kafka_exporter.py:38: json.dumps(item))."""
    tx = map_transactions(chain).select(
        "hash", "block_number", "is_coinbase", "output_value", "item_id"
    )
    frames = encode_frames(tx, "transaction")
    assert frames.columns == ["key", "value", "topic"]
    rows = frames.collect()
    assert all(r["topic"] == ITEM_TYPE_TO_TOPIC["transaction"] for r in rows)
    # key = item_id bytes (P13 PK → per-key partition affinity)
    assert all(
        bytes(r["key"]).decode() == json.loads(bytes(r["value"]))["item_id"]
        for r in rows
    )
    back = decode_frames(frames, tx.schema)
    a = sorted(tuple(r) for r in tx.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_kafka_unknown_item_type(spark, chain):
    tx = map_transactions(chain)
    with pytest.raises(KeyError):
        encode_frames(tx, "no_such_type")


def test_kafka_option_builders():
    w = writer_options("kafka/h:9092", checkpoint_dir="/tmp/ck")
    assert w["kafka.bootstrap.servers"] == "h:9092"
    assert w["kafka.max.request.size"] == "99000000"  # reference parity
    r = reader_options("kafka/h:9092", max_offsets_per_trigger=1000)
    assert r["subscribe"] == "blocks,inputs_outputs,transactions"
    assert r["maxOffsetsPerTrigger"] == "1000"


def test_list_to_fields(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["c"]), (3, None)], "id int, xs array<string>"
    )
    out = list_to_fields(df, "xs", "field_", 3, fill_with="z")
    assert out.columns == ["id", "field_0", "field_1", "field_2"]
    rows = {r["id"]: (r["field_0"], r["field_1"], r["field_2"])
            for r in out.collect()}
    assert rows[1] == ("a", "b", "z")  # padded to fill like the reference
    assert rows[2] == ("c", "z", "z")
    assert rows[3] == ("z", "z", "z")
    # without fill_with: nulls past the end
    out2 = list_to_fields(df, "xs", "f", 2)
    r2 = {r["id"]: (r["f0"], r["f1"]) for r in out2.collect()}
    assert r2[2] == ("c", None)


def test_normalize_nonce(spark):
    # bitcoin-clone shape: integer nonce → lowercase hex, no leading zeros
    ints = spark.createDataFrame([(2882400018,), (0,)], "nonce long")
    got = {r["nonce"] for r in normalize_nonce(ints).collect()}
    assert got == {format(2882400018, "x"), "0"}
    # zcash shape: string nonce passes through untouched
    strs = spark.createDataFrame([("00ab",)], "nonce string")
    assert normalize_nonce(strs).first()["nonce"] == "00ab"


def test_genesis_injection(spark, chain):
    """S4: static genesis row replaces any fetched row with the same key
    and appears exactly once (reference btc_service.py:129-140)."""
    tx = map_transactions(chain)
    schema = T.StructType(
        [
            T.StructField("hash", T.StringType()),
            T.StructField("is_coinbase", T.BooleanType()),
            T.StructField("lock_time", T.LongType()),
        ]
    )
    existing_hash = tx.first()["hash"]
    genesis = {"hash": existing_hash, "is_coinbase": True, "lock_time": 777}
    static = genesis_static_df(spark, genesis, schema)
    out = inject_static_rows(tx, static, key="hash")
    assert out.count() == tx.count()  # replaced, not duplicated
    g = out.filter(F.col("hash") == existing_hash).collect()
    assert len(g) == 1 and g[0]["lock_time"] == 777
    assert g[0]["block_number"] is None  # missing cols null-filled
    # disjoint key → appended
    static2 = genesis_static_df(
        spark, {"hash": "gen0", "is_coinbase": True, "lock_time": 0}, schema
    )
    assert inject_static_rows(tx, static2, key="hash").count() == tx.count() + 1
