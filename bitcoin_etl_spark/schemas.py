"""Canonical schemas for the CDC engine (schema-first, unlike the
reference's dynamic dicts — see SURVEY.md §1.3; reference CSV headers are
inferred from the first item, ``blockchainetl/exporters.py:149-159``,
a latent bug this engine avoids by declaring StructTypes everywhere).
"""

from __future__ import annotations

from pyspark.sql import types as T

OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"

# ---------------------------------------------------------------------------
# Change event — the reference "item" (mappers/*.py) re-expressed as a row.
#   seq      : total order (block_number x tx_index analog)
#   epoch    : apply-batch id (block_batch_size cycle, streamer.py:105-109)
#   op       : I | U | D (reorg rollback = D + I, SURVEY.md §2.8 C4/C5)
#   doc_id   : primary key (item_id analog, btc_item_id_calculator.py:29-43)
#   tokens   : payload, array<int> in [0, vocab)
#   n_tok    : must equal size(tokens) — validated by one Catalyst expression
#   source   : multi-chain origin tag {btc,ltc,dash,zec,doge,bch}
#   block    : ledger height the event came from (reorg unit)
#   reorg_of : non-null on compensation events — block being rolled back
#   ingest_ts: deterministic event-time column (watermark carrier)
# ---------------------------------------------------------------------------
CHANGES_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("epoch", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("block", T.LongType(), True),
        T.StructField("reorg_of", T.LongType(), True),
        T.StructField("ingest_ts", T.TimestampType(), True),
    ]
)

# Additive evolution column (the previous_block_hash / Zcash field-variance
# analog, SURVEY.md §1.2): later epochs may carry it; earlier rows null.
EVOLUTION_FIELD = T.StructField("source_meta", T.StringType(), True)

CHANGES_SCHEMA_EVOLVED = T.StructType(list(CHANGES_SCHEMA.fields) + [EVOLUTION_FIELD])

# ---------------------------------------------------------------------------
# Target table (BASELINE.json input_hint). `_rev` = last applied seq —
# the ReplacingMergeTree version column analog (pipelines/bitcoin.py:128-131);
# engine-internal, excluded from oracle equality.
# ---------------------------------------------------------------------------
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("_rev", T.LongType(), False),
    ]
)

DOCS_SCHEMA_EVOLVED = T.StructType(list(DOCS_SCHEMA.fields) + [EVOLUTION_FIELD])

# Columns compared against the oracle (token-array equality; FIXTURES.md §3).
DOCS_COMPARE_COLUMNS = ["doc_id", "tokens", "n_tok", "source"]

SOURCES = ["btc", "ltc", "dash", "zec", "doge", "bch"]


def schema_to_json(schema: T.StructType) -> str:
    return schema.json()


def schema_from_json(payload: str) -> T.StructType:
    return T.StructType.fromJson(__import__("json").loads(payload))


# lossless numeric widenings, per Iceberg's promotion rules (and what
# Spark 4's vectorized parquet reader can read old files through)
_WIDEN_ORDER = {
    "byte": 0, "short": 1, "integer": 2, "long": 3,
    "float": 10, "double": 11,
}


def _widens_to(old: T.DataType, new: T.DataType) -> bool:
    """True if ``new`` is a strictly wider lossless type for ``old``."""
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return _widens_to(old.elementType, new.elementType)
    a = _WIDEN_ORDER.get(old.typeName())
    b = _WIDEN_ORDER.get(new.typeName())
    return (
        a is not None and b is not None and b > a
        and (a < 10) == (b < 10)  # int-family and float-family separately
    )


def merge_schemas(base: T.StructType, extra: T.StructType) -> T.StructType:
    """Schema union: base fields (numerically WIDENED in place when the
    source carries a strictly wider lossless type — int→long,
    float→double, array element-wise; Iceberg's promotion rules), then
    new source fields appended nullable (add-column evolution). Old
    data files remain readable under the evolved schema: Spark 4's
    parquet reader upcasts narrow stored types to the widened read
    schema."""
    by_name = {f.name: f for f in extra.fields}
    names = {f.name for f in base.fields}
    out = []
    for f in base.fields:
        e = by_name.get(f.name)
        if e is not None and _widens_to(f.dataType, e.dataType):
            out.append(T.StructField(f.name, e.dataType, f.nullable))
        else:
            out.append(f)
    for f in extra.fields:
        if f.name not in names:
            out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out)
