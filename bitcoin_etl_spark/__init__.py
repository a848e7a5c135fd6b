"""bitcoin_etl_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch reimagination of the reference bitcoin-etl pipeline
(`/root/reference`, TheBestOrNothing/bitcoin-etl) as a change-data-capture
engine over lake tables of pre-tokenized training sequences:

* a change-log tail (the blockchain-height poll loop analog,
  reference ``blockchainetl/streaming/streamer.py:72-103``) expressed as
  Structured Streaming over an append-only parquet change log,
* keyed change events ``(seq, epoch, op I/U/D, doc_id, tokens, n_tok,
  source, block, reorg_of)`` — the reference's "item" dicts with
  ``item_id`` PKs (``bitcoinetl/streaming/btc_item_id_calculator.py:29-43``),
* idempotent keyed MERGE into a versioned, snapshot-isolated lake table
  (the ClickHouse ``ReplacingMergeTree`` + ``OPTIMIZE FINAL`` analog,
  reference ``pipelines/bitcoin.py:128-131``) with an embedded
  commit-epoch dedup ledger for exactly-once apply,
* repair / invariant jobs: gap detection, duplicate detection, count
  conservation, patch-by-replay (reference ``clickhouse/*.py`` scripts).

Everything is DataFrame-first: Catalyst plans the joins/aggregations,
and the CDC path (validate, apply, compact, read, feed) runs no Python
over rows; token validation is one Catalyst expression. Python touches
row data only in the registry's Arrow-batched ``mapInPandas`` /
``applyInPandas`` / ``pandas_udf`` stages under ``ops/`` (minhash and
fingerprint hashing, packing, media features, a similarity score).
"""

__version__ = "0.1.0"

TOKEN_VOCAB_SIZE = 50_257  # GPT-2-style vocab bound used by validation
