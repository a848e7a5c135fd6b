"""Genesis static-injection source op (S4).

Some chains can't serve their genesis coinbase over RPC
(``getrawtransaction`` errors), so the reference keeps the genesis
transaction as a static constant, filters its hash out of the fetch and
appends the constant to the result (reference
``bitcoinetl/service/genesis_transactions.py`` +
``service/btc_service.py:129-140``).

Spark-first shape: the "fetched" stream is a DataFrame; injection is a
left-anti join on the key (drop any RPC-shaped row claiming the static
key — the static row is authoritative) followed by ``unionByName`` with
``allowMissingColumns`` (the static row may omit RPC-only fields). Both
sides stay distributed; the static side is a literal 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def inject_static_rows(df: DataFrame, static_df: DataFrame,
                       key: str = "txid") -> DataFrame:
    """Union a fixed row-set into a mapped stream, static side wins on
    key collision (the reference filters the genesis hash out of the
    fetch, then appends the constant — same precedence)."""
    # hinted: a few constant rows, RDD-backed, so Spark sees no size
    keys = F.broadcast(static_df.select(key).distinct())
    return df.join(keys, key, "left_anti").unionByName(
        static_df, allowMissingColumns=True
    )


def genesis_static_df(spark: SparkSession, genesis: dict,
                      schema) -> DataFrame:
    """A GENESIS_TRANSACTIONS-style dict (one chain's entry — the public
    genesis coinbase constants) → a 1-row DataFrame in the raw-tx
    schema; missing RPC-only fields stay null."""
    row = {f.name: genesis.get(f.name) for f in schema.fields}
    return spark.createDataFrame([row], schema)
