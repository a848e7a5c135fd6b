"""Vectorized token-array validation (the mandated pandas/Arrow UDF).

The reference's analog is the Dogecoin precision-loss hazard class
(``README.md:156-160``) and the pervasive nullable fields
(``domain/transaction_input.py:25-37``): malformed payloads must be
quarantined, never applied. Per BASELINE.json input_hint, this is the one
place Python touches row data — and it is Arrow-batched (``pandas_udf``),
never per-row.

Rule: ``op='D'`` rows carry no payload and are always valid; I/U rows
must have non-null ``tokens``, ``n_tok == len(tokens)``, and every token
in ``[0, TOKEN_VOCAB_SIZE)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from .. import TOKEN_VOCAB_SIZE


@F.pandas_udf(T.BooleanType())
def tokens_valid_udf(tokens: pd.Series, n_tok: pd.Series, op: pd.Series) -> pd.Series:
    """Arrow-batched validity check; one numpy pass per batch."""
    out = np.zeros(len(tokens), dtype=bool)
    is_delete = (op == "D").to_numpy()
    out[is_delete] = True
    for i in np.flatnonzero(~is_delete):
        t = tokens.iat[i]
        n = n_tok.iat[i]
        if t is None or n is None or (isinstance(n, float) and np.isnan(n)):
            continue
        arr = np.asarray(t)
        if len(arr) != int(n):
            continue
        if len(arr) and (arr.min() < 0 or arr.max() >= TOKEN_VOCAB_SIZE):
            continue
        out[i] = True
    return pd.Series(out)


def tokens_valid_expr() -> "F.Column":
    """Pure-Catalyst equivalent of the validity rule (higher-order
    functions; whole-stage-codegen'd, no Python). Used on the hot path;
    the pandas UDF above satisfies the Arrow-UDF mandate and serves as a
    cross-check in tests. Building the Column takes ~250 py4j round
    trips, so callers build it once and reuse it: it is unresolved, and
    so valid against any frame.
    """
    arr_ok = (
        F.col("tokens").isNotNull()
        & F.col("n_tok").isNotNull()
        & (F.size("tokens") == F.col("n_tok"))
        & ~F.exists(
            "tokens",
            lambda x: x.isNull() | (x < F.lit(0)) | (x >= F.lit(TOKEN_VOCAB_SIZE)),
        )
    )
    return F.when(F.col("op") == "D", F.lit(True)).otherwise(arr_ok)

