"""Token-array validation as one Catalyst expression.

The reference's analog is the Dogecoin precision-loss hazard class
(``README.md:156-160``) and the pervasive nullable fields
(``domain/transaction_input.py:25-37``): malformed payloads must be
quarantined, never applied. Per BASELINE.json input_hint, no Python
touches row data here: the rule is built from higher-order functions,
so whole-stage codegen evaluates it inside the scan. Tests pin it to
``changelog.generator.is_valid_event``, the plain-pandas mask the
oracles filter with.

Rule: ``op='D'`` rows carry no payload and are always valid; I/U rows
must have non-null ``tokens``, ``n_tok == len(tokens)``, and every token
in ``[0, TOKEN_VOCAB_SIZE)``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import TOKEN_VOCAB_SIZE


def tokens_valid_expr() -> "F.Column":
    """The validity rule as a Column. Building it takes ~250 py4j round
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
