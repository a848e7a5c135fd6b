"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every operator avoids the pairwise cross product — the
only joins are equi-joins on hashes/buckets/signatures, so shuffle
volume is O(docs × signature width), never O(docs²). Candidate
verification (exact Jaccard) happens only on LSH-bucketed candidates.

Checkpoint lifecycle: ``lsh_candidate_pairs``, ``hamming_near_pairs``,
``ngram_jaccard_pairs`` and ``winnow_candidate_pairs`` materialize their
one-row-per-doc frame with ``localCheckpoint`` (a plan barrier, so
building them runs a job), ``ngram_jaccard_pairs`` also its capped
shingle stream, ``connected_components`` its edge list and each round's
labels. Those blocks are non-replicated executor storage: they are NOT
lineage-recoverable after an executor loss (the job fails and must be
rerun — acceptable for a batch dedup pass, but a caller embedding these
frames in a long-lived pipeline should be aware), and they live until
the returned frame is garbage-collected. A caller running MANY dedup
passes in one session can release a consumed result's blocks
deterministically with ``bitcoin_etl_spark.util.free_local_checkpoint``
(``connected_components`` already frees its per-round checkpoints this
way).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from ..util import free_local_checkpoint
from .text import fingerprint, tokenize


# Plan nodes whose presence means the frame's partitioning is governed by
# spark.sql.shuffle.partitions (a shuffle already happened or is coming),
# not by the input file layout — _spread must not touch those.
_SHUFFLED_PLAN_NODES = (
    "Join", "Aggregate", "Sort", "Repartition", "RepartitionByExpression",
    "Window", "Deduplicate", "Union", "GlobalLimit",
)


def _has_shuffled_node(df: DataFrame) -> bool:
    """True if the ANALYZED logical plan contains any node whose class
    name (exactly — not a substring of the rendered plan, which also
    contains attribute names like ``SortKey#12`` or ``JoinDate`` that
    would false-positive) marks the frame as derived/shuffled. Walks
    the JVM plan tree via py4j; on any reflection hiccup falls back to
    word-boundaried node-header matching on the plan string."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() in _SHUFFLED_PLAN_NODES:
                return True
            kids = node.children()
            for i in range(kids.size()):
                stack.append(kids.apply(i))
        return False
    except Exception:
        plan = df._jdf.queryExecution().analyzed().toString()
        header = re.compile(
            r"(?:^|\n)[+:\- ]*(?:" + "|".join(_SHUFFLED_PLAN_NODES) + r")\b"
        )
        return header.search(plan) is not None


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition UP to the cluster's default parallelism before a
    row-amplifying explode, but never shuffle an already-well-partitioned
    input DOWN. The dedup operators multiply each doc into 50-200+
    shingle/token/bit rows and then hash every one — if the source is a
    single small file (one row-group), the entire pipeline otherwise runs
    as ONE task regardless of cluster size. One narrow shuffle of the
    un-exploded rows is orders of magnitude cheaper than single-threading
    the amplified work.

    Only SCAN-STAGE inputs can be under-partitioned this way, so derived
    frames (any join/aggregate/sort/... in the analyzed plan) are returned
    untouched — their partitioning already comes from
    ``spark.sql.shuffle.partitions``. This is decided from the LOGICAL
    plan + file listing only: the earlier ``df.rdd.getNumPartitions()``
    probe finalized the AQE plan and EXECUTED all upstream shuffle stages
    as a separate job just to count partitions (a full extra run of the
    upstream pipeline when called mid-DAG, e.g. on the quality-filter
    output inside ``corpus_clean_pipeline``)."""
    if df.isStreaming:
        return df
    if _has_shuffled_node(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_parts = len(df.inputFiles())
        if n_parts == 0:
            # no leaf files: a cached relation or local/in-memory input.
            # The plan is narrow (checked above), so the .rdd partition
            # probe is safe here — there are no upstream shuffle stages
            # for AQE finalization to execute.
            n_parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    # n_files undercounts splits of large files; the false-positive cost
    # is one narrow pre-explode shuffle, the false-negative cost is a
    # single-task amplified pipeline — err toward spreading.
    if 0 < n_parts < target:
        return df.repartition(target, *[F.col(c) for c in cols])
    return df


def _h32(col, seed: int):
    """Deterministic 32-bit hash from md5 (engine-portable: the same
    value is computable in DuckDB for oracles)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10
    ).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                prefix_tokens: int | None = None) -> DataFrame:
    """Exact (or prefix-fingerprint) dedup: one row per fingerprint,
    keep-min id; map-side partial agg handles duplicate-heavy skew."""
    f = fingerprint(F.col(text_col), prefix_tokens)
    return (
        _spread(df, id_col).withColumn("fingerprint", f)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def _tokens_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Materialize the token array in its OWN projection before any
    shingle lambda consumes it: a lambda body referencing the raw
    ``split()`` expression re-evaluates the split once PER REFERENCE
    (k element_at's + 2 size's ⇒ 5 evaluations per row; measured 7.5×
    slower on the sf0.1 shingle scan). A bound column attribute is
    evaluated once, and CollapseProject keeps the projection boundary
    because the split is non-cheap and referenced more than once."""
    return df.select(F.col(id_col), tokenize(F.col(text_col)).alias("_ws"))


def _shingles_of(ws, k: int = 3):
    """Word k-gram array from a MATERIALIZED token-array column (use
    `_tokens_frame` — never pass a raw split() expression, see its
    docstring)."""
    n = F.size(ws) - (k - 1)
    # sequence(1, n) runs BACKWARDS ([1, 0]) for n <= 0, so a doc with
    # fewer than k tokens must short-circuit to an empty shingle array
    # or the out-of-range element_at throws under ANSI mode
    return F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))


def _minhash_batches(n_hashes: int, shingle_k: int, id_col: str,
                     text_col: str):
    """mapInPandas body for the Arrow minhash path: per doc, tokenize
    with the exact Spark semantics (trim spaces, split on Java \\s+),
    build word k-gram shingles, md5 each shingle per seed through
    hashlib, and take numpy column-mins — bit-identical to the
    Column-expression path (pinned by test_minhash_arrow_matches_
    expressions). Docs with fewer than ``shingle_k`` tokens produce no
    shingles and are OMITTED, exactly like the explode they replace."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    ws_re = re.compile(r"[ \t\n\x0B\f\r]+")
    n_md5 = (n_hashes + 3) // 4
    prefixes = [f"{m}:".encode("utf-8") for m in range(n_md5)]
    hcols = [f"h{s}" for s in range(n_hashes)]

    def fn(batches):
        for pdf in batches:
            ids, sigs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = ws_re.split(text.strip(" "))
                n = len(toks) - (shingle_k - 1)
                if n < 1:
                    continue
                shs = [
                    " ".join(toks[i:i + shingle_k]).encode("utf-8")
                    for i in range(n)
                ]
                mins = np.empty(4 * n_md5, dtype=np.int64)
                md5 = hashlib.md5
                for m in range(n_md5):
                    p = prefixes[m]
                    # bulk-convert all digests' four 32-bit chunks and
                    # take vectorized column mins
                    arr = np.frombuffer(
                        b"".join(md5(p + sh).digest() for sh in shs),
                        dtype=">u4",
                    ).reshape(n, 4)
                    mins[4 * m:4 * m + 4] = arr.min(axis=0)
                ids.append(did)
                sigs.append(mins[:n_hashes])
            if ids:
                arr = np.vstack(sigs)
                out = {id_col: ids}
                out.update({hcols[s]: arr[:, s] for s in range(n_hashes)})
                yield pd.DataFrame(out)
            else:
                yield pd.DataFrame(
                    {id_col: pd.Series([], dtype=pdf[id_col].dtype),
                     **{c: pd.Series([], dtype="int64") for c in hcols}}
                )

    return fn


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 16,
                       shingle_k: int = 3,
                       use_arrow: bool = True) -> DataFrame:
    """MinHash signature per doc. Each seeded md5 yields FOUR
    independent 32-bit hash functions (its 8-hex chunks), so the
    dominant cost — md5 per shingle — is n_hashes/4, and every chunk is
    identically computable in a SQL oracle (substr of the same md5 hex).

    ``use_arrow=True`` (default): one ``mapInPandas`` over (id, text) —
    hashlib md5 + numpy mins per doc, zero shuffle (the per-doc min
    replaces the explode + groupBy aggregation entirely). Measured
    ~4x the expression path's signature stage at sf1.0 (the JVM paid
    ~10M md5 expression evaluations plus a 2.4M-row partial-agg
    shuffle); bit-identical output pinned by test, including the
    omit-docs-with-fewer-than-k-tokens edge.

    ``use_arrow=False``: the expression path — explode shingles once,
    min of ``n_hashes`` chunk-hashes, one shuffle (groupBy id),
    partial-aggregated map-side; the oracle-portable reference."""
    if use_arrow and not df.isStreaming:
        from pyspark.sql import types as T

        id_type = df.schema[id_col].dataType
        schema = T.StructType(
            [T.StructField(id_col, id_type)]
            + [T.StructField(f"h{s}", T.LongType())
               for s in range(n_hashes)]
        )
        src = _spread(df, id_col).select(F.col(id_col), F.col(text_col))
        return src.mapInPandas(
            _minhash_batches(n_hashes, shingle_k, id_col, text_col),
            schema,
        )
    sh = _tokens_frame(_spread(df, id_col), text_col, id_col).select(
        F.col(id_col),
        F.explode(_shingles_of(F.col("_ws"), shingle_k)).alias("sh"),
    )
    n_md5 = (n_hashes + 3) // 4
    md5s = [
        F.md5(F.concat(F.lit(f"{m}:"), F.col("sh"))) for m in range(n_md5)
    ]
    aggs = []
    for s in range(n_hashes):
        m, c = divmod(s, 4)
        h = F.conv(F.substring(md5s[m], 1 + 8 * c, 8), 16, 10).cast("long")
        aggs.append(F.min(h).alias(f"h{s}"))
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id",
                        n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Band the signature (bands × rows), equi-join per band bucket,
    union + distinct. Equi-join on (band, bucket) only — the classic
    LSH shuffle shape that survives 100 TB. The bucket key is the raw
    array of band hash values (not a re-hash): Spark shuffles/joins on
    array<long> natively, and the same key is computable in an
    independent SQL oracle (no Spark-only xxhash64). Building the frame
    runs a job: a batch ``sig`` is ``localCheckpoint``ed eagerly."""
    rows = n_hashes // bands
    # the signature frame feeds BOTH self-join sides: without a plan
    # barrier the whole upstream (shingle explode + md5 + groupBy) is
    # planned — and executed — twice, once per side (confirmed in the
    # r06 before-plan: two identical 15-operator subtrees; sf0.1: 1.3 s
    # with it, 2.1–2.3 s without). The frame is one row per doc (id +
    # n_hashes longs), so materializing it is near-free at any corpus
    # size.
    if not sig.isStreaming:
        sig = sig.localCheckpoint()
    # ONE explode over a per-row band array, not a union of `bands`
    # projections of the signature subtree: a union re-plans the final
    # aggregate of the (shuffled) signature computation once per band,
    # while the explode evaluates the upstream exactly once
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.array(*[
                F.col(f"h{b * rows + r}") for r in range(rows)
            ]).alias("bucket"),
        )
        for b in range(bands)
    ])
    banded = sig.select(
        F.col(id_col), F.explode(band_arr).alias("_bb")
    ).select(id_col, "_bb.band", "_bb.bucket")
    a = banded.alias("a")
    b_ = banded.alias("b")
    pairs = a.join(
        b_,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    return pairs.distinct()


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """SimHash: per-token 32-bit hash; the fingerprint's bit *b* is the
    majority vote of token-hash bit *b*. Implemented as explode(token) ×
    explode(bit) → signed vote sum → bit reassembly — three narrow ops
    and one partial-agg shuffle; no UDFs.

    Shape note (r06): an A/B against a single-aggregation variant (one
    groupBy with ``bits`` conditional bit-count sums, no bit explode)
    measured the explode form consistently FASTER at sf1.0 (0.6-0.7 s vs
    0.8-1.0 s steady-state, plus a multi-second first-run codegen
    compile for the 33-aggregate method) — the exploded rows are tiny
    and collapse in the codegen'd map-side partial agg, while the wide
    aggregate pays per-row update cost on every token. Kept as-is."""
    toks = _spread(df, id_col).select(
        F.col(id_col),
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    ).withColumn("th", _h32(F.col("tok"), 0))
    votes = toks.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        F.col("th"),
    ).withColumn(
        "vote",
        F.when(F.expr("(th >> bit) & 1") == 1, 1).otherwise(-1),
    )
    bitsum = votes.groupBy(id_col, "bit").agg(F.sum("vote").alias("v"))
    return bitsum.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(1L, CAST(bit AS INT))"))
            .otherwise(0)
        ).alias("simhash")
    )


def hamming_near_pairs(sim: DataFrame, id_col: str = "doc_id",
                       max_hamming: int = 3, bits: int = 32) -> DataFrame:
    """Near-dup pairs by SimHash with FULL recall: split the ``bits``-bit
    fingerprint into ``max_hamming + 1`` disjoint contiguous bands — by
    pigeonhole, any pair within ``max_hamming`` differing bits agrees
    EXACTLY on at least one band — so candidates are the union of
    per-band equi-joins (never all-pairs), then verified by
    bit_count(xor) ≤ max_hamming. Shuffle = O(docs × (max_hamming+1));
    the round-1 single-prefix variant missed pairs whose differing bits
    fell in the prefix and is gone.

    Shape (r06): the band join runs over DISTINCT fingerprint VALUES,
    not docs — near-dup corpora repeat fingerprints heavily (sf1.0:
    50k docs, 34.4k values, and the band-bucket Σf² probe volume drops
    1.75B → 0.6B because hot buckets repeat values), and hamming
    depends only on the values. Qualifying (va < vb) value pairs are
    then expanded back to doc pairs through two equi-joins against the
    per-doc signature frame, and same-value doc pairs (hamming 0) come
    from one self-equi-join. Every pair is emitted exactly once: value
    pairs only from their LOWEST agreeing band (agree_mask/premask
    arithmetic — no union + distinct over the multiplied candidate
    stream), doc pairs once per value pair with (least, greatest)
    orientation, and the intra-value branch is disjoint from the
    cross-value one by construction. Building the frame runs a job: a
    batch ``sim`` is ``localCheckpoint``ed eagerly."""
    n_bands = max_hamming + 1
    bounds = [round(i * bits / n_bands) for i in range(n_bands + 1)]
    # self-join barrier: the one-row-per-doc signature feeds the value
    # distinct and both doc-pair joins (sf0.1: 1.5 s with it, 2.2–2.9 s
    # without)
    if not sim.isStreaming:
        sim = sim.localCheckpoint()
    # AQE coalesces the tiny distinct's shuffle to ONE partition, which
    # would single-task the entire band-probe loop (the probe volume is
    # Σ bucket² over ~0.6B at sf1.0, not the 34k value rows) — spread
    # the value frame to cluster parallelism before it becomes the
    # probe side
    par = sim.sparkSession.sparkContext.defaultParallelism
    vals = sim.select("simhash").distinct().repartition(par)
    # one explode, not a union of n_bands projections — see
    # lsh_candidate_pairs
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.expr(
                f"(simhash >> {bounds[b]}) & "
                f"{(1 << (bounds[b + 1] - bounds[b])) - 1}"
            ).alias("bkey"),
            # bitmask of the bands BELOW this one, used by the
            # emit-once-from-lowest-agreeing-band join condition
            F.lit((1 << b) - 1).alias("premask"),
        )
        for b in range(n_bands)
    ])
    banded = vals.select(
        F.col("simhash"), F.explode(band_arr).alias("_bb")
    ).select("simhash", "_bb.band", "_bb.bkey", "_bb.premask")
    a, b_ = banded.alias("a"), banded.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    agree_mask = None
    for b in range(n_bands):
        mask = (1 << (bounds[b + 1] - bounds[b])) - 1
        term = F.when(
            F.shiftright(xor, bounds[b]).bitwiseAND(F.lit(mask)) == 0,
            F.lit(1 << b),
        ).otherwise(F.lit(0))
        agree_mask = term if agree_mask is None else agree_mask + term
    first_band = agree_mask.bitwiseAND(F.col("a.premask")) == 0
    vpairs = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.simhash") < F.col("b.simhash"))
            & (F.bit_count(xor) <= max_hamming)
            & first_band,
        )
        .select(
            F.col("a.simhash").alias("_va"),
            F.col("b.simhash").alias("_vb"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
    )
    da = sim.select(F.col(id_col).alias("_ida"),
                    F.col("simhash").alias("_va"))
    db = sim.select(F.col(id_col).alias("_idb"),
                    F.col("simhash").alias("_vb"))
    cross = (
        vpairs.join(da, "_va")
        .join(db, "_vb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    # same-fingerprint doc pairs (hamming 0): self-equi-join
    sa, sb = sim.alias("sa"), sim.alias("sb")
    intra = (
        sa.join(
            sb,
            (F.col("sa.simhash") == F.col("sb.simhash"))
            & (F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}")),
        )
        .select(
            F.col(f"sa.{id_col}").alias("id_a"),
            F.col(f"sb.{id_col}").alias("id_b"),
            F.lit(0).cast("integer").alias("hamming"),
        )
    )
    return cross.unionByName(intra)


DEFAULT_MAX_DOC_FREQ = 10_000
"""Complete-mode stop-shingle cap applied when the caller does not choose
one: a shingle shared by f docs contributes f² rows to the self-join, so
an uncapped hot shingle (boilerplate, empty-ish docs) is the one quadratic
blowup in the dedup family. 10k² = 10^8 join rows per hot shingle is the
most a healthy cluster absorbs without a skewed-straggler stage."""

AUTO = "auto"
"""Sentinel for ``max_doc_freq``: DEFAULT_MAX_DOC_FREQ in complete mode,
no cap in candidate mode (where the join is already bounded). NOTE: since
round 3 this is the DEFAULT for complete-mode ``ngram_jaccard_pairs`` and
``winnow_candidate_pairs`` — a behavioral change vs round 2's uncapped
default: pairs whose only shared shingles/fingerprints exceed the cap are
no longer emitted. Pass ``max_doc_freq=None`` explicitly to restore the
uncapped (f²-risk) behavior."""


def ngram_jaccard_pairs(df: DataFrame, candidates: DataFrame | None,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_k: int = 3,
                        min_jaccard: float = 0.8,
                        max_doc_freq: int | None | str = AUTO) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs: |A∩B| via a shingle
    equi-join, |A∪B| from per-doc distinct counts. Never materializes
    the cross product.

    ``candidates=None`` runs COMPLETE mode: candidates are all pairs
    sharing ≥1 distinct shingle — exact full recall for any
    min_jaccard > 0 (J>0 ⟹ shared shingle). The shingle self-join is
    the only blowup risk (a shingle in f docs yields f² join rows), so
    complete mode applies ``DEFAULT_MAX_DOC_FREQ`` stop-shingle pruning
    BY DEFAULT (``max_doc_freq="auto"``): shingles in more docs than
    the cap are dropped before the join — the only recall cost is pairs
    ALL of whose shared shingles are ultra-common. Pass an explicit
    ``max_doc_freq=None`` to opt out (logged loudly — a single hot
    shingle then costs f² join rows); candidate mode never needs the
    cap ("auto" resolves to no pruning) because the join is bounded by
    the candidate list. The jaccard threshold is applied in integer
    arithmetic (n_inter vs n_union) so results are float-exact and
    oracle-checkable."""
    import logging

    log = logging.getLogger(__name__)
    if max_doc_freq == AUTO:
        max_doc_freq = DEFAULT_MAX_DOC_FREQ if candidates is None else None
        if max_doc_freq is not None:
            log.info(
                "ngram_jaccard_pairs complete mode: pruning shingles with "
                "doc-frequency > %d (default cap; pass max_doc_freq to tune "
                "or max_doc_freq=None to disable)", max_doc_freq,
            )
    elif max_doc_freq is None and candidates is None:
        log.warning(
            "ngram_jaccard_pairs complete mode WITHOUT a stop-shingle cap: "
            "a shingle shared by f docs costs f^2 join rows — one hot "
            "boilerplate shingle can dominate the whole job"
        )
    # Per-doc `array_distinct` BEFORE the explode replaces the former
    # post-explode `.distinct()`: shingle duplicates can only occur
    # WITHIN a doc, so the per-doc dedup is exact — and it turns a full
    # HashAggregate→Exchange→HashAggregate shuffle of the whole shingle
    # stream into a narrow map. The one-row-per-doc frame is barriered
    # (localCheckpoint) because it feeds the doc-frequency table, the
    # per-doc sizes, AND both self-join sides — without the barrier each
    # subtree re-runs tokenize+shingle from the scan (sf0.1: 2.3 s with
    # it, 23 s without).
    per_doc = _tokens_frame(_spread(df, id_col), text_col, id_col).select(
        F.col(id_col),
        F.array_distinct(_shingles_of(F.col("_ws"), shingle_k)).alias("_shs"),
    ).localCheckpoint()
    sh = per_doc.select(F.col(id_col), F.explode("_shs").alias("sh"))
    if max_doc_freq is not None:
        # anti-join against the over-cap shingle set (at most
        # rows/max_doc_freq rows, a bound Spark cannot see: hinted) rather
        # than inner-joining the full per-shingle frequency table
        freq = sh.groupBy("sh").agg(F.count("*").alias("_df"))
        hot = F.broadcast(freq.filter(F.col("_df") > max_doc_freq))
        sh = sh.join(hot, "sh", "left_anti").select(id_col, "sh")
        # the capped stream feeds sizes + both join sides: materialize it
        # once so the freq aggregation + cap join run a single time
        # instead of once per consumer (sf0.1 dedup_ngram_jaccard_capped:
        # 1.3 s with it, 1.7 s without)
        sh = sh.localCheckpoint()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.toDF("id_a", "sh")
    b = sh.toDF("id_b", "sh")
    if candidates is None:
        inter = (
            a.join(b, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        inter = (
            candidates.join(a, "id_a")
            .join(b, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b")
    num, den = _ratio_ints(min_jaccard)
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .filter(F.col("n_inter") * den >= F.col("n_union") * num)
        .select("id_a", "id_b", "n_inter", "n_union")
    )


def _ratio_ints(x: float, max_den: int = 1000) -> tuple[int, int]:
    """Smallest exact integer ratio for a threshold like 0.8 → (4, 5),
    so threshold tests run in integer arithmetic (no float compare)."""
    from fractions import Fraction

    fr = Fraction(x).limit_denominator(max_den)
    return fr.numerator, fr.denominator


def contamination_pairs(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 13) -> DataFrame:
    """Train/eval decontamination (the published GPT-3 appendix-C rule:
    flag any training doc sharing a word 13-gram with an evaluation
    doc): distinct word k-grams per side, equi-join on the gram,
    count per (corpus, benchmark) pair. The benchmark side is tiny in
    practice — Catalyst broadcast-joins it under the AQE threshold, so
    the corpus side streams map-side with NO shuffle of corpus grams:
    k-gram duplicates can only occur WITHIN a doc, so the per-side
    distinct is a per-doc ``array_distinct`` applied BEFORE the explode
    (a narrow map), never a post-explode ``.distinct()`` (which was a
    full HashAggregate→Exchange→HashAggregate of ~k× the corpus token
    stream). With a large benchmark it degrades gracefully to the
    standard shingle equi-join. Output: (corpus_id, bench_id, n_shared)
    — the caller drops or masks flagged corpus docs."""
    # spread BOTH sides before the ~k-per-token gram amplification: the
    # gram stream itself still never shuffles (the join stays broadcast,
    # the only post-explode exchange is the final pair aggregation), but
    # a single-row-group corpus file would otherwise pin the entire
    # tokenize+13-gram pipeline to ONE task (measured 4.2 s single-task
    # vs ~0.4 s spread at sf1.0) — the same rationale as _spread at the
    # other explode sites
    c = _tokens_frame(_spread(corpus, id_col), text_col, id_col).select(
        F.col(id_col).alias("corpus_id"),
        F.explode(F.array_distinct(_shingles_of(F.col("_ws"), k))).alias("sh"),
    )
    b = _tokens_frame(_spread(benchmark, id_col), text_col, id_col).select(
        F.col(id_col).alias("bench_id"),
        F.explode(F.array_distinct(_shingles_of(F.col("_ws"), k))).alias("sh"),
    )
    return (
        c.join(b, "sh")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def winnow_candidate_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 32,
                           w: int = 16, min_shared: int = 2,
                           max_doc_freq: int | None | str = AUTO
                           ) -> DataFrame:
    """MOSS-style near-dup candidates from winnowing fingerprints
    (`ops.text.winnow_fingerprints`): two docs pair when they share
    >= ``min_shared`` selected k-gram hashes — i.e. (with overwhelming
    probability) >= min_shared disjoint-or-not shared substrings of
    length >= k, since winnowing guarantees any shared run of
    k + w - 1 chars selects a common fingerprint. Shape: narrow
    fingerprint map (NO shuffle) → explode → equi-join on the hash →
    count aggregate — same O(docs x fps) scale profile as banded LSH,
    and the same f² hot-key hazard, so complete mode applies the
    ``DEFAULT_MAX_DOC_FREQ`` stop-fingerprint cap by default exactly
    like `ngram_jaccard_pairs`. Char-level (robust to tokenization)
    where MinHash/Jaccard here are word-shingle-level; ``k``/``w``
    tune selectivity — 8/4 is the classic plagiarism-detector setting,
    the 32/16 default asks for a ~47-char shared run, the right bar for
    template/boilerplate near-dups in a web corpus."""
    import logging

    from .text import winnow_fingerprints

    log = logging.getLogger(__name__)
    if max_doc_freq == AUTO:
        max_doc_freq = DEFAULT_MAX_DOC_FREQ
    elif max_doc_freq is None:
        log.warning(
            "winnow_candidate_pairs WITHOUT a stop-fingerprint cap: a "
            "fingerprint shared by f docs costs f^2 join rows — one hot "
            "boilerplate run can dominate the whole job"
        )
    # materialize the per-doc fingerprint frame ONCE, at a plan barrier
    # BEFORE the explode. Two independent optimizer hazards force this:
    # (1) reuse — the exploded table feeds the doc-frequency cap AND
    # both self-join sides, and without a barrier each subtree re-runs
    # the whole fingerprint computation (the hazard connected_components
    # checkpoints its edge list for); (2) expression substitution —
    # InferFiltersFromGenerate puts `size(fps) > 0` under the explode
    # and predicate pushdown then inlines the ENTIRE winnow+kgram tree
    # into that filter, in the nested form that re-evaluates the hash
    # array once per window: O(positions²) md5 per row (observed as a
    # single task pinned in Substring/ArrayTransform for minutes at
    # sf0.1; 2.0 s with the barrier, 2.5–2.8 s without). The
    # checkpointed frame is one row per doc — tiny at any SF — and
    # downstream sees only materialized arrays.
    fp = winnow_fingerprints(
        _spread(df, id_col), text_col, id_col, k, w
    ).localCheckpoint()
    ex = fp.select(F.col(id_col), F.explode("fps").alias("fp"))
    if max_doc_freq is not None:
        # the cap DROPS fingerprints whose doc-frequency exceeds it, so
        # anti-join against the hot set (at most rows/max_doc_freq rows,
        # a bound Spark cannot see: hinted) instead of inner-joining the
        # full frequency table (the inner form planned a sort-merge join
        # of two million-row sides at sf1.0)
        freq = ex.groupBy("fp").agg(F.count("*").alias("_df"))
        hot = F.broadcast(freq.filter(F.col("_df") > max_doc_freq))
        ex = ex.join(hot, "fp", "left_anti").select(id_col, "fp")
    a = ex.select(F.col(id_col).alias("id_a"), "fp")
    b = ex.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup candidate pairs → per-doc
    canonical (minimum) member id: the cluster-canonicalization step a
    dedup pipeline runs AFTER pair generation (keep one doc per
    component, drop the rest).

    Iterative min-label propagation WITH pointer jumping: each round a
    node takes (a) the min of its neighbors' labels (one hop along the
    edge list) and (b) its label's own label (``label ← label[label]``,
    the path-halving step of classic pointer-jumping / large-star
    union-find). The hop alone needs O(component diameter) rounds; the
    jump compresses label chains geometrically, so the combination
    converges in O(log diameter) rounds — a 10^6-node path converges in
    ~20 rounds, not 10^6. Both steps preserve the invariant that a
    node's label is always the id of a node in its own component, so
    the fixpoint is the exact component minimum. Each round is two
    equi-joins + one partial-agg shuffle, all O(edges + nodes), never
    all-pairs; the driver checks a single convergence count per round —
    no row data is collected. ``localCheckpoint`` truncates the growing
    lineage so round N's plan does not replay rounds 0..N-1.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds — partially-propagated labels are silently
    WRONG canonical ids (multiple keepers per true cluster), so
    non-convergence must be loud, mirroring the reference repair
    loops' refuse-to-proceed count guards
    (clickhouse_sync_inputs_outputs_…_202309.py:273-301)."""
    sym = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).unionByName(
        pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
    ).distinct()
    # materialize the edge list ONCE: it is referenced twice per round,
    # and without this the whole upstream pair-generation plan (e.g.
    # MinHash + banded LSH) would re-execute every iteration
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for it in range(max_iter):
        neigh = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nl"))
        )
        stepped = (
            labels.join(neigh, labels.node == neigh.u, "left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                ).alias("label"),
            )
        )
        ptr = stepped.select(
            F.col("node").alias("_pn"), F.col("label").alias("_pl")
        )
        new = (
            stepped.join(ptr, stepped.label == ptr._pn, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_pl"), F.col("label"))
                ).alias("label"),
                "_old",
            )
            .withColumn("_chg", F.col("label") < F.col("_old"))
        )
        # ride the convergence count on the SAME job that materializes
        # the checkpoint (Observation metrics come from the checkpoint
        # action) instead of a separate per-round count scan — one fewer
        # driver-synced job per iteration
        from pyspark.sql import Observation

        obs = Observation()
        new = new.observe(
            obs, F.sum(F.col("_chg").cast("long")).alias("changed")
        ).localCheckpoint(eager=True)
        changed = obs.get["changed"] or 0
        # round N is materialized: round N-1's checkpoint blocks are no
        # longer referenced by any live plan — free them now instead of
        # letting ~max_iter rounds of non-replicated blocks pile up in
        # executor storage until JVM GC (ADVICE r04)
        prev = labels
        labels = new.drop("_chg", "_old")
        if it > 0:
            free_local_checkpoint(prev)
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels would be partially propagated (silently wrong canonical "
            "ids). Raise max_iter — convergence needs ~log2(component "
            "diameter) rounds."
        )
    # the result plan references only the FINAL round's checkpoint; the
    # edge list served its last join, so release its blocks too
    free_local_checkpoint(sym)
    return labels.select("node", F.col("label").alias("component"))


def dedup_keep_policy(df: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """Keep-one-per-component dedup decision: docs in no pair keep
    themselves; within a component only the minimum id survives.
    Returns (id, component, keep)."""
    cc = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("node"))
        .join(cc, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", F.col("node")).alias("component"),
            (F.coalesce("component", F.col("node")) == F.col("node"))
            .alias("keep"),
        )
    )


def dedup_keep_best(df: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id",
                    score_col: str = "n_chars") -> DataFrame:
    """Quality-aware keep policy: within each near-dup component keep
    the HIGHEST-``score_col`` doc (ties → lowest id); docs in no pair
    keep themselves. What production corpus dedup actually does —
    `dedup_keep_policy`'s min-id rule is arbitrary, this keeps the
    longest/cleanest representative. Returns (id, component, keep).

    Shape: components (iterative equi-joins) → one score join → one
    per-component max_by (map-side partial argmax, deterministic
    tie-break via the (score, -id) struct key — requires a numeric id).
    """
    cc = connected_components(pairs, id_a="id_a", id_b="id_b")
    labeled = (
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("_s"))
        .join(cc, "node", "left")
        .withColumn("component", F.coalesce("component", F.col("node")))
    )
    winners = labeled.groupBy("component").agg(
        F.max_by(
            "node", F.struct(F.col("_s").alias("_a"),
                             (-F.col("node")).alias("_b"))
        ).alias("_keep_id")
    )
    return labeled.join(winners, "component").select(
        F.col("node").alias(id_col),
        "component",
        (F.col("node") == F.col("_keep_id")).alias("keep"),
    )
