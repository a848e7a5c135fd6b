"""Training-data ops: dedup families, similarity search, text analysis,
multimodal plumbing — invariant-based tests over the driver testdata and
deterministic synthetic inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bitcoin_etl_spark.ops import (
    cosine_topk,
    embedding_near_dup_pairs,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_stats,
    simhash,
)
from bitcoin_etl_spark.ops.dedup import hamming_near_pairs
from bitcoin_etl_spark.ops.multimodal import (
    FEATURE_DIM,
    extract_features,
    synthesize_media,
)

SF = "/root/testdata/sf0.001"


def _per_doc_join_ops(spark, build):
    """Build and collect ``build()`` under a 1-byte
    ``spark.sql.autoBroadcastJoinThreshold`` (restored after) and return
    its rows plus its executed plan's join operators: with Spark's own
    size estimates in charge, no frame that grows with the data
    broadcasts under such a budget."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        df = build()
        rows = sorted(tuple(r) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    return rows, plan


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    d.cache()
    yield d
    d.unpersist()


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Documents plus exact copies of 10 of them under new ids —
    ground-truth duplicates for the dedup family."""
    dups = (
        docs.limit(10)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    d = docs.unionByName(dups)
    d.cache()
    yield d
    d.unpersist()


def test_exact_dedup_finds_planted_dups(docs_with_dups):
    groups = exact_dedup(docs_with_dups).filter(F.col("n_dups") > 1)
    # ≥ the 10 planted pairs (testdata may contain natural dups)
    assert groups.count() >= 10
    # keep-min: every keep_id is a real doc_id of its group
    assert groups.filter(F.col("keep_id") >= 1_000_000).count() == 0


def test_minhash_lsh_recovers_exact_dups(docs_with_dups):
    sig = minhash_signatures(docs_with_dups, n_hashes=16)
    pairs = lsh_candidate_pairs(sig, n_hashes=16, bands=4)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(10):
        orig = docs_with_dups.orderBy("doc_id").limit(10).collect()[i]["doc_id"]
        assert (orig, orig + 1_000_000) in found
    # verification: planted pairs have jaccard 1.0
    verified = ngram_jaccard_pairs(
        docs_with_dups, pairs.limit(200), min_jaccard=0.99
    )
    assert verified.count() >= 10


def test_simhash_identical_docs_equal_and_near(docs_with_dups):
    sh = simhash(docs_with_dups)
    a = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    for i in list(a):
        if i >= 1_000_000:
            assert a[i] == a[i - 1_000_000]
    near = hamming_near_pairs(sh, max_hamming=0)
    found = {(r["id_a"], r["id_b"]) for r in near.collect()}
    planted = {(i, i + 1_000_000) for i in a if i >= 1_000_000 for i in [i - 1_000_000]}
    assert planted <= found


def test_hamming_pairs_emit_once_matches_brute_force(spark):
    """The r06 emit-from-lowest-agreeing-band join must yield EXACTLY
    the brute-force multiset: every qualifying pair once (a hamming-0
    pair agrees on all 5 bands and would appear 5x without the premask
    condition), no duplicates, none missed."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(300)
    sig = simhash(docs, bits=32)
    banded = hamming_near_pairs(sig, max_hamming=4, bits=32)
    brute = (
        sig.alias("a")
        .join(sig.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 4)
    )
    assert banded.exceptAll(brute).count() == 0
    assert brute.exceptAll(banded).count() == 0
    # no-duplicate invariant (the reason .distinct() could be dropped)
    n = banded.count()
    assert banded.select("id_a", "id_b").distinct().count() == n
    # past the broadcast budget the per-doc joins shuffle, same rows
    rows, plan = _per_doc_join_ops(
        spark, lambda: hamming_near_pairs(sig, max_hamming=4, bits=32)
    )
    assert rows == sorted(tuple(r) for r in brute.collect())
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_cosine_topk_self_similarity(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    top = cosine_topk(emb, [float(x) for x in q], k=5)
    rows = top.orderBy("rank").collect()
    # the query vector itself must rank first with cos ≈ 1
    assert rows[0]["vec_id"] == 7
    assert abs(rows[0]["cos"] - 1.0) < 1e-9


def test_embedding_near_dup_pairs_planted(spark):
    import uuid

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    clones = emb.limit(5).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    # cached, so the bucket checkpoint reads it in one job (no shuffle)
    both = emb.unionByName(clones).cache()
    both.count()
    sc = spark.sparkContext
    settle = sc._jsc.sc().listenerBus().waitUntilEmpty
    group = f"near-dup-{uuid.uuid4().hex[:8]}"
    settle()
    sc.setJobGroup(group, "build embedding_near_dup_pairs")
    try:
        pairs = embedding_near_dup_pairs(both, dim=64, min_cosine=0.9999)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    settle()
    # building runs the bucket checkpoint only: no count job
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    got = pairs.collect()
    found = {(r["id_a"], r["id_b"]) for r in got}
    orig_ids = [r["vec_id"] for r in emb.limit(5).collect()]
    for i in orig_ids:
        assert (i, i + 1_000_000) in found
    # past the broadcast budget the vector attaches shuffle, same rows
    rows, plan = _per_doc_join_ops(
        spark,
        lambda: embedding_near_dup_pairs(both, dim=64, min_cosine=0.9999),
    )
    assert rows == sorted(tuple(r) for r in got)
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    both.unpersist()


def test_quality_stats_invariants(docs):
    q = quality_stats(docs)
    bad = q.filter(
        (F.col("n_stop") > F.col("n_tok"))
        | (F.col("sum_tok_len") > F.col("n_chars"))
        | (F.col("n_chars") != F.col("n_chars_actual"))
        if "n_chars_actual" in q.columns
        else (F.col("n_stop") > F.col("n_tok"))
    )
    assert q.filter(F.col("n_stop") > F.col("n_tok")).count() == 0
    assert q.filter(F.col("sum_tok_len") > F.col("n_chars")).count() == 0


def test_multimodal_feature_extraction(spark):
    media = synthesize_media(spark, n=60)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 60
    for r in rows:
        assert len(r["features"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
        assert len(r["content_sha"]) == 64
    # determinism: same content → same features
    again = {r["media_id"]: r["features"] for r in extract_features(media).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["features"]


def test_connected_components_transitive(spark):
    """A chain a-b, b-c, plus isolated pair d-e: components must close
    transitively (a,b,c share one canonical; d,e another)."""
    from bitcoin_etl_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long"
    )
    cc = {r["node"]: r["component"]
          for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    """A 120-node path has diameter 119 — plain one-hop min-label
    propagation needs 119 rounds, so this test proves the pointer-jumping
    step gives O(log diameter) convergence within the default max_iter."""
    from bitcoin_etl_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    cc = connected_components(pairs)
    assert {r["component"] for r in cc.collect()} == {0}
    assert cc.count() == 121


def test_connected_components_nonconvergence_is_loud(spark):
    """If the fixpoint is not reached within max_iter the labels are
    partially propagated — silently wrong canonical ids — so the
    operator must raise, not return."""
    from bitcoin_etl_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_ngram_jaccard_stop_shingle_cap(spark):
    """Complete mode prunes shingles whose doc-frequency exceeds the cap
    before the self-join: two docs whose ONLY shared shingles are
    ultra-common no longer pair; docs sharing a rare shingle still do."""
    common = "the quick brown fox"
    rows = (
        [(i, common) for i in range(10)]
        + [(100, "rare unique shingle here"), (101, "rare unique shingle too")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = ngram_jaccard_pairs(
        docs, None, min_jaccard=0.1, max_doc_freq=5
    ).collect()
    ids = {(r["id_a"], r["id_b"]) for r in capped}
    assert (100, 101) in ids
    assert all(a >= 100 for a, _ in ids), ids
    uncapped = ngram_jaccard_pairs(
        docs, None, min_jaccard=0.1, max_doc_freq=None
    ).collect()
    assert len(uncapped) == 45 + 1  # C(10,2) common pairs + the rare pair


def test_funnel_tie_semantics(spark, tmp_path):
    """Pins events_funnel's strict-inequality tie rule: a step at the
    SAME timestamp as the previous step does not advance the funnel."""
    import datetime as dt

    from bitcoin_etl_spark.plans.queries import QUERIES

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    t1 = t0 + dt.timedelta(seconds=1)
    t2 = t0 + dt.timedelta(seconds=2)
    rows = [
        # user 1: strictly ordered -> full funnel
        (1, "signup", t0), (1, "view", t1), (1, "purchase", t2),
        # user 2: view ties signup -> stops at signup
        (2, "signup", t0), (2, "view", t0), (2, "purchase", t2),
        # user 3: purchase ties view -> stops at signup+view
        (3, "signup", t0), (3, "view", t1), (3, "purchase", t1),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = QUERIES["events_funnel"](spark, str(tmp_path)).first()
    assert (got["n_users"], got["n_signup"], got["n_signup_view"],
            got["n_full_funnel"]) == (3, 3, 2, 1)


def test_greedy_pack_invariants(spark, docs):
    """True first-fit packing: no pack exceeds the budget unless it is a
    single oversized doc; every doc is assigned; pack ids are dense per
    group in visit order; deterministic across runs."""
    from bitcoin_etl_spark.ops.packing import greedy_pack

    budget = 64
    toks = docs.select(
        "doc_id", "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    packed = greedy_pack(toks, "source", "doc_id", "n_tok", budget)
    pdf = packed.toPandas()
    assert len(pdf) == toks.count()
    sums = pdf.groupby(["source", "pack_id"]).agg(
        total=("n_tok", "sum"), n=("n_tok", "size")
    )
    over = sums[sums["total"] > budget]
    assert (over["n"] == 1).all()  # only single oversized docs overflow
    for _src, g in pdf.groupby("source"):
        ids = g.sort_values("doc_id")["pack_id"].tolist()
        assert ids[0] == 0
        assert all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))
    again = greedy_pack(toks, "source", "doc_id", "n_tok", budget).toPandas()
    a = pdf.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_repetition_stats_known_doc(spark):
    """Hand-computed n-gram repetition counts: 'a b a b a b' has 2-grams
    [ab, ba, ab, ba, ab] (n=5, uniq=2, top=3) and 3-grams
    [aba, bab, aba, bab] (n=4, uniq=2, top=2); a single-token doc has
    zero n-grams, not an error."""
    from bitcoin_etl_spark.ops.text import repetition_stats

    df = spark.createDataFrame(
        [("r", "a b a b a b"), ("u", "all words fully unique"), ("s", "one")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert (out["r"]["n_gram2"], out["r"]["uniq_gram2"],
            out["r"]["top_gram2"]) == (5, 2, 3)
    assert (out["r"]["n_gram3"], out["r"]["uniq_gram3"],
            out["r"]["top_gram3"]) == (4, 2, 2)
    assert (out["u"]["n_gram2"], out["u"]["uniq_gram2"],
            out["u"]["top_gram2"]) == (3, 3, 1)
    assert (out["s"]["n_gram2"], out["s"]["n_gram3"]) == (0, 0)


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing theorem (Schleimer et al.): documents sharing a
    substring of length >= k + w - 1 share at least one fingerprint;
    and the empty/short-doc edge yields an empty fingerprint set, not
    an error."""
    from bitcoin_etl_spark.ops.text import winnow_fingerprints

    k, w = 8, 4
    common = "zqxjvkwp" * 3  # 24 chars >> k + w - 1 = 11, no English 8-grams
    rows = [
        ("a", f"left context {common} right tail one"),
        ("b", f"completely different prefix {common} and suffix"),
        ("c", "unrelated document with no overlap at all here"),
        ("d", "tiny"),  # shorter than k -> zero grams, empty fps
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           winnow_fingerprints(df, k=k, w=w).collect()}
    assert set(out["a"]["fps"]) & set(out["b"]["fps"]), \
        "shared >=k+w-1 substring must share a fingerprint"
    assert not set(out["a"]["fps"]) & set(out["d"]["fps"])
    assert out["d"]["n_grams"] == 0 and out["d"]["fps"] == []
    # selection keeps ~2/(w+1) of positions: a strict subset of grams
    assert 0 < len(out["c"]["fps"]) < out["c"]["n_grams"]


def test_minhash_arrow_matches_expressions(spark, docs):
    """The Arrow (hashlib+numpy mapInPandas) minhash path must be
    bit-identical to the expression path — including Java-\\s tokenize
    semantics (tabs/newlines/odd spacing), the omit-short-docs edge
    (explode of an empty shingle array drops the doc), and null text."""
    from bitcoin_etl_spark.ops.dedup import minhash_signatures

    edge = spark.createDataFrame(
        [(9001, "one two"), (9002, None), (9003, "a\tb\nc  d\x0be"),
         (9004, " leading and trailing  "), (9005, "")],
        ["doc_id", "text"],
    )
    src = docs.select("doc_id", "text").limit(80).unionByName(edge)
    for n_hashes, k in ((16, 3), (8, 2)):
        fast = minhash_signatures(
            src, n_hashes=n_hashes, shingle_k=k, use_arrow=True)
        ref = minhash_signatures(
            src, n_hashes=n_hashes, shingle_k=k, use_arrow=False)
        assert fast.schema == ref.schema
        assert fast.exceptAll(ref).count() == 0
        assert ref.exceptAll(fast).count() == 0


def test_winnow_arrow_matches_expressions(spark, docs):
    """The Arrow (hashlib+numpy mapInPandas) fingerprint path must be
    bit-identical to the Column-expression path, including the short-doc
    (n<1), no-window (m<1), null-text and non-ASCII edges."""
    from bitcoin_etl_spark.ops.text import winnow_fingerprints

    edge = spark.createDataFrame(
        [(9001, "tiny"), (9002, None), (9003, "ÜBER über ünïcode " * 4),
         (9004, "exactly thirty-two characters!!!")],
        ["doc_id", "text"],
    )
    src = docs.select("doc_id", "text").limit(80).unionByName(edge)
    for k, w in ((8, 4), (32, 16)):
        fast = winnow_fingerprints(src, k=k, w=w, use_arrow=True)
        ref = winnow_fingerprints(src, k=k, w=w, use_arrow=False)
        assert fast.schema == ref.schema
        assert fast.exceptAll(ref).count() == 0
        assert ref.exceptAll(fast).count() == 0


def test_winnow_pairs_plan_is_barriered(spark, docs):
    """Regression pin for the O(positions²) explode plan: the pair
    join must consume the CHECKPOINTED fingerprint frame, so its
    optimized plan contains no inline md5/winnow expression tree (the
    un-barriered plan carried 7 copies via InferFiltersFromGenerate +
    predicate pushdown and ran minutes on one task at sf0.1)."""
    from bitcoin_etl_spark.ops.dedup import winnow_candidate_pairs

    pairs = winnow_candidate_pairs(docs.limit(50), k=32, w=16)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "md5" not in plan
    assert "transform" not in plan


def test_cosine_fast_matches_exact(spark):
    """The Arrow/numpy production scorer must agree with the exact
    engine-portable cosine: identical top-k ids+ranks, scores within
    1e-9 (numpy pairwise summation vs sequential fold)."""
    from bitcoin_etl_spark.ops.similarity import cosine_topk, cosine_topk_fast

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float((i * 37) % 97) / 97.0 for i in range(64)]
    exact = {r["vec_id"]: (r["rank"], r["cos"])
             for r in cosine_topk(e, q, k=20).collect()}
    fast = {r["vec_id"]: (r["rank"], r["cos"])
            for r in cosine_topk_fast(e, q, k=20).collect()}
    assert set(exact) == set(fast)
    for vid, (rk, cos) in exact.items():
        frk, fcos = fast[vid]
        assert frk == rk
        assert abs(fcos - cos) < 1e-9


def _boilerplate_corpus(spark, n_hot: int):
    """Adversarial skew fixture (verdict r03 #5): ``n_hot`` docs that all
    share one long boilerplate paragraph (doc-frequency of its shingles/
    runs ≫ any sane cap — the web-corpus template pathology), plus two
    planted near-dup pairs whose shared content is RARE. Modeled on the
    reference's pathological-fixture style (bitcoin-etl
    tests/resources/.../block_with_duplicate_txid)."""
    boiler = (
        "subscribe to our newsletter for updates terms of service apply "
        "all rights reserved contact us at the office for details today"
    )
    rare_a = "zephyr quokka marmalade vortex uniquely shared run alpha beta"
    rare_b = "obsidian falcon tessellate quantum uniquely shared run gamma"
    rows = [(i, f"{boiler} tail{i}") for i in range(n_hot)]
    rows += [
        (1000, f"{rare_a} one"), (1001, f"{rare_a} two"),
        (1002, f"{rare_b} three"), (1003, f"{rare_b} four"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_skew_cap_matches_python_oracle(spark):
    """With a boilerplate shingle at doc-frequency 300 ≫ cap 10, capped
    complete-mode Jaccard must (a) complete with the exact pair set a
    Python oracle computes under the SAME cap, and (b) exclude every
    boilerplate-only pair — the uncapped join would materialize
    ~300² ≈ 9×10⁴ rows for the hot shingles alone (the f² blowup the
    cap exists to prevent)."""
    from collections import Counter
    from itertools import combinations

    docs = _boilerplate_corpus(spark, n_hot=300)
    cap = 10
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, None, min_jaccard=0.5, max_doc_freq=cap
        ).collect()
    }
    # independent python oracle applying the same cap
    def shingles(text):
        ws = text.split(" ")
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}
    sets = {r["doc_id"]: shingles(r["text"]) for r in docs.collect()}
    df_count = Counter(s for shs in sets.values() for s in shs)
    kept = {d: {s for s in shs if df_count[s] <= cap}
            for d, shs in sets.items()}
    expect = set()
    for a, b in combinations(sorted(kept), 2):
        inter = len(kept[a] & kept[b])
        union = len(kept[a] | kept[b])
        if union and inter * 2 >= union:  # min_jaccard=0.5
            expect.add((a, b))
    assert got == expect
    assert (1000, 1001) in got and (1002, 1003) in got
    # blowup evidence: the hot shingles really do exceed the cap by 30x
    assert max(df_count.values()) == 300
    # and no boilerplate-only pair survived
    assert all(a >= 1000 for a, _ in got), got


def test_winnow_skew_cap_prunes_boilerplate(spark):
    """Same adversarial fixture through the winnowing path: every hot
    doc shares the boilerplate run (fingerprint doc-frequency 60 ≫ cap
    10), so capped MOSS pairs must be exactly the pairs a Python oracle
    finds under the same cap — the planted rare pairs plus nothing
    hot-only."""
    from collections import Counter
    from itertools import combinations

    from bitcoin_etl_spark.ops.dedup import winnow_candidate_pairs
    from bitcoin_etl_spark.ops.text import winnow_fingerprints

    docs = _boilerplate_corpus(spark, n_hot=60)
    cap = 10
    got = {
        (r["id_a"], r["id_b"])
        for r in winnow_candidate_pairs(
            docs, k=16, w=8, min_shared=2, max_doc_freq=cap
        ).collect()
    }
    # python oracle over the engine's own per-doc fingerprints, applying
    # the cap + min_shared pair rule independently of any join
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in winnow_fingerprints(docs, k=16, w=8).collect()
    }
    df_count = Counter(f for s in fps.values() for f in s)
    kept = {d: {f for f in s if df_count[f] <= cap} for d, s in fps.items()}
    expect = {
        (a, b)
        for a, b in combinations(sorted(kept), 2)
        if len(kept[a] & kept[b]) >= 2
    }
    assert got == expect
    assert (1000, 1001) in got and (1002, 1003) in got
    assert all(a >= 1000 for a, _ in got), got
    # the boilerplate really is hot: its fingerprints hit all 60 docs
    assert max(df_count.values()) == 60


def test_stratified_sample_subpercent_rate(spark, docs):
    """Round-3 quantized rates to whole percent, so 0.005 silently became
    0% (stratum dropped). Rates are now ppm-quantized: 0.005 must keep a
    nonzero, exactly-reproducible subset."""
    from bitcoin_etl_spark.ops.sampling import SAMPLE_BUCKETS, stratified_sample

    import hashlib

    big = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.lit("src0").alias("source")
    )
    out = stratified_sample(
        big, "source", {"src0": 0.005}, "doc_id", default_rate=0.0
    ).select("doc_id").collect()
    got = {r["doc_id"] for r in out}

    def bucket(doc_id):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:8], 16) % SAMPLE_BUCKETS

    expect = {i for i in range(20_000) if bucket(i) < 5000}
    assert got == expect
    # ~100 of 20k expected; zero would mean the rate was quantized away
    assert 50 < len(got) < 200, len(got)


def test_spread_leaves_derived_frames_alone(spark, docs):
    """_spread must decide from the LOGICAL plan only: a derived frame
    (its partitioning set by spark.sql.shuffle.partitions) is returned
    untouched — the round-3 .rdd probe executed the whole upstream plan
    as a separate job just to count partitions — while a single-file
    scan still gets spread to cluster parallelism."""
    from bitcoin_etl_spark.ops.dedup import _spread

    derived = docs.groupBy("source").count()
    assert _spread(derived, "source") is derived
    joined = docs.alias("a").join(docs.alias("b"), "doc_id")
    assert _spread(joined, "doc_id") is joined
    scan = spark.read.parquet(f"{SF}/documents.parquet")
    spread = _spread(scan, "doc_id")
    assert "Repartition" in spread._jdf.queryExecution().analyzed().toString()


def test_contamination_corpus_side_streams_without_shuffle(spark, docs):
    """Pins the zero-shuffle decontamination claim for the GRAM stream:
    per-doc array_distinct replaced the post-explode .distinct(), so no
    hash exchange ever carries the exploded grams — the only exchanges
    are the final pair aggregation plus the narrow pre-explode _spread
    of the un-exploded doc rows (r06; round 3 had two extra full
    exchanges of the gram stream, one per side's distinct)."""
    from bitcoin_etl_spark.ops.dedup import contamination_pairs

    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    pairs = contamination_pairs(corpus, bench, k=13)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # no exchange keyed on the gram column: grams never shuffle
    assert "Exchange hashpartitioning(sh" not in plan, plan
    # at most the final pair aggregation exchanges on the id pair (the
    # pre-explode _spread hash-partitions by corpus_id, which already
    # satisfies the aggregation's clustering, so Spark may elide even
    # that); pre-explode spreads are REPARTITION_BY_NUM over doc rows
    agg_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "REPARTITION" not in ln
    ]
    assert len(agg_ex) <= 1, plan
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower(), plan


def test_asof_join_inclusive_tie_and_missing_state(spark):
    """Pins as-of semantics: state AT the probe timestamp is visible
    (inclusive), later state is not, probes before any state get NULL."""
    import datetime as dt

    from bitcoin_etl_spark.ops.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    state = spark.createDataFrame(
        [(1, t(10), 100), (1, t(20), 200), (2, t(50), 500)],
        "k long, ts timestamp, sval long",
    )
    probe = spark.createDataFrame(
        [(1, t(5), "a"), (1, t(10), "b"), (1, t(15), "c"),
         (1, t(25), "d"), (2, t(40), "e")],
        "k long, ts timestamp, tag string",
    )
    got = {
        r["tag"]: r["sval_asof"]
        for r in asof_join(probe, state, "k", "ts", ["sval"]).collect()
    }
    assert got == {"a": None, "b": 100, "c": 100, "d": 200, "e": None}


def test_sessionize_boundary_is_strict(spark):
    """A gap of EXACTLY gap_seconds does not break the session; one
    microsecond more does."""
    import datetime as dt

    from bitcoin_etl_spark.ops.temporal import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1),
        (1, base + dt.timedelta(seconds=1800), 2),          # == gap: same
        (1, base + dt.timedelta(seconds=3600, microseconds=1), 3),  # > gap
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, eid long")
    got = {
        r["eid"]: r["session_idx"]
        for r in sessionize(df, "k", "ts", 1800, "eid").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2}


def test_range_join_buckets_matches_naive(spark):
    """The bucketed equi-join returns EXACTLY the naive theta join's
    matches (no dups from multi-bucket intervals, no misses at bucket
    edges), across interval lengths that span 1-4 buckets."""
    import datetime as dt

    from bitcoin_etl_spark.ops.temporal import range_join_buckets

    base = dt.datetime(2024, 1, 1)
    facts = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=7 * i)) for i in range(200)],
        "fact_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (1, base, base + dt.timedelta(minutes=30)),
            (2, base + dt.timedelta(minutes=59), base + dt.timedelta(minutes=61)),
            (3, base + dt.timedelta(hours=2), base + dt.timedelta(hours=6)),
        ],
        "interval_id long, start_ts timestamp, end_ts timestamp",
    )
    got = {
        (r["interval_id"], r["fact_id"])
        for r in range_join_buckets(
            facts, iv, "ts", "start_ts", "end_ts", 3600
        ).collect()
    }
    naive = {
        (r["interval_id"], r["fact_id"])
        for r in facts.join(
            iv,
            (facts.ts >= iv.start_ts) & (facts.ts <= iv.end_ts),
        ).collect()
    }
    assert got == naive and len(got) > 10


def test_kmv_distinct_exact_under_k_and_estimates(spark):
    """Below k the sketch is the exact distinct count; above k the
    estimate lands within 3x of truth for uniform keys (k=64 on 5000
    distinct — KMV's relative error is ~1/sqrt(k-2) so 3x is a loose,
    deterministic bound), and the synopsis is reproducible run-to-run."""
    from bitcoin_etl_spark.ops.sketch import kmv_distinct

    df = spark.range(10_000).select(
        F.when(F.col("id") < 40, "small").otherwise("big").alias("grp"),
        # 'small' group: 40 rows / 7 distinct keys; 'big': ~5000 distinct
        F.when(F.col("id") < 40, F.col("id") % 7)
        .otherwise(F.col("id") % 5000).alias("key"),
    )
    out = {r["grp"]: r for r in kmv_distinct(df, "grp", "key", k=64).collect()}
    assert out["small"]["n_kept"] == 7
    assert out["small"]["est_distinct"] == 7
    assert out["small"]["kth_min"] is None
    est = out["big"]["est_distinct"]
    assert out["big"]["n_kept"] == 64
    assert 5000 / 3 < est < 5000 * 3, est
    again = {r["grp"]: r["est_distinct"]
             for r in kmv_distinct(df, "grp", "key", k=64).collect()}
    assert again == {g: r["est_distinct"] for g, r in out.items()}


def test_asof_join_matches_pandas_merge_asof(spark):
    """Seeded randomized pin against an INDEPENDENT implementation:
    pandas.merge_asof (backward direction, inclusive) over 400 probe /
    150 state rows across 8 keys must agree row-for-row."""
    import numpy as np
    import pandas as pd

    from bitcoin_etl_spark.ops.temporal import asof_join

    rng = np.random.RandomState(7)
    base = pd.Timestamp("2024-01-01")
    state = pd.DataFrame({
        "k": rng.randint(0, 8, 150),
        "ts": base + pd.to_timedelta(rng.randint(0, 100_000, 150), unit="s"),
        "sval": np.arange(150, dtype="int64"),
    }).drop_duplicates(["k", "ts"])
    probe = pd.DataFrame({
        "k": rng.randint(0, 8, 400),
        "ts": base + pd.to_timedelta(rng.randint(0, 100_000, 400), unit="s"),
        "pid": np.arange(400, dtype="int64"),
    })
    expect = pd.merge_asof(
        probe.sort_values("ts"), state.sort_values("ts"),
        on="ts", by="k", direction="backward",
    ).set_index("pid")["sval"]
    got = {
        r["pid"]: r["sval_asof"]
        for r in asof_join(
            spark.createDataFrame(probe), spark.createDataFrame(state),
            "k", "ts", ["sval"],
        ).collect()
    }
    assert len(got) == 400
    for pid, sval in expect.items():
        g = got[pid]
        if pd.isna(sval):
            assert g is None, pid
        else:
            assert g == int(sval), pid


def test_asof_join_hot_key_split_matches_plain(spark):
    """The split_seconds hot-key pre-split (window on (key, time-bucket)
    + carried-forward closing state) must be ROW-IDENTICAL to the plain
    single-window path on a Zipf-skewed fixture where one key holds half
    of all rows — including probes in buckets with no local state (carry
    from an earlier bucket), probes before any state (NULL), and probes
    exactly at a bucket boundary."""
    import numpy as np
    import pandas as pd

    from bitcoin_etl_spark.ops.temporal import asof_join

    rng = np.random.RandomState(11)
    base = pd.Timestamp("2024-01-01")
    # Zipf-ish: key 0 takes ~half the rows; keys 1-9 share the rest
    keys = np.where(rng.rand(600) < 0.5, 0, rng.randint(1, 10, 600))
    # aux is non-null only on ~20% of EARLY state rows: after a bucket
    # cut the latest closing row usually has aux NULL while an earlier
    # row holds a value — the per-column last(ignorenulls) semantics the
    # whole-row carry snapshot lost (ADVICE r05)
    aux_ok = (rng.rand(200) < 0.2) & (np.arange(200) < 120)
    state = pd.DataFrame({
        "k": keys[:200],
        "ts": base + pd.to_timedelta(rng.randint(0, 50_000, 200), unit="s"),
        "sval": np.arange(200, dtype="int64"),
        "aux": np.where(aux_ok, np.arange(200).astype("float64"), np.nan),
    }).drop_duplicates(["k", "ts"])
    probe = pd.DataFrame({
        "k": keys[200:],
        # wider probe range than state: late buckets carry state forward
        "ts": base + pd.to_timedelta(
            np.concatenate([
                rng.randint(0, 100_000, 396),
                # exact bucket-boundary probes (bucket = 3600 s)
                np.array([3600, 7200, 36_000, 0]),
            ]), unit="s"),
        "pid": np.arange(400, dtype="int64"),
    })
    sdf, pdf = spark.createDataFrame(state), spark.createDataFrame(probe)
    plain = {
        r["pid"]: (r["sval_asof"], r["aux_asof"])
        for r in asof_join(pdf, sdf, "k", "ts", ["sval", "aux"]).collect()
    }
    split = {
        r["pid"]: (r["sval_asof"], r["aux_asof"])
        for r in asof_join(
            pdf, sdf, "k", "ts", ["sval", "aux"], split_seconds=3600
        ).collect()
    }
    assert len(split) == 400
    assert split == plain
    # the NULL-bearing column must actually exercise the carry: some
    # probe sees a non-null aux (else the fixture proves nothing)
    assert any(v[1] is not None for v in split.values())
    split = {p: v[0] for p, v in split.items()}
    # and the plain path itself is pinned against pandas elsewhere; spot
    # re-check the independent oracle here on the split output
    expect = pd.merge_asof(
        probe.sort_values("ts"), state.sort_values("ts"),
        on="ts", by="k", direction="backward",
    ).set_index("pid")["sval"]
    for pid, sval in expect.items():
        g = split[pid]
        assert (g is None) if pd.isna(sval) else (g == int(sval)), pid


def test_kmv_auto_fanout_sizes_from_cardinality(spark, monkeypatch):
    """fanout='auto' must size the level-1 cell split from the LARGEST
    per-group approximate cardinality (cell target patched down so the
    effect shows at test scale), and the sketch output must be identical
    for auto and any explicit sufficient fanout (the min-k of a union is
    partition-invariant)."""
    from bitcoin_etl_spark.ops import sketch

    df = spark.range(8_000).select(
        F.when(F.col("id") < 100, "small").otherwise("skewed").alias("grp"),
        F.when(F.col("id") < 100, F.col("id") % 5)
        .otherwise(F.col("id")).alias("key"),
    )
    monkeypatch.setattr(sketch, "CELL_TARGET", 1000)
    fan = sketch._auto_fanout(df, "grp", "key")
    # ~7900 distinct in the skewed group / 1000-target → ≥4 cells, and
    # far under the cap
    assert 4 <= fan <= 64, fan
    auto = {r["grp"]: (r["n_kept"], r["kth_min"], r["est_distinct"])
            for r in sketch.kmv_distinct(df, "grp", "key", k=32).collect()}
    for explicit in (1, fan, 257):
        out = {r["grp"]: (r["n_kept"], r["kth_min"], r["est_distinct"])
               for r in sketch.kmv_distinct(
                   df, "grp", "key", k=32, fanout=explicit).collect()}
        assert out == auto, explicit


def test_spread_ignores_attribute_names_matching_plan_nodes(spark, docs):
    """Regression for the substring false-positive (ADVICE r04): a
    SCAN-STAGE frame whose COLUMN names contain plan-node words
    ('SortKey', 'JoinDate', 'WindowStart') must still be spread — the
    node detection must compare node class names, not search the
    rendered plan string (which embeds attribute names)."""
    from bitcoin_etl_spark.ops.dedup import _has_shuffled_node, _spread

    scan = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("SortKey"),
        F.col("text").alias("JoinDate"),
        F.col("lang").alias("WindowStart"),
    )
    assert not _has_shuffled_node(scan)
    spread = _spread(scan, "SortKey")
    assert "Repartition" in spread._jdf.queryExecution().analyzed().toString()
    # and true derived frames are still detected
    assert _has_shuffled_node(scan.groupBy("WindowStart").count())
    assert _has_shuffled_node(scan.orderBy("SortKey"))
    assert _has_shuffled_node(scan.limit(5))


def test_connected_components_releases_round_checkpoints(spark):
    """The pointer-jumping loop localCheckpoints every round; rounds
    0..N-1's blocks must be RELEASED as the loop advances (ADVICE r04:
    Dataset.unpersist is a no-op for checkpoint blocks — the engine
    frees the LogicalRDD directly). After consuming the result, at most
    the final round's checkpoint may remain in executor storage."""
    import time as _time

    from bitcoin_etl_spark.ops.dedup import connected_components

    sc = spark.sparkContext

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    before = n_cached()
    # a path graph forces several propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    comp = connected_components(edges)
    assert comp.select(F.countDistinct("component")).first()[0] == 1
    # async unpersist: give the cleaner a moment
    deadline = _time.time() + 10
    while n_cached() - before > 1 and _time.time() < deadline:
        _time.sleep(0.25)
    assert n_cached() - before <= 1, (
        f"leaked checkpoint blocks: {n_cached() - before}"
    )
