"""Dedup operator correctness on a planted-duplicate corpus: MinHash-LSH
recall against exact Jaccard ground truth, SimHash, exact dedup, and the
duplicate-insensitivity of the signature path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evm_indexer_spark.operators import dedup, graph

WORDS = [f"w{i}" for i in range(400)]


def _base_text(i: int) -> str:
    # 40 tokens per doc, overlapping vocabulary but distinct docs
    return " ".join(WORDS[(i * 7 + j * 3) % len(WORDS)] for j in range(40))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(50):
        rows.append((i, _base_text(i)))
    # near-duplicates of docs 0..9: perturb the last 2 tokens → high jaccard
    for i in range(10):
        toks = _base_text(i).split()
        toks[-1], toks[-2] = "zz1", "zz2"
        rows.append((100 + i, " ".join(toks)))
    # exact duplicates of docs 20..24
    for i in range(5):
        rows.append((200 + i, _base_text(20 + i)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(corpus):
    out = dedup.exact_duplicates(corpus, "doc_id", "text")
    dups = {r["keeper_id"]: r["n_copies"] for r in out.filter("n_copies > 1").collect()}
    assert dups == {20: 2, 21: 2, 22: 2, 23: 2, 24: 2}


@pytest.fixture(scope="module")
def exact_pairs(corpus):
    out = dedup.jaccard_all_pairs(corpus, "doc_id", "text", threshold=0.5)
    return {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}


def test_ground_truth_contains_planted(exact_pairs):
    for i in range(10):
        assert (i, 100 + i) in exact_pairs, f"planted near-dup {i} missing"
        assert exact_pairs[(i, 100 + i)] > 0.8
    for i in range(5):
        assert exact_pairs[(20 + i, 200 + i)] == 1.0


def test_minhash_lsh_matches_exact_verification(corpus, exact_pairs):
    out = dedup.minhash_near_duplicates(
        corpus, "doc_id", "text", jaccard_threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    # verification is exact → every reported pair must equal ground truth
    for pair, j in got.items():
        assert pair in exact_pairs
        assert abs(j - exact_pairs[pair]) < 5e-5  # oracle rounds to 4 digits
    # LSH recall on the planted high-similarity pairs
    planted = {(i, 100 + i) for i in range(10)} | {(20 + i, 200 + i) for i in range(5)}
    assert len(planted & set(got)) >= 13  # ≥ ~85% recall on j > 0.8 pairs


def test_simhash_finds_planted(corpus):
    out = dedup.simhash_near_duplicates(corpus, "doc_id", "text", max_hamming=8)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    exact = {(20 + i, 200 + i) for i in range(5)}
    assert exact <= got  # identical docs: hamming 0
    # planted hammings span 4-10; the 4×16-bit multi-probe is exact only
    # for hamming < 4 and heuristic beyond — expect majority recall
    near = {(i, 100 + i) for i in range(10)}
    assert len(near & got) >= 5


def test_signature_duplicate_insensitive(spark):
    # min-aggregation over shingles must not care about duplicate shingles
    a = spark.createDataFrame([(1, "a b c a b c a b c")], "doc_id long, text string")
    b = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    sa = dedup._minhash_signatures(a, "doc_id", "text", 16, 3).collect()[0]["sig"]
    sb = dedup._minhash_signatures(b, "doc_id", "text", 16, 3).collect()[0]["sig"]
    # doc a's shingles = {"a b c", "b c a", "c a b"} ⊇ doc b's {"a b c"};
    # signatures therefore differ, but both must be deterministic
    assert sa == dedup._minhash_signatures(a, "doc_id", "text", 16, 3).collect()[0]["sig"]
    assert len(sa) == len(sb) == 16


def test_shingle_rows_distinct_flag(corpus):
    dist = dedup.shingle_rows(corpus, "doc_id", "text").count()
    raw = dedup.shingle_rows(corpus, "doc_id", "text", distinct=False).count()
    assert raw >= dist


def test_winnowing_detects_partial_copy(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    partial = " ".join(f"tok{i}" for i in range(30)) + " " + " ".join(
        f"other{i}" for i in range(30)
    )
    unrelated = " ".join(f"zzz{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, partial), (4, unrelated)],
        "doc_id long, text string",
    )
    fps = dedup.winnow_fingerprints(df, "doc_id", "text")
    got = fps.collect()
    by_id: dict[int, set] = {}
    for r in got:
        by_id.setdefault(r["id"], set()).add(r["fp"])
    assert by_id[1] == by_id[2]  # identical docs → identical fingerprint sets
    overlap_partial = len(by_id[1] & by_id[3]) / len(by_id[1])
    overlap_unrelated = len(by_id[1] & by_id[4]) / len(by_id[1])
    assert overlap_partial > 0.3  # half-copied doc shares a big chunk
    assert overlap_unrelated == 0.0


def test_prefix_join_equals_all_pairs(corpus):
    """Prefix filtering is an exact pruner: output must be byte-identical
    to brute-force all-pairs at any threshold."""
    for t in (0.3, 0.5, 0.8):
        brute = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.jaccard_all_pairs(
                corpus, "doc_id", "text", threshold=t
            ).collect()
        }
        pruned = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.jaccard_prefix_join(
                corpus, "doc_id", "text", threshold=t, strategy="prefix"
            ).collect()
        }
        assert pruned == brute, f"threshold {t}: {pruned ^ brute}"


def test_simhash_signature_long_doc_no_ansi_overflow(spark):
    """A document with >=32768 tokens overflowed the old 16-bit/4-lane
    SWAR packing's top lane under ANSI mode (sum of 40000 x 2^48 >
    Long.MAX -> ARITHMETIC_OVERFLOW). The 21-bit/3-lane packing must
    survive it and agree with a short doc's signature algebra."""
    long_text = " ".join(f"tok{i % 97}" for i in range(40_000))
    df = spark.createDataFrame(
        [(1, long_text), (2, "tok0 tok1 tok2")], "id long, text string"
    )
    with_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = {r["id"]: r["sig"] for r in
                dedup.simhash_signatures(df, "id", "text").collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", with_ansi)
    assert set(rows) == {1, 2}


def test_jaccard_all_pairs_strategies_identical(spark, corpus):
    """The one-Arrow-task inverted-index path must be byte-identical to
    the distributed shingle self-join — including Spark round()'s
    HALF_UP-on-shortest-repr rounding of the jaccard double."""
    for t in (0.1, 0.4, 0.8):
        a = sorted(map(tuple, dedup.jaccard_all_pairs(
            corpus, "doc_id", "text", 3, t, strategy="pandas").collect()))
        b = sorted(map(tuple, dedup.jaccard_all_pairs(
            corpus, "doc_id", "text", 3, t, strategy="expr").collect()))
        assert a == b, f"threshold {t}"
    assert len(a) >= 0 and len(b) >= 0


def test_pair_sources_identical(spark, corpus):
    """The grouped bucket-pair emission and the streaming self-join must
    produce identical verified outputs for MinHash and SimHash — the
    two forms are a memory/latency trade, never a semantics one."""
    kw = dict(num_hashes=64, bands=64, jaccard_threshold=0.4)
    a = sorted(map(tuple, dedup.minhash_near_duplicates(
        corpus, "doc_id", "text", pair_source="group", **kw).collect()))
    b = sorted(map(tuple, dedup.minhash_near_duplicates(
        corpus, "doc_id", "text", pair_source="join", **kw).collect()))
    assert a == b and len(a) > 0

    sa = sorted(map(tuple, dedup.simhash_near_duplicates(
        corpus, "doc_id", "text", max_hamming=3, n_blocks=4,
        pair_source="group").collect()))
    sb = sorted(map(tuple, dedup.simhash_near_duplicates(
        corpus, "doc_id", "text", max_hamming=3, n_blocks=4,
        pair_source="join").collect()))
    assert sa == sb


def test_simhash_onetask_identical(spark, corpus):
    """Both SimHash pair sources must be byte-identical on the md5_60
    family — including the hostile-text classes (empty text,
    whitespace-only, unicode, null, punct-only) the adversarial fixture
    exercises, and pairs colliding in more than one block (emitted once
    by each source)."""
    hostile = spark.createDataFrame(
        [
            (300, ""),
            (301, "   "),
            (302, None),
            (303, "Ünïcödé tøkens and ascii mixed"),
            (304, "punct!!! only??? ..."),
            (305, "punct!!! only??? ..."),  # identical: 0-hamming pair
        ],
        "doc_id long, text string",
    )
    df = corpus.unionByName(hostile)
    kw = dict(max_hamming=3, n_blocks=4)
    grp = sorted(map(tuple, dedup.simhash_near_duplicates(
        df, "doc_id", "text", token_hash="md5_60", n_bits=60,
        pair_source="group", **kw).collect()))
    jn = sorted(map(tuple, dedup.simhash_near_duplicates(
        df, "doc_id", "text", token_hash="md5_60", n_bits=60,
        pair_source="join", **kw).collect()))
    assert grp == jn
    assert (304, 305, 0) in grp  # identical docs collide in all blocks


def test_simhash_onetask_degenerate_all_blocks_collide(spark):
    """Round-15 ADVICE scenario: a corpus of identical/near-identical
    docs collides in EVERY pigeonhole block. The group pair source must
    emit each pair exactly once."""
    from pyspark.sql import functions as F

    n = 60
    rows = [(i, "the same document text repeated for everyone") for i in range(n)]
    rows += [(1000 + i, f"the same document text repeated for almost {i}") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grp = sorted(map(tuple, dedup.simhash_near_duplicates(
        df, "doc_id", "text", token_hash="md5_60", n_bits=60,
        max_hamming=3, n_blocks=4, pair_source="group").collect()))
    # all identical docs pair up exactly once each at hamming 0
    zero = [p for p in grp if p[2] == 0 and p[0] < 1000 and p[1] < 1000]
    assert len(zero) == n * (n - 1) // 2
    assert len(set(zero)) == len(zero)


def test_incremental_pair_sources_identical(spark, corpus):
    from pyspark.sql import functions as F

    split = 10
    old = corpus.filter(F.col("doc_id") < split)
    new = corpus.filter(F.col("doc_id") >= split)
    index = dedup.minhash_banded(old, "doc_id", "text", 64, 64)
    kw = dict(num_hashes=64, bands=64, jaccard_threshold=0.4)
    a = sorted(map(tuple, dedup.incremental_minhash_pairs(
        new, index, corpus, "doc_id", "text", pair_source="group",
        **kw).collect()))
    b = sorted(map(tuple, dedup.incremental_minhash_pairs(
        new, index, corpus, "doc_id", "text", pair_source="join",
        **kw).collect()))
    assert a == b and len(a) > 0


def test_minhash_strategies_same_verified_output(spark, corpus):
    """The blake2b (Arrow) and xxhash64 (JVM) families generate
    different CANDIDATE sets, but at the full-recall r=1 tier both must
    verify down to the identical exact-Jaccard pair list."""
    kw = dict(num_hashes=64, bands=64, jaccard_threshold=0.4)
    a = sorted(map(tuple, dedup.minhash_near_duplicates(
        corpus, "doc_id", "text", strategy="pandas", **kw).collect()))
    b = sorted(map(tuple, dedup.minhash_near_duplicates(
        corpus, "doc_id", "text", strategy="expr", **kw).collect()))
    assert a == b and len(a) > 0


def test_simhash_strategies_bit_identical(spark):
    """The Arrow voting path must reproduce the JVM SWAR path bit for
    bit on the md5_60 family — including Spark split()'s empty-token
    behavior at leading/trailing whitespace, unicode, empty text, and
    null text (dropped by both)."""
    rows = [
        (0, "Hello, World! This is a test."),
        (1, "  leading whitespace here"),
        (2, "trailing whitespace  "),
        (3, ""),
        (4, None),
        (5, "punct!!! only??? ..."),
        (6, "Ünïcödé tøkens and ascii mixed"),
        (7, "the quick brown fox " * 50),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r.id: r.sig for r in dedup.simhash_signatures(
        df, "doc_id", "text", token_hash="md5_60", n_bits=60,
        strategy="pandas").collect()}
    b = {r.id: r.sig for r in dedup.simhash_signatures(
        df, "doc_id", "text", token_hash="md5_60", n_bits=60,
        strategy="expr").collect()}
    assert a == b and 4 not in a and len(a) == 7

    # xxhash64 has no Python twin: pandas must refuse, auto must route
    # to the JVM path
    import pytest as _pytest
    with _pytest.raises(ValueError, match="md5_60"):
        dedup.simhash_signatures(df, "doc_id", "text", strategy="pandas")
    assert dedup.simhash_signatures(df, "doc_id", "text").count() == 7


def test_minhash_no_corpus_wide_shingle_sets(spark):
    """Verification sets must be built only for candidate docs: the
    collect_set aggregate has to sit above a semi-join with candidate
    ids, never over the full corpus, and nothing may stay persisted
    after the result is materialized."""
    docs = [(i, f"totally unique document number {i} " * 3) for i in range(20)]
    df = spark.createDataFrame(docs, "id long, text string")
    out = dedup.minhash_near_duplicates(df, "id", "text")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # collect_set must not appear over a plain corpus scan: every
    # occurrence sits above a join (the semi-join prune). Heuristic:
    # the analyzed tree has a Join below each Aggregate[collect_set].
    idx = plan.find("collect_set")
    assert idx != -1
    assert "Join" in plan[idx:], plan
    # InMemoryRelation in the plan would mean a corpus-wide persist is
    # back; the only materialization allowed is the candidate-pair
    # localCheckpoint (which shows as LogicalRDD / scan of existing RDD)
    assert "InMemoryRelation" not in plan, plan
    out.collect()


def test_editdist_straddling_buckets_found(spark):
    """Pairs whose lengths straddle a bucket boundary (len 49 vs 51,
    dist 2) must be found — same-bucket-only blocking missed them.
    Pinned on both plans: the bucket plan with q63's width, and the
    prefix plan, whose short-doc fallback picks its own width."""
    docs = [
        (1, "a" * 49),
        (2, "a" * 51),          # adjacent bucket (0 vs 1), dist 2
        (3, "b" * 120),
        (4, "b" * 118 + "cc"),  # same bucket (2), dist 2
        (5, "z" * 300),         # far from everything
    ]
    df = spark.createDataFrame(docs, "id long, text string")
    for strategy in ("bucket", "prefix"):
        out = {(r["id_a"], r["id_b"]): r["dist"] for r in
               dedup.editdist_near_duplicates(
                   df, "id", "text", max_dist=40, bucket_width=50,
                   strategy=strategy).collect()}
        assert out[(1, 2)] == 2, strategy
        assert out[(3, 4)] == 2, strategy
        assert all(5 not in p for p in out), strategy
        # each pair exactly once (the exploded neighbor keys must not dupe)
        assert len(out) == 2, strategy

    with pytest.raises(ValueError):
        dedup.editdist_near_duplicates(df, "id", "text",
                                       max_dist=50, bucket_width=50,
                                       strategy="bucket")
    with pytest.raises(ValueError):
        dedup.editdist_near_duplicates(df, "id", "text", strategy="nope")
    # the prefix plan never uses bucket_width (its short fallback
    # derives its own exact width), so the guard must not fire there
    dedup.editdist_near_duplicates(
        df, "id", "text", max_dist=60, bucket_width=50, strategy="prefix"
    ).collect()


def _editdist_corpus(rng, lengths, n, alpha="abcdefghijklmnopqrstuvwxyz"):
    return [
        (i, "".join(rng.choice(alpha) for _ in range(rng.choice(lengths))))
        for i in range(n)
    ]


def test_editdist_strategies_identical(spark):
    """prefix and bucket candidate generation are both lossless: byte-
    equal outputs on a corpus mixing short docs (below the q-gram count
    bound's validity region, handled by the bucket fallback), long
    docs, short-long pairs within |Δlen| ≤ d, and planted near-dups."""
    import random

    rng = random.Random(7)
    docs = _editdist_corpus(rng, [20, 60, 150, 190, 300], 120)
    for j, src in enumerate((3, 40, 77)):
        t = docs[src][1]
        docs.append((1000 + j, t[:10] + "XYZ" + t[13:]))  # dist <= 3
    df = spark.createDataFrame(docs, "id long, text string")
    outs = {}
    for strat in ("bucket", "prefix"):
        outs[strat] = sorted(
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.editdist_near_duplicates(
                df, "id", "text", max_dist=40, bucket_width=50,
                strategy=strat,
            ).collect()
        )
    assert outs["prefix"] == outs["bucket"]
    assert any(a == 3 and b == 1000 for a, b, _ in outs["prefix"])
    # random 20-char docs sit well inside dist 40 of each other, so the
    # short-short fallback must have produced real pairs (not only the
    # planted ones) — guards against a silently-empty fallback leg
    shorts = {i for i, t in docs if len(t) == 20}
    assert any(a in shorts and b in shorts for a, b, _ in outs["prefix"])


def _py_lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_editdist_prefix_lossless_property(spark):
    """Hypothesis: the prefix strategy's output equals the exact
    pure-Python edit-distance truth on arbitrary small corpora — the
    count-filter/prefix-filter/short-fallback composition can never
    drop a qualifying pair, across (max_dist, qgram) combinations,
    repeats, empty strings, and strings shorter than the gram width."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    text = st.text(alphabet="ab x", min_size=0, max_size=24)

    @settings(max_examples=10, deadline=None)
    @given(
        texts=st.lists(text, min_size=4, max_size=10),
        max_dist=st.integers(min_value=2, max_value=6),
        qgram=st.integers(min_value=2, max_value=4),
    )
    def prop(texts, max_dist, qgram):
        docs = list(enumerate(texts))
        truth = {
            (i, j, _py_lev(a, b))
            for (i, a) in docs
            for (j, b) in docs
            if i < j and _py_lev(a, b) <= max_dist
        }
        df = spark.createDataFrame(docs, "id long, text string")
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.editdist_near_duplicates(
                df, "id", "text", max_dist=max_dist,
                bucket_width=max_dist + 10, strategy="prefix", qgram=qgram,
            ).collect()
        }
        assert got == truth

    prop()


def test_editdist_candidates_pair_bound_on_one_length_bucket(spark):
    """The scale regression the round-8 verdict flagged: every doc in
    ONE length bucket. Content-blind blocking enumerates all
    n(n−1)/2 = 18,915 pairs; the q-gram prefix filter must stay at the
    planted-pair bound on content-diverse docs."""
    import random

    rng = random.Random(11)
    docs = _editdist_corpus(rng, [200], 190)
    planted = set()
    for j in range(5):
        t = docs[j][1]
        docs.append((1000 + j, t[:50] + "#####" + t[55:]))  # dist <= 5
        planted.add((j, 1000 + j))
    df = spark.createDataFrame(docs, "id long, text string")
    quad = len(docs) * (len(docs) - 1) // 2
    cands = dedup.editdist_candidates(df, "id", "text", max_dist=40)
    n_cand = cands.count()
    assert n_cand < quad / 100, (n_cand, quad)  # measured: 6 vs 18,915
    out = {
        (r["id_a"], r["id_b"])
        for r in dedup.editdist_near_duplicates(
            df, "id", "text", max_dist=40, strategy="prefix"
        ).collect()
    }
    assert planted <= out


def test_bucket_pairs_group_excludes_self_pairs(spark):
    # a duplicate id within one bucket must not emit (id, id): the join
    # path excludes self-pairs structurally; the group path filters
    from evm_indexer_spark.operators.dedup import _bucket_pairs

    rows = spark.createDataFrame(
        [(1, 0, 7), (1, 0, 7), (2, 0, 7)], ["id", "band", "bh"]
    )
    for src in ("group", "join"):
        got = sorted(
            map(tuple, _bucket_pairs(rows, ["band", "bh"], src).collect())
        )
        assert got == [(1, 2)], src


def test_jaccard_default_is_distributed_plan(spark, corpus):
    # the default never serializes the corpus through coalesce(1): it
    # is the distributed self-join, with the one-task kernel's rows
    out = dedup.jaccard_all_pairs(corpus, "doc_id", "text", threshold=0.5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" not in plan
    expected = dedup.jaccard_all_pairs(
        corpus, "doc_id", "text", threshold=0.5, strategy="pandas"
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_default_plans_launch_no_job(spark, corpus):
    """The pair operators pick their plan without a probe: building
    each with default arguments schedules no Spark job, and none of
    them (nor ``graph.dedup_clusters``) accepts the old probing
    "auto" strategy."""
    sc = spark.sparkContext
    group = "pair-operator-plan-build"
    sc.setJobGroup(group, group, False)
    try:
        dedup.jaccard_all_pairs(corpus, "doc_id", "text")
        dedup.jaccard_prefix_join(corpus, "doc_id", "text")
        dedup.editdist_near_duplicates(corpus, "doc_id", "text")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for op in (
        dedup.jaccard_all_pairs,
        dedup.jaccard_prefix_join,
        dedup.editdist_near_duplicates,
        graph.dedup_clusters,
    ):
        with pytest.raises(ValueError):
            op(corpus, "doc_id", "text", strategy="auto")


def test_minhash_onetask_matches_distributed(spark, corpus):
    # full-recall banding (r=1): the one-Arrow-task tier and the
    # distributed pipeline must report the same verified pairs with the
    # same jaccard doubles, on any hash family
    dist = sorted(
        map(
            tuple,
            dedup.minhash_near_duplicates(
                corpus, "doc_id", "text",
                num_hashes=64, bands=64, jaccard_threshold=0.4,
            ).collect(),
        )
    )
    one = sorted(
        map(
            tuple,
            dedup.minhash_pairs_onetask(
                corpus, "doc_id", "text",
                num_hashes=64, bands=64, jaccard_threshold=0.4,
            ).collect(),
        )
    )
    assert one == dist
    assert len(one) > 0


def test_retraction_antijoin_equals_filter_then_sign(spark, corpus):
    """q83's degeneration identity: a doc's banded rows are a pure
    function of its OWN text, so anti-joining retracted ids out of the
    full-corpus bucket rows, producing pairs, and verifying on the
    survivors must equal the one-task filter-then-sign plan over the
    survivors. This pins the strategy route's correctness in-repo (the
    sf1 replica gates the anti-join branch against the oracle; this
    pins the two branches against EACH OTHER at any size)."""
    retracted = F.col("doc_id") % 3 == 0
    survivors = corpus.filter(~retracted)
    banded = dedup.minhash_banded(
        corpus, "doc_id", "text", num_hashes=64, bands=64
    )
    tomb = corpus.filter(retracted).select(F.col("doc_id").alias("id"))
    live = banded.join(tomb, "id", "left_anti")
    pairs = dedup._bucket_pairs(live, ["band", "bh"], "group")
    anti = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 4))
        for r in dedup.verify_jaccard_pairs(
            pairs, survivors, "doc_id", "text", 3, 0.4
        ).collect()
    )
    one = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 4))
        for r in dedup.minhash_pairs_onetask(
            survivors, "doc_id", "text",
            num_hashes=64, bands=64, jaccard_threshold=0.4,
        ).collect()
    )
    assert anti == one
    # the retraction actually removed claims: no retracted id appears
    assert all(a % 3 != 0 and b % 3 != 0 for a, b, _ in anti)


def test_minhash_onetask_flagged_matches_incremental(spark):
    # the flagged one-task form must equal incremental_minhash_pairs
    # (pairs touching the new half only)
    from pyspark.sql import functions as F

    rows = []
    base = "the quick brown fox jumps over the lazy dog near the river "
    for i in range(12):
        rows.append((i, base + f"variant {i}"))
    doc = spark.createDataFrame(rows, ["doc_id", "text"])
    split = 6
    old = doc.filter(F.col("doc_id") < split)
    new = doc.filter(F.col("doc_id") >= split)
    index = dedup.minhash_banded(
        old, "doc_id", "text", num_hashes=64, bands=64
    )
    inc = sorted(
        map(
            tuple,
            dedup.incremental_minhash_pairs(
                new, index, doc, "doc_id", "text",
                num_hashes=64, bands=64, jaccard_threshold=0.4,
            ).collect(),
        )
    )
    one = sorted(
        map(
            tuple,
            dedup.minhash_pairs_onetask(
                doc.withColumn("is_new", F.col("doc_id") >= split),
                "doc_id", "text",
                num_hashes=64, bands=64, jaccard_threshold=0.4,
                new_flag_col="is_new",
            ).collect(),
        )
    )
    assert one == inc
    assert len(one) > 0
    # every pair touches the new half
    assert all(b >= split for _a, b, _j in one)


def test_editdist_hot_gram_salting_identical_and_bounded(spark):
    """Round-11 skew fix: on a shared-small-vocabulary corpus the
    prefix join concentrates on a few gram keys; triangle-salting must
    (a) leave the candidate set EXACTLY identical to the unsalted join
    and (b) bound the widest per-(e, s) join bucket by ~hot_gram_rows,
    paying replication only on hot grams."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(8)]  # tiny vocab -> hot grams
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(12, 30))))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    unsalted = {
        (r["ia"], r["ib"])
        for r in dedup.editdist_candidates(
            df, "doc_id", "text", max_dist=8,
            hot_gram_rows=10**9,  # never splits
        ).select("ia", "ib").collect()
    }
    salted = {
        (r["ia"], r["ib"])
        for r in dedup.editdist_candidates(
            df, "doc_id", "text", max_dist=8,
            hot_gram_rows=64, salt_max=16,
        ).select("ia", "ib").collect()
    }
    assert salted == unsalted and unsalted  # identical, non-trivial

    # bucket-width bound, measured on the exact rows the join consumes
    base = df.select(
        F.col("doc_id").alias("id"), F.col("text").alias("t"),
        F.length("text").alias("len"),
    )
    prefix = dedup._editdist_prefix(
        base, max_dist=8, qgram=4, hot_gram_rows=64, salt_max=16
    )
    right = prefix.withColumn(
        "s", F.pmod(F.xxhash64("id"), F.col("gsalt")).cast("int")
    )
    stats = (
        right.groupBy("e", "s")
        .agg(F.count(F.lit(1)).alias("bucket"), F.first("gsalt").alias("g"))
        .agg(
            F.max("bucket").alias("max_bucket"),
            F.max("g").alias("max_g"),
        )
        .collect()[0]
    )
    assert stats["max_g"] > 1  # the corpus really triggered splitting
    # hash grouping is uneven but the widest right-side bucket must be
    # a small multiple of the target, not the unsalted full width
    unsplit = (
        prefix.groupBy("e").count().agg(F.max("count")).collect()[0][0]
    )
    assert unsplit > 64  # hot grams exist
    assert stats["max_bucket"] <= 3 * 64
