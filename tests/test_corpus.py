"""Corpus-prep operators: split stability, packing budget, PII scrub."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from evm_indexer_spark.operators import corpus
from evm_indexer_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def test_split_is_deterministic_and_partitions(docs):
    a = corpus.train_test_split(docs, "doc_id", 10)
    b = corpus.train_test_split(docs, "doc_id", 10)
    assert a.filter("split = 'test'").count() == b.filter("split = 'test'").count()
    assert a.count() == docs.count()
    # ~10% ± generous tolerance
    frac = a.filter("split = 'test'").count() / docs.count()
    assert 0.04 < frac < 0.2


def test_sample_is_subset_of_test_split(docs):
    sample_ids = {r["doc_id"] for r in corpus.hash_sample(docs, "doc_id", 10).collect()}
    test_ids = {
        r["doc_id"]
        for r in corpus.train_test_split(docs, "doc_id", 10)
        .filter("split = 'test'")
        .collect()
    }
    assert sample_ids == test_ids  # same hash, same buckets


def test_packing_respects_budget(docs):
    packed = corpus.pack_sequences(docs, "doc_id", "text", 500, shard_col="source")
    # within each (source, pack), total tokens of all docs but the last
    # must be < budget (the last doc may overflow the boundary)
    agg = packed.groupBy("source", "pack_id").agg(
        F.sum("n_tok").alias("tot"), F.max("n_tok").alias("biggest")
    )
    over = agg.filter(F.col("tot") - F.col("biggest") >= 500)
    assert over.count() == 0
    # packs are dense 0..N per shard
    per_shard = packed.groupBy("source").agg(
        F.min("pack_id").alias("lo"), F.countDistinct("pack_id").alias("n"),
        F.max("pack_id").alias("hi")
    )
    assert per_shard.filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)).count() == 0


def test_scrub_pii(spark):
    rows = [
        (1, "contact me at jane.doe+spam@example.co.uk please"),
        (2, "card 4111111111111111 and ssn 123456789"),
        (3, "clean text with short numbers 42 and 2024"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["s"] for r in df.select("id", corpus.scrub_pii("text").alias("s")).collect()}
    assert out[1] == "contact me at <EMAIL> please"
    assert out[2] == "card <NUM> and ssn <NUM>"
    assert out[3] == "clean text with short numbers 42 and 2024"


def test_contamination_finds_planted_dup(spark):
    rows = [(i, f"unique text number {i} padding words") for i in range(50)]
    # plant the same text on both sides of the split: find a pair of ids
    # landing in different splits
    df = spark.createDataFrame(rows, "doc_id long, text string")
    splits = {
        r["doc_id"]: r["split"]
        for r in corpus.train_test_split(df, "doc_id", 10).collect()
    }
    test_id = next(i for i, s in splits.items() if s == "test")
    train_id = next(i for i, s in splits.items() if s == "train")
    rows[train_id] = (train_id, rows[test_id][1])  # duplicate content
    df2 = spark.createDataFrame(rows, "doc_id long, text string")
    leaked = corpus.split_contamination(df2, "doc_id", "text", 10).collect()
    assert len(leaked) == 1 and leaked[0]["n_test"] >= 1 and leaked[0]["n_train"] >= 1


def test_stratified_sample_rates(docs):
    out = corpus.stratified_sample(docs, "doc_id", "lang", {"en": 50, "de": 25})
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}
    en_total = docs.filter("lang = 'en'").count()
    en_kept = out.filter("lang = 'en'").count()
    de_total = docs.filter("lang = 'de'").count()
    de_kept = out.filter("lang = 'de'").count()
    assert 0.3 < en_kept / en_total < 0.7
    assert 0.1 < de_kept / de_total < 0.45
    # sampling is a pure filter: kept rows are a subset of the corpus keyset
    assert out.count() == en_kept + de_kept


class TestGopherQuality:
    def _flags(self, spark, text):
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return corpus.gopher_quality_flags(df, "doc_id", "text").collect()[0]

    def test_good_prose_passes(self, spark):
        text = ("the quick brown fox jumps over that lazy dog and runs away "
                "to be with the other foxes of note and have dinner ") * 3
        r = self._flags(spark, text)
        assert r["gopher_ok"], r.asDict()

    def test_too_short_fails_word_count_only(self, spark):
        r = self._flags(spark, "the cat and the hat have to be")
        assert not r["word_count_ok"] and not r["gopher_ok"]
        assert r["stop_ok"]  # plenty of stopwords, rule independence

    def test_symbol_spam_fails(self, spark):
        base = "the word and more of that to be with have " * 10
        r = self._flags(spark, base + "#tag " * 30)
        assert not r["symbol_ok"] and not r["gopher_ok"]

    def test_bullet_wall_fails(self, spark):
        bullets = "\n".join(f"- item {i} of the list to have" for i in range(40))
        r = self._flags(spark, bullets)
        assert not r["bullet_ok"] and not r["gopher_ok"]

    def test_ellipsis_teasers_fail(self, spark):
        lines = "\n".join(
            f"the story number {i} continues with more..." for i in range(20)
        )
        r = self._flags(spark, lines)
        assert not r["ellipsis_ok"] and not r["gopher_ok"]

    def test_no_stopwords_fails(self, spark):
        words = " ".join(f"zqx{i}" for i in range(80))
        r = self._flags(spark, words)
        assert not r["stop_ok"] and not r["gopher_ok"]

    def test_mean_word_length_bounds(self, spark):
        longwords = " ".join("pneumonoultramicroscopic" for _ in range(60))
        r = self._flags(spark, "the of and to be that have with " + longwords)
        assert not r["word_len_ok"]


class TestTopNgrams:
    def _df(self, spark):
        rows = [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown cat sits"),
            (3, "the quick brown fox naps"),
            (4, "one two"),  # shorter than n: contributes nothing
            (5, "THE QUICK brown dog"),  # case-folded before sliding
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_counts_and_doc_frequency(self, spark):
        from evm_indexer_spark.operators.corpus import top_ngrams

        out = top_ngrams(self._df(spark), "doc_id", "text", n=3, k=10).collect()
        by_gram = {r["ngram"]: r for r in out}
        assert by_gram["the quick brown"]["n_occurrences"] == 4
        assert by_gram["the quick brown"]["n_docs"] == 4
        assert by_gram["quick brown fox"]["n_occurrences"] == 2
        assert by_gram["quick brown fox"]["n_docs"] == 2
        # min_count=2 drops singletons; doc 4 (< n tokens) never appears
        assert all(r["n_occurrences"] >= 2 for r in out)
        assert "one two" not in by_gram

    def test_deterministic_tie_cut(self, spark):
        from evm_indexer_spark.operators.corpus import top_ngrams

        rows = [(i, f"tie{c} tie{c} x") for i, c in enumerate("abcdef")] * 2
        df = spark.createDataFrame(
            [(i, t) for i, (_, t) in enumerate(rows)], ["doc_id", "text"]
        )
        # every 2-gram has count 2 — k=3 must cut by ngram text
        out = top_ngrams(df, "doc_id", "text", n=2, k=3).collect()
        assert [r["ngram"] for r in out] == [
            "tiea tiea", "tiea x", "tieb tieb"
        ]

    def test_strategies_agree(self, spark):
        # the Arrow partial-counter path and the pure-JVM expand path
        # must be value-identical — same tokens, same tie-break
        from evm_indexer_spark.operators.corpus import top_ngrams

        df = self._df(spark)
        a = [tuple(r) for r in top_ngrams(
            df, "doc_id", "text", n=2, k=50, strategy="pandas").collect()]
        b = [tuple(r) for r in top_ngrams(
            df, "doc_id", "text", n=2, k=50, strategy="expr").collect()]
        assert a == b and len(a) > 0

    def test_topk_is_not_a_global_sort(self, spark):
        from evm_indexer_spark.operators.corpus import top_ngrams

        plan = (
            top_ngrams(self._df(spark), "doc_id", "text", n=2, k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan, plan


def test_pii_profile_counts_and_redaction(spark):
    rows = [
        (1, "mail a@b.io and c.d+x@e-f.org, ssn 123-45-6789"),
        (2, "call 555-123-4567 or 555.987.6543 from 192.168.0.1"),
        (3, "versions 1.2.3.4.5 and value 12-34-5678 stay as-is"),
        (4, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r for r in corpus.pii_profile(df, "doc_id", "text").collect()
    }
    assert (got[1]["n_email"], got[1]["n_ssn"]) == (2, 1)
    assert got[1]["redacted"] == "mail [EMAIL] and [EMAIL], ssn [SSN]"
    assert (got[2]["n_phone"], got[2]["n_ipv4"]) == (2, 1)
    assert got[2]["redacted"] == "call [PHONE] or [PHONE] from [IP]"
    # 1.2.3.4.5 contains an ipv4-shaped prefix (leftmost match wins in
    # both engines); 12-34-5678 is neither SSN (2-2-4) nor phone
    assert got[3]["n_ssn"] == 0 and got[3]["n_phone"] == 0
    assert got[3]["n_ipv4"] == 1
    assert got[4]["redacted"] == "nothing sensitive here"
    assert sum(got[4][f"n_{k}"] for k in ("email", "ssn", "phone", "ipv4")) == 0


def test_pii_profile_is_pure_map(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = corpus.pii_profile(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle: scan-throughput compliance pass
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestDuplicateWindowSpans:
    def _run(self, spark, rows, n=8):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: r
            for r in corpus.duplicate_window_spans(
                df, "doc_id", "text", window_n=n
            ).collect()
        }

    def test_cross_document_duplicate_span(self, spark):
        shared = "w1 w2 w3 w4 w5 w6 w7 w8"
        got = self._run(
            spark,
            [
                (0, shared + " tail0 tail1"),
                (1, "head1 " + shared),
                (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
                (3, "short doc"),
            ],
        )
        # doc0: 10 tokens -> 3 windows; only the window at pos 1 repeats
        # (doc1 pos 2); covered = tokens 1..8
        assert got[0]["n_tokens"] == 10 and got[0]["n_windows"] == 3
        assert got[0]["dup_windows"] == 1 and got[0]["covered_tokens"] == 8
        assert got[1]["dup_windows"] == 1 and got[1]["covered_tokens"] == 8
        # doc2 unique, doc3 too short for any window
        assert got[2]["dup_windows"] == 0 and got[2]["covered_tokens"] == 0
        assert got[3]["n_windows"] == 0 and got[3]["n_tokens"] == 2

    def test_intra_document_repeat_unions_overlaps(self, spark):
        text = "w1 w2 w3 w4 w5 w6 w7 w8 w1 w2 w3 w4 w5 w6 w7 w8"
        got = self._run(spark, [(0, text)])
        # 16 tokens -> 9 windows; pos 1 and pos 9 are identical -> both
        # flagged; union of [1..8] and [9..16] covers every token
        assert got[0]["n_windows"] == 9
        assert got[0]["dup_windows"] == 2
        assert got[0]["covered_tokens"] == 16

    def test_overlapping_spans_are_not_double_counted(self, spark):
        # doc0 repeats doc1's window twice with one-token offset: spans
        # [1..8] and [2..9] overlap; union is 9 tokens, not 16
        got = self._run(
            spark,
            [
                (0, "a a a a a a a a a"),
                (1, "a a a a a a a a"),
            ],
        )
        assert got[0]["n_windows"] == 2 and got[0]["dup_windows"] == 2
        assert got[0]["covered_tokens"] == 9


def test_token_budget_sample_matches_reference(spark):
    import hashlib
    import re

    rows = [
        (0, "a b c d", "en"),
        (1, "e f", "en"),
        (2, "g h i j k l", "en"),
        (3, "m n o", "de"),
        (4, "p q r s", "de"),
        (5, "t", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: r
        for r in corpus.token_budget_sample(
            df, "doc_id", "text", "lang", frac=0.5
        ).collect()
    }
    # reference walk: per domain, md5 order, cumulative <= floor(0.5*total)
    by_dom: dict = {}
    for did, text, dom in rows:
        by_dom.setdefault(dom, []).append(
            (hashlib.md5(str(did).encode()).hexdigest(), did,
             len(re.split(r"\s+", text.lower())))
        )
    for dom, docs in by_dom.items():
        budget = sum(t for _, _, t in docs) // 2
        cum = 0
        for h, did, t in sorted(docs):
            cum += t
            assert got[did]["selected"] == (cum <= budget), (dom, did)
            assert got[did]["n_tokens"] == t
    assert len(got) == len(rows)  # every doc reported, selected or not


def test_ngram_contamination_planted(spark):
    """A train doc sharing a verbatim 3-gram window with an eval doc is
    flagged; short docs report zero windows; min_hits gates the flag;
    counts are exact window counts (each matching occurrence counts)."""
    ev = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (0, "nothing to see here at all folks"),
            # two overlapping windows hit: "secret benchmark answer" and
            # "benchmark answer is" (both verbatim in the eval doc)
            (1, "we leaked the secret benchmark answer is here"),
            (2, "tiny doc"),  # < 3 tokens -> zero windows
            # the SAME hit window twice -> n_contaminated counts both
            (3, "secret benchmark answer and secret benchmark answer"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r
        for r in corpus.ngram_contamination(
            train, ev, "doc_id", "text", n=3
        ).collect()
    }
    assert len(got) == 4
    assert got[0]["n_contaminated"] == 0 and not got[0]["contaminated"]
    assert got[1]["n_windows"] == 6  # 8 tokens, 3-gram windows
    assert got[1]["n_contaminated"] == 3 and got[1]["contaminated"]
    assert got[2]["n_windows"] == 0 and not got[2]["contaminated"]
    assert got[3]["n_contaminated"] == 2 and got[3]["contaminated"]
    # min_hits raises the bar: only the triple-hit doc stays flagged
    strict = {
        r["id"]: r["contaminated"]
        for r in corpus.ngram_contamination(
            train, ev, "doc_id", "text", n=3, min_hits=3
        ).collect()
    }
    assert strict == {0: False, 1: True, 2: False, 3: False}
    with pytest.raises(ValueError):
        corpus.ngram_contamination(train, ev, "doc_id", "text", n=0)


def test_ngram_contamination_big_eval_routing(spark):
    """Big-eval regime: the gram probe join routes to a shuffled hash
    join (no broadcast hint anywhere in the optimized plan) and the
    values are identical to the broadcast regime. Both the explicit
    ``eval_small=False`` hint and a forced-zero probe threshold take
    the routed plan."""
    ev = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (0, "nothing to see here at all folks"),
            (1, "we leaked the secret benchmark answer is here"),
            (2, "tiny doc"),
            (3, "secret benchmark answer and secret benchmark answer"),
        ],
        "doc_id long, text string",
    )
    base = {
        (r["id"], r["n_windows"], r["n_contaminated"], r["contaminated"])
        for r in corpus.ngram_contamination(
            train, ev, "doc_id", "text", n=3, eval_small=True
        ).collect()
    }
    for kwargs in ({"eval_small": False}, {"broadcast_below": 0}):
        routed = corpus.ngram_contamination(
            train, ev, "doc_id", "text", n=3, **kwargs
        )
        opt = routed._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" not in opt.lower(), kwargs
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, kwargs
        got = {
            (r["id"], r["n_windows"], r["n_contaminated"], r["contaminated"])
            for r in routed.collect()
        }
        assert got == base, kwargs


def test_skipgram_prefilter_parity_with_full_emission(spark):
    """The broadcast regime must be result-identical to the shuffle
    regime's full-volume emission, on the real sf0.001 documents
    fixture under the q81 split."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    full = {
        tuple(r)
        for r in corpus.skipgram_contamination(
            train, ev, "doc_id", "text", n=8, eval_small=True
        ).collect()
    }
    shuffled = {
        tuple(r)
        for r in corpus.skipgram_contamination(
            train, ev, "doc_id", "text", n=8, eval_small=False
        ).collect()
    }
    assert full == shuffled
    assert any(r[2] > 0 for r in full)  # fixture has real contamination


def test_skipgram_prefilter_survivor_without_match_is_clean(spark):
    """A train window sharing a verbatim HALF with an eval window but
    differing in ≥ 2 positions overall is clean: the masked-key join
    tolerates one substitution, not one half."""
    ev = spark.createDataFrame(
        [(0, "alpha bravo charlie delta echo foxtrot golf hotel")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # first half verbatim, second half 2 subs: clean
            (1, "alpha bravo charlie delta echo foxtrot kilo india"),
            # no half matches: clean, window still counted
            (2, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: (r["n_windows"], r["n_contaminated"], r["contaminated"])
        for r in corpus.skipgram_contamination(
            train, ev, "doc_id", "text", n=8, eval_small=True
        ).collect()
    }
    assert got[1] == (1, 0, False)
    assert got[2] == (1, 0, False)


def test_skipgram_contamination_one_substitution_tolerance(spark):
    """A train window matching an eval window with EXACTLY one token
    changed is contaminated; two changes is not; verbatim still is; a
    window matching through several masked variants counts once."""
    ev = spark.createDataFrame(
        [(0, "alpha bravo charlie delta echo foxtrot golf hotel")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot golf hotel"),   # verbatim
            (2, "alpha bravo charlie delta echo foxtrot golf india"),   # 1 sub
            (3, "alpha bravo charlie delta echo foxtrot kilo india"),   # 2 subs
            (4, "ALPHA  bravo charlie delta echo foxtrot golf hotel"),  # case+ws
            (5, "short text"),                                          # < n tokens
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: (r["n_windows"], r["n_contaminated"], r["contaminated"])
        for r in corpus.skipgram_contamination(
            train, ev, "doc_id", "text", n=8, eval_small=True
        ).collect()
    }
    assert got[1] == (1, 1, True)   # verbatim matches all 8 variants, once
    assert got[2] == (1, 1, True)   # one substitution tolerated
    assert got[3] == (1, 0, False)  # two substitutions: clean
    assert got[4] == (1, 1, True)   # normalization folds case/whitespace
    assert got[5] == (0, 0, False)  # no windows

    # multi-window doc: only windows within one substitution count
    t2 = spark.createDataFrame(
        [(9, "zulu alpha bravo charlie delta echo foxtrot golf hotel yankee")],
        "doc_id long, text string",
    )  # 3 windows of 8; window 2 = verbatim eval, windows 1/3 differ by
    # one EXTRA token at an end — a shift, not a substitution: clean
    row = corpus.skipgram_contamination(
        t2, ev, "doc_id", "text", n=8, eval_small=True
    ).collect()[0]
    assert (row["n_windows"], row["n_contaminated"]) == (3, 1)


class TestContaminationOnetask:
    """The one-Arrow-task contamination tier must be ROW-IDENTICAL to
    the distributed plans it strategy-routes below CONTAM_TASK_CAP
    (round 15 — the q27/q66 small-corpus tier rule applied to q80/q81/
    q82), including on hostile text (embedded \\x01, unicode
    whitespace, NULL/empty/short docs)."""

    def _flagged(self, df):
        return df.select(
            "doc_id", "text", (F.col("doc_id") % 10 == 0).alias("__ev")
        )

    def _rows(self, df):
        return [tuple(r) for r in df.orderBy("id").collect()]

    @pytest.mark.parametrize("mode", ["ngram", "skipgram"])
    def test_matches_distributed_on_fixture(self, docs, mode):
        train = docs.filter(F.col("doc_id") % 10 != 0)
        ev = docs.filter(F.col("doc_id") % 10 == 0)
        if mode == "ngram":
            dist = corpus.ngram_contamination(
                train, ev, "doc_id", "text", n=8, eval_small=True
            )
        else:
            dist = corpus.skipgram_contamination(
                train, ev, "doc_id", "text", n=8, eval_small=True
            )
        one = corpus.contamination_onetask(
            self._flagged(docs), "doc_id", "text", "__ev", n=8, mode=mode
        )
        assert self._rows(one) == self._rows(dist)

    @pytest.mark.parametrize("mode", ["ngram", "skipgram"])
    def test_chunked_probe_identical(self, docs, mode):
        """Round-16: the train-side probe runs in bounded WINDOW chunks
        with a lazily-grown verification bucket. Force many tiny chunks
        (far below any real doc's window count) and require exact
        equality with the single-chunk result."""
        flagged = self._flagged(docs)
        whole = self._rows(corpus.contamination_onetask(
            flagged, "doc_id", "text", "__ev", n=8, mode=mode))
        chunked = self._rows(corpus.contamination_onetask(
            flagged, "doc_id", "text", "__ev", n=8, mode=mode,
            probe_chunk_windows=4))
        assert chunked == whole

    @pytest.mark.parametrize("mode", ["ngram", "skipgram"])
    def test_matches_shuffle_regime_on_fixture(self, docs, mode):
        # eval_small=False drives the shuffle-hash probe — both
        # distributed regimes must equal the kernel
        train = docs.filter(F.col("doc_id") % 10 != 0)
        ev = docs.filter(F.col("doc_id") % 10 == 0)
        fn = (
            corpus.ngram_contamination
            if mode == "ngram"
            else corpus.skipgram_contamination
        )
        dist = fn(train, ev, "doc_id", "text", n=8, eval_small=False)
        one = corpus.contamination_onetask(
            self._flagged(docs), "doc_id", "text", "__ev", n=8, mode=mode
        )
        assert self._rows(one) == self._rows(dist)

    def test_matches_on_hostile_text(self, spark):
        rows = [
            (0, "alpha bravo charlie delta echo foxtrot golf hotel"),  # eval
            (10, "mask \x01 embedded literal token here extra pad"),   # eval
            (1, "alpha bravo charlie delta echo foxtrot golf hotel"),  # verbatim
            (2, "alpha bravo charlie delta echo foxtrot golf india"),  # 1 sub
            (3, "alpha bravo charlie delta echo foxtrot kilo india"),  # 2 subs
            (4, "ALPHA\tbravo  charlie delta echo foxtrot golf hotel"),
            (5, "short text"),
            (6, ""),
            (7, None),
            (8, "mask stub embedded literal token here extra pad"),    # \x01 aligns
            (9, "nbsp joined token one two three four five six seven"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        train = df.filter(F.col("doc_id") % 10 != 0)
        ev = df.filter(F.col("doc_id") % 10 == 0)
        for mode in ("ngram", "skipgram"):
            fn = (
                corpus.ngram_contamination
                if mode == "ngram"
                else corpus.skipgram_contamination
            )
            dist = fn(train, ev, "doc_id", "text", n=8, eval_small=True)
            one = corpus.contamination_onetask(
                self._flagged(df), "doc_id", "text", "__ev", n=8, mode=mode
            )
            assert self._rows(one) == self._rows(dist), mode

    def test_matches_arrival_plan(self, docs):
        # the q82 shape: batch = upper-id half of the train split
        from evm_indexer_spark.streaming.contam_stream import (
            contamination_against, mode_keys,
        )

        row = docs.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).first()
        split = (int(row.lo) + int(row.hi) + 1) // 2
        ev = docs.filter(F.col("doc_id") % 10 == 0)
        batch = docs.filter(
            (F.col("doc_id") % 10 != 0) & (F.col("doc_id") >= split)
        )
        grams = mode_keys(ev, "text", 8, "skipgram").select("gram").distinct()
        dist = contamination_against(
            batch, grams, "doc_id", "text", n=8, mode="skipgram",
            eval_small=True,
        )
        flagged = ev.select(
            "doc_id", "text", F.lit(True).alias("__ev")
        ).unionByName(
            batch.select("doc_id", "text", F.lit(False).alias("__ev"))
        )
        one = corpus.contamination_onetask(
            flagged, "doc_id", "text", "__ev", n=8, mode="skipgram"
        )
        assert self._rows(one) == self._rows(dist)


class TestDupWindowOnetask:
    """The one-task duplicated-span tier must be ROW-IDENTICAL to the
    distributed plans it strategy-routes below DUPWIN_TASK_CAP."""

    def _rows(self, df):
        return [tuple(r) for r in df.orderBy("doc_id").collect()]

    def test_matches_batch_operator(self, docs):
        dist = corpus.duplicate_window_spans(docs, "doc_id", "text", 8)
        one = corpus.dup_window_spans_onetask(
            docs.select("doc_id", "text", F.lit(True).alias("__b")),
            "doc_id", "text", "__b", window_n=8,
        )
        assert self._rows(one) == self._rows(dist)

    def test_matches_incremental_operator(self, docs):
        from evm_indexer_spark.operators.corpus import (
            _window_hashes, incremental_dup_window_stats,
        )

        row = docs.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).first()
        split = (int(row.lo) + int(row.hi) + 1) // 2
        hist = (
            _window_hashes(
                docs.filter(F.col("doc_id") < split), "doc_id", "text", 8
            )
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("occ"))
        )
        batch = docs.filter(F.col("doc_id") >= split)
        dist = incremental_dup_window_stats(batch, hist, "doc_id", "text", 8)
        one = corpus.dup_window_spans_onetask(
            docs.select(
                "doc_id", "text", (F.col("doc_id") >= split).alias("__b")
            ),
            "doc_id", "text", "__b", window_n=8,
        )
        assert self._rows(one) == self._rows(dist)

    def test_hostile_rows(self, spark):
        rows = [
            (1, "a b c d e f g h a b c d e f g h pad"),  # self-dup
            (2, "a b c d e f g h unique tail here now"),
            (3, "short"),
            (4, ""),
            (5, None),
            (6, " leading  space\tand trailing "),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        dist = corpus.duplicate_window_spans(df, "doc_id", "text", 8)
        one = corpus.dup_window_spans_onetask(
            df.select("doc_id", "text", F.lit(True).alias("__b")),
            "doc_id", "text", "__b", window_n=8,
        )
        assert self._rows(one) == self._rows(dist)
