"""Corpus-preparation operators for training-data pipelines: splits,
cleaning, packing, contamination audit.

All are single-pass native expressions chosen for engine-portability:
the sampling/split hash is md5 (identical in Spark, DuckDB, and most
warehouses) so split membership is reproducible anywhere, unlike
xxhash64 which is Spark-specific. Every operator here has an exact SQL
oracle in the driver catalog (q45-q48).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf string annotations
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .partitioning import spread_small_scan


def hash_bucket(key_col: Column | str, buckets: int = 100) -> Column:
    """Deterministic engine-portable bucket in [0, buckets): first 8 hex
    digits of md5(key) mod buckets. Stable across engines and runs —
    the property a train/test split must have."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return h % buckets


def hash_sample(df: DataFrame, key_col: str, percent: int) -> DataFrame:
    """Keep ~percent% of rows by hash bucket — reproducible sampling
    (unlike df.sample, which depends on partitioning and seed plumbing)."""
    return df.filter(hash_bucket(key_col) < percent)


def train_test_split(
    df: DataFrame, key_col: str, test_percent: int = 10
) -> DataFrame:
    """Adds a ``split`` column ('train'/'test') by hash bucket."""
    return df.withColumn(
        "split",
        F.when(hash_bucket(key_col) < test_percent, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def clean_text(col: Column | str, impl: str = "arrow") -> Column:
    """Training-text normalization: control chars → space, whitespace
    collapsed, trimmed.

    Arrow-batched by default for the same reason as
    ``text.fingerprint``: two chained Java regex passes are the cost,
    and Python ``re`` with ASCII semantics produces identical output
    ~2× faster per core (ASCII ``\\s`` matches Java's default; the
    final strip removes the single leading/trailing space the collapse
    can leave, exactly like Spark/DuckDB ``trim``)."""
    c = F.col(col) if isinstance(col, str) else col
    if impl == "jvm":
        no_ctrl = F.regexp_replace(c, r"[\x00-\x1F]", " ")
        return F.trim(F.regexp_replace(no_ctrl, r"\s+", " "))
    if impl != "arrow":
        raise ValueError(f"unknown impl {impl!r}")
    import re as _re

    from pyspark.sql.functions import pandas_udf

    ctrl = _re.compile(r"[\x00-\x1F]")
    ws = _re.compile(r"\s+", _re.ASCII)

    @pandas_udf("string")
    def _clean(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: None
            if t is None
            else ws.sub(" ", ctrl.sub(" ", t)).strip(" ")
        )

    return _clean(c)


def scrub_pii(col: Column | str) -> Column:
    """Mask obvious PII spans (emails, long digit runs) with typed
    placeholders — the cheap native first pass before any model-based
    scrubber."""
    c = F.col(col) if isinstance(col, str) else col
    no_email = F.regexp_replace(
        c, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    return F.regexp_replace(no_email, r"\d{9,}", "<NUM>")


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = 2048,
    shard_col: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-budget packs by cumulative token count
    (the chunking form of sequence packing: deterministic, one window
    pass, no driver loop).

    Scale shape: the window partitions by *shard_col* so each shard
    packs independently in parallel — a global ORDER BY would serialize
    the corpus through one task. Pass shard_col=None only for small
    deterministic fixtures.
    """
    n_tok = F.size(F.split(F.col(text_col), r"\s+"))
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(shard_col) if shard_col else W.partitionBy()
    ).orderBy(id_col).rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = F.sum(n_tok).over(w)
    out = df.select(
        *( [F.col(shard_col)] if shard_col else [] ),
        F.col(id_col),
        n_tok.alias("n_tok"),
        F.floor((cum - n_tok) / max_tokens).cast("long").alias("pack_id"),
    )
    return out


def split_contamination(
    df: DataFrame, id_col: str, text_col: str, test_percent: int = 10
) -> DataFrame:
    """Contamination audit: canonical fingerprints present in BOTH train
    and test splits (per-fingerprint counts). Empty result = clean split.
    One groupBy over (fingerprint, split) then a pivot-style count —
    no self-join."""
    from ..functions.text import fingerprint

    with_split = train_test_split(df, id_col, test_percent)
    per = with_split.groupBy(fingerprint(text_col).alias("fp")).agg(
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
    )
    return per.filter((F.col("n_test") > 0) & (F.col("n_train") > 0))


def stratified_sample(
    df: DataFrame, key_col: str, strata_col: str, percents: dict[str, int]
) -> DataFrame:
    """Per-stratum hash sampling — the data-mixing primitive: keep
    ``percents[stratum]``% of each stratum (strata absent from the map
    are dropped). Same md5 bucketing as ``hash_sample``, so membership
    is engine-reproducible and consistent across runs; one scan, no
    shuffle.
    """
    pct = F.lit(-1)
    for stratum, p in sorted(percents.items()):
        pct = F.when(F.col(strata_col) == stratum, F.lit(p)).otherwise(pct)
    return df.filter(hash_bucket(key_col) < pct)


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Intra-document repetition score (the Gopher-rules family): the
    fraction of all bigrams taken by the single most repeated bigram.
    High values flag boilerplate/spam for quality filtering.

    The aggregation is keyed by the document itself, so it is a PURE
    MAP — one Arrow-batched pass, zero shuffles (earlier forms paid a
    posexplode + lead-window shuffle-and-sort of every token, 2.5s warm
    at sf1; an interpreted ``zip_with`` HOF was worse at 7.9s; this
    pass is 0.4s). Python's ASCII ``re.split`` reproduces Spark
    ``split(lower(text), '\\s+')`` exactly, empty edge tokens included.
    Documents with fewer than two tokens are excluded (no bigrams).
    """
    import re as _re
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    ws = _re.compile(r"\s+", _re.ASCII)

    @pandas_udf("double")
    def _top_frac(texts: pd.Series) -> pd.Series:
        def frac(t):
            if t is None:
                return None
            toks = ws.split(t.lower())
            if len(toks) < 2:
                return None
            counts = Counter(zip(toks, toks[1:]))
            return max(counts.values()) / (len(toks) - 1)

        return texts.map(frac)

    return (
        df.select(
            F.col(id_col).alias("id"),
            F.round(_top_frac(F.col(text_col)), 4).alias("top_bigram_frac"),
        )
        .filter(F.col("top_bigram_frac").isNotNull())
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """RAG-style overlapping token windows: chunk i covers tokens
    [i·stride, i·stride + chunk_size); the final chunk is the first one
    whose window reaches the document's end (shorter chunks are real —
    no padding). stride < chunk_size gives (chunk_size − stride) tokens
    of overlap between neighbors.

    Shape: split → ``sequence``-explode of chunk indexes → ``slice`` +
    ``concat_ws`` — all codegen'd array ops, map-side only (no shuffle):
    chunking distributes with the documents. Output: (id, chunk_idx,
    n_chunks, chunk_text).
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    toks = F.split(F.col(text_col), r"\s+")
    # number of stride steps whose window still starts inside the doc
    # AND hasn't already covered the end: ceil(max(n - size, 0)/stride)+1
    n_chunks = (
        F.ceil(F.greatest(F.size(toks) - chunk_size, F.lit(0)) / stride) + 1
    ).cast("bigint")
    e = df.select(
        F.col(id_col).alias("id"),
        toks.alias("__t"),
        n_chunks.alias("n_chunks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("chunk_idx"),
    )
    return e.select(
        "id",
        "chunk_idx",
        "n_chunks",
        F.concat_ws(
            " ", F.slice(F.col("__t"), F.col("chunk_idx") * stride + 1, chunk_size)
        ).alias("chunk_text"),
    )


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_ellipsis_line_frac: float = 0.3,
    max_bullet_line_frac: float = 0.9,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models", table A1 — the public filter set most pretraining
    pipelines start from), each as a boolean column plus the composite
    ``gopher_ok``:

    - word count in [min_words, max_words];
    - mean word length in [min_mean_word_len, max_mean_word_len];
    - #/… symbols per word below *max_symbol_word_ratio*;
    - ≤ *max_ellipsis_line_frac* of lines ending in an ellipsis and
      ≤ *max_bullet_line_frac* starting with a bullet;
    - at least *min_stop_hits* occurrences of common English stopwords
      (the "contains real prose" proxy).

    All native expressions (split/regexp_count/filter-free) over one
    projection — a pure map, no shuffle; compose with
    ``repetition_metrics`` for the intra-doc repetition rules, which
    need a grouped pass.
    """
    from ..functions.text import stopword_hits

    c = F.col(text_col)
    words = F.split(F.trim(c), r"\s+")
    n_words = F.size(words)
    mean_wl = (F.length(F.regexp_replace(c, r"\s+", ""))) / n_words
    n_symbols = F.regexp_count(c, F.lit(r"(#|\.\.\.|…)"))
    lines = F.split(c, r"\n")
    n_lines = F.size(lines)
    n_ellipsis_end = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    n_bullet_start = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*([-*•]|\d+[.)])\s"))
    )
    stops = stopword_hits(
        c, ["the", "be", "to", "of", "and", "that", "have", "with"]
    )

    word_count_ok = n_words.between(min_words, max_words)
    word_len_ok = mean_wl.between(min_mean_word_len, max_mean_word_len)
    symbol_ok = (n_symbols / n_words) <= max_symbol_word_ratio
    ellipsis_ok = (n_ellipsis_end / n_lines) <= max_ellipsis_line_frac
    bullet_ok = (n_bullet_start / n_lines) <= max_bullet_line_frac
    stop_ok = stops >= min_stop_hits

    return df.select(
        F.col(id_col).alias("id"),
        word_count_ok.alias("word_count_ok"),
        word_len_ok.alias("word_len_ok"),
        symbol_ok.alias("symbol_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        bullet_ok.alias("bullet_ok"),
        stop_ok.alias("stop_ok"),
        (
            word_count_ok & word_len_ok & symbol_ok
            & ellipsis_ok & bullet_ok & stop_ok
        ).alias("gopher_ok"),
    )


def top_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    k: int = 100,
    min_count: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Most-duplicated token n-grams across the WHOLE corpus — the
    memorization/boilerplate audit: n-grams occurring verbatim in many
    documents are prime candidates for dedup rules, license-header
    stripping, and train-set memorization analysis (the same statistic
    the dedup literature computes at 13-grams).

    Output: (ngram, n_occurrences, n_docs) for the top *k* by total
    occurrences (ties broken by ngram text, so the cut is
    deterministic), restricted to n-grams seen at least *min_count*
    times. Tokens are lowercase maximal non-whitespace runs; documents
    shorter than *n* tokens contribute nothing. ``id_col`` rows are
    assumed distinct documents (the standard corpus contract).

    Two strategies, both exact:

    - ``"pandas"`` (the ``"auto"`` choice): Arrow-batched
      ``mapInPandas`` partial aggregation — each partition tokenizes
      its documents and emits one (ngram, occurrences, docs) row per
      LOCAL distinct n-gram; a groupBy then sums the partials. Because
      every document lives in exactly one partition, summing
      per-partition document counts IS the global distinct-document
      count — no count-distinct expand, no per-occurrence row ever
      exists. Shuffle volume is (partitions × local-distinct), the
      same map-side-combine bound a JVM hash agg gets, but the
      explode-free counting loop measured 4× faster (1.0s vs 4.3s
      warm at sf1): Spark's Generate + row-at-a-time hash-agg probing
      of 2.6M UTF8String keys is the cost the JVM path can't shed,
      not the regex (0.6s) and not the shuffle (35k rows). Caveat:
      the Python counter doesn't spill — size partitions so
      local-distinct n-grams fit in worker memory (the default 128MB
      splits do), or pass ``strategy="expr"``.
    - ``"expr"``: pure-JVM form — zero-width-lookahead
      ``regexp_extract_all`` (one native regex pass, as
      ``dedup.shingle_rows``) → explode → one uniform hash shuffle
      with a count-distinct expand for n_docs; top-k is
      TakeOrderedAndProject. Keep for deployments that exclude Python
      workers.

    Negative results (measured warm at sf1, don't retry blindly):
    manual two-phase groupBy(ngram, id) → groupBy(ngram) lost to the
    expand (5.5s vs 4.3s, 32-way); top-k-then-exact-n_docs via a
    broadcast BNLJ ``contains`` re-scan lost (6.6s — 100 substring
    searches × every document); per-row higher-order ``F.filter`` over
    pattern arrays is interpreted and catastrophically slow (52s).
    """
    if n < 1 or k < 1:
        raise ValueError("n and k must be positive")
    if strategy not in ("auto", "pandas", "expr"):
        raise ValueError(f"unknown strategy {strategy!r}")
    df = spread_small_scan(df)
    if strategy == "expr":
        agg = _ngram_counts_expr(df, id_col, text_col, n)
    else:
        agg = _ngram_counts_pandas(df, text_col, n)
    return (
        agg.filter(F.col("n_occurrences") >= min_count)
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def _ngram_counts_pandas(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """(ngram, n_occurrences, n_docs) via partition-local counters.

    Tokenization matches the JVM/oracle semantics exactly: lowercase,
    split on ASCII whitespace runs (``re.ASCII`` pins ``\\s`` to the
    same class Java and RE2 use — Python's default would also split on
    Unicode spaces), empties discarded."""
    import re

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("ngram", StringType(), False),
            StructField("occ", LongType(), False),
            StructField("docs", LongType(), False),
        ]
    )
    ws = re.compile(r"\s+", re.ASCII)

    def _partial(batches):
        from collections import Counter

        occ: Counter = Counter()
        docs: Counter = Counter()
        for pdf in batches:
            for t in pdf[text_col]:
                if t is None:
                    continue
                toks = [w for w in ws.split(t.lower()) if w]
                m = len(toks) - (n - 1)
                if m <= 0:
                    continue
                gs = [" ".join(toks[i : i + n]) for i in range(m)]
                occ.update(gs)
                docs.update(set(gs))
        if occ:
            ks = list(occ.keys())
            yield pd.DataFrame(
                {
                    "ngram": ks,
                    "occ": [occ[g] for g in ks],
                    "docs": [docs[g] for g in ks],
                }
            )

    part = df.select(text_col).mapInPandas(_partial, schema)
    return part.groupBy("ngram").agg(
        F.sum("occ").alias("n_occurrences"),
        F.sum("docs").alias("n_docs"),
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 1,
    eval_small: bool | None = None,
    broadcast_below: int = 2_000_000,
) -> DataFrame:
    """Benchmark decontamination by verbatim n-gram overlap — the
    GPT-3-style check: a training document is contaminated when ≥
    *min_hits* of its token n-gram windows appear verbatim anywhere in
    the held-out/eval corpus. Gram definition is exactly
    ``top_ngrams``'s (lowercase, ASCII-whitespace tokens, space-joined
    windows), so the q65-proven tokenization parity carries over.

    Shape at scale — SIZE-ROUTED on the eval gram cardinality:

    * benchmark-suite regime (the common one): the eval side collapses
      to its DISTINCT gram set, small relative to a pretraining corpus,
      so it BROADCASTS and the train side stays one scan + map-side
      hash probe — no train-gram shuffle at all.
    * big-eval regime (eval is itself corpus-sized): a forced broadcast
      would OOM the driver/executors, so the probe routes to a plain
      shuffle hash join on the gram key instead — both sides hash-
      partition, AQE coalesces, and the plan degrades to a shuffle
      rather than falling over.

    The routing probe is one cheap eval text pass with a scalar
    aggregate (``sum(size(grams))`` — TOTAL gram occurrences, an upper
    bound on the distinct count, so it never shuffles gram strings and
    errs only toward the safe shuffle plan). NOTE the probe is EAGER:
    with the default ``eval_small=None`` this function runs one Spark
    job at CALL time (eval scan + scalar aggregate), and the eval gram
    extraction runs a second time when the returned plan executes.
    Plan-only callers — anything building a DAG without immediately
    acting on it — should pass ``eval_small=True/False`` explicitly,
    which keeps the call fully lazy and makes the eval regexp pass run
    exactly once. All outputs are exact integers — no float thresholds
    to drift between engines, and both regimes are value-identical by
    construction.

    Returns (id, n_windows, n_contaminated, contaminated) for every
    train document, zero-filled where nothing matched."""
    if n < 1 or min_hits < 1:
        raise ValueError("n and min_hits must be positive")
    grams = gram_array(text_col, n)
    spread = spread_small_scan(train)
    if eval_small is None:
        total = eval_df.select(
            F.sum(F.size(grams)).alias("__n")
        ).first()["__n"]
        eval_small = (total or 0) <= broadcast_below
    # ONE regexp pass over the train text: window counts and hit counts
    # both aggregate from the same exploded stream, and the explode is
    # OUTER — a windowless doc (< n tokens) emits one NULL-gram row
    # that joins nothing and counts zero windows, so the zero-fill
    # restore join (a second pruned scan + broadcast join per entry
    # through round 14) disappears; the per-doc aggregate is the plan's
    # only exchange in the broadcast regime.
    exploded = spread.select(F.col(id_col).alias("id"), grams.alias("__g")).select(
        "id", F.posexplode_outer("__g").alias("__i", "__gram")
    )
    eval_grams = (
        eval_df.select(F.explode(grams).alias("__gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # big regime: pin a shuffled hash join (eval side builds per-
    # partition maps) so a low size ESTIMATE can't re-broadcast a side
    # the probe just measured as too big.
    probe_side = (
        F.broadcast(eval_grams) if eval_small else eval_grams.hint("shuffle_hash")
    )
    return (
        exploded.join(probe_side, "__gram", "left")
        .groupBy("id")
        .agg(
            F.count("__i").alias("n_windows"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "id",
            "n_windows",
            "n_contaminated",
            (F.col("n_contaminated") >= min_hits).alias("contaminated"),
        )
    )


def skipgram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 1,
    eval_small: bool | None = None,
    broadcast_below: int = 2_000_000,
) -> DataFrame:
    """Fuzzy benchmark decontamination: a train document is
    contaminated when ≥ *min_hits* of its token n-gram windows match an
    eval window ALLOWING ONE TOKEN SUBSTITUTION — the tolerance real
    decontamination pipelines add on top of q80's verbatim check
    (an eval answer with one number changed, a typo fix, a renamed
    entity). Tokenization is exactly ``ngram_contamination``'s
    (lowercase, ASCII-whitespace tokens).

    Mechanism — masked skip-gram keys, not edit distance: each n-token
    window emits n variants with position j replaced by a placeholder
    (``\\x01``); two windows agree on a masked variant **iff** they
    differ in at most that one position, so "≤ 1 substitution" becomes
    an EXACT equi-join on the masked key. The placeholder is a
    control byte no natural-language token contains; a corpus whose
    raw text embeds literal ``\\x01`` bytes could align a real token
    against a mask and over-report (both engines apply the identical
    construction, so the oracle contract is unaffected) — sanitize
    such corpora with ``clean_text`` first. No quadratic window×window comparison exists
    anywhere: work is n× the verbatim pipeline's map volume, the join
    stays a hash join on strings, and the same size routing applies —
    distinct eval keys broadcast in the benchmark-suite regime and fall
    back to a shuffle hash join when eval is corpus-sized. As with
    ``ngram_contamination``, the default ``eval_small=None`` runs ONE
    eager probe job at call time; plan-only callers pass True/False.

    A window that matches through SEVERAL masked variants still counts
    once (distinct window positions), so every output is an exact
    integer: (id, n_windows, n_contaminated, contaminated).

    Join topology (round 15): both regimes join outer-exploded variant
    rows against the routed probe and collapse per window, then per
    doc; windowless docs ride along as NULL rows, so no zero-fill
    restore join is needed."""
    if n < 1 or min_hits < 1:
        raise ValueError("n and min_hits must be positive")
    if n > 32:
        raise ValueError("n > 32 masked variants per window is a mistake")
    norm = _token_split(text_col)
    spread = spread_small_scan(train)
    if eval_small is None:
        # same upper-bound probe as ngram_contamination, scaled by the
        # n masked variants each window emits
        total = eval_df.select(
            F.sum(
                F.greatest(F.size(norm) - n + 1, F.lit(0)) * n
            ).alias("__n")
        ).first()["__n"]
        eval_small = (total or 0) <= broadcast_below
    eval_win = skipgram_windows(eval_df.select(text_col), text_col, n)
    # ONE tokenize+mask pass over the train text feeds everything (the
    # q80 lesson — at corpus scale the text pass IS the cost), at
    # WINDOW granularity with outer explode: windowless docs ride along
    # as NULL rows, so the zero-fill restore join disappears.
    eval_keys = (
        skipgram_keys(eval_win, n)
        .select("__key")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    probe_side = (
        F.broadcast(eval_keys) if eval_small else eval_keys.hint("shuffle_hash")
    )
    # ONE shape for both regimes: outer-exploded variant rows joined
    # against the routed probe, collapsed per window then per doc
    # (two-level hash agg, map-side partial on both levels, no Expand
    # node — a window matching via SEVERAL masked variants counts
    # once). An n-probe window-level topology (n BroadcastHashJoins
    # folded with greatest, no collapse exchange) was A/B'd here in
    # round 15 and LOST (+0.3s at sf0.1, interleaved medians 2.63 vs
    # 2.31): eight chained joins in one stage blow past the codegen
    # budget where the exploded probe stays a tight loop, and the
    # (id, pos) exchange it saves carries only one slim row per window.
    vrows = window_variant_rows(spread, id_col, text_col, n).select(
        "id", "__i", F.explode_outer("__vars").alias("__key")
    )
    win_hits = (
        vrows.join(probe_side, "__key", "left")
        .groupBy("id", "__i")
        .agg(
            F.max(
                F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
            ).alias("__h")
        )
    )
    per_doc = win_hits.groupBy("id").agg(
        F.count("__i").alias("n_windows"),
        F.sum("__h").alias("n_contaminated"),
    )
    return per_doc.select(
        "id",
        "n_windows",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) >= min_hits).alias(
            "contaminated"
        ),
    )


def _token_split(text_col: str):
    """Column: ASCII-whitespace token array under the repo-wide
    tokenization (lowercase, runs of whitespace collapsed)."""
    return F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
        " ",
    )


# Train-side probe chunk for contamination_onetask, in WINDOWS: bounds
# the per-chunk variant matrix at 2^18 × n_var uint64 (~16 MB at n=8)
# plus same-order sliding temps, instead of a corpus-sized matrix
# (round-15 ADVICE — GB-scale transient at the task cap with long
# docs). Large enough that the sf0.1 fixture (~2.4M-window corpora
# chunk ~10×) keeps full numpy vectorization per chunk.
_PROBE_CHUNK_WINDOWS = 1 << 18


def contamination_onetask(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    eval_flag_col: str,
    n: int = 8,
    mode: str = "ngram",
    min_hits: int = 1,
    probe_chunk_windows: int | None = None,
) -> DataFrame:
    """The ENTIRE contamination check — eval key-set build + train
    window probe — in ONE Arrow task, for corpora that fit one worker
    (the driver bounds the input by ``CONTAM_TASK_CAP`` from parquet
    footers in ``driver_queries._fits_one_task``; the q27/q66
    small-corpus tier rule applied to the contamination family).

    Why it exists: below ~20k docs the distributed plan is five AQE
    stages (spread exchange, eval distinct, broadcast build, window
    collapse, doc agg) of scheduling floor around <0.5s of actual text
    work. The 100-TB path is the distributed broadcast/shuffle plan in
    ``ngram_contamination`` / ``skipgram_contamination`` (the sf1
    replica gates it); this is the provably-identical small tier.

    *docs* carries BOTH sides with ``eval_flag_col`` true on eval
    rows; output rows are emitted for the NON-eval rows only, with
    ``ngram_contamination``'s exact contract: (id, n_windows,
    n_contaminated, contaminated), exact integers. Tokenization is the
    Python twin of ``_token_split`` (ASCII ``\\s+`` collapse, trim of
    ' ' only, lowercase) — the same mirroring discipline as
    ``dedup.minhash_pairs_onetask``; a window matching via several
    masked variants counts once by construction (one set probe per
    window)."""
    import re

    import numpy as np
    from pyspark.sql.types import (
        BooleanType, LongType, StructField, StructType,
    )

    if mode not in ("ngram", "skipgram"):
        raise ValueError(f"unknown mode {mode!r}")
    if n < 1 or min_hits < 1:
        raise ValueError("n and min_hits must be positive")
    ws = re.compile(r"\s+", re.ASCII)
    schema = StructType(
        [
            StructField("id", docs.schema[id_col].dataType, False),
            StructField("n_windows", LongType(), False),
            StructField("n_contaminated", LongType(), False),
            StructField("contaminated", BooleanType(), False),
        ]
    )

    def _tokens(t: str) -> list:
        # Python twin of _token_split: ASCII \s+ collapse, lower,
        # strip ' ' ONLY (F.trim removes spaces, not unicode ws)
        return ws.sub(" ", t.lower()).strip(" ").split(" ")

    def _wins(t: list):
        if len(t) >= n and t[0] != "":
            return len(t) - n + 1
        return 0

    # Probe engine (round 15, guide §4.2 — vectorized native code inside
    # the kernel): tokens are interned to dense int ids, every window
    # gets a 64-bit polynomial hash H = Σ r[tid_{s+j}]·p^j (uint64
    # wraparound), and a masked skip-gram variant at position j is the
    # O(1) adjustment H + (r[MASK] − r[tid_{s+j}])·p^j — so the whole
    # variant matrix is a handful of numpy ops instead of ~2M Python
    # string joins (1.0→0.4s kernel on the sf0.1 fixture, probe twin
    # committed equal to the string form). Hash equality is only a
    # FILTER: every candidate is verified against the exact token-id
    # tuple, so collisions cannot flip an answer (no false negatives by
    # construction — equal windows hash equal). The mask id is also the
    # interned id of a literal "\x01" token, preserving the distributed
    # path's mask-collision semantics bit for bit on hostile text.
    _MASK = 0
    # captured BY VALUE at plan-build time so it ships inside the
    # pickled closure (a module-global read would resolve against the
    # executor's fresh import and ignore caller overrides)
    chunk_w = (
        probe_chunk_windows
        if probe_chunk_windows is not None
        else _PROBE_CHUNK_WINDOWS
    )

    def _splitmix64(x):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        z = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    n_var = n if mode == "skipgram" else 1

    def _score(batches):
        tok_id: dict = {"\x01": _MASK}
        train: list = []  # (id, token ids, n_windows)
        evals: list = []
        for pdf in batches:
            for did, t, fl in zip(
                pdf[id_col], pdf[text_col], pdf[eval_flag_col]
            ):
                toks = _tokens(t) if t is not None else [""]
                k = _wins(toks)
                g = tok_id.get
                tids = []
                for tk in toks:
                    v = g(tk)
                    if v is None:
                        v = len(tok_id)
                        tok_id[tk] = v
                    tids.append(v)
                (evals if fl else train).append((did, tids, k))
        with np.errstate(over="ignore"):
            r = _splitmix64(np.arange(1, len(tok_id) + 1, dtype=np.uint64))
            pw = np.empty(n, dtype=np.uint64)
            acc = np.uint64(1)
            p_mult = np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
            for i in range(n):
                pw[i] = acc
                acc = acc * p_mult
            rmask = r[_MASK]

            def _variant_hashes(docs):
                """(W, n_var) variant-hash matrix over every valid
                window of *docs*, plus per-window doc index / local
                position and the kept docs' token-id lists."""
                kept = [(t, k) for _, t, k in docs if k > 0]
                ks = np.array([k for _, k in kept], dtype=np.int64)
                if not len(kept):
                    z = np.empty(0, dtype=np.int64)
                    return np.empty((0, n_var), dtype=np.uint64), z, z, []
                lens = np.array([len(t) for t, _ in kept], dtype=np.int64)
                allt = np.fromiter(
                    (x for t, _ in kept for x in t),
                    dtype=np.int64,
                    count=int(lens.sum()),
                )
                offs = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=offs[1:])
                rall = r[allt]
                sw = np.lib.stride_tricks.sliding_window_view(rall, n)
                h_all = (sw * pw).sum(axis=1, dtype=np.uint64)
                w_total = int(ks.sum())
                win_doc = np.repeat(np.arange(len(ks)), ks)
                kcum = np.zeros(len(ks), dtype=np.int64)
                np.cumsum(ks[:-1], out=kcum[1:])
                win_local = np.arange(w_total) - kcum[win_doc]
                starts = offs[win_doc] + win_local
                hv = h_all[starts]
                if mode == "ngram":
                    vm = hv.reshape(-1, 1)
                else:
                    vm = np.empty((w_total, n), dtype=np.uint64)
                    adj = rmask - rall
                    for j in range(n):
                        vm[:, j] = hv + adj[starts + j] * pw[j]
                return vm, win_doc, win_local, [t for t, _ in kept]

            e_vm, e_doc, e_loc, e_tids = _variant_hashes(evals)
            eval_uniq = np.unique(e_vm.ravel())
            # The TRAIN side is probed in bounded WINDOW chunks
            # (round-15 ADVICE): a monolithic t_vm at the task cap with
            # long documents is a (windows × n_var) uint64 matrix plus
            # same-order sliding temps — GB-scale transient memory.
            # Only the eval matrices and the verification bucket stay
            # resident (eval is the small side by contract); the bucket
            # grows lazily with the candidate hashes each chunk
            # actually needs, so every lookup sees exactly the
            # monolithic bucket's entries for its hashes — identical
            # results by construction.
            kept_train = [d for d in train if d[2] > 0]
            hit_counts = np.zeros(max(len(kept_train), 1), dtype=np.int64)
            bucket: dict = {}
            bucketed: set = set()
            i0 = 0
            while i0 < len(kept_train):
                i1, wsum = i0, 0
                while i1 < len(kept_train) and (
                    wsum == 0
                    or wsum + kept_train[i1][2] <= chunk_w
                ):
                    wsum += kept_train[i1][2]
                    i1 += 1
                t_vm, t_doc, t_loc, t_tids = _variant_hashes(
                    kept_train[i0:i1]
                )
                cand = np.isin(t_vm, eval_uniq)
                cand_rows = np.nonzero(cand.any(axis=1))[0]
                if len(cand_rows):
                    # exact verification: bucket the eval variants
                    # whose hash appears among THIS chunk's candidates
                    # (minus already-bucketed), then compare token-id
                    # tuples
                    need = np.unique(t_vm[cand])
                    new = np.array(
                        [h for h in need.tolist() if h not in bucketed],
                        dtype=np.uint64,
                    )
                    if len(new):
                        bucketed.update(new.tolist())
                        e_hit = np.isin(e_vm, new)
                        for wi, j in zip(*np.nonzero(e_hit)):
                            w = list(
                                e_tids[e_doc[wi]][e_loc[wi] : e_loc[wi] + n]
                            )
                            if mode == "skipgram":
                                w[j] = _MASK
                            bucket.setdefault(int(e_vm[wi, j]), set()).add(
                                tuple(w)
                            )
                    hits = np.zeros(t_vm.shape[0], dtype=bool)
                    for wi in cand_rows:
                        base = t_tids[t_doc[wi]][t_loc[wi] : t_loc[wi] + n]
                        for j in np.nonzero(cand[wi])[0]:
                            w = list(base)
                            if mode == "skipgram":
                                w[j] = _MASK
                            es = bucket.get(int(t_vm[wi, j]))
                            if es is not None and tuple(w) in es:
                                hits[wi] = True
                                break
                    np.add.at(hit_counts, t_doc + i0, hits)
                i0 = i1
        ids, nw, nc, flag = [], [], [], []
        gi = 0
        for did, _tids, k in train:
            if k > 0:
                h = int(hit_counts[gi])
                gi += 1
            else:
                h = 0
            ids.append(did)
            nw.append(k)
            nc.append(h)
            flag.append(h >= min_hits)
        yield pd.DataFrame(
            {
                "id": pd.Series(ids, dtype=object),
                "n_windows": pd.Series(nw, dtype="int64"),
                "n_contaminated": pd.Series(nc, dtype="int64"),
                "contaminated": pd.Series(flag, dtype=bool),
            }
        )

    return (
        docs.select(id_col, text_col, eval_flag_col)
        .coalesce(1)
        .mapInPandas(_score, schema)
    )


def skipgram_windows(df: DataFrame, text_col: str, n: int, *keep) -> DataFrame:
    """One row per *n*-token window of *text_col*: (*keep*, __pos, __w)
    where __w is the token slice. Shared by ``skipgram_contamination``
    and the arrival stream's skip-gram mode — identical windowing by
    construction."""
    toks = df.select(*keep, _token_split(text_col).alias("__t"))
    return (
        toks.filter((F.size("__t") >= n) & (F.element_at("__t", 1) != ""))
        .select(
            *keep,
            F.posexplode(
                F.sequence(F.lit(1), F.size("__t") - n + 1)
            ).alias("__i", "__pos"),
            F.col("__t"),
        )
        .select(
            *keep,
            "__pos",
            F.slice("__t", F.col("__pos"), n).alias("__w"),
        )
    )


def masked_variants(n: int):
    """Column: array of the n masked one-substitution variants of the
    ``__w`` window column — position j replaced by the ``\\x01``
    placeholder. Shared by ``skipgram_keys`` and
    ``window_variant_rows``."""
    return F.array(
        *[
            F.concat_ws(
                " ",
                *[
                    F.lit("\x01") if k == j
                    else F.element_at("__w", k + 1)
                    for k in range(n)
                ],
            )
            for j in range(n)
        ]
    )


def window_variant_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, __i, __vars array<string>) — one row per n-token window
    carrying its n masked variants as an ARRAY, plus one NULL row per
    windowless doc (``posexplode_outer`` over ``window_start_seq``).

    The window-level shape both contamination regimes explode and
    probe; because windowless docs ride along as NULL rows, no
    zero-fill restore join is needed. ``__vars`` is NULL
    on the windowless row: ``masked_variants`` over a NULL window would
    otherwise concat to a bare mask token via concat_ws's NULL-skipping
    and could join a real eval key."""
    toks = df.select(
        F.col(id_col).alias("id"), _token_split(text_col).alias("__t")
    )
    wins = toks.select(
        "id",
        F.col("__t"),
        F.posexplode_outer(window_start_seq(F.col("__t"), n)).alias(
            "__i", "__p"
        ),
    )
    w = wins.select(
        "id", "__i", F.slice("__t", F.col("__p"), n).alias("__w")
    )
    return w.select(
        "id",
        "__i",
        F.when(F.col("__w").isNotNull(), masked_variants(n)).alias("__vars"),
    )


def skipgram_keys(win: DataFrame, n: int, *keep) -> DataFrame:
    """The n masked one-substitution variants of each window row:
    (*keep*, __key) — position j replaced by the ``\\x01`` placeholder
    (a control byte no natural-language token contains; see
    ``skipgram_contamination`` for the caveat on corpora embedding
    literal \\x01 bytes)."""
    return win.select(*keep, F.explode(masked_variants(n)).alias("__key"))


def window_start_seq(toks_col, n: int):
    """array<int> of 1-based window start positions — empty (not NULL)
    when the doc has no complete window, so ``posexplode_outer`` emits
    exactly one NULL row per windowless doc."""
    valid = (F.size(toks_col) >= n) & (F.element_at(toks_col, 1) != "")
    return F.when(
        valid, F.sequence(F.lit(1), F.size(toks_col) - n + 1)
    ).otherwise(F.array().cast("array<int>"))


def gram_array(text_col: str, n: int):
    """Column expression: the array of space-joined *n*-token windows
    of *text_col* under the repo-wide gram definition (lowercase,
    ASCII-whitespace tokens) — ONE native regexp pass, no UDF. The
    single tokenization every gram consumer shares (``top_ngrams``,
    ``ngram_contamination``, the q80 oracle SQL, and the
    contamination-on-arrival stream), so engines can never drift."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    pat = r"(?<= )(?=(" + r"\S+" + (r" \S+" * (n - 1)) + r"))"
    return F.regexp_extract_all(F.concat(F.lit(" "), norm), F.lit(pat), 1)


def _ngram_counts_expr(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(ngram, n_occurrences, n_docs) in pure JVM expressions."""
    grams = gram_array(text_col, n)
    e = df.select(F.col(id_col).alias("id"), grams.alias("__g"))
    return (
        e.select("id", F.explode("__g").alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
    )


# (category, pattern, replacement) — patterns restricted to syntax with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): explicit
# classes, \b word boundaries, greedy bounded repeats. Order matters:
# emails are redacted before IPv4 so a host-like mail domain is
# consumed by [EMAIL]; SSN (3-2-4) and phone (3-3-4) are disjoint.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "[PHONE]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
]


def _window_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, pos, h) for every *n*-token window; h is the
    engine-portable md5-60 hash of the space-joined window."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("t"),
    )
    return (
        toks.filter(F.size("t") >= n)
        .select(
            "id",
            F.explode(F.sequence(F.lit(1), F.size("t") - n + 1)).alias("pos"),
            F.col("t"),
        )
        .select(
            "id",
            "pos",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("pos"), n))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
    )


def _span_stats(
    df: DataFrame, id_col: str, text_col: str, dup_rows: DataFrame, n: int
) -> DataFrame:
    """Fold duplicated-window rows into per-doc span statistics.

    *dup_rows*: (id, pos) — one row per FLAGGED window of the docs in
    *df* (round 16: unflagged windows no longer flow here at all, see
    below). Output: doc_id, n_tokens, n_windows, dup_windows,
    covered_tokens (distinct token positions under ≥1 flagged window —
    overlapping spans union, never sum).

    The union length is computed by interval merging over the sorted
    span starts — every span has length *n* and starts are unique per
    doc, so ``Σ min(n, next_pos − pos) + n(last)`` equals the distinct
    covered-position count. One id-partitioned window replaces the
    earlier explode(n positions)+distinct, shrinking the covered-span
    shuffle by n× (8× here; at sf10 that explode carried 190M rows).

    Round 15: the window/dup-window counts and the covered-span union
    fold into ONE aggregate over ONE evaluation of the flagged frame.
    Round 16 (guide §2.3 — shuffle fewer bytes): only DUP rows reach
    the id-partitioned exchange/sort/window. ``n_windows`` never
    needed the unflagged rows — it equals ``max(n_tokens − n + 1, 0)``
    by construction (the window explode emits exactly
    ``size(t) − n + 1`` rows for ``size(t) ≥ n`` and none otherwise),
    so it is computed in the restore projection from the same
    tokenization that already produces ``n_tokens``. The
    nearest-FOLLOWING-dup distance is now a plain ``lag(pos)`` over
    (id ORDER BY pos DESC) — over dup-only rows the previous row IS
    the next flagged window start (identical to the round-15
    ``last(when(dup, pos))`` growing frame restricted to dup rows)."""
    from pyspark.sql import Window as W

    run = W.partitionBy("id").orderBy(F.desc("pos"))
    nxt_dup = F.lag("pos").over(run)
    seg = F.least(F.lit(n), F.coalesce(nxt_dup - F.col("pos"), F.lit(n)))
    agg = (
        dup_rows.withColumn("seg", seg)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("dup_windows"),
            F.sum("seg").cast("long").alias("covered_tokens"),
        )
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.lower(F.col(text_col)), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    n_windows = F.when(
        F.col("n_tokens") >= n, F.col("n_tokens") - n + 1
    ).otherwise(F.lit(0))
    return (
        base.join(agg, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            n_windows.cast("long").alias("n_windows"),
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
        )
    )


def duplicate_window_spans(
    df: DataFrame, id_col: str, text_col: str, window_n: int = 8
) -> DataFrame:
    """Exact duplicated-substring audit, the windowed formulation of
    "train-data substring dedup": hash every ``window_n``-token window,
    flag windows whose hash occurs more than once ANYWHERE in the
    corpus (any position, any document — including twice in the same
    document), and report per document how much text the union of
    flagged spans covers.

    Output: ``doc_id, n_tokens, n_windows, dup_windows,
    covered_tokens`` (covered = distinct token positions under at
    least one duplicated window — overlapping spans are unioned, not
    summed). Documents shorter than ``window_n`` tokens report zero
    windows.

    Scale shape (round 16, guide §2.2/§2.3): ONE tokenize+hash pass —
    the scan is spread when its split count starves the executors
    (``spread_small_scan``; at sf1 the single-row-group fixture ran
    the whole md5 pass in ONE task, 3.9s of the 6.9s total) — one
    analytic count over the 60-bit window hash partitioning (uniform
    key — one shuffle of slim (id, pos, h) rows, no join against a
    count table, and the single-consumer shape evaluates the md5 pass
    exactly once: a count-aggregate + hash-join-back formulation was
    measured here and LOST because per-branch column pruning makes
    the two exchanges non-identical, defeating exchange reuse and
    running the whole hash pass twice), then only the rows whose hash
    repeats survive into the per-doc span fold (``_span_stats``). No
    all-pairs stage anywhere — cost is O(total windows), and every
    hash is the engine-portable md5-60 form, so the flags themselves
    (not just aggregate counts) reproduce in any engine (q73 oracle).
    """
    from pyspark.sql import Window as W

    win = _window_hashes(
        spread_small_scan(df), id_col, text_col, window_n
    )
    dup = (
        win.select(
            "id",
            "pos",
            (F.count(F.lit(1)).over(W.partitionBy("h")) > 1).alias("dup"),
        )
        .filter(F.col("dup"))
        .select("id", "pos")
    )
    return _span_stats(df, id_col, text_col, dup, window_n)


def incremental_dup_window_stats(
    batch: DataFrame,
    history_hashes: DataFrame,
    id_col: str,
    text_col: str,
    window_n: int = 8,
) -> DataFrame:
    """Duplicated-span statistics for ARRIVING documents only: a window
    of a batch doc is flagged iff its hash already occurs in the
    history index (``history_hashes``: (h, occ) rows, the
    ``streaming/dupwin_stream.WindowHashIndex`` layout) or at least
    twice within the batch itself — exactly the flags the batch
    operator would assign after the arrival, restricted to the batch
    (hist_occ + batch_occ > 1 ⟺ hist_occ ≥ 1 ∨ batch_occ ≥ 2, since
    the window exists in the batch). The q76 oracle exploits that
    identity: DuckDB recomputes the FULL-corpus batch truth and
    restricts it to arriving ids.

    Cost is O(batch windows): one window pass over the batch (scan
    spread when starved, exactly as ``duplicate_window_spans``; the
    single-consumer analytic count keeps the md5 pass evaluated once —
    see that docstring for the measured count-agg-join-back negative),
    one analytic count, one hash equi-join against the slim (h, occ)
    index, and only flagged rows reach the per-doc span fold (round
    16). The history text is never re-tokenized. Same
    O(batch)-not-O(corpus) shape as dedup/audit-on-arrival."""
    from pyspark.sql import Window as W

    win = _window_hashes(
        spread_small_scan(batch), id_col, text_col, window_n
    )
    hist = history_hashes.groupBy("h").agg(F.sum("occ").alias("hist_occ"))
    dup = (
        win.withColumn("bc", F.count(F.lit(1)).over(W.partitionBy("h")))
        .join(hist, "h", "left")
        .filter(
            F.coalesce(F.col("hist_occ"), F.lit(0)) + F.col("bc") > 1
        )
        .select("id", "pos")
    )
    return _span_stats(batch, id_col, text_col, dup, window_n)


def dup_window_spans_onetask(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    batch_flag_col: str,
    window_n: int = 8,
) -> DataFrame:
    """The duplicated-span audit in ONE Arrow task, for corpora under
    ``driver_queries.DUPWIN_TASK_CAP`` (the q27/q66/q80 small-corpus
    tier applied to q76). *docs* carries history AND batch rows with
    *batch_flag_col* true on the scored (batch) side; a batch window is
    flagged iff its hash count over history + batch exceeds one —
    with every row flagged batch this is exactly
    ``duplicate_window_spans``'s global rule, with a history split it
    is ``incremental_dup_window_stats``'s arrival rule (the identity
    its docstring derives). Tokenization is the Python twin of the
    operator's ``split(lower(text), '\\s+')`` (ASCII class, trailing
    empties kept — re.split matches Spark's limit=-1); hashes are the
    same md5-60 ints, memoized per distinct window string. Output
    contract and zero-fill semantics are ``_span_stats``'s, exact
    integers. The distributed plans remain the 100-TB path (sf1-gated)."""
    import hashlib
    import re

    from pyspark.sql.types import (
        BooleanType, LongType, StructField, StructType,
    )

    ws = re.compile(r"\s+", re.ASCII)
    n = window_n
    schema = StructType(
        [
            StructField("doc_id", docs.schema[id_col].dataType, False),
            StructField("n_tokens", LongType(), True),
            StructField("n_windows", LongType(), False),
            StructField("dup_windows", LongType(), False),
            StructField("covered_tokens", LongType(), False),
        ]
    )

    def _score(batches):
        from collections import Counter

        memo: dict = {}
        counts: Counter = Counter()
        rows: list = []  # (id, n_tokens, hashes list or None, is_batch)
        for pdf in batches:
            for did, t, fl in zip(
                pdf[id_col], pdf[text_col], pdf[batch_flag_col]
            ):
                if t is None:
                    rows.append((did, None, None, bool(fl)))
                    continue
                toks = ws.split(t.lower())
                if len(toks) < n:
                    rows.append((did, len(toks), None, bool(fl)))
                    continue
                hs = []
                for i in range(len(toks) - n + 1):
                    g = " ".join(toks[i : i + n])
                    h = memo.get(g)
                    if h is None:
                        h = int(
                            hashlib.md5(g.encode("utf-8")).hexdigest()[:15],
                            16,
                        )
                        if len(memo) < _MEMO_CAP_LOCAL:
                            memo[g] = h
                    hs.append(h)
                counts.update(hs)
                rows.append((did, len(toks), hs, bool(fl)))
        ids, ntk, nwd, dwd, cov = [], [], [], [], []
        for did, ntok, hs, fl in rows:
            if not fl:
                continue
            ids.append(did)
            ntk.append(ntok)
            if hs is None:
                nwd.append(0)
                dwd.append(0)
                cov.append(0)
                continue
            dup_pos = [i for i, h in enumerate(hs) if counts[h] > 1]
            nwd.append(len(hs))
            dwd.append(len(dup_pos))
            c = 0
            for j, p in enumerate(dup_pos):
                if j + 1 < len(dup_pos):
                    c += min(n, dup_pos[j + 1] - p)
                else:
                    c += n
            cov.append(c)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype=object),
                "n_tokens": pd.Series(ntk, dtype=object),
                "n_windows": pd.Series(nwd, dtype="int64"),
                "dup_windows": pd.Series(dwd, dtype="int64"),
                "covered_tokens": pd.Series(cov, dtype="int64"),
            }
        )

    return (
        docs.select(id_col, text_col, batch_flag_col)
        .coalesce(1)
        .mapInPandas(_score, schema)
    )


_MEMO_CAP_LOCAL = 1 << 20  # distinct-gram md5 memo bound per task


def pii_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Typed PII detection + redaction, entirely native Column regex
    (JVM-side, whole-stage codegen — a pure map, no UDF, no shuffle):
    per document, the match count of each category on the ORIGINAL
    text plus the text with every span replaced by its typed
    placeholder, applying ``PII_PATTERNS`` in order. The mandatory
    compliance pass of a pretraining pipeline — at 100 TB this is scan
    throughput, which is exactly why it must not leave the JVM.

    Counting contract: each category counts MATCHES OF ITS PATTERN ON
    THE ORIGINAL TEXT, independently — one span can contribute to two
    categories (a digits-only email domain also matches ipv4) even
    though redaction is sequential and consumes the span exactly once.
    The per-category counts therefore bound, not partition, the number
    of distinct PII spans; the q70 oracle states the same independent
    counts, so the gate checks this contract, not a distinct-span one.
    Callers needing distinct-span counts should re-count each pattern
    on the progressively redacted text, mirroring the replacement
    order, on both engines.

    Returns (id, n_email, n_ssn, n_phone, n_ipv4, redacted)."""
    text = F.col(text_col)
    cols = [F.col(id_col).alias("id")]
    for name, pat, _ in PII_PATTERNS:
        cols.append(F.regexp_count(text, F.lit(pat)).alias(f"n_{name}"))
    red = text
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    cols.append(red.alias("redacted"))
    return df.select(*cols)


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    domain_col: str,
    frac: float = 0.5,
) -> DataFrame:
    """Token-budget-exact data mixing: within each domain, walk the
    documents in engine-portable hash order (md5(id), id) and select
    while the running token count stays within ``frac`` of the
    domain's total tokens — the mixing primitive that targets TOKEN
    budgets, which is what pretraining mixes are actually specified
    in, rather than document-count percentages (``stratified_sample``).

    Output: (doc_id, domain, n_tokens, selected) for every input row.
    Deterministic in any engine: the order key is md5, the budget is
    ``floor(frac · Σ tokens)`` per domain, and a document is selected
    iff its cumulative sum (inclusive) fits the budget — the q78
    oracle recomputes the same walk in SQL window functions.

    Scale shape: one tokenize-count pass, one per-domain window
    cumsum (domains partition the shuffle; skewed domains are bounded
    by the same per-domain ordering any budgeted mix needs), one
    broadcastable per-domain totals join. No collect, no iteration.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(domain_col).alias("domain"),
        F.size(F.split(F.lower(F.col(text_col)), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    from pyspark.sql import Window as W

    order = W.partitionBy("domain").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    totals = base.groupBy("domain").agg(
        F.floor(F.sum("n_tokens") * F.lit(frac)).alias("budget")
    )
    return (
        base.withColumn(
            "cum", F.sum("n_tokens").over(order)
        )
        .join(F.broadcast(totals), "domain")
        .select(
            "doc_id",
            "domain",
            "n_tokens",
            (F.col("cum") <= F.col("budget")).alias("selected"),
        )
    )
