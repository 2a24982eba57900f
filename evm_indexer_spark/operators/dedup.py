"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-aware:

- **Exact**: hash-groupBy on a canonical digest — one shuffle on a
  uniformly distributed md5 key, no skew by construction.
- **MinHash + LSH**: shingle → K minhashes → band-bucket join. Candidate
  generation is a self-join on (band_id, band_hash) buckets, so the
  shuffle key space is bands × hash — uniform; at 100 TB the quadratic
  blow-up only happens *inside* buckets, which is the point of LSH.
- **SimHash**: 64-bit signature via per-token bit voting; near-dup
  candidates bucketed by signature prefix, verified by hamming distance.
- **N-gram Jaccard**: exact verification on candidate pairs via
  array_intersect/array_union — only ever run post-LSH, never all-pairs.

Everything is built from native expressions (xxhash64, transform,
aggregate, zip_with) — no Python UDFs, wholly codegen-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from .partitioning import spread_small_scan


def _norm_tokens(col: Column) -> Column:
    """Lowercase, strip punctuation, whitespace-split."""
    return F.split(
        F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", ""), r"\s+"
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (empty-safe).

    NOTE: higher-order ``transform``/``slice`` lambdas are evaluated
    interpreted (no whole-stage codegen), so this per-row form is ~20×
    slower than the exploded-row form — use ``shingle_rows`` in any
    pipeline; this stays for ad-hoc single-column use.
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    toks = F.split(norm, " ")
    # a doc with NO normalized content contributes NO shingles — the
    # adversarial-fixture find: the old whole-norm fallback gave every
    # contentless doc the same '' shingle, pairing all of them at
    # jaccard 1.0 (and forming one quadratic bucket at scale); dedup
    # claims need content evidence (see shingle_rows, _py_shingles)
    return F.when(norm == "", F.array().cast("array<string>")).when(
        F.size(toks) < n, F.array(norm)
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) rows via one overlapping-ngram regex + explode.

    Overlapping word n-grams come out of a single native
    ``regexp_extract_all`` with a zero-width lookahead capture —
    ``(?<= )(?=((\\S+) (\\S+) (\\S+)))`` matches at every token start and
    captures the n-gram ahead without consuming it. One narrow map, no
    window, no shuffle: this replaced a posexplode + lead-window form and
    measured ~4.5× faster cold (the window's exchange+sort plus its
    codegen were most of the shingling cost); a 100 TB corpus shingles
    embarrassingly parallel this way. Documents shorter than *n* tokens
    contribute their whole normalized text as a single shingle (same
    semantics as ``shingles``).

    ``distinct=True`` gives set semantics (required for Jaccard sizes /
    intersections) at the price of a full shuffle; min-aggregation is
    idempotent to duplicates, so the MinHash signature path passes
    ``False`` and skips that shuffle.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    pat = r"(?<= )(?=(" + r"(\S+)" + (r" (\S+)" * (n - 1)) + r"))"
    grams = F.regexp_extract_all(F.concat(F.lit(" "), norm), F.lit(pat), 1)
    sh = F.when(F.size(grams) == 0, F.array(norm)).otherwise(grams)
    # contentless docs (empty after normalization: whitespace-only,
    # punctuation-only, non-latin scripts under the a-z0-9 filter)
    # contribute NO shingles — the whole-norm fallback used to give
    # them all the identical '' shingle, pairing every such doc at
    # jaccard 1.0 AND concentrating them into one quadratic LSH bucket
    # at corpus scale (adversarial-fixture find, round 13)
    out = df.filter(norm != "").select(
        F.col(id_col).alias("id"), F.explode(sh).alias("s")
    )
    return out.distinct() if distinct else out


def _derive_hash(h: Column, k: int) -> Column:
    """k-th member of the hash family: rehash the base 64-bit hash with
    the member index. Hashing a fixed-width long is a handful of
    multiply-rotate steps in codegen — unlike re-hashing the shingle
    string K times — and avoids wrapping-multiply arithmetic that ANSI
    mode (Spark 4 default) rejects."""
    return F.xxhash64(h, F.lit(k))


def _minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """(id, sig array<bigint>[K]) via explode → base hash → K min aggregates.

    Scale shape: one narrow shuffle keyed by id with map-side combine
    (each task pre-mins its local shingles). The string xxhash64 runs
    once per shingle; each family member rehashes that fixed-width long,
    so the K aggregate expressions stay small in both generated code and
    per-row work. Duplicate shingles are left in (min is idempotent),
    saving the set-dedup shuffle.
    """
    exploded = shingle_rows(
        spread_small_scan(df), id_col, text_col, shingle_n, distinct=False
    ).withColumn("h0", F.xxhash64("s"))
    mins = [
        F.min(_derive_hash(F.col("h0"), k)).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    agg = exploded.groupBy("id").agg(*mins)
    return agg.select(
        "id", F.array(*[F.col(f"h{k}") for k in range(num_hashes)]).alias("sig")
    )


def banding_for_corpus(n_docs: int) -> tuple[int, int]:
    """(num_hashes, bands) sized by corpus scale — the ONE place the
    MinHash banding tiers live. The batch entry (q27), the incremental
    entry (q66), and any persisted ``MinHashBucketIndex`` must agree on
    banding or their bucket hash spaces silently never collide, so both
    catalog entries call this instead of carrying private copies.

    Tier rationale (miss law: per-pair miss = (1−j^r)^b summed over the
    measured pair-jaccard histogram — the sizing that fixed the sf1
    recall gaps in round 5):

    - ≤2k docs: r=1 × 64 bands — full recall; any shared minhash is a
      candidate, affordable where dense verification is cheap.
    - ≤20k docs (the sf0.1 regime, min true-pair j=0.8): 16 hashes ×
      8 bands, expected misses Σ(1−j²)^8 ≈ 3e-4.
    - above (sf1+ synthetic regime bottoming at j=0.67): 48 × 24,
      expected misses ≈ 1e-6.

    For corpora with real mass at lower thresholds, re-derive b from
    the histogram — the doc count is a proxy for (pair count ×
    near-threshold mass), not a universal law."""
    if n_docs <= 2000:
        return 64, 64
    if n_docs <= 20000:
        return 16, 8
    return 48, 24


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, impl: str = "arrow"
) -> DataFrame:
    """Exact dedup by canonical fingerprint: one row per distinct content
    with the minimum id as the keeper and the duplicate count.

    ``impl`` forwards to ``fingerprint`` — "arrow" (default) wins on
    corpus-scale text (Python ``re`` strips char classes ~2.4× faster
    per core than Java's engine); "jvm" keeps the whole plan inside
    WholeStageCodegen, which wins when the corpus is small enough that
    the Arrow worker round-trip is the cost (identical output either
    way — q26 routes on parquet-footer row counts)."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            fingerprint(text_col, impl=impl).alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.min("id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _py_shingles(norm: str, n: int) -> list[str]:
    """Shingle list matching ``shingle_rows`` on ALREADY-normalized
    text: word n-grams, the whole normalized text when shorter than n
    tokens, or NOTHING when the normalized text is empty (contentless
    docs make no dedup claims — see shingle_rows)."""
    toks = norm.split(" ") if norm else []
    if not toks:
        return []
    if len(toks) < n:
        return [norm]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _mix64(z):
    """splitmix64 finalizer over wrapping uint64 numpy arrays."""
    import numpy as np

    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


_MEMO_CAP = 1 << 20  # distinct-shingle memo bound per task (~24 MB of dict)


def _blake2b_flat(sh_sets: list, memo: dict):
    """Flat uint64 array of the blake2b/8 hashes of every shingle in
    *sh_sets* (a list of NON-EMPTY sets), concatenated in list order,
    plus the per-set counts. *memo* dedupes the blake2b work across
    documents — shingle vocabularies repeat heavily in near-duplicate
    corpora (9.3 occurrences per distinct shingle on the sf0.1 gate
    fixture) — and is capped at ``_MEMO_CAP`` entries so a huge task
    cannot grow it unboundedly (past the cap, hashes are computed
    directly; values are identical either way)."""
    from hashlib import blake2b

    import numpy as np

    flat = []
    counts = np.empty(len(sh_sets), dtype=np.int64)
    for i, sh in enumerate(sh_sets):
        counts[i] = len(sh)
        for s in sh:
            h = memo.get(s)
            if h is None:
                h = int.from_bytes(
                    blake2b(s.encode(), digest_size=8).digest(), "big"
                )
                if len(memo) < _MEMO_CAP:
                    memo[s] = h
            flat.append(h)
    base = np.array(flat, dtype=np.uint64)
    return base, counts


def _band_hash_matrix(base, counts, num_hashes: int, bands: int):
    """(bands, n_docs) uint64 band-hash matrix for documents whose
    concatenated shingle hashes are *base* with per-doc *counts* —
    BIT-IDENTICAL to the per-document fold (XOR/splitmix are
    elementwise; a per-document ``min`` equals the segmented
    ``minimum.reduceat``), but the numpy call count is per BATCH
    instead of per document: the round-15 profile showed the per-doc
    form spending ~0.2s of q83's ~0.7s kernel purely on small-array
    dispatch at sf0.1."""
    import numpy as np

    rows_per_band = num_hashes // bands
    GOLD = np.uint64(0x9E3779B97F4A7C15)
    ks = (np.arange(1, num_hashes + 1, dtype=np.uint64) * GOLD)[:, None]
    band_seed = np.arange(bands, dtype=np.uint64) ^ GOLD
    member_idx = np.arange(bands) * rows_per_band
    # mix DISTINCT shingle hashes once and gather per instance: shingle
    # vocabularies repeat ~9× across near-duplicate corpora (the same
    # redundancy the blake2b memo exploits), and the K-row splitmix
    # chain was the kernel's dominant stage (0.46s of 0.91s at sf0.1 —
    # round 16 profile); one gather replaces ~10 elementwise passes
    # over the K× instance matrix. Bit-identical: same mix of the same
    # values, duplicates resolved by indexed lookup.
    uniq, inv = np.unique(base, return_inverse=True)
    mixed = _mix64(uniq[None, :] ^ ks)[:, inv]  # (K, total shingles)
    offsets = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])
    mins = np.minimum.reduceat(mixed, offsets, axis=1)  # (K, n_docs)
    h = np.repeat(band_seed[:, None], len(counts), axis=1)
    for j in range(rows_per_band):
        h = _mix64(h ^ mins[member_idx + j, :])
    return h


def _minhash_banded_pandas(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band, bh) via Arrow-batched per-document signing — the
    portable ``blake2b`` hash family (stdlib, process-independent, as
    uniform as a crypto hash gets; the miss-law sizing in
    ``banding_for_corpus`` is family-agnostic).

    Derived members are splitmix64 over (base ^ k·golden) — vectorized
    in wrapping uint64 numpy, K·|shingles| ops per document. Band
    hashes chain splitmix64 over the band's member minima seeded by the
    band index, so differently-banded rows never collide — the same
    property the JVM path gets from hashing the band position in.

    Why: the exploded-shingle K-aggregate signature stage is dominated
    by Spark's explode + hash-agg row machinery (the q65/q28 constant),
    ~1.3s for 5k docs at sf0.1 vs ~0.4s here — and candidate
    generation evaluates the banded subtree once per join side.

    NOT interoperable with ``"expr"`` rows: the families differ, so an
    index and its queries must use one strategy throughout —
    ``MinHashBucketIndex`` stamps it next to the banding for exactly
    that reason."""
    import re

    import numpy as np
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType, False),
            StructField("band", IntegerType(), False),
            StructField("bh", LongType(), False),
        ]
    )
    ws = re.compile(r"\s+", re.ASCII)
    strip = re.compile(r"[^a-z0-9\s]", re.ASCII)

    def _partial(batches):
        import pandas as pd

        memo: dict = {}  # shingle -> blake2b hash, shared across batches
        # uint64 wraparound is the HASH, not an error — silence numpy's
        # scalar-overflow warning (it would also fire per worker)
        with np.errstate(over="ignore"):
            for pdf in batches:
                kept, sh_sets = [], []
                for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                    if t is None:
                        continue  # the JVM explode drops null-text docs
                    norm = ws.sub(" ", strip.sub("", t.lower())).strip()
                    sh = set(_py_shingles(norm, shingle_n))
                    if not sh:
                        continue  # contentless doc: no signature rows
                    kept.append(doc_id)
                    sh_sets.append(sh)
                if not kept:
                    continue
                base, counts = _blake2b_flat(sh_sets, memo)
                h = _band_hash_matrix(base, counts, num_hashes, bands)
                yield pd.DataFrame(
                    {
                        "id": np.repeat(
                            np.asarray(kept, dtype=object), bands
                        ),
                        "band": np.tile(
                            np.arange(bands, dtype=np.int32), len(kept)
                        ),
                        # h is (bands, n_docs); per-doc band order is
                        # the transpose's row order, exactly the old
                        # per-doc extend(range(bands)) emission
                        "bh": h.T.ravel().astype(np.int64),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(_partial, schema)


def minhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    strategy: str = "auto",
) -> DataFrame:
    """Slim (id, band, bh) LSH bucket rows — one row per document per
    band, 16 bytes through any downstream shuffle. The shared candidate
    -generation substrate: ``minhash_candidates`` self-joins it, and the
    incremental pipeline (``streaming/dedup_stream``) persists it as the
    corpus index new batches join against — the banding AND strategy
    MUST match between index and query sides (bh hashes band position
    in, so rows from different configurations never collide silently;
    the two strategies use different hash families and are likewise
    non-colliding by construction).

    ``strategy``: ``"expr"`` (the ``"auto"`` pick) = the pure-JVM
    explode + K-min-aggregate form over the xxhash64 family;
    ``"pandas"`` = Arrow-batched per-document signing over the portable
    blake2b family (see ``_minhash_banded_pandas``) — for deployments
    that need engine-portable, Spark-version-independent bucket rows.
    Candidate sets differ between families only through the LSH miss
    law, and verification is exact either way.

    NEGATIVE RESULT (r6, measured): unlike SimHash — where the Arrow
    voting path took the whole entry 4.3→1.4s — pandas signing here
    wins only the isolated banded stage (1.31→0.93s at sf0.1) and the
    FULL pipeline is a wash (2.87 vs 2.49s at sf0.1, 11.8 vs 11.4s at
    sf1): candidate generation evaluates the banded subtree once per
    join side either way, and the exact-Jaccard verification pass, not
    signing, dominates MinHash end to end. Default stays on the JVM
    family; don't re-flip without re-measuring the full entry.

    Signature pass: min aggregates only — corpus-wide shingle *sets*
    are never materialized (the invariant that keeps verification
    memory O(candidates), not O(corpus)); candidate docs get their
    sets from a second, semi-join-pruned shingle pass at verification.
    """
    if strategy not in ("auto", "pandas", "expr"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "pandas":
        return _minhash_banded_pandas(
            spread_small_scan(df), id_col, text_col, num_hashes, bands,
            shingle_n,
        )
    rows_per_band = num_hashes // bands
    # shingling + K rehash-mins are CPU-bound; a starved scan (one big
    # row group) serializes them — widen it (no-op at real input widths)
    ex = shingle_rows(
        spread_small_scan(df), id_col, text_col, shingle_n, distinct=False
    ).withColumn("h0", F.xxhash64("s"))
    mins = [
        F.min(_derive_hash(F.col("h0"), k)).alias(f"h{k}") for k in range(num_hashes)
    ]
    base = ex.groupBy("id").agg(*mins)
    return base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"h{b * rows_per_band + j}")
                                for j in range(rows_per_band)
                            ],
                            F.lit(b),
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    strategy: str = "auto",
    pair_source: str = "join",
) -> DataFrame:
    """Candidate near-dup pairs from the MinHash band buckets — the
    slim half of ``minhash_near_duplicates``, exposed separately so
    scale proofs and recall audits can measure candidate generation
    (where a corpus² blow-up would live) without paying the exact
    verification pass, whose shuffle volume is output-size-bound (it
    carries both documents' shingle sets per surviving pair).

    Plan shape:
      1. signature job — narrow, no shuffle;
      2. explode to ``bands`` rows/doc, shuffle on (band, band_hash) —
         uniform key space;
      3. in-bucket pair production (``_bucket_pairs``), deduped.

    ``pair_source`` (see ``_bucket_pairs`` for the measurements):
    ``"join"`` (default — the memory-streaming, sf10-proven shape) or
    ``"group"``, which signs the corpus once instead of once per join
    side and wins 2× at sub-100k-doc scales (3.9→1.7s at sf0.1,
    5.9→5.1s at sf1, identical candidate sets) — the catalog entries
    route it by footer row counts. The in-bucket quadratic is the same
    in both forms and bounded by the LSH key selectivity.

    Exact-duplicate clusters should be collapsed by
    ``exact_duplicates`` upstream: m identical docs produce m(m-1)/2
    candidate pairs here.
    """
    banded = minhash_banded(
        df, id_col, text_col, num_hashes, bands, shingle_n, strategy
    )
    return _bucket_pairs(banded, ["band", "bh"], pair_source)


def _bucket_pairs(
    rows: DataFrame, bucket_cols: list[str], pair_source: str = "group"
) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, for every pair of ids that
    share a bucket. ``rows`` needs (id, *bucket_cols).

    ``pair_source``: ``"group"`` = one groupBy shuffle into
    collect_list + per-bucket tail-slice emission — evaluates ``rows``
    once and wins 2× at gate/bench scales where the join's broadcast
    side re-evaluates the whole signature pipeline; ``"join"`` = the
    streaming self-join — evaluates ``rows`` once per side but buffers
    nothing per bucket. MEASURED at sf10 (500k docs, 740k buckets,
    621M in-bucket pairs): identical candidate counts and wall time
    (1116s vs 1096s), but the grouped aggregation pushed the
    single-JVM heap past 64g where the join form fit — callers above
    ~100k docs should pass "join" (the catalog entries route by footer
    row counts). On a real cluster the buffer is per-executor, but the
    join's streaming shape is still the right default at corpus
    scale."""
    if pair_source == "join":
        a, b = rows.alias("a"), rows.alias("b")
        on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols]
        cond = on[0]
        for c in on[1:]:
            cond = cond & c
        return (
            a.join(b, cond & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    g = (
        rows.groupBy(*bucket_cols)
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    p1 = g.select("ids", F.posexplode("ids").alias("i", "x"))
    p2 = p1.select(
        "x", F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("y")
    )
    return (
        p2.select(
            F.least("x", "y").alias("id_a"), F.greatest("x", "y").alias("id_b")
        )
        # a duplicate id within one bucket would emit a self-pair here;
        # the join path excludes them structurally via a.id < b.id
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        # downstream consumers (id-prune union ×2 + the pair join) all
        # read the same dedup Exchange, which AQE materializes once
        # and reuses; nothing persisted or checkpointed (a checkpoint
        # here pinned executor blocks for the session lifetime)
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    strategy: str = "auto",
    pair_source: str = "join",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact Jaccard verification:
    ``minhash_candidates`` band buckets, then exact Jaccard on the
    candidates only, via shingle-set intersection.

    Returns (id_a, id_b, jaccard) with id_a < id_b,
    jaccard >= threshold.
    """
    cand = minhash_candidates(
        df, id_col, text_col, num_hashes, bands, shingle_n, strategy,
        pair_source,
    )
    return verify_jaccard_pairs(
        cand, df, id_col, text_col, shingle_n, jaccard_threshold
    )


def verify_jaccard_pairs(
    cand: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    jaccard_threshold: float,
) -> DataFrame:
    """Exact Jaccard over candidate (id_a, id_b) pairs: shingle sets are
    built ONLY for candidate docs — the semi-join prunes the corpus
    before the explode, so this second pass shuffles O(candidates)
    arrays at any scale (band selectivity bounds it), never the corpus.
    ``docs`` must contain the text of every id appearing in ``cand``
    (pairs referencing absent ids drop out of the inner joins).

    Sets are carried as 64-bit xxhash64(shingle) values, not strings:
    the per-pair ``array_intersect`` runs on longs and the set arrays
    shrink ~3× through the joins — measured 12.2→10.9s warm for the
    full MinHash entry at sf1 (3.6→2.9s at sf0.1), identical output.
    A hash collision inside one document pair would merge two shingles
    and perturb that pair's jaccard; for ~500-shingle documents that is
    ~|A|·|B|/2^64 ≈ 1e-14 per pair — the same order as the r=1 banding
    miss bound the catalog already carries — and deterministic (seeded
    hash), so a gate once green stays green."""
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    cand_docs = docs.join(
        cand_ids.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    sets = (
        shingle_rows(cand_docs, id_col, text_col, shingle_n, distinct=False)
        .select("id", F.xxhash64("s").alias("s"))
        .groupBy("id")
        .agg(F.collect_set("s").alias("sh"))
    )
    pairs = cand.join(
        sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index_buckets: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    strategy: str = "auto",
    pair_source: str = "join",
) -> DataFrame:
    """Near-dup pairs INVOLVING the arriving batch: new-vs-indexed-corpus
    plus new-vs-new, exactly verified — the incremental form of
    ``minhash_near_duplicates`` for a growing corpus.

    ``index_buckets`` is the persisted (id, band, bh) table built with
    the SAME banding parameters (see ``minhash_banded``); only the new
    batch is re-signed, so per-batch cost is O(batch + collisions), not
    O(corpus) — the property that makes dedup-on-arrival viable when the
    historical corpus is 100 TB. ``corpus_docs`` supplies text for
    verification and must cover the indexed ids (at scale that read is
    pruned to candidate ids by the semi-join inside verification, so it
    is a point-lookup-shaped scan, not a corpus pass). New ids must not
    collide with indexed ids.

    Returns (id_a, id_b, jaccard), id_a < id_b, at least one side new.

    Candidate generation is ONE flagged bucket pass: indexed rows
    (is_new=false) union the batch rows (is_new=true), and pairs with
    at least one new member come out of a single flagged self-join
    (``pair_source="join"``, the memory-streaming default — same
    measurement as ``_bucket_pairs``) or a single flagged grouping
    (``"group"``, which signs the batch exactly once; the catalog
    routes it below ~100k docs). Both produce the same pair set as
    the original two-join form (new-vs-index + new-vs-new, unioned):
    measured back-to-back at sf1, 25k+25k split, 194 200 reported
    pairs — two-join med 16.2-17.9s, flagged join med 13.0s, flagged
    grouping med 14.3/min 12.8; output identical across all three.
    old-old pairs are rejected by the flag predicate, so the index
    side still contributes only bucket probes, never a corpus²
    blow-up.
    """
    new_banded = minhash_banded(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n, strategy
    )
    both = index_buckets.select(
        "id", "band", "bh", F.lit(False).alias("n")
    ).unionByName(new_banded.select("id", "band", "bh", F.lit(True).alias("n")))
    cand = _flagged_bucket_pairs(both, ["band", "bh"], pair_source)
    return verify_jaccard_pairs(
        cand, corpus_docs, id_col, text_col, shingle_n, jaccard_threshold
    )


def _flagged_bucket_pairs(
    both: DataFrame, bucket_cols: list[str], pair_source: str = "join"
) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, for bucket-sharing pairs with
    at least one flagged member — the incremental candidate pass shared
    by text (MinHash) and embedding (hyperplane) dedup-on-arrival.
    ``both`` needs (id, *bucket_cols, n boolean); old-old pairs are
    rejected by the flag predicate, so the indexed side contributes
    bucket probes, never a corpus² blow-up. Same group/join trade as
    ``_bucket_pairs``."""
    if pair_source == "join":
        on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols]
        cond = on[0]
        for c in on[1:]:
            cond = cond & c
        return (
            both.alias("a")
            .join(
                both.alias("b"),
                cond
                & (F.col("a.id") < F.col("b.id"))
                & (F.col("a.n") | F.col("b.n")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    g = (
        both.groupBy(*bucket_cols)
        .agg(F.collect_list(F.struct("id", "n")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    p1 = g.select("ms", F.posexplode("ms").alias("i", "a"))
    p2 = p1.select(
        "a", F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("b")
    ).filter(F.col("a.n") | F.col("b.n"))
    return (
        p2.select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_pairs_onetask(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    new_flag_col: str | None = None,
) -> DataFrame:
    """The ENTIRE MinHash pipeline — sign, band, bucket, exact-verify —
    in ONE Arrow task, for corpora that fit one worker (the driver
    bounds the input from parquet footers — ``BRUTE_TASK_CAP`` in
    ``driver_queries._fits_one_task``).

    Why it exists: below ~20k docs the distributed pipeline is pure
    stage-scheduling floor — 11 AQE jobs at ~0.2s each against ~0.5s of
    actual compute (q27 at sf0.1: 2.4s distributed vs one job here; see
    the catalog entry for the measured numbers). The 100-TB path is the
    distributed plan; this is the small-corpus tier of the same
    routing that picks broadcast joins over shuffles.

    Semantics: identical contract to ``minhash_near_duplicates`` on the
    portable blake2b family (bit-identical signing math to
    ``_minhash_banded_pandas``), with verification on the raw shingle
    STRING sets — strictly more exact than the distributed path's
    hashed-set carry. With ``new_flag_col`` set (a boolean column),
    only pairs with at least one flagged member are emitted — the
    incremental form (``incremental_minhash_pairs``) restricted the
    same way the flagged bucket pass restricts it.

    Returns (id_a, id_b, jaccard double), id_a < id_b.
    """
    import re

    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [
            StructField("id_a", df.schema[id_col].dataType, False),
            StructField("id_b", df.schema[id_col].dataType, False),
            StructField("jaccard", DoubleType(), False),
        ]
    )
    ws = re.compile(r"\s+", re.ASCII)
    strip = re.compile(r"[^a-z0-9\s]", re.ASCII)
    threshold = float(jaccard_threshold)
    cols = [id_col, text_col] + ([new_flag_col] if new_flag_col else [])

    def _all(batches):
        import pandas as pd

        sets: dict = {}  # id -> shingle string set
        flags: dict = {}
        buckets: dict = {}  # (band, bh) -> [ids]
        kept: list = []
        sh_sets: list = []
        with np.errstate(over="ignore"):
            for pdf in batches:
                flag_vals = (
                    pdf[new_flag_col]
                    if new_flag_col
                    else [True] * len(pdf)
                )
                for doc_id, t, fl in zip(
                    pdf[id_col], pdf[text_col], flag_vals
                ):
                    if t is None:
                        continue  # the JVM explode drops null-text docs
                    norm = ws.sub(" ", strip.sub("", t.lower())).strip()
                    sh = set(_py_shingles(norm, shingle_n))
                    if not sh:
                        continue  # contentless doc: no signature rows
                    sets[doc_id] = sh
                    flags[doc_id] = bool(fl)
                    kept.append(doc_id)
                    sh_sets.append(sh)
            if kept:
                base, counts = _blake2b_flat(sh_sets, {})
                hm = _band_hash_matrix(base, counts, num_hashes, bands)
                hl = hm.T.tolist()  # per doc: [band0 hash, band1 hash, ..]
                for d, hrow in zip(kept, hl):
                    for b, bh in enumerate(hrow):
                        buckets.setdefault((b, bh), []).append(d)
        seen = set()
        ra, rb, rj = [], [], []
        for ids in buckets.values():
            if len(ids) < 2:
                continue
            for i in range(len(ids) - 1):
                for j in range(i + 1, len(ids)):
                    x, y = ids[i], ids[j]
                    if x == y:
                        continue
                    p = (x, y) if x < y else (y, x)
                    if p in seen:
                        continue
                    seen.add(p)
                    if new_flag_col and not (flags[x] or flags[y]):
                        continue
                    sa, sb = sets[p[0]], sets[p[1]]
                    inter = len(sa & sb)
                    jac = inter / (len(sa) + len(sb) - inter)
                    if jac >= threshold:
                        ra.append(p[0])
                        rb.append(p[1])
                        rj.append(jac)
        yield pd.DataFrame({"id_a": ra, "id_b": rb, "jaccard": rj})

    return df.select(*cols).coalesce(1).mapInPandas(_all, schema)


def _token_hash(col: Column, token_hash: str) -> Column:
    """Per-token 64-bit-ish hash column.

    ``xxhash64`` — JVM-native, fastest, but private to Spark.
    ``md5_60`` — first 15 hex chars of md5 as a 60-bit bigint
    (``conv(substr(md5(t),1,15),16,10)``): reproducible in any engine
    with md5 (DuckDB: ``('0x' || substr(md5(t),1,15))::BIGINT``), which
    makes signature-valued outputs independently checkable by an
    external oracle. Costs one md5 per token instead of one xxhash64;
    use for auditability, not for the hot path.
    """
    if token_hash == "xxhash64":
        return F.xxhash64(col)
    if token_hash == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown token_hash {token_hash!r}")


def _simhash_signatures_pandas(
    df: DataFrame, id_col: str, text_col: str, n_bits: int
) -> DataFrame:
    """(id, sig) via Arrow-batched per-document bit voting — md5_60
    family only (hashlib.md5 reproduces the JVM/oracle token hash bit
    for bit; there is no stdlib xxhash64).

    Tokenization mirrors ``_norm_tokens`` EXACTLY, including its empty
    tokens: Spark's ``split`` keeps a leading empty string for text
    with leading whitespace and trailing empties under limit -1, so the
    Python side must split with ``re.split`` and NOT filter — an empty
    token is hashed and voted on both sides or neither. ``re.ASCII``
    pins ``\\s`` to Java's class. The same 2^21-1 token truncation
    applies (here only for parity — Python counters can't overflow).

    Why this path exists: the exploded-token SWAR aggregation is
    dominated by Spark's explode + hash-agg row machinery, not by
    hashing — 2.3s for 5k docs at sf0.1 where this pass runs ~0.4s
    (same constant q65's counter path shed). The signature subtree is
    evaluated once per join SIDE downstream, so the saving doubles."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType, False),
            StructField("sig", LongType(), False),
        ]
    )

    def _partial(batches):
        import re
        from hashlib import md5

        import numpy as np
        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)
        strip = re.compile(r"[^a-z0-9\s]", re.ASCII)
        weights = (
            np.uint64(1) << np.arange(n_bits, dtype=np.uint64)
        ).astype(np.uint64)
        shifts = np.arange(n_bits, dtype=np.uint64)
        # token -> md5_60 memo, shared across batches: token vocabularies
        # repeat heavily (8.7k occurrences per distinct token on the
        # sf0.1 fixture; md5 was 0.36s per signature pass there, 0.08s
        # memoized — and the signature subtree evaluates once per join
        # side). Capped like _blake2b_flat's memo; past the cap hashes
        # are computed directly, values identical.
        memo: dict = {}
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue  # the JVM explode drops null-text docs too
                toks = ws.split(strip.sub("", t.lower()))[: (1 << 21) - 1]
                h = np.empty(len(toks), dtype=np.uint64)
                for i, tok in enumerate(toks):
                    v = memo.get(tok)
                    if v is None:
                        v = int(md5(tok.encode()).hexdigest()[:15], 16)
                        if len(memo) < _MEMO_CAP:
                            memo[tok] = v
                    h[i] = v
                ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                # reinterpret as signed so bit 63 (n_bits=64) round-trips
                # to the same negative long the JVM shiftleft produces
                sigs.append(
                    int(
                        weights[2 * ones > len(toks)]
                        .sum(dtype=np.uint64)
                        .astype(np.int64)
                    )
                )
                ids.append(doc_id)
            if ids:
                yield pd.DataFrame({"id": ids, "sig": sigs})

    return df.select(id_col, text_col).mapInPandas(_partial, schema)


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_hash: str = "xxhash64",
    n_bits: int = 64,
    strategy: str = "auto",
) -> DataFrame:
    """(id, sig) *n_bits*-bit SimHash per document.

    ``strategy``: ``"pandas"`` = Arrow per-document voting (md5_60
    only — see ``_simhash_signatures_pandas``; the ``"auto"`` pick for
    that family), ``"expr"`` = the pure-JVM SWAR aggregation below
    (always used for xxhash64, which Python cannot reproduce).

    Scale shape: explode tokens → xxhash64 once per token → per-bit
    popcount votes → fold into the signature. The bit-i vote sum is
    2*ones_i − n, positive iff 2*ones_i > n, so summing bare extracted
    bits replaces 64 conditional aggregates.

    The 64 bit counters are SWAR-packed three to a long (21-bit lanes at
    offsets 0/21/42): 22 sum aggregates instead of 64 — the aggregation
    stage's generated code shrinks ~3× (codegen compile time was over
    half of this operator's cold run on small inputs, and the per-row
    aggregate work shrinks alongside). Lane arithmetic is overflow-safe
    under Spark ANSI mode: the top lane adds at most 2^42 (+ lower
    lanes) per token, so the running sum stays below 2^63 for any
    document inside the lane bound. Lanes bound documents at 2^21−1 =
    2,097,151 tokens; longer inputs should be pre-chunked (a lane
    overflow silently corrupts neighboring counters). A 4-lane/16-bit
    packing was measurably cheaper but its bit-48 lane overflows a
    signed sum at ≥32768 tokens — a job-killing exception under ANSI.
    """
    # ENFORCE the lane bound by truncation: tokens beyond 2^21−1 would
    # silently carry into the neighboring counter lane; a deterministic
    # signature over the first 2M tokens is strictly better than a
    # corrupted one (and such documents should be pre-chunked upstream
    # anyway)
    if not (0 < n_bits <= 64):
        raise ValueError("n_bits must be in 1..64")
    if strategy not in ("auto", "pandas", "expr"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "pandas" and token_hash != "md5_60":
        raise ValueError("pandas strategy requires token_hash='md5_60'")
    df = spread_small_scan(df)  # token votes are CPU-bound map work
    if strategy == "pandas" or (strategy == "auto" and token_hash == "md5_60"):
        return _simhash_signatures_pandas(df, id_col, text_col, n_bits)
    n_groups = (n_bits + 2) // 3
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.slice(_norm_tokens(F.col(text_col)), 1, (1 << 21) - 1)
        ).alias("t"),
    ).withColumn("h", _token_hash(F.col("t"), token_hash))
    # lane group g packs counters for bits 3g..3g+2
    packed = []
    for g in range(n_groups):
        lanes = None
        for j, bit in enumerate(range(3 * g, min(3 * g + 3, n_bits))):
            e = F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1))
            if j:
                e = F.shiftleft(e, 21 * j)
            lanes = e if lanes is None else lanes.bitwiseOR(e)
        packed.append(F.sum(lanes).alias(f"p{g}"))
    agg = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *packed)
    sig = F.lit(0).cast("long")
    for i in range(n_bits):
        g, lane = divmod(i, 3)
        ones = F.shiftrightunsigned(F.col(f"p{g}"), 21 * lane).bitwiseAND(
            F.lit(0x1FFFFF)
        )
        bit = F.when(
            ones * 2 > F.col("n"),
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        sig = sig.bitwiseOR(bit)
    return agg.select("id", sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    token_hash: str = "xxhash64",
    n_bits: int = 64,
    pair_source: str = "join",
) -> DataFrame:
    """SimHash near-dup pairs via multi-block bucketing.

    Each signature is exploded into ``n_blocks`` (block_idx, block_value)
    bucket keys; candidates are pairs sharing any block verbatim, then
    verified by full hamming distance. By pigeonhole this is *exact* for
    ``max_hamming < n_blocks`` (some block must be untouched) and
    high-recall beyond. The bucket join shuffles slim
    (id, sig, blk, value) rows on a uniform key — candidate blow-up is
    confined to within-bucket groups, same shape as the MinHash band
    join.

    Parameter economics: wider blocks (small *n_blocks*) keep buckets
    selective — the scale configuration. ``max_hamming < n_blocks``
    makes recall exact by pigeonhole but shrinks block width, growing
    bucket occupancy toward n²; affordable only on corpora small enough
    to verify densely (the driver's correctness gate runs that way, via
    ``token_hash='md5_60'`` so an external engine can recompute the
    signatures).
    """
    assert n_bits % n_blocks == 0
    width = n_bits // n_blocks
    mask = (1 << width) - 1
    # pair_source="group": ONE shuffle into per-bucket groups, pairs
    # emitted by tail-slice — the corpus is signed exactly once where
    # the self-join's AQE broadcast side rebuilds the signature
    # pipeline: 2.7→2.0s warm at sf1, identical output; the catalog
    # routes it below ~100k docs. "join" (default) is the streaming,
    # memory-flat shape — the same group-vs-join memory trade
    # _bucket_pairs documents at sf10, with (id, sig) structs in the
    # group arrays instead of bare ids.
    sigs = simhash_signatures(df, id_col, text_col, token_hash, n_bits)
    bucketed = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftrightunsigned("sig", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.blk", "bb.bv")
    if pair_source == "join":
        a, b = bucketed.alias("a"), bucketed.alias("b")
        paired = a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
    else:
        g = (
            bucketed.groupBy("blk", "bv")
            .agg(F.collect_list(F.struct("id", "sig")).alias("ms"))
            .filter(F.size("ms") > 1)
        )
        p1 = g.select("ms", F.posexplode("ms").alias("i", "a"))
        p2 = p1.select(
            "a", F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("b")
        )
        paired = p2.select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
    return (
        # filter BEFORE the dedup exchange: hamming is a pure pair
        # function, so rejecting non-matches first is semantics-neutral
        # but shrinks the dropDuplicates shuffle from all bucket
        # collisions to true matches (at corpus scale the collision
        # stream is the larger of the two by construction)
        paired.filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def _jaccard_all_pairs_pandas(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """All-pairs Jaccard in ONE Arrow task: coalesce(1) → shingle sets →
    inverted shingle index → pair intersection counters. Correct only
    because the callers bound the corpus — the whole input must fit one
    worker. 0.37s vs 1.49s for the six-stage JVM plan on the 500-doc
    slice (the cost there is stage scheduling, not compute).

    Hash parity detail: Spark's ``round(x, 4)`` rounds HALF_UP on the
    double's shortest decimal representation (BigDecimal.valueOf) —
    ``Decimal(repr(x))`` + ROUND_HALF_UP reproduces it exactly, where
    Python's builtin round() (banker's) would not."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [
            StructField("id_a", df.schema[id_col].dataType, False),
            StructField("id_b", df.schema[id_col].dataType, False),
            StructField("jaccard", DoubleType(), False),
        ]
    )
    ws = re.compile(r"\s+", re.ASCII)
    strip = re.compile(r"[^a-z0-9\s]", re.ASCII)
    q4 = Decimal("0.0001")

    def _all(batches):
        from collections import Counter, defaultdict

        import pandas as pd

        sets: dict = {}
        for pdf in batches:
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                norm = ws.sub(" ", strip.sub("", t.lower())).strip()
                sets[i] = set(_py_shingles(norm, shingle_n))
        inv = defaultdict(list)
        for i, sh in sets.items():
            for s in sh:
                inv[s].append(i)
        inter: Counter = Counter()
        for ids in inv.values():
            if len(ids) > 1:
                ids.sort()
                for x in range(len(ids)):
                    for y in range(x + 1, len(ids)):
                        inter[(ids[x], ids[y])] += 1
        ra, rb, rj = [], [], []
        for (a, b), c in inter.items():
            j = c / (len(sets[a]) + len(sets[b]) - c)
            if j >= threshold:
                ra.append(a)
                rb.append(b)
                rj.append(float(Decimal(repr(j)).quantize(q4, ROUND_HALF_UP)))
        yield pd.DataFrame({"id_a": ra, "id_b": rb, "jaccard": rj})

    return df.select(id_col, text_col).coalesce(1).mapInPandas(_all, schema)


def jaccard_all_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.1,
    strategy: str = "expr",
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard over a SMALL corpus.

    This is the brute tier: callers bound the input (the sliced q40
    entry, via ``jaccard_prefix_join(strategy="brute")``) — the
    corpus-scale exact join is ``jaccard_prefix_join``'s prefix plan,
    and LSH verification is ``verify_jaccard_pairs``. Output:
    (id_a, id_b, jaccard double rounded to 4) with id_a < id_b.

    ``strategy``: ``"expr"`` (default) = the distributed shingle
    self-join below, correct at any size; ``"pandas"`` = one Arrow
    task with an inverted shingle index (``_jaccard_all_pairs_pandas``)
    for inputs the caller has proven fit one worker — at those scales
    the six-stage JVM plan is pure scheduling floor (1.49s vs 0.37s on
    the 500-doc slice).

    Expr shape: one tokenization, one id-shuffle — shingles explode
    into groupBy(id).collect_set (set semantics AND per-doc size in one
    aggregation); both self-join sides re-derive (id, sz, shingle) rows
    from that subtree (ReusedExchange), sizes ride the pair groupBy as
    functionally-dependent keys. 0.65s vs 0.97s warm on the 500-doc
    sf1 slice vs the previous distinct+sizes-join shape (r6).

    NEGATIVE RESULT (r5, measured): a broadcast nested-loop self-join
    on per-doc ``array_distinct`` shingle arrays + ``array_intersect``
    — two stages instead of six — ran 4.4s warm vs 0.65s for the expr
    shape on the 500-doc sf1 slice: the equi-join touches only pairs
    that actually share a shingle; the BNLJ form pays an interpreted
    ~200-element string-array intersect for every one of the n²/2
    combinations. Stage count is not the cost model there — but for
    the PYTHON path it is: one task, no stages, compute measured in
    tens of milliseconds.
    """
    if strategy not in ("pandas", "expr"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "pandas":
        return _jaccard_all_pairs_pandas(
            df, id_col, text_col, shingle_n, threshold
        )
    sh = shingle_rows(df, id_col, text_col, shingle_n, distinct=False)
    sets = sh.groupBy("id").agg(F.collect_set("s").alias("sh"))
    sized = sets.select(
        "id", F.size("sh").alias("sz"), F.explode("sh").alias("s")
    )
    a = sized.select(F.col("id").alias("id_a"), "s", F.col("sz").alias("sz_a"))
    b = sized.select(F.col("id").alias("id_b"), "s", F.col("sz").alias("sz_b"))
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    strategy: str = "prefix",
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering — the
    scale-safe replacement for a corpus-wide ``jaccard_all_pairs``.

    ``strategy``: ``"prefix"`` (default) = the filtered plan, correct
    at any size; ``"brute"`` = ``jaccard_all_pairs``' one-Arrow-task
    kernel, for inputs the caller has proven fit one worker (the q40
    slice, routed from parquet footers): the prefix plan's extra
    stages only pay for themselves once the quadratic candidate space
    dwarfs them. Output is identical either way (the filter is
    provably lossless).

    Prefix-filter principle (Bayardo et al. "Scaling Up All Pairs
    Similarity Search"; PPJoin): order every document's shingles by
    ascending global document frequency; if J(A,B) ≥ t then the overlap
    is ≥ t·|A|, so the (|A| − ⌈t·|A|⌉ + 1) rarest shingles of A must
    contain at least one common element with B (and symmetrically) —
    pairs sharing NO prefix shingle provably cannot reach the threshold.
    The self-join therefore runs only on prefix rows keyed by the
    *rarest* shingles, which simultaneously bounds candidates and kills
    the common-shingle skew that makes a naive shingle self-join
    explode: stopword-like shingles are frequent, hence never in a
    prefix. Candidates are then verified with exact set intersection, so
    the output is byte-identical to the brute-force all-pairs result.
    """
    from pyspark.sql import Window as W

    if strategy not in ("prefix", "brute"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "brute":
        return jaccard_all_pairs(
            df, id_col, text_col, shingle_n, threshold, strategy="pandas"
        )

    # NOT persisted: pinning corpus-wide shingle rows in executor
    # storage is the O(corpus) hazard this operator exists to avoid —
    # and a pinned-forever DataFrame.persist (CacheManager holds it
    # until an explicit unpersist; the context cleaner never reclaims
    # it) was the round-3 retention leak. The multi-consumer reads
    # below dedupe through Catalyst exchange reuse instead: identical
    # shuffle subtrees materialize once as shuffle files on disk
    # (ReusedExchange in the plan), which is exactly the scale-safe
    # shape — spilled, not pinned.
    sh = shingle_rows(df, id_col, text_col, shingle_n)
    # document frequency as a window over the shingle partition — one
    # exchange on s, no groupBy+join round trip
    ranked = (
        sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("s")))
        .withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("id")))
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("id").orderBy("df", "s"))
        )
    )
    # prefix rows are the self-join input — ~(1−t) of each doc's
    # rarest shingles; both join sides are the same subtree, so the
    # window pipeline runs once and the second side is a ReusedExchange
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("id", "s")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        # three consumers (id-prune union ×2 + pair join) — all read the
        # same dedup Exchange, which AQE materializes once and reuses
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # verification sets reuse the ALREADY-SHUFFLED shingle rows (the
    # window pass partitioned them by id) pruned to candidate ids —
    # no re-tokenization of candidate docs, no second corpus pass
    sets = (
        ranked.select("id", "s")
        .join(cand_ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_set("s").alias("sh"))
    )
    pairs = cand.join(
        sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        pairs.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every shingle, keep the minimum of each *window* consecutive
    hashes, dedup — a position-robust fingerprint set whose overlap
    detects partial copies that whole-document fingerprints miss.

    Engine-portable hashing (md5-derived 60-bit int, like
    ``corpus.hash_bucket``) so the fingerprints — not just pair
    decisions — are reproducible in any engine; exact SQL oracle in the
    catalog (q49). One narrow pass + two windows over the same
    id-partitioning, no extra shuffle. Documents shorter than
    ``shingle_n`` tokens produce no fingerprints (nothing to window).
    """
    from pyspark.sql import Window as W

    toks = _norm_tokens(F.col(text_col))
    e = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("ntok"),
        F.posexplode(toks).alias("pos", "t"),
    )
    w_lead = W.partitionBy("id").orderBy("pos")
    leads = [F.col("t")] + [F.lead("t", i).over(w_lead) for i in range(1, shingle_n)]
    sh = (
        e.filter(F.col("ntok") >= shingle_n)
        .select(
            "id",
            "pos",
            F.concat_ws(" ", *leads).alias("s"),
            F.lead("t", shingle_n - 1).over(w_lead).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .withColumn(
            "h", F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long")
        )
    )
    w_min = (
        W.partitionBy("id").orderBy("pos").rowsBetween(W.currentRow, window - 1)
    )
    w_all = W.partitionBy("id")
    return (
        sh.select(
            "id",
            "pos",
            F.min("h").over(w_min).alias("fp"),
            F.count(F.lit(1)).over(w_all).alias("_nsh"),
        )
        .filter(F.col("pos") <= F.col("_nsh") - window)
        .select("id", "fp")
        .distinct()
    )


def _editdist_bucket_candidates(
    base: DataFrame, max_dist: int, small_bounded: bool = False
) -> DataFrame:
    """Candidate (ia, ib, ta, tb) pairs from adjacent-length-bucket
    blocking over *base* (id, t, len, bkt) — exact but content-blind:
    within a bucket every pair is a candidate.

    The neighbor match stays an equi-join: the left side carries keys
    {bucket, bucket+1}; a same-bucket pair matches once under
    ``ia < ib`` and a cross-bucket pair matches once with the shorter
    doc on the left, so no dedup pass is needed. The |Δlen| ≤ max_dist
    refinement inside matched buckets is exact
    (|len(a) − len(b)| > max_dist ⇒ dist > max_dist).

    ``small_bounded=True`` (the bucket strategy, whose callers prove
    the input small in rows AND bytes) broadcasts the right side and
    round-robin-spreads the left: the shuffle join hung
    every candidate's thresholded levenshtein on ~10 length-bucket
    keys (≤10 tasks no matter the core count), while the broadcast
    form verifies across the full executor pool in ONE stage — 0.573s
    → 0.224s noop median at sf0.1's q63 slice, identical pairs. The
    UNBOUNDED caller (the prefix tier's short-short fallback) keeps
    the shuffle join: its side sizes scale with the corpus and a
    broadcast there would be a scale hazard."""
    a = base.select(
        F.col("id").alias("ia"),
        F.col("t").alias("ta"),
        F.col("len").alias("la"),
        F.col("bkt").alias("ba"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("key"),
    )
    b = base.select(
        F.col("id").alias("ib"),
        F.col("t").alias("tb"),
        F.col("len").alias("lb"),
        F.col("bkt").alias("key"),
    )
    if small_bounded:
        a = a.repartition(base.sparkSession.sparkContext.defaultParallelism)
        b = F.broadcast(b)
    return (
        a.join(b, "key")
        .filter(
            (
                ((F.col("ba") == F.col("key")) & (F.col("ia") < F.col("ib")))
                | (F.col("ba") < F.col("key"))
            )
            & (F.abs(F.col("la") - F.col("lb")) <= max_dist)
        )
        .select("ia", "ib", "ta", "tb")
    )


def editdist_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 40,
    qgram: int = 4,
    hot_gram_rows: int = 4096,
    salt_max: int = 64,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for an edit-distance ≤ *max_dist*
    self-join, bounded by CONTENT, not just length — the q-gram
    count-filter + prefix-filter composition (Gravano et al.,
    "Approximate String Joins in a Database", VLDB 2001; prefix filter
    per Bayardo et al. / PPJoin, the q40 machinery).

    Losslessness: one edit operation destroys at most ``qgram`` of a
    string's positional q-grams, so ``ed(a,b) ≤ d`` implies the q-gram
    BAGS share ≥ max(s_a, s_b) − d·q elements (s = len − q + 1).
    Occurrence-indexing each gram ((gram, k) for its k-th occurrence)
    turns bag overlap into set overlap, and the prefix-filter lemma
    then says: order all elements by one global (frequency, value)
    total order; any pair with overlap ≥ t must share an element inside
    each side's first (s − t + 1) elements. With the per-pair threshold
    t = max(s_a, s_b) − d·q ≥ s_x − d·q, a prefix of
    min(s_x, d·q + 1) elements per doc is always sufficient.

    The threshold is vacuous when BOTH sides are short
    (s ≤ d·q ⇔ len ≤ d·q + q − 1): two sub-threshold strings can be
    within distance d while sharing nothing, so no content filter can
    prune them — short-short pairs fall back to adjacent-length-bucket
    blocking, a region bounded by construction (len < (d+1)·q chars,
    cheap thresholded levenshteins). Every pair with at least one long
    side is found through the prefix join, whose key is a doc's RAREST
    grams — bucket cardinality scales with content diversity, not
    corpus length concentration.

    ``qgram`` trades the short-region width against selectivity.
    Measured on a 195-doc corpus of 200-char docs sharing ONE length
    bucket (5 planted near-dups; content-blind blocking = 18,915
    candidate pairs): q=4 → 6 candidates, q=3 → 9,219, q=2 → 18,915
    (character bigrams are too common to refute anything). Default 4.
    Honest boundary: on a corpus whose documents are drawn from one
    shared small vocabulary, near-length pairs genuinely share most
    grams at d=40 and the count bound cannot refute them (sf0.1
    documents table: 1.96M candidates vs 2.5M length-blocked — the
    filter's work scales with content overlap, which for that corpus
    is real, not a blocking artifact; every candidate still pays only
    a threshold-early-exit levenshtein).

    Hot-gram skew: that same shared-vocabulary regime concentrates the
    prefix join on a few gram keys — a bucket of B prefix rows is a
    single (e)-keyed join task doing O(B²) comparisons no matter how
    many executors exist. Grams whose bucket exceeds *hot_gram_rows*
    are therefore TRIANGLE-SALTED (the q64 machinery's self-join form):
    each row gets a deterministic group s = xxhash64(id) mod G with
    G = ceil(freq / hot_gram_rows) ≤ *salt_max*, the LEFT side
    replicates into every group and the join key becomes (e, s), so
    per-task work drops to O(B²/G) at an O(G·B) replication cost paid
    ONLY by hot grams (cold grams keep G = 1 and a single copy). Each
    qualifying pair is still produced exactly once: the a.id < b.id
    orientation survives from exactly the left copy whose s equals the
    right row's group.

    Returns distinct (ia, ib, ta, tb) with ia < ib, superset of all
    pairs within max_dist; callers verify with thresholded levenshtein.
    """
    dq = max_dist * qgram
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        F.length(text_col).alias("len"),
    )
    prefix = _editdist_prefix(base, max_dist, qgram, hot_gram_rows, salt_max)
    right = prefix.withColumn(
        "s", F.pmod(F.xxhash64("id"), F.col("gsalt")).cast("int")
    )
    left = prefix.withColumn(
        "s", F.explode(F.sequence(F.lit(0), F.col("gsalt") - 1))
    )
    cand = (
        left.alias("a")
        .join(
            right.alias("b"),
            (F.col("a.e") == F.col("b.e"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            # short-short pairs have a vacuous count bound — they come
            # from the bucket fallback, never from here
            & (F.col("a.long") | F.col("b.long"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= max_dist),
        )
        .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .dropDuplicates(["ia", "ib"])
    )
    texts = base.select("id", "t")
    prefix_pairs = cand.join(
        texts.select(F.col("id").alias("ia"), F.col("t").alias("ta")), "ia"
    ).join(texts.select(F.col("id").alias("ib"), F.col("t").alias("tb")), "ib")
    shorts = base.filter(F.col("len") <= dq + qgram - 1).withColumn(
        "bkt", F.floor(F.col("len") / (max_dist + 1))
    )
    short_pairs = _editdist_bucket_candidates(shorts, max_dist)
    return prefix_pairs.select("ia", "ib", "ta", "tb").unionByName(short_pairs)


def _editdist_prefix(
    base: DataFrame,
    max_dist: int,
    qgram: int,
    hot_gram_rows: int,
    salt_max: int,
) -> DataFrame:
    """The prefix-filter side of ``editdist_candidates``: per doc, its
    min(s, d·q + 1) RAREST occurrence-indexed q-grams, each row carrying
    the gram key ``e``, the doc length, the ``long`` flag, and the
    per-gram salt width ``gsalt`` (1 for cold grams). Split out so the
    sf10 proof can measure per-(e, salt-group) bucket widths — the
    join-task bound — from the exact rows the join consumes."""
    from pyspark.sql import Window as W

    dq = max_dist * qgram
    # grams with occurrence index; s = len − q + 1 rows per doc (docs
    # shorter than q yield none and are short by definition). The
    # occurrence index k makes repeated grams distinct set elements:
    # |{(g,k)}_a ∩ {(g,k)}_b| = Σ_g min(count_a, count_b) = bag overlap
    grams = (
        base.filter(F.col("len") >= qgram)
        .select(
            "id",
            "len",
            F.posexplode(
                F.sequence(F.lit(1), F.col("len") - qgram + 1)
            ).alias("_i", "pos"),
            F.col("t"),
        )
        .select(
            "id",
            "len",
            F.substring("t", F.col("pos"), F.lit(qgram)).alias("g"),
            "pos",
        )
        .withColumn(
            "e",
            F.concat_ws(
                "|",
                "g",
                F.row_number()
                .over(W.partitionBy("id", "g").orderBy("pos"))
                .cast("string"),
            ),
        )
    )
    # sz is exactly len − q + 1 (grams emits one row per position, no
    # dedup), so no per-id count window is needed — one less Window
    # execution over the largest intermediate of the candidate path
    sz = F.col("len") - qgram + 1
    ranked = grams.withColumn(
        "freq", F.count(F.lit(1)).over(W.partitionBy("e"))
    ).withColumn(
        "rk", F.row_number().over(W.partitionBy("id").orderBy("freq", "e"))
    )
    prefix = ranked.filter(
        F.col("rk") <= F.least(sz, F.lit(dq + 1))
    ).select(
        "id",
        "len",
        "e",
        (sz > dq).alias("long"),
        # per-gram salt width: 1 for cold grams (the overwhelming
        # mass), ceil(freq / hot_gram_rows) capped at salt_max for hot
        # ones — freq is identical on both sides of the self-join by
        # construction, so the group arithmetic agrees
        F.least(
            F.ceil(F.col("freq") / F.lit(hot_gram_rows)),
            F.lit(salt_max),
        ).cast("int").alias("gsalt"),
    )
    return prefix


def editdist_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 40,
    bucket_width: int = 50,
    strategy: str = "prefix",
    qgram: int = 4,
) -> DataFrame:
    """Edit-distance near-dup pairs, candidate-bounded by content.

    ``strategy``: ``"prefix"`` (default, the scale path) generates
    candidates with the exact q-gram count/prefix filter
    (``editdist_candidates``) so candidate volume tracks content
    similarity — a corpus whose
    documents all share one length lands each doc's rarest grams in
    near-unique buckets instead of one quadratic blob. ``"bucket"``
    keeps plain adjacent-length-bucket blocking: exact and cheapest
    when the corpus is small enough that the prefix plan's extra
    window/shuffle stages cost more than the quadratic they avoid. It
    broadcasts full texts, so callers pass it only for inputs proven
    small in rows and bytes (q63 routes it from parquet footers).
    Output is identical under every strategy (both candidate
    generators are provably lossless; verification is exact).

    ``levenshtein``'s 3-arg threshold form (returns −1 above the bound)
    lets the JVM matrix loop early-exit per row band instead of
    computing the full O(|a|·|b|) table for pairs that are nowhere
    near — the dominant cost, since candidates are mostly negatives.

    Returns (id_a, id_b, dist) with id_a < id_b, dist <= max_dist.
    """
    if strategy == "prefix":
        matched = editdist_candidates(df, id_col, text_col, max_dist, qgram)
    elif strategy == "bucket":
        # only the bucket plan uses bucket_width (the prefix path's
        # short fallback derives its own exact width of max_dist + 1)
        if bucket_width <= max_dist:
            raise ValueError(
                f"bucket_width ({bucket_width}) must exceed max_dist "
                f"({max_dist}) for adjacent-bucket blocking to be exact"
            )
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("t"),
            F.length(text_col).alias("len"),
            F.floor(F.length(text_col) / bucket_width).alias("bkt"),
        )
        # callers pick the bucket strategy only for inputs proven
        # small, so the broadcast side is bounded
        matched = _editdist_bucket_candidates(base, max_dist, small_bounded=True)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    dist = F.levenshtein("ta", "tb", max_dist)
    return (
        matched.withColumn("dist", dist.cast("bigint"))
        .filter(F.col("dist") >= 0)
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "dist",
        )
    )
