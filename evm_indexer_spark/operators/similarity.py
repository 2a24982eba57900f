"""Similarity search over embedding columns (array<float>).

Two tiers:

- ``cosine_topk`` — brute-force exact cosine top-k against one query
  vector. Scan-shaped: per-row native expression + TakeOrdered top-k, no
  shuffle; the baseline and the verification oracle.
- ``lsh_cosine_topk`` — random-hyperplane LSH (sign bucket) as the scale
  path: at 100 TB the bucket filter prunes the scan to ~1/2^bits of the
  corpus before scoring; the hyperplanes are seeded-deterministic so
  results are reproducible.

Dense vector math (cosine scores, hyperplane buckets) runs as one numpy
matmul per Arrow batch — Spark's higher-order ``aggregate`` folds are
interpreted and measured ~5× slower; the native-expression forms
(``cosine_similarity``/``lsh_bucket``) remain for composing into joined
predicates where a UDF column doesn't fit. Embedding-cosine
near-duplicate detection reuses the same primitives.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..streaming import epochlog


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_similarity(vec_col: Column | str, query: list[float]) -> Column:
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    q = _vec_lit(query)
    return _dot(c, q) / (_norm(c) * _norm(q))


def cosine_scores_batch(query: list[float]):
    """Arrow-batched cosine scorer against a fixed query vector: one
    numpy matmul per batch instead of an interpreted fold per row (the
    higher-order ``aggregate`` path is ~5× slower at 64 dims)."""
    from pyspark.sql.functions import pandas_udf

    qv = np.array(query, dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum()))

    @pandas_udf("double")
    def score(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1)) * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(norms > 0, (m @ qv) / norms, 0.0)
        return pd.Series(s)

    return score


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k (deterministic tie-break by id).

    ORDER BY + LIMIT compiles to TakeOrderedAndProject: each partition
    keeps its local top-k, the driver merges — no global sort. Scoring
    is the Arrow-batched matmul (``cosine_scores_batch``).
    """
    score = cosine_scores_batch(query)(F.col(vec_col))
    if round_digits is not None:
        score = F.round(score, round_digits)
    return (
        df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Seeded random hyperplanes (reproducible across runs/engines)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bucket id: bit i = (vec · plane_i) >= 0."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(_dot(c, _vec_lit(p)) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket.bitwiseOR(F.shiftleft(bit.cast("long"), i))
    return bucket


def lsh_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    max_probe_hamming: int = 1,
    n_tables: int = 4,
    seed: int = 42,
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate cosine top-k: a row is a candidate when, in ANY of
    *n_tables* independent hyperplane tables, its sign bucket is within
    *max_probe_hamming* bits of the query's (OR-construction + multi-
    probe — the standard recall amplifier for angular LSH; one table
    alone concentrates weak-margin neighbors poorly).

    All tables evaluate in a single scan pass. The n_tables × n_planes
    hyperplane dots per row are one Arrow-batched numpy matmul
    (interpreted ``aggregate`` folds measured ~5× slower at 32 planes —
    dense float math is the case for the vectorized escape hatch).
    At scale, materialize the table-0 bucket as a partition/cluster
    column at ingestion so the dominant probe becomes partition pruning,
    with the remaining tables as in-partition filters.
    """
    from pyspark.sql.functions import pandas_udf

    all_planes = [
        p for t in range(n_tables) for p in hyperplanes(len(query), n_planes, seed + t)
    ]
    planes_m = np.array(all_planes, dtype=np.float64).T  # dim × (T*P)
    q_buckets = []
    qdots = np.array(query, dtype=np.float64) @ planes_m
    for t in range(n_tables):
        b = 0
        for i in range(n_planes):
            if qdots[t * n_planes + i] >= 0:
                b |= 1 << i
        q_buckets.append(b)

    @pandas_udf("boolean")
    def probe_match(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)  # batch × dim
        signs = (m @ planes_m) >= 0  # batch × (T*P)
        bits = signs.astype(np.int64) << np.arange(n_planes * n_tables, dtype=np.int64) % n_planes
        ok = np.zeros(len(m), dtype=bool)
        for t in range(n_tables):
            block = bits[:, t * n_planes : (t + 1) * n_planes]
            buckets = block.sum(axis=1)
            xor = buckets ^ q_buckets[t]
            ham = np.array([bin(int(x)).count("1") for x in xor])
            ok |= ham <= max_probe_hamming
        return pd.Series(ok)

    return cosine_topk(
        df.filter(probe_match(F.col(vec_col))), id_col, vec_col, query, k,
        round_digits=round_digits,
    )


def pair_cosine_batch():
    """Arrow-batched exact cosine over two vector columns: one numpy
    matmul-free row-wise dot per batch (the verification stage of the
    near-dup pipelines — bounded candidate sets, never the full corpus)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.array(a.tolist(), dtype=np.float64)
        mb = np.array(b.tolist(), dtype=np.float64)
        dots = (ma * mb).sum(axis=1)
        norms = np.sqrt((ma * ma).sum(axis=1)) * np.sqrt((mb * mb).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(np.where(norms > 0, dots / norms, 0.0))

    return score


def embedding_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Slim (id, bucket) multi-table hyperplane-LSH rows — one row per
    vector per table, the shared candidate substrate:
    ``embedding_near_duplicates`` self-joins it, and the incremental
    pipeline (``streaming/embed_stream.EmbeddingBucketIndex``) persists
    it as the corpus index arriving batches probe. The (n_planes,
    n_tables, seed, dim) tuple MUST match between index and query sides
    — the table index is encoded in the bucket's high bits, so rows
    from different configurations never collide silently only when the
    parameters agree; the persisted index stamps them for that reason.

    All T buckets per row come out of one Arrow-batched matmul;
    ``bucket_t = (t << n_planes) | sign_bits`` keys one slim long."""
    from pyspark.sql.functions import pandas_udf

    # dim passed explicitly avoids a driver round-trip job; inferred
    # from one row otherwise
    sample_dim = dim if dim is not None else len(df.select(vec_col).first()[0])
    all_planes = [
        p
        for t in range(n_tables)
        for p in hyperplanes(sample_dim, n_planes, seed + t)
    ]
    planes_m = np.array(all_planes, dtype=np.float64).T  # dim × (T*P)
    shifts = np.tile(np.arange(n_planes, dtype=np.int64), n_tables)

    @pandas_udf("array<long>")
    def buckets_batch(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        signs = ((m @ planes_m) >= 0).astype(np.int64)  # batch × (T*P)
        per_plane = signs << shifts
        out = np.zeros((len(m), n_tables), dtype=np.int64)
        for t in range(n_tables):
            out[:, t] = per_plane[:, t * n_planes : (t + 1) * n_planes].sum(
                axis=1
            ) | (t << n_planes)
        return pd.Series(list(out))

    return df.select(
        F.col(id_col).alias("id"),
        F.explode(buckets_batch(F.col(vec_col))).alias("bucket"),
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    dim: int | None = None,
    pair_source: str = "join",
) -> DataFrame:
    """Embedding-cosine near-dup pairs: multi-table LSH candidate join,
    then exact cosine verification — the all-pairs O(n²) never runs.

    OR-construction over *n_tables* independent hyperplane tables: a pair
    is a candidate when it collides in ANY table (a single 12-bit exact
    bucket alone has ~(1-θ/π)^12 recall — near zero for borderline pairs;
    with T tables the miss probability is raised to the T-th power). All
    T buckets per row come out of one Arrow-batched matmul; the exploded
    bucket key is ONE slim long, and the self-join shuffles only
    (id, bucket) rows — vectors never ride the bucket shuffle (they
    would be copied ×n_tables). Candidates dedupe across tables first,
    then the two vector re-joins attach each embedding once per unique
    candidate id — the same candidate-prune shape MinHash verification
    uses, so verification cost is ∝ unique pairs at any corpus size.
    """
    # slim bucket table: carry nothing but (id, bucket) into candidate
    # generation (dedup._bucket_pairs: "join" default streams and is
    # memory-flat — the sf10-proven shape; "group" evaluates the
    # matmul+explode once instead of once per join side, an A/B wash
    # at sf1 because verification dominates here); vectors never ride
    # the bucket shuffle (they would be copied ×n_tables)
    from .dedup import _bucket_pairs

    bucketed = embedding_buckets(
        df, id_col, vec_col, n_planes, n_tables, seed, dim
    )
    candidates = _bucket_pairs(bucketed, ["bucket"], pair_source)
    return _verify_cosine_pairs(candidates, df, id_col, vec_col, min_cosine)


def embedding_pairs_onetask(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float,
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    dim: int | None = None,
    new_flag_col: str | None = None,
) -> DataFrame:
    """The ENTIRE hyperplane-LSH near-dup pipeline — bucket, collide,
    exact-verify — in ONE Arrow task, for corpora that fit one worker
    (the driver bounds the input by ``BRUTE_TASK_CAP`` from parquet
    footers in ``driver_queries._fits_one_task`` — the q27/q66/q83
    small-corpus tier applied to embeddings).

    Why it exists (round 15): below the cap the distributed pipeline is
    stage floors, not compute — q35's plan ships the vectors across the
    Python boundary four times (bucket matmul once per join side, then
    the verify cosine) around five stages, 1.39s warm at sf0.1 where
    the whole corpus is a 4000×64 matmul. The 100-TB path is unchanged:
    above the cap the slim-bucket shuffle plan runs (the sf1 replica
    gates it).

    Semantics are the distributed pipeline's EXACTLY: same seeded
    hyperplanes and sign/bucket math (identical numpy expressions per
    row), same in-bucket candidate generation (distinct (id_a, id_b),
    id_a < id_b), same verify arithmetic (the ``pair_cosine_batch``
    formula on the same float64 rows), and the round-6 + threshold
    filter stays in the JVM on the emitted raw cosines, so rounding
    semantics can never drift between tiers. With *new_flag_col* only
    pairs with ≥ 1 flagged member are emitted — the incremental form
    (``incremental_embedding_pairs``) restricted the same way
    ``minhash_pairs_onetask`` restricts text pairs.

    Returns (id_a, id_b, cosine double), id_a < id_b, cosine rounded
    to 6 and ≥ *min_cosine*."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    sample_dim = (
        dim if dim is not None else len(df.select(vec_col).first()[0])
    )
    all_planes = [
        p
        for t in range(n_tables)
        for p in hyperplanes(sample_dim, n_planes, seed + t)
    ]
    planes_m = np.array(all_planes, dtype=np.float64).T  # dim × (T*P)
    shifts = np.tile(np.arange(n_planes, dtype=np.int64), n_tables)
    # nullable=True throughout, matching the distributed tier: hostile
    # Inf elements make inf/inf = NaN cosines, and the pandas→Arrow
    # boundary converts float NaN to NULL — a non-nullable Float8Vector
    # then throws "Value at index is null" on read (adv2 fixture,
    # round 15). The JVM-side filter below drops the nulls exactly as
    # it drops them on the pandas_udf("double") verify path.
    schema = StructType(
        [
            StructField("id_a", df.schema[id_col].dataType, True),
            StructField("id_b", df.schema[id_col].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    cols = [id_col, vec_col] + ([new_flag_col] if new_flag_col else [])

    def _all(batches):
        ids: list = []
        flags: dict = {}
        mats: list = []
        for pdf in batches:
            if not len(pdf):
                continue
            flag_vals = (
                pdf[new_flag_col] if new_flag_col else [True] * len(pdf)
            )
            for doc_id, fl in zip(pdf[id_col], flag_vals):
                ids.append(doc_id)
                flags[doc_id] = bool(fl)
            mats.append(np.array(pdf[vec_col].tolist(), dtype=np.float64))
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if not ids:
            yield empty
            return
        m = np.concatenate(mats) if len(mats) > 1 else mats[0]
        # id -> row (last occurrence wins, mirroring the dict overwrite
        # in minhash_pairs_onetask; callers guarantee unique ids)
        row_of = {doc_id: i for i, doc_id in enumerate(ids)}
        # same sign/bucket math as embedding_buckets, whole corpus at once
        signs = ((m @ planes_m) >= 0).astype(np.int64)
        per_plane = signs << shifts
        buckets: dict = {}
        for t in range(n_tables):
            bt = (
                per_plane[:, t * n_planes : (t + 1) * n_planes].sum(axis=1)
                | (t << n_planes)
            ).tolist()
            for i, bv in enumerate(bt):
                buckets.setdefault(bv, []).append(ids[i])
        seen = set()
        ia, ib = [], []
        for members in buckets.values():
            if len(members) < 2:
                continue
            for x in range(len(members) - 1):
                for y in range(x + 1, len(members)):
                    a, b = members[x], members[y]
                    if a == b:
                        continue
                    p = (a, b) if a < b else (b, a)
                    if p in seen:
                        continue
                    seen.add(p)
                    if new_flag_col and not (flags[a] or flags[b]):
                        continue
                    ia.append(p[0])
                    ib.append(p[1])
        if not ia:
            yield empty
            return
        ma = m[[row_of[i] for i in ia]]
        mb = m[[row_of[i] for i in ib]]
        # bit-identical to pair_cosine_batch: same ops on the same rows
        dots = (ma * mb).sum(axis=1)
        norms = np.sqrt((ma * ma).sum(axis=1)) * np.sqrt(
            (mb * mb).sum(axis=1)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(norms > 0, dots / norms, 0.0)
        yield pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": cos})

    raw = df.select(*cols).coalesce(1).mapInPandas(_all, schema)
    return (
        raw.withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def _verify_cosine_pairs(
    cand: DataFrame,
    docs: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float,
) -> DataFrame:
    """Exact cosine over candidate (id_a, id_b) pairs: two vector
    re-joins attach each embedding once per unique candidate id — the
    same candidate-prune shape MinHash verification uses, so cost is
    ∝ unique pairs at any corpus size."""
    vecs = docs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    pairs = cand.join(
        vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a"
    ).join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
    cos = F.round(pair_cosine_batch()(F.col("v_a"), F.col("v_b")), 6)
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def incremental_embedding_pairs(
    new_docs: DataFrame,
    index_buckets: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    dim: int | None = None,
    pair_source: str = "join",
) -> DataFrame:
    """Embedding near-dup pairs INVOLVING the arriving batch:
    new-vs-indexed-corpus plus new-vs-new, exactly verified — the
    incremental form of ``embedding_near_duplicates`` for a growing
    corpus, mirroring ``dedup.incremental_minhash_pairs`` for text.

    ``index_buckets`` is the persisted (id, bucket) table built with
    the SAME (n_planes, n_tables, seed, dim); only the new batch is
    re-bucketed (one Arrow matmul over O(batch) vectors), so per-batch
    cost is O(batch + collisions), not O(corpus) — at 100 TB the
    alternative is re-hashing the whole vector corpus per refresh.
    ``corpus_docs`` supplies vectors for verification and must cover
    the indexed ids (pruned to candidate ids by the joins). New ids
    must not collide with indexed ids.

    Returns (id_a, id_b, cosine), id_a < id_b, at least one side new —
    one flagged bucket pass (``dedup._flagged_bucket_pairs``), old-old
    pairs rejected by the flag predicate."""
    from .dedup import _flagged_bucket_pairs

    new_bucketed = embedding_buckets(
        new_docs, id_col, vec_col, n_planes, n_tables, seed, dim
    )
    both = index_buckets.select(
        "id", "bucket", F.lit(False).alias("n")
    ).unionByName(new_bucketed.select("id", "bucket", F.lit(True).alias("n")))
    cand = _flagged_bucket_pairs(both, ["bucket"], pair_source)
    return _verify_cosine_pairs(cand, corpus_docs, id_col, vec_col, min_cosine)


# -- IVF (inverted-file) index: the cluster-routed scale path ---------------


def ivf_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 16,
    seed: int = 42,
    max_iter: int = 5,
):
    """Partition the corpus into *n_lists* KMeans cells (pyspark.ml,
    seeded) — the IVF coarse quantizer.

    Returns (assigned, centroids): *assigned* is the corpus with a
    ``list_id`` column; *centroids* a driver-side list of vectors (tiny:
    n_lists × dim floats). At 100 TB, write *assigned* partitioned by
    ``list_id`` so probes become partition pruning; the quantizer is fit
    on a sample, not the full corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_features"),
    )
    model = KMeans(
        k=n_lists, seed=seed, maxIter=max_iter, featuresCol="_features"
    ).fit(feat)
    assigned = (
        model.transform(feat)
        .withColumnRenamed("prediction", "list_id")
        .drop("_features")
    )
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centroids


def ivf_probe_lists(query: list[float], centroids: list[list[float]], nprobe: int) -> list[int]:
    """Rank cells by query-to-centroid cosine, driver-side (centroid set
    is tiny by construction)."""

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return dot / (na * nb) if na and nb else 0.0

    ranked = sorted(range(len(centroids)), key=lambda i: -cos(query, centroids[i]))
    return ranked[:nprobe]


def ivf_cosine_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    round_digits: int | None = 6,
) -> DataFrame:
    """Search only the *nprobe* closest cells, exact cosine inside them.

    The filter is an IN-list on ``list_id`` — partition pruning when the
    corpus is stored partitioned by cell; recall is tunable via nprobe
    (nprobe = n_lists degenerates to brute force).
    """
    probe = ivf_probe_lists(query, centroids, nprobe)
    cell = assigned.filter(F.col("list_id").isin(probe))
    return cosine_topk(cell, "id", "v", query, k, round_digits=round_digits)


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    round_digits: int | None = 6,
) -> DataFrame:
    """Build-and-search convenience for the query catalog; real
    deployments build once (``ivf_build``) and search many times."""
    assigned, centroids = ivf_build(df, id_col, vec_col, n_lists, seed)
    return ivf_cosine_topk(assigned, centroids, query, k, nprobe, round_digits)


def ivf_write(
    assigned: DataFrame, centroids: list[list[float]], path: str
) -> None:
    """Persist an IVF index: vectors parquet-partitioned by ``list_id``
    plus a tiny centroids table. Searches against the written index
    prune cell partitions instead of filtering a full scan — the
    100 TB deployment shape the in-memory build only simulates."""
    import json
    import os

    assigned.write.partitionBy("list_id").mode("overwrite").parquet(
        os.path.join(path, "vectors")
    )
    with open(os.path.join(path, "centroids.json"), "w") as f:
        json.dump(centroids, f)


def ivf_load(spark, path: str):
    """(assigned, centroids) back from ``ivf_write`` output."""
    import json
    import os

    assigned = spark.read.parquet(os.path.join(path, "vectors"))
    with open(os.path.join(path, "centroids.json")) as f:
        centroids = json.load(f)
    return assigned, centroids


class IvfServingIndex:
    """Build-once / query-many IVF index — the serving shape at 100 TB,
    where an index you rebuild per query is not an index.

    The vectors are an epoch log (``streaming/epochlog``) under
    ``path/vectors/batch=<id>/list_id=*/``, the coarse
    quantizer's centroids and the exact row schema live in small JSON
    sidecars, and a ``_params`` stamp pins (n_lists, seed, dim) for the
    index lifetime (atomic create-if-absent; reopening with different
    parameters raises — probes against foreign centroids would silently
    return garbage).

    Query path: ``load`` is pure driver-side file reads and ``topk``
    builds its plan from the stored schema — ZERO Spark jobs before the
    probe scan itself, which prunes to the ``nprobe`` closest cells via
    partition-directory pruning (pinned by
    tests/test_similarity.py::test_ivf_serving_index_zero_build_jobs).
    One caveat, measured at 200k vectors / 64 cells: above
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default
    32) directories, plan build launches ONE distributed file-LISTING
    job — Spark's partition discovery, not any index rebuild; raising
    the threshold removes it, and nothing about the quantizer or codes
    is ever recomputed.
    ``append`` assigns new vectors to their nearest EXISTING centroid
    (one Arrow pass over the batch — the quantizer is never retrained,
    matching how IVF indexes absorb arrivals everywhere) and lands them
    under their own batch dir.

    ``delete`` tombstones ids (reorged / retracted docs): serving
    anti-joins the broadcast tombstone set, so retraction is O(deletes)
    with no cell-file rewrite on the query path; ``compact`` folds live
    rows into the next ``batch=base<G>`` generation and clears the
    tombstones (also the small-files consolidation pass)."""

    _MARKER = "_params"

    def __init__(
        self,
        spark,
        path: str,
        centroids: list[list[float]],
        n_lists: int,
        seed: int,
        dim: int,
        schema_json: str,
        codebooks: np.ndarray | None = None,
        scale: int = 1000,
    ) -> None:
        import posixpath

        self.spark = spark
        self.path = path
        self.centroids = centroids
        self.n_lists = n_lists
        self.seed = seed
        self.dim = dim
        self.codebooks = codebooks
        self.scale = scale
        self._schema_json = schema_json
        self._vectors_dir = posixpath.join(path, "vectors")
        self._tombstones_dir = posixpath.join(path, "tombstones")
        epochlog._claim_stamp(
            spark, path, self._MARKER, f"{n_lists},{seed},{dim}"
        )

    # -- construction ----------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        path: str,
        n_lists: int = 16,
        seed: int = 42,
        max_iter: int = 5,
        pq_subspaces: int | None = None,
        pq_centroids: int = 16,
        pq_iters: int = 3,
        scale: int = 1000,
    ) -> "IvfServingIndex":
        """Fit the coarse quantizer, write the corpus partitioned by
        cell as ``batch=0``, persist centroids + schema + params.

        ``pq_subspaces`` turns the index into IVF-PQ — the canonical
        billion-scale ANN layout: per-subspace codebooks are trained
        once (``pq_train``) and every stored row carries its
        ``n_subspaces``-byte code next to the raw vector. The ADC scan
        then reads ONLY (id, codes) — parquet column pruning keeps the
        raw vectors on disk until the re-rank touches the shortlist.

        Refuses a path that already holds appended batch dirs: their
        rows were assigned under the OLD quantizer, and replacing
        batch=0 + centroids around them would file those vectors in
        wrong cells — a silently-wrong index, exactly what the
        parameter stamp exists to prevent (it pins only
        (n_lists, seed, dim), not the fitted centroids)."""
        import json
        import posixpath

        spark = df.sparkSession
        vectors_dir = posixpath.join(path, "vectors")
        prior = epochlog.batch_dirs(spark, vectors_dir)
        if [d for d in prior if posixpath.basename(d) != "batch=0"]:
            raise ValueError(
                f"index at {path} already holds appended batches "
                f"({len(prior)} dirs) assigned under its existing "
                "centroids — rebuilding in place would file them in "
                "wrong cells; build into a fresh path instead"
            )
        books = None
        if pq_subspaces is not None:
            books = pq_train(
                df, id_col, vec_col,
                n_subspaces=pq_subspaces, n_centroids=pq_centroids,
                iters=pq_iters, scale=scale,
            )
        assigned, centroids = ivf_build(
            df, id_col, vec_col, n_lists, seed, max_iter
        )
        dim = len(centroids[0])
        cols = ["id", "v"]
        if books is not None:
            assigned = assigned.withColumn(
                "codes",
                _pq_codes_udf(books)(_spark_quantize(F.col("v"), scale)),
            )
            cols.append("codes")
        row_schema = assigned.select(*cols, "list_id").schema
        idx = cls(
            spark, path, centroids, n_lists, seed, dim, row_schema.json(),
            codebooks=books, scale=scale,
        )
        epochlog.write(
            assigned.select(*cols, "list_id"), idx._vectors_dir, 0, "list_id"
        )
        # sidecars go through the Hadoop FS like the stamp and the
        # vectors — local open() would break every non-local index path
        _write_sidecar(
            spark, posixpath.join(path, "centroids.json"),
            json.dumps(centroids),
        )
        _write_sidecar(
            spark, posixpath.join(path, "schema.json"), row_schema.json()
        )
        if books is not None:
            _write_sidecar(
                spark, posixpath.join(path, "pq.json"),
                json.dumps({"scale": scale, "books": books.tolist()}),
            )
        return idx

    @classmethod
    def load(cls, spark, path: str) -> "IvfServingIndex":
        """Reopen a built index — driver-side small-file reads only, no
        Spark jobs (the stored schema means even the probe scan skips
        footer inference). The PQ sidecar is optional: its presence is
        what makes the loaded index IVF-PQ."""
        import json
        import posixpath

        centroids = json.loads(
            _read_sidecar(spark, posixpath.join(path, "centroids.json"))
        )
        schema_json = _read_sidecar(spark, posixpath.join(path, "schema.json"))
        n_lists, seed, dim = _read_stamp_params(spark, path, cls._MARKER)
        books = None
        scale = 1000
        raw = _read_sidecar(spark, posixpath.join(path, "pq.json"), optional=True)
        if raw is not None:  # present -> IVF-PQ; corrupt JSON raises loudly
            pq = json.loads(raw)
            books = np.asarray(pq["books"], dtype=np.int64)
            scale = int(pq["scale"])
        return cls(
            spark, path, centroids, n_lists, seed, dim, schema_json,
            codebooks=books, scale=scale,
        )

    # -- query -----------------------------------------------------------

    def _row_schema(self):
        from pyspark.sql.types import StructType

        return StructType.fromJson(__import__("json").loads(self._schema_json))

    def vectors(self) -> DataFrame:
        # list_id is a directory-derived partition column typed by the
        # stored schema, so no footer job runs
        return epochlog.read(self.spark, self._vectors_dir, self._row_schema())

    def indexed_ids(self, exclude_batch: int | None = None) -> DataFrame:
        """Slim (id) scan of the indexed rows, optionally excluding one
        batch dir — the arrival stream's re-arrival guard reads this
        (excluding the current epoch, so a crashed epoch reprocesses in
        full; the column projection keeps the guard one thin column
        scan, never a vector read)."""
        return epochlog.read(
            self.spark, self._vectors_dir, self._id_schema(), exclude_batch
        ).select("id")

    def _id_schema(self):
        from pyspark.sql.types import StructType

        return StructType([self._row_schema()["id"]])

    def tombstones(self) -> DataFrame | None:
        """Slim (id) DataFrame of deleted ids, ``None`` when the index
        has none — the None fast path keeps undeleted indexes at ZERO
        extra plan nodes and zero extra file listings beyond one
        driver-side exists/list call."""
        return epochlog._tombstones_df(
            self.spark, self._tombstones_dir, schema=self._id_schema()
        )

    def _served(self, cell: DataFrame) -> DataFrame:
        """Serve-time tombstone mask: broadcast anti-join against the
        deleted ids. Tombstone volume is O(deletes since compact) —
        reorg-sized, always broadcastable; ``compact()`` folds it back
        to zero."""
        tombs = self.tombstones()
        if tombs is None:
            return cell
        return cell.join(F.broadcast(tombs), "id", "left_anti")

    def delete(self, ids, batch_id: int | None = None) -> None:
        """Tombstone *ids* (an iterable of ids or a one-column
        DataFrame): they stop being served by ``topk``/``topk_pq``
        immediately; the physical rows remain until ``compact()`` folds
        them out. This is how a reorg retracts vectors without
        rewriting cell files on the serving path.

        Tombstones land under ``tombstones/batch=<id>`` with the same
        overwrite convergence contract as vector batches; *batch_id*
        defaults to one past the current tombstone high-water mark.
        A delete is TERMINAL until compact: re-appending the same id
        leaves it masked (the anti-join matches every physical copy),
        so delete → compact → append is the resurrection order."""
        epochlog._append_tombstones(
            self.spark, self._tombstones_dir, ids, batch_id,
            schema=self._id_schema(),
        )

    def compact(self, files_per_cell: int = 1) -> int:
        """Fold tombstones physically: rewrite the LIVE rows of every
        batch dir into the next ``batch=base<G>`` generation
        (partitioned by cell, ``files_per_cell`` files each — the
        small-files consolidation pass every arrival-heavy index
        needs) and clear the consumed tombstones
        (``epochlog.compact_tombstoned``). Concurrent READERS planned
        against the old listing keep resolving (dirs are deleted only
        after the rename lands). Returns the number of batch dirs
        folded."""

        def live() -> DataFrame:
            # an epoch landing mid-compaction is folded AND survives in
            # its own dir; unlike bucket rows, serving rows have no
            # downstream dedup — drop FULL-ROW duplicates (such copies
            # are byte-identical) so re-compaction heals, then fail
            # loudly if an id still appears twice: that means divergent
            # payloads under one id (an append/delete contract
            # violation), and silently freezing an arbitrary choice into
            # the base would corrupt serving forever
            rows = self._served(self.vectors()).dropDuplicates()
            clash = (
                rows.groupBy("id")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .take(5)
            )
            if clash:
                raise ValueError(
                    "IvfServingIndex.compact: divergent payloads for id(s) "
                    f"{sorted(r['id'] for r in clash)} — duplicate ids must "
                    "be exact crash copies; refusing to pick one arbitrarily"
                )
            return rows

        return epochlog.compact_tombstoned(
            self.spark, self._vectors_dir, self._tombstones_dir, live,
            max(1, files_per_cell) * self.n_lists, "list_id",
        )

    def topk(
        self,
        query: list[float],
        k: int = 10,
        nprobe: int = 4,
        round_digits: int | None = 6,
    ) -> DataFrame:
        """Exact cosine top-k inside the *nprobe* closest cells. Cell
        ranking is driver-side math over the loaded centroids; the scan
        prunes ``list_id`` partition directories — zero jobs until the
        probe scan executes (one driver-side tombstone listing aside)."""
        probe = ivf_probe_lists(query, self.centroids, nprobe)
        cell = self._served(
            self.vectors().filter(F.col("list_id").isin(probe))
        )
        return cosine_topk(cell, "id", "v", query, k, round_digits=round_digits)

    def topk_pq(
        self,
        query: list[float],
        k: int = 10,
        nprobe: int = 4,
        n_candidates: int | None = None,
        round_digits: int | None = 6,
    ) -> DataFrame:
        """IVF-PQ serving: ADC shortlist over the STORED codes of the
        ``nprobe`` probed cells, exact cosine re-rank of the shortlist's
        raw vectors — both prunings compose: partition-directory pruning
        cuts the cells, parquet column pruning keeps the raw ``v``
        column unread through the ADC stage (its scan reads only
        (id, codes); the re-rank reads (id, v) for the shortlist's
        semi-join inside the same probed cells). No encode pass runs at
        query time — codes were written at build/append, the point of
        storing them. Zero Spark jobs before the scans; exhaustive
        parameters (nprobe = n_lists, n_candidates ≥ corpus) provably
        degenerate to the exact cosine top-k."""
        if self.codebooks is None:
            raise ValueError(
                "index has no PQ codebooks — built without pq_subspaces"
            )
        if n_candidates is None:
            n_candidates = 4 * k
        if n_candidates < k:
            raise ValueError(
                f"n_candidates ({n_candidates}) must be >= k ({k})"
            )
        probe = ivf_probe_lists(query, self.centroids, nprobe)
        # mask tombstones BEFORE the ADC scan: a deleted id must not
        # occupy shortlist slots (k-bounded), not just drop at re-rank
        cell = self._served(
            self.vectors().filter(F.col("list_id").isin(probe))
        )
        shortlist = pq_topk(
            cell.select("id", "codes"), self.codebooks, query,
            k=n_candidates, scale=self.scale,
        )
        kept = cell.join(F.broadcast(shortlist.select("id")), "id", "left_semi")
        return cosine_topk(kept, "id", "v", query, k, round_digits=round_digits)

    # -- arrival ---------------------------------------------------------

    def append(
        self, docs: DataFrame, id_col: str, vec_col: str, batch_id: int
    ) -> None:
        """Assign *docs* to their nearest existing centroid (squared
        euclidean, first-min tie-break — the KMeans.transform rule) and
        land them under ``batch=<batch_id>`` (overwrite: re-delivered
        epochs converge). O(batch) work; the quantizer is fixed."""
        from pyspark.sql.functions import pandas_udf

        cents = np.array(self.centroids, dtype=np.float64)

        @pandas_udf("int")
        def nearest(vecs: pd.Series) -> pd.Series:
            m = np.array(vecs.tolist(), dtype=np.float64)
            d = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            return pd.Series(d.argmin(axis=1).astype(np.int32))

        stored = self._row_schema()
        v_type = stored["v"].dataType
        # arrivals must land in the index's EXACT physical type — a
        # double batch in a float index fails every subsequent scan
        # (parquet readers don't coerce across files)
        cols = [
            F.col(id_col).cast(stored["id"].dataType).alias("id"),
            F.col(vec_col).cast(v_type).alias("v"),
        ]
        if self.codebooks is not None:
            # IVF-PQ arrivals carry their codes like built rows do —
            # same fixed codebooks, same Spark-side quantization
            cols.append(
                _pq_codes_udf(self.codebooks)(
                    _spark_quantize(F.col(vec_col), self.scale)
                ).alias("codes")
            )
        cols.append(nearest(F.col(vec_col)).alias("list_id"))
        epochlog.write(docs.select(*cols), self._vectors_dir, batch_id, "list_id")


def _write_sidecar(spark, path: str, text: str) -> None:
    """Small driver-side file write through the Hadoop FS (works on any
    index location, not just local paths)."""
    fs, _ = epochlog._hadoop(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def _read_sidecar(spark, path: str, optional: bool = False) -> str | None:
    fs, jpath = epochlog._hadoop(spark, path)
    if not fs.exists(jpath):
        if optional:
            return None
        raise ValueError(f"no index sidecar at {path} — not a built index")
    return epochlog._read_small(fs, jpath)


def _read_stamp_params(spark, path: str, marker: str) -> tuple[int, int, int]:
    import posixpath

    fs, _ = epochlog._hadoop(spark, path)
    jmarker = spark._jvm.org.apache.hadoop.fs.Path(
        posixpath.join(path, marker)
    )
    # fail fast on a missing stamp: _read_marker's retry loop exists for
    # the create/close race, not for absent files — without this check a
    # deleted stamp means a 5 s blind hang then int('') noise
    if not fs.exists(jmarker):
        raise ValueError(
            f"no {marker} stamp at {path} — not a built IvfServingIndex"
        )
    stamp = epochlog._read_marker(fs, jmarker)
    n_lists, seed, dim = (int(x) for x in stamp.split(","))
    return n_lists, seed, dim


# -- deterministic clustering + semantic dedup --------------------------------


def _grid_assign(df: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Assign each (id, q) row to the nearest integer-grid centroid.

    Distances are pure INTEGER sums of squared per-dim deltas — exact,
    association-order-free, bit-identical in any engine — computed as
    one int64 numpy broadcast per Arrow batch (the interpreted
    ``aggregate``-fold form measured ~50× slower on the within-cluster
    stage; same escape hatch as ``cosine_scores_batch``). ``argmin``
    returns the FIRST minimum, which is exactly the (distance, index)
    lexicographic tie-break the SQL twin uses."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.array(centroids, dtype=np.int64)  # k × dim

    @pandas_udf("int")
    def nearest(qs: pd.Series) -> pd.Series:
        m = np.array(qs.tolist(), dtype=np.int64)  # batch × dim
        out = np.empty(len(m), dtype=np.int32)
        # row-block the (rows × k × dim) broadcast: a 10k-row Arrow
        # batch against k=160 centroids would allocate ~800 MB of int64
        # temporaries per task — 512 rows bounds it to ~25 MB
        block = 512
        for lo in range(0, len(m), block):
            hi = min(lo + block, len(m))
            d = ((m[lo:hi, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            out[lo:hi] = d.argmin(axis=1).astype(np.int32)
        return pd.Series(out)

    return df.withColumn("cluster", nearest(F.col("q")))


def _np_grid_assign(qm: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Blocked exact-int64 nearest-centroid (first-min tie-break) —
    the in-memory twin of ``_grid_assign``'s Arrow kernel."""
    out = np.empty(len(qm), dtype=np.int32)
    block = 512
    for lo in range(0, len(qm), block):
        hi = min(lo + block, len(qm))
        d = ((qm[lo:hi, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        out[lo:hi] = d.argmin(axis=1).astype(np.int32)
    return out


def _np_lloyd(
    ids: list, qm: np.ndarray, k: int, iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """In-driver Lloyd loop on pre-quantized vectors — bit-identical to
    the distributed tier (same md5 seed order, integer kernels, and
    exact-integer centroid rounding); pinned by forced-tier tests.
    Returns (assignments, centroids)."""
    import hashlib

    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    cents = qm[order[:k]].copy()
    for _ in range(iters):
        a = _np_grid_assign(qm, cents)
        for j in range(len(cents)):
            members = qm[a == j]
            if len(members) == 0:
                continue  # empty cluster keeps its centroid
            s = members.sum(axis=0)
            n = len(members)
            mag = (2 * np.abs(s) + n) // (2 * n)
            cents[j] = np.where(s >= 0, mag, -mag)
    return _np_grid_assign(qm, cents), cents


def kmeans_grid(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1000,
    driver_below: int = 50_000,
) -> DataFrame:
    """Lloyd k-means on an integer grid, deterministic to the bit in
    any engine: vectors quantize to ``round(x·scale)`` longs, the k
    seeds are the rows with the smallest ``md5(id)`` (engine-portable
    order), every distance is an exact integer, the argmin tie-breaks
    on cluster index, and updated centroids re-quantize to the grid
    via exact-integer half-away-from-zero rounding of sum/count (no
    float ever enters the training loop; the SQL oracle uses the same
    integer formula). A cluster that loses all members keeps its
    previous centroid.

    This is the ORACLE-EXACT clustering twin of ``ivf_build``'s
    pyspark.ml KMeans (whose result is engine-private): same Lloyd
    structure, every decision reproducible in SQL — the q77 gate
    hash-checks the full iteration, like q75 does for BPE training.
    Returns (id, cluster).

    Scale shape: per iteration ONE corpus pass for assignment (plan-
    literal centroids, no join) and one k×dim-bounded aggregate; the
    driver only ever holds k×dim longs. ``iters`` is a fixed constant,
    so the whole loop is O(iters · corpus).

    Tier routing (the dedup-clustering / BPE pattern): a
    ``limit(driver_below + 1)`` probe collects the quantized vectors
    when they fit — the whole loop then runs as in-driver numpy
    (bit-identical: same integer kernels, pinned by a forced-tier
    test) for ONE Spark job instead of ~2 per iteration. 50k × 64
    longs is ~25 MB; a real corpus blows past the probe and takes the
    distributed loop."""
    from pyspark.sql.types import IntegralType

    q = _spark_quantize(F.col(vec_col), scale)
    base = df.select(F.col(id_col).alias("id"), q.alias("q"))
    # the driver tier materializes ids as int64 and orders them by
    # md5(str(id)), which only reproduces Spark's string cast for
    # integral ids — other id types always take the distributed path
    integral_id = isinstance(df.schema[id_col].dataType, IntegralType)
    probe = (
        base.limit(driver_below + 1).collect()
        if integral_id and driver_below > 0
        else []
    )
    if integral_id and len(probe) <= driver_below and probe:
        ids = [r["id"] for r in probe]
        qm = np.array([r["q"] for r in probe], dtype=np.int64)
        a, _ = _np_lloyd(ids, qm, k, iters)
        # Arrow-backed local result: createDataFrame(pandas) decodes
        # JVM-side (ArrowConverters); a python LIST here parallelizes
        # pickled rows that cost one Python-worker round trip per
        # slice on EVERY downstream action (the q79 planted-rows find)
        return df.sparkSession.createDataFrame(
            pd.DataFrame(
                {
                    "id": np.asarray(ids, dtype=np.int64),
                    "cluster": a.astype(np.int32),
                }
            ),
            "id long, cluster int",
        )
    seeds = (
        base.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(k)
        .collect()
    )
    cents = [list(r["q"]) for r in seeds]
    for _ in range(iters):
        assigned = _grid_assign(base, cents)
        rows = (
            assigned.select("cluster", F.posexplode("q").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in rows:
            s, n = int(r["s"]), int(r["n"])
            # half-away-from-zero rounding of s/n in EXACT integer
            # arithmetic — Python round() is banker's and float
            # division risks a ulp flip; the SQL oracle uses the same
            # integer formula, so training never touches a float
            mag = (2 * abs(s) + n) // (2 * n)
            by_cluster.setdefault(r["cluster"], {})[r["d"]] = (
                mag if s >= 0 else -mag
            )
        cents = [
            [by_cluster[j][d] for d in sorted(by_cluster[j])]
            if j in by_cluster
            else cents[j]  # empty cluster keeps its centroid
            for j in range(len(cents))
        ]
    return _grid_assign(base, cents).select("id", "cluster")


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1000,
    threshold: float = 0.95,
    round_digits: int = 6,
    driver_below: int = 50_000,
    local_corpus: list | None = None,
) -> DataFrame:
    """SemDeDup: cluster the embedding space, then drop within each
    cluster every member that has a LOWER-id neighbor above the cosine
    *threshold* — the cluster bounds the quadratic term, so the
    pairwise pass is per-cluster, never corpus-wide. Returns
    ``(id, cluster, is_dropped)`` for every input row.

    ``local_corpus``: optional list of ``(id, vector)`` pairs already
    on the driver (a footer-gated pyarrow read, the q77 gate tier) —
    runs the SAME in-driver pipeline as the probe tier with zero
    plan-build Spark jobs: quantization goes through
    ``_quantize_query_half_up`` (the pinned bit-identical twin of the
    Spark grid expression), the raw doubles feed the same numpy
    kernels. Output equals the Spark-probe tier byte-for-byte
    (test_semantic_dedup_local_corpus_bit_identical). Never use it for
    corpora that don't comfortably fit on the driver.

    Cosine runs as float64 numpy (normalize + blocked matmul) and is
    rounded to ``round_digits`` before the threshold compare — the
    same absorbed-ulp contract as q35's ``pair_cosine_batch`` vs
    DuckDB's ``list_cosine_similarity`` (summation ORDER differs
    between numpy and a sequential SQL fold; rounding absorbs the
    final-ulp divergence, proven through the q35 sf10 replicas). A
    pair whose unrounded cosine sits within ~1e-15 of the rounded
    threshold boundary could in principle flip engines — unlike the
    clustering itself, which is integer-exact.

    Below ``driver_below`` corpus rows the WHOLE pipeline runs off one
    limit-probed collect (quantization stays Spark-side so the grid is
    identical; clustering and the drop matmuls use the same numpy
    kernels the distributed tiers run) — one Spark job instead of
    ~2·iters + 3. 50k rows × 64 doubles is ~25 MB driver-side; real
    corpora take the distributed path."""
    from pyspark.sql.types import IntegralType

    quant = _spark_quantize(F.col(vec_col), scale)
    integral_id = isinstance(df.schema[id_col].dataType, IntegralType)
    ids = qm = vm = None
    if local_corpus is not None:
        if not local_corpus:
            raise ValueError("cannot dedup an empty corpus")
        ids = np.array([int(p[0]) for p in local_corpus], dtype=np.int64)
        vm = np.array(
            [[float(x) for x in p[1]] for p in local_corpus],
            dtype=np.float64,
        )
        qm = _quantize_query_half_up(vm, scale)
    else:
        probe = (
            df.select(
                F.col(id_col).alias("id"),
                quant.alias("q"),
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double")
                ).alias("v"),
            )
            .limit(driver_below + 1)
            .collect()
            if integral_id and driver_below > 0
            else []
        )
        if integral_id and len(probe) <= driver_below and probe:
            ids = np.array([r["id"] for r in probe], dtype=np.int64)
            qm = np.array([r["q"] for r in probe], dtype=np.int64)
            vm = np.array([r["v"] for r in probe], dtype=np.float64)
    if ids is not None:
        a, _ = _np_lloyd(list(ids), qm, k, iters)
        dropped = np.zeros(len(ids), dtype=bool)
        for j in np.unique(a):
            sel = np.flatnonzero(a == j)
            sel = sel[np.argsort(ids[sel])]
            m = vm[sel]
            norms = np.sqrt((m * m).sum(axis=1))
            norms[norms == 0] = 1.0
            nm = m / norms[:, None]
            block = 1024
            for lo in range(1, len(sel), block):
                hi = min(lo + block, len(sel))
                s = np.round(nm[lo:hi] @ nm[:hi].T, round_digits)
                for r in range(lo, hi):
                    if (s[r - lo, :r] >= threshold).any():
                        dropped[sel[r]] = True
        # Arrow-backed local result (see kmeans_grid's driver tier)
        return df.sparkSession.createDataFrame(
            pd.DataFrame(
                {
                    "id": ids.astype(np.int64),
                    "cluster": a.astype(np.int32),
                    "is_dropped": dropped,
                }
            ),
            "id long, cluster int, is_dropped boolean",
        )

    # the probe above already proved the corpus exceeds the tier —
    # force the distributed loop instead of paying a second probe
    assigned = kmeans_grid(
        df, id_col, vec_col, k, iters, scale, driver_below=0
    )
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    members = assigned.join(vecs, "id")

    # Per-cluster blocked matmul inside ONE applyInPandas task per
    # cluster: an explicit pair join materialized |cluster|²/2 rows of
    # paired 64-dim arrays through Arrow (~1 GB at sf0.1, 8s); here
    # only (id, cluster, vec) rows cross, the cosine matrix never
    # leaves numpy, and row-blocking bounds the working set. The drop
    # rule is order-free (any lower-id neighbor ≥ threshold), so
    # within-task evaluation is exact.
    def _drops(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        m = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0] = 1.0
        nm = m / norms[:, None]
        dropped = np.zeros(len(pdf), dtype=bool)
        block = 1024
        for lo in range(1, len(pdf), block):
            hi = min(lo + block, len(pdf))
            s = np.round(nm[lo:hi] @ nm[:hi].T, round_digits)
            for r in range(lo, hi):
                dropped[r] = bool((s[r - lo, :r] >= threshold).any())
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "cluster": pdf["cluster"],
                "is_dropped": dropped,
            }
        )

    return members.groupBy("cluster").applyInPandas(
        _drops, schema="id long, cluster int, is_dropped boolean"
    )


# -- product quantization (the compressed-vector ANN tier) --------------------


# the TOTAL grid's cell bound: NaN quantizes to 0, everything else
# clamps to ±GRID_CLAMP after rounding — the quantizer must be total
# (a single hostile NaN/Inf dimension crashed the whole q77/q79 plan
# under ANSI casts, found by the round-14 adversarial embeddings
# fixture) and the bound keeps EVERY grid arithmetic term exact:
# squared distances sum to ≤ 64·(2e6)² ≈ 2.6e14 < 2^53, so the
# oracle's double-space inner products and the int64 numpy kernels
# stay bit-exact at the extremes
GRID_CLAMP = 1_000_000


def _spark_quantize(col: Column, scale: int) -> Column:
    """The ONE grid-quantization expression every PQ stage shares:
    ``round(x * scale)`` as int64, evaluated by Spark — TOTALIZED:
    NaN → 0, then clamped to ±GRID_CLAMP (±Inf and overflow land on
    the bound). Training, encoding, and the oracle all quantize
    through this same expression, so the grid is identical by
    construction — no float-rounding mirror to keep in sync. (An
    earlier numpy mirror using ``floor(|s| + 0.5)`` diverged from
    F.round's BigDecimal HALF_UP for doubles one ulp below a .5 tie:
    numpy's ``s + 0.5`` rounds to 1.0 at s = 0.49999999999999994
    while BigDecimal.valueOf sees the decimal string and returns 0.)"""
    b = float(GRID_CLAMP)

    def q(x):
        xd = x.cast("double")
        return (
            F.when(F.isnan(xd), F.lit(0.0))
            .otherwise(
                F.least(F.lit(b), F.greatest(F.lit(-b), F.round(xd * scale)))
            )
            .cast("long")
        )

    return F.transform(col, q)


def _quantize_half_up_np(s: np.ndarray) -> np.ndarray:
    """Vectorized HALF_UP (half-away-from-zero) integer rounding of a
    float64 array, bit-identical to F.round / ``BigDecimal.valueOf``:

    The Decimal twin below compares the double's SHORTEST DECIMAL
    string against the .5 boundary; this kernel compares the BINARY
    value. They agree for every double: ``k + 0.5`` is itself exactly
    representable (|s| < 2^52, above which fractions are 0 anyway), so
    ``binary(s) >= k + 0.5  ⟺  shortest_decimal(s) >= k + 0.5`` — a
    shortest round-tripping decimal on the other side of an exactly
    representable boundary would parse back to a different double.
    The fraction ``f - floor(f)`` is computed exactly in float64
    (dropping the integer bits never needs more significand).
    Property-pinned against the Decimal reference in
    test_similarity (random + adversarial near-.5 ulp neighbors)."""
    s = np.where(np.isnan(s), 0.0, s)
    f = np.abs(s)
    fl = np.floor(f)
    # rounding in FLOAT space, clamp, then the int64 cast: an astype
    # of ±Inf / out-of-range floats is undefined (wraps to INT64_MIN),
    # so the totalization (NaN→0, clamp ±GRID_CLAMP — the Spark twin's
    # rule) must happen before the cast
    # ±Inf makes f - fl evaluate inf - inf = NaN: the comparison is
    # then False and magf stays inf, which the clamp below resolves —
    # correct, but numpy would emit a per-batch "invalid value
    # encountered in subtract" RuntimeWarning that fills a 100-TB
    # run's executor logs (round-14 VERDICT nit); suppress just it
    with np.errstate(invalid="ignore"):
        magf = fl + (f - fl >= 0.5)
        out = np.where(s >= 0, magf, -magf)
    return np.clip(out, -GRID_CLAMP, GRID_CLAMP).astype(np.int64)


def _quantize_half_up_decimal(vals: list[float], scale: int) -> np.ndarray:
    """Decimal-string REFERENCE twin of ``_quantize_half_up_np`` —
    mirrors F.round's exact semantics (Java's
    ``BigDecimal.valueOf(double)`` parses ``Double.toString`` and
    rounds HALF_UP) via ``Decimal(repr(s))``: both languages print a
    round-tripping decimal of the SAME double, and two round-tripping
    strings of one double can never straddle a .5 boundary (k + 0.5 is
    itself a representable double), so integer HALF_UP rounding agrees
    for every input. Kept as the test oracle the vectorized kernel is
    property-pinned against; production paths use the kernel (the
    per-element Decimal loop was q77/q79's driver-tier hot spot —
    ~1 s per 256k elements). Carries the same TOTALIZATION as the
    production rule (NaN → 0, clamp ±GRID_CLAMP) so the property pin
    covers the hostile classes too."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    out = []
    for v in vals:
        s = float(v) * scale
        if math.isnan(s):
            out.append(0)
            continue
        if math.isinf(s):
            out.append(GRID_CLAMP if s > 0 else -GRID_CLAMP)
            continue
        r = int(
            Decimal(repr(s)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )
        out.append(max(-GRID_CLAMP, min(GRID_CLAMP, r)))
    return np.array(out, dtype=np.int64)


def _quantize_query_half_up(vals, scale: int) -> np.ndarray:
    """Driver-side twin of ``_spark_quantize``: HALF_UP integer
    rounding of ``v * scale``. Accepts a 1-D vector or a 2-D matrix
    (rows = vectors); the multiply runs in float64, the same IEEE op
    Spark's codegen performs before ``BigDecimal.valueOf``."""
    # huge-but-finite hostile values overflow to ±Inf here — handled
    # (the kernel clamps to ±GRID_CLAMP) but numpy would emit a
    # per-call "overflow encountered in multiply" RuntimeWarning
    # (same log-noise class as the round-14 nit in the kernel itself)
    with np.errstate(over="ignore"):
        s = np.asarray(vals, dtype=np.float64) * scale
    return _quantize_half_up_np(s)


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    iters: int = 3,
    scale: int = 1000,
    sample_rows: int = 50_000,
    local_sample: list | None = None,
) -> np.ndarray:
    """Train product-quantization codebooks: split each vector into
    ``n_subspaces`` contiguous sub-vectors and run the deterministic
    integer-grid Lloyd loop (``_np_lloyd`` — md5-ordered seeds, exact
    integer kernels) independently per subspace. Returns an
    (n_subspaces, n_centroids, sub_dim) int64 codebook array,
    reproducible across runs and engines.

    The quantizer trains on a DETERMINISTIC bounded sample — the first
    ``sample_rows`` rows in (md5(id), id) order — which is how coarse
    quantizers are fit at scale (``ivf_build`` documents the same);
    encoding, the corpus-scale pass, is ``pq_encode``.

    ``local_sample``: optional list of ``(id, vector)`` pairs already
    on the driver (e.g. a footer-gated pyarrow read of a small corpus,
    the q79 gate tier). The SAME deterministic sampling and grid apply
    — (md5(str(id)), id) ordering matches Spark's
    ``md5(cast(id as string))`` byte-for-byte, and quantization goes
    through ``_quantize_query_half_up``, the pinned bit-identical twin
    of ``_spark_quantize`` — so the codebooks are equal to the Spark
    path's (test_pq_train_local_sample_bit_identical). Skips the
    plan-build Spark job entirely; never use it for corpora that don't
    comfortably fit on the driver."""
    from pyspark.sql.types import IntegralType

    if not isinstance(df.schema[id_col].dataType, IntegralType):
        raise ValueError("pq_train requires an integral id column")
    if local_sample is not None:
        return _pq_train_pairs(
            local_sample, n_subspaces, n_centroids, iters, scale, sample_rows
        )
    q = _spark_quantize(F.col(vec_col), scale)
    rows = (
        df.select(F.col(id_col).alias("id"), q.alias("q"))
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(sample_rows)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train a quantizer on an empty corpus")
    ids = [r["id"] for r in rows]
    qm = np.array([r["q"] for r in rows], dtype=np.int64)
    return _pq_books_from_sample(ids, qm, n_subspaces, n_centroids, iters)


def _pq_train_pairs(
    local_sample: list,
    n_subspaces: int,
    n_centroids: int,
    iters: int,
    scale: int,
    sample_rows: int,
) -> np.ndarray:
    """The pure-local half of ``pq_train``: deterministic (md5(id), id)
    sampling + the pinned bit-identical quantizer twin + the Lloyd
    loop, with no Spark session anywhere — callable on the driver (the
    footer-gated local_sample path) or INSIDE an Arrow task (the q79
    one-task tier, round 15)."""
    import hashlib

    pairs = sorted(
        local_sample,
        key=lambda p: (
            hashlib.md5(str(int(p[0])).encode()).hexdigest(),
            int(p[0]),
        ),
    )[:sample_rows]
    if not pairs:
        raise ValueError("cannot train a quantizer on an empty corpus")
    ids = [int(p[0]) for p in pairs]
    qm = _quantize_query_half_up(
        np.array([[float(x) for x in p[1]] for p in pairs],
                 dtype=np.float64),
        scale,
    )
    return _pq_books_from_sample(ids, qm, n_subspaces, n_centroids, iters)


def _pq_books_from_sample(
    ids: list, qm: np.ndarray, n_subspaces: int, n_centroids: int, iters: int
) -> np.ndarray:
    dim = qm.shape[1]
    if dim % n_subspaces:
        raise ValueError(
            f"dim {dim} is not divisible by n_subspaces {n_subspaces}"
        )
    d = dim // n_subspaces
    # a sample smaller than n_centroids trains fewer rows (Lloyd seeds
    # one centroid per sample row) — the codebook is TRUNCATED to the
    # trained rows, never padded: zero-padding would plant phantom
    # all-zero "centroids" that near-origin vectors encode to
    n_trained = min(n_centroids, len(ids))
    books = np.zeros((n_subspaces, n_trained, d), dtype=np.int64)
    for s in range(n_subspaces):
        _, cents = _np_lloyd(ids, qm[:, s * d : (s + 1) * d], n_trained, iters)
        books[s, : len(cents)] = cents
    return books


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    scale: int = 1000,
) -> DataFrame:
    """Encode every vector to its per-subspace nearest-centroid codes:
    (id, codes array<int>) — dim floats compress to n_subspaces small
    ints (64 × 4 bytes → 8 codes here, a 32× memory cut). One Arrow
    map over the corpus, exact int64 distances, first-min tie-break —
    codes are deterministic, so an index built from them is
    reproducible."""
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(codebooks, dtype=np.int64)
    codes = _pq_codes_udf(books)
    # quantization happens SPARK-SIDE through the same expression
    # pq_train used, so train/encode grids are identical by construction
    return df.select(
        F.col(id_col).alias("id"),
        codes(_spark_quantize(F.col(vec_col), scale)).alias("codes"),
    )


def _pq_codes_udf(books: np.ndarray):
    """Arrow-batched nearest-centroid coder over ALREADY-QUANTIZED int64
    sub-vectors (exact integer distances, first-min tie-break) — shared
    by ``pq_encode`` and the IVF-PQ index's build/append paths."""
    from pyspark.sql.functions import pandas_udf

    n_sub, _, d = books.shape

    @pandas_udf("array<int>")
    def codes(qvecs: pd.Series) -> pd.Series:
        m = np.array(qvecs.tolist(), dtype=np.int64)
        out = np.empty((len(m), n_sub), dtype=np.int32)
        for s in range(n_sub):
            sub = m[:, s * d : (s + 1) * d]
            dist = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            out[:, s] = dist.argmin(axis=1).astype(np.int32)
        return pd.Series(list(out))

    return codes


def pq_topk(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query: list[float],
    k: int = 10,
    scale: int = 1000,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds
    one (n_subspaces × n_centroids) integer lookup table of squared
    distances to every centroid, and each row's approximate distance
    is n_subspaces table lookups — no vector math per row, the reason
    PQ scans survive corpora whose raw vectors don't fit anywhere.
    Returns (id, adc_dist) ordered (dist asc, id), LIMIT k —
    TakeOrdered, no global sort."""
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(codebooks, dtype=np.int64)
    n_sub, _, d = books.shape
    qv = _quantize_query_half_up(query, scale)
    table = np.stack(
        [
            ((books[s] - qv[s * d : (s + 1) * d][None, :]) ** 2).sum(axis=1)
            for s in range(n_sub)
        ]
    )  # (n_sub, n_centroids) exact int64

    @pandas_udf("long")
    def adc(codes: pd.Series) -> pd.Series:
        c = np.array(codes.tolist(), dtype=np.int64)  # (batch, n_sub)
        return pd.Series(table[np.arange(n_sub)[None, :], c].sum(axis=1))

    return (
        encoded.select("id", adc(F.col("codes")).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("id"))
        .limit(k)
    )


def pq_refine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    query: list[float],
    k: int = 10,
    n_candidates: int | None = None,
    scale: int = 1000,
    round_digits: int | None = 6,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """PQ retrieve + exact re-rank — the standard two-stage ADC serving
    shape: the compressed-code scan (``pq_topk``) shortlists
    ``n_candidates`` ids (default 4·k), and only the shortlist's RAW
    vectors are read back for an exact cosine top-k. At scale the raw
    corpus is touched for O(n_candidates) rows; the per-row work is the
    n_subspaces table lookups of the ADC pass.

    Output columns/order match ``cosine_topk`` exactly: (id, score)
    by (score desc, id). Setting ``n_candidates`` ≥ the corpus size
    makes the shortlist provably total, degenerating the result to the
    exact cosine top-k — the q34 gate-degeneration strategy, used by
    q79 to hash-check this pipeline against q33's oracle; the
    selective regime's recall is pinned in tests/test_similarity.py.

    ``encoded`` lets a caller that runs SEVERAL retrieves over one
    corpus (q79's two labeled regimes; any multi-query serve) reuse a
    single ``pq_encode`` pass: (id, codes) rows for EXACTLY *df*'s ids
    under the same codebooks/scale. Not a superset — extra encoded ids
    would occupy shortlist slots and then vanish at the semi-join,
    silently shrinking the effective candidate width (and breaking the
    n_candidates ≥ corpus totality guarantee); filter the shared
    encode down to *df*'s ids instead."""
    if n_candidates is None:
        n_candidates = 4 * k
    if n_candidates < k:
        raise ValueError(f"n_candidates ({n_candidates}) must be >= k ({k})")
    if encoded is None:
        encoded = pq_encode(df, id_col, vec_col, codebooks, scale)
    shortlist = pq_topk(encoded, codebooks, query, k=n_candidates, scale=scale)
    # The shortlist is k-bounded and tiny relative to the corpus —
    # broadcast it so the re-rank never shuffles the raw vectors. An
    # INNER join, not a semi: Catalyst pushes LeftSemi joins through a
    # Union probe side (q79's corpus ∪ planted), DUPLICATING the
    # broadcast build — i.e. the whole encode→ADC→TakeOrdered pipeline
    # ran once per union branch. No such rule fires for inner joins,
    # and the two are row-identical when the build side is unique ids —
    # the distinct() enforces that (one row per encoded id already;
    # 40-ish rows, free) so a caller passing duplicate ids can never
    # turn the inner join into a row multiplier.
    kept = df.join(
        F.broadcast(
            shortlist.select(F.col("id").alias(id_col)).distinct()
        ),
        id_col,
        "inner",
    ).select(df.columns)
    return cosine_topk(kept, id_col, vec_col, query, k, round_digits=round_digits)


def pq_ann_onetask(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    n_candidates: int = 40,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    iters: int = 3,
    scale: int = 1000,
    sample_rows: int = 20_000,
    round_digits: int = 4,
    planted: int = 10,
) -> DataFrame:
    """q79's ENTIRE two-regime PQ pipeline — train, plant, encode,
    ADC-shortlist, exact re-rank, exact total scan — in ONE Arrow task
    (the q27/q35 small-corpus tier applied to the retrieve pipeline).

    Below the cap the distributed plan is a driver-side pyarrow read +
    Lloyd fit per invocation plus four Python-boundary stages around a
    2000×64 matmul. Here the task's own input rows ARE the training
    sample source (same (md5(id), id) order via ``_pq_train_pairs``),
    the planted rows are synthesized in-task with the SAME float32
    truncation the JVM literal cast applies, quantization goes through
    ``_quantize_query_half_up`` (the pinned bit-identical twin of
    ``_spark_quantize``), codes/ADC use the same exact-int64 argmin /
    table-lookup arithmetic, and the cosine formula is
    ``cosine_scores_batch``'s numpy expression verbatim. Ranking uses
    HALF_UP-rounded scores through the ``Decimal(repr(x))`` twin of
    ``F.round`` (NaN ordered first on descending, as Spark orders it),
    so row selection matches the JVM plan bit-for-bit. Output:
    (regime, vec_id, score double) — scores already rounded.

    The distributed plan remains the at-scale path; callers route by
    footer rowcount and the sf1 replica gates the distributed tier."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    qv64 = np.array([float(x) for x in query], dtype=np.float64)
    qf32 = qv64.astype(np.float32).astype(np.float64)  # the literal cast
    schema = StructType(
        [
            StructField("regime", StringType(), False),
            StructField("vec_id", df.schema[id_col].dataType, True),
            StructField("score", DoubleType(), True),
        ]
    )

    def _round_hu(s: float) -> float:
        import math
        from decimal import ROUND_HALF_UP, Decimal

        if math.isnan(s) or math.isinf(s):
            return s
        return float(
            Decimal(repr(s)).quantize(
                Decimal(1).scaleb(-round_digits), ROUND_HALF_UP
            )
        )

    def _topk(ids: list, scores: np.ndarray, kk: int) -> list:
        import math

        # the distributed plan's scorer is a pandas_udf: Arrow converts
        # NaN cosines to NULL, and F.desc orders NULLS LAST — mirror
        # that (NaN rows rank after every real score, ties by id)
        rounded = [_round_hu(float(s)) for s in scores]
        order = sorted(
            range(len(ids)),
            key=lambda i: (
                math.isnan(rounded[i]),  # NULLs (NaN) last
                -rounded[i] if not math.isnan(rounded[i]) else 0.0,
                ids[i],
            ),
        )
        return [
            (ids[i], None if math.isnan(rounded[i]) else rounded[i])
            for i in order[:kk]
        ]

    def _all(batches):
        ids: list = []
        mats: list = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids.extend(pdf[id_col].tolist())
            mats.append(np.array(pdf[vec_col].tolist(), dtype=np.float64))
        if not ids:
            yield pd.DataFrame({"regime": [], "vec_id": [], "score": []})
            return
        m = np.concatenate(mats) if len(mats) > 1 else mats[0]
        books = _pq_train_pairs(
            list(zip(ids, m)), n_subspaces, n_centroids, iters, scale,
            sample_rows,
        )
        # augment with the planted copies (ids -planted..-1, the query
        # vector through the JVM float-literal cast)
        aug_ids = list(range(-planted, 0)) + list(ids)
        aug = np.concatenate([np.tile(qf32, (planted, 1)), m])
        # encode: same exact-int64 nearest-centroid argmin as pq_encode
        qm = _quantize_query_half_up(aug, scale)
        n_sub, _, d = books.shape
        codes = np.empty((len(aug_ids), n_sub), dtype=np.int64)
        for s in range(n_sub):
            sub = qm[:, s * d : (s + 1) * d]
            dist = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = dist.argmin(axis=1)
        # ADC shortlist: same integer table as pq_topk, (dist asc, id)
        qq = _quantize_query_half_up(qv64, scale)
        table = np.stack(
            [
                ((books[s] - qq[s * d : (s + 1) * d][None, :]) ** 2).sum(
                    axis=1
                )
                for s in range(n_sub)
            ]
        )
        adc = table[np.arange(n_sub)[None, :], codes].sum(axis=1)
        short = sorted(
            range(len(aug_ids)), key=lambda i: (adc[i], aug_ids[i])
        )[:n_candidates]
        # exact cosine: cosine_scores_batch's numpy expression verbatim
        qn = float(np.sqrt((qv64 * qv64).sum()))

        def _cos(rows: np.ndarray) -> np.ndarray:
            norms = np.sqrt((rows * rows).sum(axis=1)) * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                return np.where(norms > 0, (rows @ qv64) / norms, 0.0)

        sel = _topk(
            [aug_ids[i] for i in short], _cos(aug[short]), k
        )
        tot = _topk(ids, _cos(m), k)
        yield pd.DataFrame(
            {
                "regime": ["selective_planted"] * len(sel)
                + ["total"] * len(tot),
                "vec_id": pd.Series(
                    [p[0] for p in sel] + [p[0] for p in tot], dtype=object
                ),
                "score": [p[1] for p in sel] + [p[1] for p in tot],
            }
        )

    return (
        df.select(id_col, vec_col).coalesce(1).mapInPandas(_all, schema)
    )
