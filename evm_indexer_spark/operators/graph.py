"""Distributed connected components — the clustering stage of near-dup
deduplication.

LSH/similarity joins emit *pairs*; choosing one canonical document per
duplicate group needs the transitive closure of those pairs. This is
iterative hash-min label propagation (each node repeatedly adopts the
smallest component id among itself and its neighbors) plus a
pointer-jumping step (each node then adopts its label's label — path
halving), the combination GraphX/GraphFrames and the
large-star/small-star family (Kiveris et al., "Connected Components in
MapReduce") use to get O(log n) rounds instead of O(diameter).

Scale shape: per iteration one equi-join (labels ⋈ edges on the source
endpoint), one min-groupBy, and one self-join for the pointer jump —
three shuffles over O(|E|) rows. Convergence is detected with a 1-row
aggregate (labels only ever decrease, so Σ labels strictly decreases
until the fixpoint) — no driver-side data collection.
``localCheckpoint`` truncates the plan lineage each round so the loop
doesn't compound into an exponential plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _release_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks behind a localCheckpointed DataFrame.

    DataFrame-level localCheckpoints are NOT reclaimed by the context
    cleaner (the session keeps the LogicalRDD reachable), so an
    iterative loop that abandons one per round accumulates storage for
    the session lifetime — the round-3 retention leak. Unpersisting the
    underlying RDD is irreversible (the lineage was truncated), so this
    must only run once nothing will read the checkpoint again."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort; a stopped session has nothing to release


def release_cached(df: DataFrame) -> None:
    """Release every localCheckpoint a result DataFrame still pins.

    ``connected_components`` (and thus ``dedup_clusters``) returns a
    plan over its final checkpointed label table; that table stays in
    executor storage until the session ends. Long-lived services that
    call these per request should call ``release_cached(result)`` after
    fully consuming the result — afterwards the DataFrame can no longer
    be recomputed."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getName().endswith("LogicalRDD"):
                leaf.rdd().unpersist(False)
    except Exception:
        pass


def _driver_union_find(rows, node_type) -> list[tuple]:
    """Min-label components of a small edge list, driver-side."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    return [(n, comp_min[find(n)]) for n in parent]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Label every node with the minimum node id reachable through the
    undirected edge set. *nodes* (single-column) adds isolated vertices
    (label = themselves); omitted, the vertex set is the edge endpoints.

    Returns (node, component) — component is the min id in the group.

    Cost-based execution, the same reasoning Spark applies choosing
    broadcast vs shuffle joins: a ``limit(K+1)`` probe (LocalLimit
    short-circuits the scan) checks whether the edge list fits the
    driver; if so, one job collects it and union-find labels it locally
    — the iterative path costs ~10 tiny Spark jobs of pure scheduling
    floor on sparse pair sets, driver union-find costs one. Above the
    threshold (web-scale dedup, where pair sets are unbounded) the
    distributed hash-min + pointer-jumping loop runs: rounds ≈
    log2(diameter); raises if the fixpoint isn't reached within
    *max_iter* rounds.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    e_cached = None
    if nodes is None and driver_threshold > 0:
        # The probe and the distributed path both consume the upstream
        # pair pipeline — often the dominant cost (LSH/Jaccard joins).
        # Cache the slim 2-column projection first so partitions the
        # probe materializes are reused instead of recomputed when the
        # edge list exceeds the threshold (the exact web-scale case).
        e_cached = e.persist()
        probe = e_cached.limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            node_type = edges.schema[src].dataType
            from pyspark.sql.types import StructField, StructType

            schema = StructType(
                [
                    StructField("node", node_type),
                    StructField("component", node_type),
                ]
            )
            labeled = _driver_union_find(
                [(r[0], r[1]) for r in probe], node_type
            )
            e_cached.unpersist()
            if labeled:
                # Arrow-backed local result: createDataFrame(pandas)
                # decodes JVM-side; a python LIST parallelizes pickled
                # rows costing a Python-worker round trip per slice on
                # every downstream action (the q79 planted-rows find)
                import pandas as pd

                return edges.sparkSession.createDataFrame(
                    pd.DataFrame(labeled, columns=["node", "component"]),
                    schema,
                )
            return edges.sparkSession.createDataFrame(labeled, schema)

    sym = e.unionByName(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).distinct()
    sym = sym.persist()
    try:
        vertex = sym.select(F.col("s").alias("node")).distinct()
        if nodes is not None:
            extra = nodes.select(
                F.col(nodes.columns[0]).alias("node")
            ).distinct()
            vertex = vertex.unionByName(extra).distinct()
        labels = vertex.select("node", F.col("node").alias("component"))
        labels = labels.localCheckpoint()

        prev_sum = labels.agg(F.sum("component")).collect()[0][0]
        for _ in range(max_iter):
            prop = sym.join(
                labels, sym["s"] == labels["node"], "inner"
            ).select(F.col("d").alias("node"), "component")
            merged = (
                prop.unionByName(labels)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
            # pointer jump: component <- component's component (path
            # halving); every component value is itself a node, so the
            # inner join is total
            lk = merged.select(
                F.col("node").alias("c_node"),
                F.col("component").alias("c_comp"),
            )
            superseded = labels
            labels = (
                merged.join(lk, merged["component"] == lk["c_node"], "inner")
                .select("node", F.col("c_comp").alias("component"))
                .localCheckpoint()  # eager: materialized here, so the
                # previous round's checkpoint has no remaining readers
            )
            _release_checkpoint(superseded)
            cur_sum = labels.agg(F.sum("component")).collect()[0][0]
            if cur_sum == prev_sum:
                # the final label table stays checkpointed — it IS the
                # returned data; callers can free it with release_cached
                return labels
            prev_sum = cur_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    finally:
        sym.unpersist()
        if e_cached is not None:
            e_cached.unpersist()


def _dedup_clusters_onetask(
    doc: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int,
) -> DataFrame:
    """``dedup_clusters`` in ONE Arrow task for corpora that fit one
    worker: inverted-shingle-index exact Jaccard pairs (the same pair
    law as ``dedup.jaccard_all_pairs``), union-find closure, and
    singleton labeling, all in-task — the distributed form pays ~8 AQE
    jobs of scheduling floor on a 500-doc input (union-find probe,
    anti-join, collect) against milliseconds of compute.
    Callers bound the input (footer row counts / structural filters);
    the corpus-scale path is ``dedup_clusters``'s distributed plan."""
    import re

    from pyspark.sql.types import StructField, StructType

    from .dedup import _py_shingles

    node_type = doc.schema[id_col].dataType
    schema = StructType(
        [
            StructField("node", node_type, False),
            StructField("cluster_id", node_type, False),
        ]
    )
    ws = re.compile(r"\s+", re.ASCII)
    strip = re.compile(r"[^a-z0-9\s]", re.ASCII)
    thr = float(threshold)

    def _all(batches):
        import pandas as pd

        ids, sets = [], {}
        for pdf in batches:
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                norm = ws.sub(" ", strip.sub("", t.lower())).strip()
                ids.append(doc_id)
                sets[doc_id] = set(_py_shingles(norm, shingle_n))
        # inverted shingle index -> pair intersection counts: only id
        # pairs actually sharing a shingle are ever touched
        posting: dict = {}
        for i in ids:
            for s in sets[i]:
                posting.setdefault(s, []).append(i)
        counts: dict = {}
        for plist in posting.values():
            if len(plist) < 2:
                continue
            for x in range(len(plist) - 1):
                for y in range(x + 1, len(plist)):
                    a, b = plist[x], plist[y]
                    p = (a, b) if a < b else (b, a)
                    counts[p] = counts.get(p, 0) + 1
        edges = [
            p
            for p, inter in counts.items()
            if inter / (len(sets[p[0]]) + len(sets[p[1]]) - inter) >= thr
        ]
        labeled = dict(_driver_union_find(edges, None))
        yield pd.DataFrame(
            {
                "node": ids,
                "cluster_id": [labeled.get(i, i) for i in ids],
            }
        )

    return (
        doc.select(id_col, text_col)
        .coalesce(1)
        .mapInPandas(_all, schema)
        .select(F.col("node").alias(id_col), "cluster_id")
    )


def dedup_clusters(
    doc: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    strategy: str = "distributed",
) -> DataFrame:
    """Group near-duplicate documents: exact prefix-filtered Jaccard
    pairs (``dedup.jaccard_prefix_join``) → transitive closure → one
    cluster id (= min doc id) per document, singletons included. The
    keep-one-per-cluster policy downstream is then a trivial
    ``filter(id == cluster_id)``.

    At 100 TB the pair stage is the cost; the closure runs over pair
    endpoints only and every document outside the pair graph labels
    itself via an anti-join — the iterative loop never touches the full
    corpus. The endpoint set is *not* broadcast: at web-scale dup rates
    30–50% of all documents appear in some pair, so it is unbounded —
    a shuffled anti-join (AQE downgrades it to broadcast when the set
    really is small) is the only shape that survives the scale-up.

    Storage lifecycle: the pair cache is released before returning; the
    final label table (one slim row per pair endpoint) stays
    checkpointed for the result's lifetime — long-lived services should
    ``release_cached(result)`` once done with it.

    ``strategy``: ``"distributed"`` (default) = the full plan, correct
    at any size; ``"onetask"`` = the whole pipeline in one Arrow task
    (``_dedup_clusters_onetask``) for inputs the caller has proven fit
    one worker — it skips the ~8 scheduling-floor jobs the distributed
    shape pays on tiny inputs (1.16s → 0.35s warm for the 500-doc q60
    slice at sf1, r7 medians). q60 routes it from parquet footers."""
    from . import dedup

    if strategy not in ("onetask", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "onetask":
        return _dedup_clusters_onetask(
            doc, id_col, text_col, threshold, shingle_n
        )
    pairs = dedup.jaccard_prefix_join(
        doc, id_col, text_col, shingle_n=shingle_n, threshold=threshold,
        strategy="prefix",
    ).select("id_a", "id_b")
    # single consumer: the closure materializes eagerly (driver
    # union-find below the threshold, localCheckpoint rounds above), and
    # its vertex set IS the pair-endpoint set, so the singleton anti-join
    # runs against `cc` — nothing downstream re-reads `pairs`, hence no
    # persist (the round-3 retention leak site)
    cc = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )
    singletons = doc.select(id_col).join(
        cc.select(id_col), id_col, "left_anti"
    ).select(id_col, F.col(id_col).alias("cluster_id"))
    return cc.unionByName(singletons)
