"""Parquet-footer table metadata (zero-job strategy probes) and the
shared MinHash banding tier table.

The cost-routed catalog entries (q27/q34/q54/q66) pick tiers from
footer statistics instead of running a count()/first() Spark job at
plan-build; these tests pin the helpers against an independent engine
(DuckDB) and pin the banding tiers both entries must share.
"""

from __future__ import annotations

import inspect

import duckdb

from evm_indexer_spark.operators.dedup import banding_for_corpus
from evm_indexer_spark.sources.tables import (
    table_column_bytes,
    table_column_range,
    table_rowcount,
)

SF = "/root/testdata/sf0.001"


class TestFooterMeta:
    def test_rowcount_matches_duckdb(self):
        for t in ("documents", "embeddings", "events"):
            expect = duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{SF}/{t}.parquet')"
            ).fetchone()[0]
            assert table_rowcount(SF, t) == expect

    def test_column_range_matches_duckdb(self):
        lo, hi = duckdb.sql(
            f"SELECT min(doc_id), max(doc_id) FROM "
            f"read_parquet('{SF}/documents.parquet')"
        ).fetchone()
        assert table_column_range(SF, "documents", "doc_id") == (lo, hi)

    def test_missing_table_returns_none(self):
        assert table_rowcount(SF, "no_such_table") is None
        assert table_column_range(SF, "no_such_table", "x") is None

    def test_missing_column_returns_none(self):
        assert table_column_range(SF, "documents", "no_such_col") is None

    def test_column_bytes_bounds_text_volume(self):
        # the q80/q81 routing bound: whitespace tokens (hence token
        # n-gram windows) number at most text-bytes/2 — the footer
        # uncompressed size must dominate the true byte volume, which
        # must dominate 2x the true token count
        tb = table_column_bytes(SF, "documents", "text")
        assert tb is not None and tb > 0
        true_bytes, true_tokens = duckdb.sql(
            f"""SELECT sum(strlen(text)),
                       sum(len(regexp_split_to_array(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                           ' ')))
                FROM read_parquet('{SF}/documents.parquet')"""
        ).fetchone()
        assert tb >= true_bytes
        assert true_bytes >= 2 * true_tokens - duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet')"
        ).fetchone()[0]  # last token of each doc has no separator byte

    def test_column_bytes_nested_column_sums_leaves(self):
        # parquet footers record array columns as `col.list.element`
        # leaf paths; the embedding byte gates (q35/q67/q79) need the
        # bare column name to resolve to the summed leaf chunks
        eb = table_column_bytes(SF, "embeddings", "embedding")
        assert eb is not None
        n, dim = duckdb.sql(
            f"SELECT count(*), max(len(embedding)) FROM "
            f"read_parquet('{SF}/embeddings.parquet')"
        ).fetchone()
        assert eb >= n * dim * 4  # at least the raw float payload

    def test_column_bytes_missing_returns_none(self):
        assert table_column_bytes(SF, "no_such_table", "text") is None
        # a present table with an ABSENT column must be None, not 0 —
        # 0 would let a caller footer-"prove" broadcast-safety from
        # zero evidence (round-12 advice); integers are reserved for
        # columns actually present in the footers
        assert table_column_bytes(SF, "documents", "no_such_col") is None

    def test_footer_caches_invalidate_on_fixture_regeneration(
        self, spark, tmp_path
    ):
        # a fixture REGENERATED in-process (adversarial twins,
        # scale_testdata) must not be served the old file's stats —
        # the cache key carries the file's (mtime_ns, size) stamp
        import os
        import time

        p = tmp_path / "t.parquet"
        spark.range(0, 10).withColumnRenamed("id", "k").coalesce(
            1
        ).write.parquet(str(p))
        assert table_rowcount(str(tmp_path), "t") == 10
        spark.range(0, 25).withColumnRenamed("id", "k").coalesce(
            1
        ).write.mode("overwrite").parquet(str(p))
        # same path, new content: ensure the stamp actually moved even
        # on coarse-mtime filesystems
        for f in os.listdir(p):
            os.utime(p / f, ns=(time.time_ns(), time.time_ns()))
        assert table_rowcount(str(tmp_path), "t") == 25

    def test_directory_stamp_sees_part_removal_and_rewrite(self, tmp_path):
        # round-13 ADVICE: a directory stamp taking only the MAX
        # (mtime, size) across parts misses a regeneration that removes
        # or rewrites parts while the max-mtime file survives; the
        # stamp now folds in part COUNT and TOTAL size. mtimes are
        # pinned with utime so the test proves the count/size terms
        # carry the change, not an incidental mtime tick.
        import os

        from evm_indexer_spark.sources.tables import fixture_stamp

        d = tmp_path / "t.parquet"
        d.mkdir()
        t0 = 1_700_000_000_000_000_000
        (d / "part-0.parquet").write_bytes(b"a" * 10)
        (d / "part-1.parquet").write_bytes(b"b" * 20)
        os.utime(d / "part-0.parquet", ns=(t0, t0))
        os.utime(d / "part-1.parquet", ns=(t0 + 5, t0 + 5))
        s1 = fixture_stamp(str(tmp_path), "t")
        # remove a NON-max-mtime part: max survives, stamp must move
        (d / "part-0.parquet").unlink()
        s2 = fixture_stamp(str(tmp_path), "t")
        assert s1 != s2
        # rewrite a part to a different size at the SAME pinned mtime
        # (the coarse-mtime filesystem case): total size carries it
        (d / "part-0.parquet").write_bytes(b"c" * 30)
        os.utime(d / "part-0.parquet", ns=(t0, t0))
        s3 = fixture_stamp(str(tmp_path), "t")
        assert s3 != s1 and s3 != s2
        # swap bytes BETWEEN parts at pinned mtimes/sizes: same count,
        # same total, same max-mtime — acknowledged residual blindness,
        # pinned so a future stamp change is a conscious decision
        assert fixture_stamp(str(tmp_path), "t") == s3

    def test_eval_small_hint_footer_proven_at_gate_sf(self):
        # at every gate SF the hint must be footer-proven True (zero
        # plan-build Spark jobs for q80/q81) and must agree with the
        # live probe's own decision (total gram occurrences <= 2M)
        from evm_indexer_spark.driver_queries import _eval_small_hint

        assert _eval_small_hint(SF) is True
        assert _eval_small_hint(SF, variants=8) is True
        total = duckdb.sql(
            f"""SELECT sum(greatest(len(regexp_split_to_array(
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                    ' ')) - 7, 0))
                FROM read_parquet('{SF}/documents.parquet')
                WHERE doc_id % 10 = 0"""
        ).fetchone()[0]
        assert total * 8 <= 2_000_000  # the probe would also say True

    def test_eval_hint_tier2_aborts_on_dictionary_lie(
        self, tmp_path, monkeypatch
    ):
        # a duplicate-heavy corpus dictionary-encodes: footer bytes run
        # far below logical bytes, so tier 2's driver read must abort
        # at its materialized-bytes cap and return None (live probe
        # decides) instead of materializing the whole column
        import pyarrow as pa
        import pyarrow.parquet as pq

        from evm_indexer_spark import driver_queries as dq

        # 5k rows of ONE 2KB string: logical ~10MB, dict footer ~ KBs
        text = "lorem ipsum " * 170
        t = pa.table(
            {
                "doc_id": pa.array(range(5000), pa.int64()),
                "text": pa.array([text] * 5000),
            }
        )
        pq.write_table(t, str(tmp_path / "documents.parquet"))
        footer = table_column_bytes(str(tmp_path), "documents", "text")
        logical = 5000 * len(text)
        assert footer is not None and footer < logical / 10  # the lie
        # tier 1 must NOT fire from the lying footer when the distinct
        # bound is slack; force tier 2 by a variants factor, and cap
        # the read low enough that the true logical volume trips it
        monkeypatch.setattr(dq, "_TIER2_ABORT_BYTES", 1024 * 1024)
        variants = (2_000_000 * 2) // footer + 1  # tier-1 bound > 2M
        assert dq._eval_small_hint(str(tmp_path), variants=variants) is None

    def test_directory_parquet_sums_part_files(self, spark, tmp_path):
        # Spark-written tables are DIRECTORIES of part files — the
        # footer reader must sum row counts and fold min/max across
        # every part, skipping _SUCCESS markers
        df = spark.range(0, 1000).withColumnRenamed("id", "k")
        df.repartition(4).write.parquet(str(tmp_path / "t.parquet"))
        assert table_rowcount(str(tmp_path), "t") == 1000
        assert table_column_range(str(tmp_path), "t", "k") == (0, 999)


class TestBandingTiers:
    def test_pinned_tiers(self):
        assert banding_for_corpus(100) == (64, 64)
        assert banding_for_corpus(2000) == (64, 64)
        assert banding_for_corpus(2001) == (16, 8)
        assert banding_for_corpus(20000) == (16, 8)
        assert banding_for_corpus(20001) == (48, 24)
        assert banding_for_corpus(10_000_000) == (48, 24)

    def test_tiers_are_valid_bandings(self):
        for n in (1, 2000, 2001, 20000, 20001, 10**9):
            nh, b = banding_for_corpus(n)
            assert nh % b == 0 and nh >= b >= 1

    def test_both_catalog_entries_use_the_shared_tiers(self):
        # one drift away from a silent bucket-space mismatch: the batch
        # and incremental entries must pick banding through the SAME
        # function, never private tier tables
        from evm_indexer_spark import driver_queries

        q27 = inspect.getsource(driver_queries.q27)
        q66 = inspect.getsource(driver_queries.q66)
        assert "banding_for_corpus" in q27
        assert "banding_for_corpus" in q66


class TestOnetaskByteGates:
    """Round 16: every one-task tier must gate on footer BYTE volume,
    not rowcount alone — a rowcount-small corpus with pathological
    per-row payloads must route to the distributed plan."""

    def _fat_docs_dir(self, tmp_path, n_rows=20, row_kb=600):
        import pyarrow as pa
        import pyarrow.parquet as pq

        text = ("lorem ipsum dolor sit amet " * (row_kb * 1024 // 27))
        tbl = pa.table(
            {
                "doc_id": pa.array(range(n_rows), pa.int64()),
                "text": pa.array(
                    [f"{text} tail{i}" for i in range(n_rows)]
                ),
                "lang": pa.array(["en"] * n_rows),
                "n_chars": pa.array([len(text)] * n_rows, pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_helper_rejects_fat_and_footerless(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from evm_indexer_spark.driver_queries import (
            BRUTE_TASK_CAP,
            ONETASK_TEXT_BYTES_CAP,
            _fits_one_task,
        )

        caps = (BRUTE_TASK_CAP, ONETASK_TEXT_BYTES_CAP)
        d = self._fat_docs_dir(tmp_path)
        assert table_rowcount(d, "documents") == 20
        tb = table_column_bytes(d, "documents", "text")
        assert tb is not None and tb > ONETASK_TEXT_BYTES_CAP
        assert not _fits_one_task(d, "documents", "text", *caps)
        assert not _fits_one_task(
            d, "documents", "text", None, ONETASK_TEXT_BYTES_CAP
        )
        # footerless/missing source: distributed (never one task)
        assert not _fits_one_task(d, "no_such_table", "text", *caps)
        # the gate fixtures themselves stay comfortably inside the cap
        assert _fits_one_task(
            "/root/testdata/sf0.1", "documents", "text",
            *caps,
        )
        # rows are capped too, unless a distinct non-negative key bounds
        # the slice the entry reads; a negative footer min voids that
        for lo, fits_slice in ((0, True), (-5, False)):
            small = tmp_path / f"ids{lo}"
            small.mkdir()
            pq.write_table(
                pa.table({"doc_id": pa.array(range(lo, lo + 10), pa.int64()),
                          "text": pa.array(["short text"] * 10)}),
                str(small / "documents.parquet"),
            )
            cap5 = (str(small), "documents", "text", 5, ONETASK_TEXT_BYTES_CAP)
            assert _fits_one_task(str(small), "documents", "text", *caps)
            assert not _fits_one_task(*cap5)
            # no row cap (q74's broadcast gate): bytes alone decide
            assert _fits_one_task(
                str(small), "documents", "text", None, ONETASK_TEXT_BYTES_CAP
            )
            assert _fits_one_task(
                *cap5, key_below=("doc_id", 5)
            ) is fits_slice

    @staticmethod
    def _plan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    def test_fat_corpus_routes_distributed(self, spark, tmp_path, monkeypatch):
        # rowcount-small (20 docs) but bytes-huge (~12 MB of text):
        # every routed entry must build its distributed plan, not the
        # Coalesce(1) + single MapInPandas kernel
        from evm_indexer_spark import driver_queries
        from evm_indexer_spark.operators import dedup, graph

        d = self._fat_docs_dir(tmp_path)
        qs = driver_queries.queries()
        plan76 = self._plan(qs["q76_incremental_dup_windows"](spark, d))
        # the O(batch) stream plan joins the history counters; the
        # one-task tier is one MapInPandas with no join
        assert "Join" in plan76
        assert "MapInPandas" not in plan76
        # the one-task MinHash and contamination kernels are a single
        # map over a 1-coalesce; the distributed plans carry the
        # banding / eval-gram join machinery
        for name in (
            "q27_dedup_minhash_lsh",
            "q66_incremental_dedup",
            "q80_ngram_contamination",
            "q81_skipgram_contamination",
            "q82_contamination_on_arrival",
            "q83_retraction_reorg",
        ):
            assert "Join" in self._plan(qs[name](spark, d)), name
        # q74: above the byte cap the vocab may not be broadcast, and
        # the token stream must not become the broadcast side instead
        plan74 = qs["q74_dsir_scores"](
            spark, d
        )._jdf.queryExecution().sparkPlan().toString()
        assert "BroadcastHashJoin" not in plan74
        assert "ShuffledHashJoin" in plan74
        # q40/q60/q63: the strategy each id slice hands its operator
        # (q60's distributed closure runs eagerly, so capture it; q63's
        # "prefix" is the tier that does not broadcast full texts)
        seen = []

        def capture(*a, strategy, **k):
            seen.append(strategy)

        monkeypatch.setattr(dedup, "jaccard_prefix_join", capture)
        monkeypatch.setattr(dedup, "editdist_near_duplicates", capture)
        monkeypatch.setattr(graph, "dedup_clusters", capture)
        qs["q40_jaccard_all_pairs"](spark, d)
        qs["q60_dedup_clusters"](spark, d)
        qs["q63_editdist_near_dup"](spark, d)
        assert seen == ["prefix", "distributed", "prefix"]

    def test_fat_corpus_q60_runs_no_one_task_kernel(
        self, spark, tmp_path, monkeypatch
    ):
        # the whole q60 pipeline, not just its top-level strategy: the
        # distributed closure's pair stage must not fall back to the
        # one-task Jaccard kernel either
        from evm_indexer_spark import driver_queries
        from evm_indexer_spark.operators import dedup, graph

        calls = []

        def spy(mod, name):
            real = getattr(mod, name)

            def wrapper(*a, **k):
                calls.append(name)
                return real(*a, **k)

            monkeypatch.setattr(mod, name, wrapper)

        spy(dedup, "_jaccard_all_pairs_pandas")
        spy(graph, "_dedup_clusters_onetask")
        d = self._fat_docs_dir(tmp_path)
        out = driver_queries.queries()["q60_dedup_clusters"](spark, d)
        assert out.count() == 20
        assert calls == []


def test_no_probe_job_or_brute_below_in_package():
    """Routing is the driver's footer check: no operator may launch a
    ``.limit(k).count()`` probe job or take a ``brute_below`` knob."""
    import ast
    import pathlib

    import evm_indexer_spark

    pkg = pathlib.Path(evm_indexer_spark.__file__).parent
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            probe = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "count"
                and isinstance(node.func.value, ast.Call)
                and isinstance(node.func.value.func, ast.Attribute)
                and node.func.value.func.attr == "limit"
            )
            name = (
                getattr(node, "id", None)
                or getattr(node, "arg", None)
                or getattr(node, "attr", None)
            )
            if probe or name == "brute_below":
                hits.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert hits == []
