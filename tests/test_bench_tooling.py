"""Bench-evidence tooling: the committed artifacts must be
self-diagnosing (round-13 verdict #4) and the window fold must refuse
stale inputs (round-13 ADVICE medium).

No Spark session — these are pure-python checks over the artifact
pipeline (bench.py's verdict helper, tools/bench_median.py's fold).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

import bench  # noqa: E402
import bench_median  # noqa: E402


class TestContaminationVerdict:
    def test_r13_driver_run_would_have_self_labeled(self):
        # BENCH_r13.json recorded cpu_steal_pct 13.12 with no in-file
        # flag — the exact artifact this verdict field exists for
        assert bench.contamination_verdict(13.12) is True

    def test_clean_run_not_flagged(self):
        assert bench.contamination_verdict(4.02) is False
        assert bench.contamination_verdict(0.0) is False

    def test_unmeasurable_steal_is_not_contamination(self):
        assert bench.contamination_verdict(None) is False

    def test_threshold_matches_window_protocol(self):
        # bench_window.sh retries runs whose in-run steal exceeds 5%;
        # the self-label must use the SAME threshold or the committed
        # verdict diverges from the protocol's
        assert bench.STEAL_CONTAMINATION_PCT == 5.0
        sh = (REPO / "tools" / "bench_window.sh").read_text()
        assert "> 5.0" in sh


def _run(args: list[str]) -> tuple[int, str, str]:
    p = subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_median.py"), *args],
        capture_output=True,
        text=True,
    )
    return p.returncode, p.stdout, p.stderr


def _artifact(warm: float, duck: float, steal: float, seed: int) -> dict:
    return {
        "sf": 0.1,
        "queries_warm": {"q01_x": warm, "q02_y": warm / 2 + seed * 1e-6},
        "queries_duckdb": {"q01_x": duck, "q02_y": duck / 2},
        "queries": {"q01_x": warm * 2, "q02_y": warm},
        "warm_total_sec": warm * 1.5,
        "duckdb_oracle_total_sec": duck * 1.5,
        "warm_vs_duckdb_ratio": round(warm / duck, 2),
        "cpu_steal_pct": steal,
        "ingest_blocks_per_sec": 1900.0,
    }


class TestBenchMedianFold:
    def test_missing_artifact_is_a_hard_error(self, tmp_path):
        a = tmp_path / "r1.json"
        a.write_text(json.dumps(_artifact(2.0, 1.0, 1.0, 1)))
        rc, _out, err = _run([str(a), str(tmp_path / "absent.json")])
        assert rc != 0 and "missing" in err

    def test_duplicate_artifact_is_a_hard_error(self, tmp_path):
        # the r13 failure mode: a crashed slot copied the PREVIOUS
        # run's bench_out.json, which then passed every gate and was
        # folded in as a silent duplicate
        a, b = tmp_path / "r1.json", tmp_path / "r2.json"
        payload = json.dumps(_artifact(2.0, 1.0, 1.0, 1))
        a.write_text(payload)
        b.write_text(payload)
        rc, _out, err = _run([str(a), str(b)])
        assert rc != 0 and "byte-identical" in err

    def test_unparseable_artifact_is_a_hard_error(self, tmp_path):
        a = tmp_path / "r1.json"
        a.write_text("{not json")
        rc, _out, err = _run([str(a)])
        assert rc != 0 and "unparseable" in err

    def test_clean_window_folds_and_flags_nothing(self, tmp_path):
        paths = []
        for i, (w, d) in enumerate([(2.0, 1.0), (2.1, 1.05), (1.9, 0.98)]):
            p = tmp_path / f"r{i}.json"
            p.write_text(json.dumps(_artifact(w, d, 1.0 + i, i)))
            paths.append(str(p))
        rc, out, err = _run(paths)
        assert rc == 0, err
        agg = json.loads(out)
        assert agg["n_runs"] == 3
        assert agg["queries_warm_median"]["q01_x"] == 2.0
        assert all("warm_outlier" not in r for r in agg["per_run"])
        assert all("duck_outlier" not in r for r in agg["per_run"])

    def test_symmetric_outlier_flags(self, tmp_path):
        # round-13 ADVICE low: the window's duck-band retry filtered
        # only the oracle side; the fold now flags BOTH totals'
        # cross-run outliers so a Spark-side-contaminated run is as
        # visible in the committed artifact as a duck-side one
        arts = [
            _artifact(2.0, 1.0, 1.0, 0),
            _artifact(2.0, 1.0, 1.0, 1),
            _artifact(2.0, 1.0, 1.0, 2),
        ]
        arts[1]["warm_total_sec"] = 9.0  # Spark half inflated
        arts[2]["duckdb_oracle_total_sec"] = 9.0  # oracle half inflated
        paths = []
        for i, a in enumerate(arts):
            p = tmp_path / f"r{i}.json"
            p.write_text(json.dumps(a))
            paths.append(str(p))
        rc, out, err = _run(paths)
        assert rc == 0, err
        agg = json.loads(out)
        assert agg["per_run"][1].get("warm_outlier") is True
        assert agg["per_run"][2].get("duck_outlier") is True
        assert "warm_outlier" not in agg["per_run"][0]

    def test_aggregate_ratio_is_per_query_medians_first(self):
        runs = [
            _artifact(2.0, 1.0, 1.0, 0),
            _artifact(4.0, 1.0, 1.0, 1),
            _artifact(2.2, 1.0, 1.0, 2),
        ]
        agg = bench_median.aggregate(runs)
        # q01 median = 2.2 over (2.0, 4.0, 2.2); duck median = 1.0
        assert agg["queries_warm_median"]["q01_x"] == 2.2
        assert agg["queries_duckdb_median"]["q01_x"] == 1.0


class TestChainOfCustody:
    """Round-15 directives #6/#7: the gate's own loadavg rides into the
    artifact, the bench self-labels a gate breach, and a contaminated
    sweep retries once before emitting."""

    def test_gate_load_breach_thresholds_match_window_gate(self):
        assert bench.GATE_LOAD_THRESHOLDS == (1.5, 3.0, 2.0)
        sh = (REPO / "tools" / "bench_window.sh").read_text()
        # the shell gate must use the SAME numbers
        assert "< 1.5" in sh and "< 3.0" in sh and "< 2.0" in sh

    def test_gate_load_breach_verdicts(self):
        # the exact round-14 artifact this field exists for
        assert bench.gate_load_breach([3.69, 1.9, 1.94]) is True
        assert bench.gate_load_breach([0.4, 0.9, 1.2]) is False
        assert bench.gate_load_breach([1.49, 2.99, 1.99]) is False
        assert bench.gate_load_breach([0.1, 3.2, 0.1]) is True
        assert bench.gate_load_breach(None) is False

    def test_window_script_hands_its_loadavg_to_bench(self):
        sh = (REPO / "tools" / "bench_window.sh").read_text()
        assert "SPARK_GRAFT_GATE_LOADAVG" in sh

    def test_bench_emits_custody_and_retry_fields(self):
        # source-level pin: the catalog mode must emit the custody and
        # retry fields and decide the retry with the SAME verdict
        # helper the contamination label uses (a drifted private
        # threshold would let a run retry on one rule and self-label
        # by another)
        src = (REPO / "bench.py").read_text()
        for field in (
            '"gate_loadavg"',
            '"gate_load_breach"',
            '"attempt_steal_pcts"',
            '"retried"',
            '"cpu_steal_pct_full_run"',
        ):
            assert field in src, field
        assert 'if contamination_verdict(att["steal"])' in src


def test_capture_plans_refuses_flag_like_outdir(tmp_path):
    # `capture_plans.py --help` once wrote 70 plan dumps into a
    # directory named --help; a flag-like outdir must exit non-zero
    # before any Spark session starts or any directory is made
    p = subprocess.run(
        [sys.executable, str(REPO / "tools" / "capture_plans.py"), "--help"],
        capture_output=True,
        text=True,
        cwd=tmp_path,
    )
    assert p.returncode != 0
    assert "looks like a flag" in p.stderr
    assert list(tmp_path.iterdir()) == []


def test_net_loc_counts_code_apart_from_docs_and_comments(tmp_path):
    # two commits: the package loses a function and gains a docstring
    # and a comment, tests gain one code line; code moved between two
    # package files nets to zero
    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path, check=True, capture_output=True,
        )

    pkg = tmp_path / "evm_indexer_spark"
    pkg.mkdir()
    (tmp_path / "tests").mkdir()
    (pkg / "a.py").write_text(
        "def f():\n    return 1\n\n\ndef g():\n    return 2\n"
    )
    (tmp_path / "tests" / "test_a.py").write_text("x = 1\n")
    git("init", "-q")
    git("add", "-A")
    git("commit", "-q", "-m", "one")
    (pkg / "a.py").write_text(
        '"""Module doc\nspanning two lines."""\n\n# a comment\n'
        "def f():\n    return 1\n"
    )
    (pkg / "b.py").write_text("def g():\n    return 2\n")  # moved, untracked
    (tmp_path / "tests" / "test_a.py").write_text("x = 1\ny = 2\n")
    p = subprocess.run(
        [sys.executable, str(REPO / "tools" / "net_loc.py"), "HEAD"],
        capture_output=True, text=True, cwd=tmp_path / "tests",
    )
    assert p.returncode == 0, p.stderr
    rows = {
        line.split()[0]: tuple(int(x) for x in line.split()[1:])
        for line in p.stdout.splitlines()[2:]
    }
    # raw: a.py 6 -> 6 lines, b.py +2; code: a.py 4 -> 2, b.py +2
    assert rows == {
        "evm_indexer_spark/": (2, 0),
        "tests/": (1, 1),
        "tools/": (0, 0),
    }
