"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import collections
import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import catalog  # noqa: E402
import rest_history  # noqa: E402
import stats  # noqa: E402
from chain import BUCKET, Chain  # noqa: E402
from schedule import CYCLE, check, rest_schedule  # noqa: E402


@pytest.fixture(scope="module")
def chain():
    return Chain(5, 400)


def test_chain_straddles_a_bucket_boundary(chain):
    assert chain.start < BUCKET <= chain.end
    assert [b.number for b in chain.blocks] == list(range(chain.start, chain.end + 1))
    assert all(a.time < b.time for a, b in zip(chain.blocks, chain.blocks[1:]))


def test_same_seed_same_landing_files(tmp_path):
    for d in ("a", "b"):
        c = Chain(9, 120)
        c.write_landing(str(tmp_path / d), 4)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names and names == sorted(os.listdir(tmp_path / "b"))
    assert all(filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False) for n in names)
    other = Chain(10, 120)
    assert other.blocks[0].hash != Chain(9, 120).blocks[0].hash


def test_same_seed_same_request_schedule(chain):
    a, b = rest_schedule(chain, 3, 200), rest_schedule(chain, 3, 200)
    assert a == b
    assert rest_schedule(chain, 4, 200) != a


def test_class_proportions_are_fixed(chain):
    n = 10 * len(CYCLE)
    counts = collections.Counter(r["cls"] for r in rest_schedule(chain, 3, n))
    assert counts == {cls: 10 for cls in CYCLE}


def test_schedule_states_errors(chain):
    reqs = rest_schedule(chain, 3, 6 * len(CYCLE))
    by_cls = collections.defaultdict(list)
    for r in reqs:
        by_cls[r["cls"]].append(r["expect"]["status"])
    for cls in ("absent_block_number", "absent_tx_hash"):
        assert set(by_cls[cls]) == {404}
    for cls in ("bad_number", "bad_block_range", "bad_event_count"):
        assert set(by_cls[cls]) == {400}
    assert set(by_cls["block_by_number"]) == {200}


def test_percentile_refuses_p90_below_100_samples():
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 0.9)
    assert stats.percentile(list(range(1, 101)), 0.9) == 90
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 0.5)
    assert stats.percentile(list(range(20)), 0.5) == 9.5


def _right_answer(req, chain):
    """The body a correct server returns, built from the chain model."""
    exp = req["expect"]
    if "fields" in exp:
        return dict(exp["fields"])
    if "keys" in exp:
        keys = exp["keys"]
        if isinstance(keys[0], int):
            return {"blocks": [{"number": n, "miner": "m"} for n in keys]}
        if isinstance(keys[0], list):
            return {"events": [{"txHash": h, "index": i} for h, i in keys]}
        return {"transactions": [{"hash": h} for h in keys]}
    if "block_hashes" in exp:
        return {"events": [{"blockHash": h} for h in exp["block_hashes"]]}
    if "gql" in exp:
        return {"data": exp["gql"]}
    if "gql_keys" in exp:
        rows = [{"txHash": h, "index": str(i)} for h, i in exp["gql_keys"]]
        return {"data": {"eventsFromContractByNumberRange": rows}} if rows else {"errors": [{}]}
    return {}


def test_right_answers_pass_and_wrong_ones_fail(chain):
    for req in rest_schedule(chain, 3, 3 * len(CYCLE)):
        status = req["expect"]["status"]
        body = _right_answer(req, chain)
        assert check(req, status, body), req["cls"]
        assert not check(req, 500, body)
        if status == 200 and body and "errors" not in body:
            wrong = dict(body)
            key = next(iter(wrong))
            wrong[key] = "0xdead" if not isinstance(wrong[key], (list, dict)) else []
            assert not check(req, status, wrong), req["cls"]


class _FakeClient:
    """Answers every request; the third of each cycle wrongly."""

    def __init__(self):
        self.n = 0

    def send(self, req):
        self.n += 1
        return 0.001, self.n % len(CYCLE) != 3


def test_wrong_answer_counts_as_failure(chain):
    reqs = rest_schedule(chain, 3, 4 * len(CYCLE))
    r = rest_history.measure(_FakeClient(), reqs, seconds=0.0)
    # the fewest whole cycles that give a median its samples
    cycles = -(-stats.min_samples(0.5) // len(CYCLE))
    assert r["ops"] == cycles * len(CYCLE)
    assert r["failed"] == cycles


def test_failing_catalog_entry_counts_as_failure(monkeypatch):
    def run_entry(spark, fn, data, tracer=None, op=None):
        if fn == "bad":
            raise RuntimeError("boom")
        return 0.001, 0.001

    monkeypatch.setattr(catalog, "run_entry", run_entry)
    queries = {name: "ok" for name in catalog.ENTRIES}
    queries[catalog.ENTRIES[0]] = "bad"
    r = catalog.measure(None, queries, list(catalog.ENTRIES), "", seconds=0.0)
    assert r["ops"] == catalog.MIN_SWEEPS * len(catalog.ENTRIES) >= stats.min_samples(0.5)
    assert r["failed"] == r["ops"] // len(catalog.ENTRIES)


def test_sweep_order_is_a_seeded_rotation():
    assert catalog.sweep_order(7) == catalog.sweep_order(7)
    assert sorted(catalog.sweep_order(7)) == sorted(catalog.ENTRIES)
