"""bench.py's scaling arithmetic, with the per-level end-to-end run
stubbed out: no Spark session starts here."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

import bench


@pytest.fixture
def stub_runs(monkeypatch):
    """Replaces corpus materialization with a (name, n_docs) pair and the
    per-level run with fixed seconds popped in call order; returns the
    list of (cores, corpus) calls."""
    calls: list[tuple[int, tuple]] = []
    secs: list[float] = []

    @contextmanager
    def fake_corpus(n_docs, flat=False):
        yield (f"corpus-{n_docs}", n_docs)

    def fake_run(cores, corpus, with_dqa=False):
        assert with_dqa
        calls.append((cores, corpus))
        return {"sec": secs.pop(0), "n_triples": 1000 * corpus[1],
                "phases": {"run": len(calls)}}

    monkeypatch.setattr(bench, "_corpus", fake_corpus)
    monkeypatch.setattr(bench, "_construction_run", fake_run)
    return calls, secs


def test_strong_scaling_interleaves_and_takes_best_of_two(
        stub_runs, monkeypatch):
    calls, secs = stub_runs
    monkeypatch.setenv("SPARK_GRAFT_SCALING_DOCS", "100")
    # hi, lo, hi, lo
    secs.extend([12.0, 40.0, 10.0, 44.0])
    out = bench._scaling()
    assert [c for c, _ in calls] == [8, 2, 8, 2]
    assert {corpus for _, corpus in calls} == {("corpus-100", 100)}
    assert out["samples_hi"] == [12.0, 10.0]
    assert out["samples_lo"] == [40.0, 44.0]
    assert out["sec_hi"] == 10.0 and out["sec_lo"] == 40.0
    assert out["efficiency"] == pytest.approx((40.0 / 10.0) / 4)
    assert out["triples_per_sec_hi"] == pytest.approx(100_000 / 10.0)
    assert out["phases_hi"] == [{"run": 1}, {"run": 3}]
    assert "method" not in out


def test_weak_scaling_runs_four_times_the_docs_at_hi(stub_runs, monkeypatch):
    calls, secs = stub_runs
    monkeypatch.setenv("SPARK_GRAFT_WEAK_DOCS_LO", "50")
    secs.extend([24.0, 20.0, 25.0, 18.0])
    out = bench._weak_scaling()
    assert calls == [(8, ("corpus-200", 200)), (2, ("corpus-50", 50)),
                     (8, ("corpus-200", 200)), (2, ("corpus-50", 50))]
    assert out["hi"]["docs"] == 4 * out["lo"]["docs"] == 200
    assert out["hi"]["sec_runs"] == [24.0, 25.0]
    assert out["lo"]["sec_runs"] == [20.0, 18.0]
    assert out["hi"]["triples"] == 200_000
    assert out["efficiency_wall"] == pytest.approx(18.0 / 24.0, abs=1e-3)
    assert "method" not in out
