"""Tests for the benchmark's own code: seeded inputs, the triage output
check, and the traced chain of public calls.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

import dataclasses
import re
from pathlib import Path

import pytest

import gen
import workloads
from webloghunter_spark import engine
from webloghunter_spark.session import materialized_scope


def _files(path):
    return {p.name: p.read_bytes() for p in sorted(Path(path).iterdir())}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for name, make in (
        ("logs", lambda d, s: gen.gen_logs(d, s, 3000)),
        ("tables", lambda d, s: gen.gen_registry(d, s, n_docs=50, n_events=500, n_vecs=50)),
    ):
        a, b, c = (str(tmp_path / f"{name}-{i}") for i in range(3))
        assert make(a, 7) == make(b, 7)
        assert _files(a) == _files(b)
        make(c, 8)
        assert _files(a) != _files(c)


def _triage(spark, tmp_path, n_lines=3000):
    wl = workloads.Triage(n_lines)
    wl.prepare(spark, str(tmp_path / "triage"), seed=3)
    return wl


def test_triage_check_passes_on_planted_counts(spark, tmp_path):
    _, n_failed, failures = _triage(spark, tmp_path).iterate()
    assert (n_failed, failures) == (0, [])


def test_triage_check_fails_with_one_planted_burst_removed(spark, tmp_path):
    wl = _triage(spark, tmp_path)
    # drop every line of the first planted burst; the manifest still
    # promises it
    for path in Path(wl.input).iterdir():
        lines = path.read_text().splitlines(keepends=True)
        path.write_text("".join(ln for ln in lines if not ln.startswith("198.51.100.1 ")))
    _, n_failed, failures = wl.iterate()
    assert n_failed == 1
    assert any(f.startswith("bursts:") for f in failures), failures


def _plan(df):
    """The physical plan, without the ids Spark assigns to each new plan."""
    return re.sub(r"(#|plan_id=|_common_expr_)\d+L?", r"\1", df._jdf.queryExecution().executedPlan().toString())


@pytest.mark.parametrize("flags", [{}, {"cluster_off": True, "materialize_intermediate": False}])
def test_traced_chain_matches_build_pipeline(spark, tmp_path, flags):
    wl = _triage(spark, tmp_path)
    cfg = dataclasses.replace(wl.cfg, **flags)

    def digests(scored, errors):
        return [workloads.result_digest(df.toPandas()) for df in (scored, errors)]

    # plans are compared before any action: a filled cache changes the
    # join strategies chosen after it
    with materialized_scope():
        scored, errors = engine.build_pipeline(spark, wl.input, cfg)
        want_plan, want = _plan(scored), digests(scored, errors)
    with materialized_scope():
        got_plan = _plan(workloads.triage_chain(spark, wl.input, cfg)[0])
    with materialized_scope():
        got = digests(*workloads.triage_chain(spark, wl.input, cfg, cut=lambda layer, df: df.count()))
    assert got_plan == want_plan
    assert got == want
