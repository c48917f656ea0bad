"""Traced and untraced iterations produce the same output digest, equal
to the reference, on small inputs, and the traced run's isolated calls
pass their own checks (needs a local Spark session)."""

import os

import pytest

from kgbench import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    # Python workers import bfokg from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from kgbench.run import make_session, shut_down

    session = make_session("local[2]")
    yield session
    shut_down(session)


@pytest.mark.parametrize("wl", [workloads.KgBuild(items=600),
                                workloads.CorpusCuration(base_docs=40)],
                         ids=lambda w: w.name)
def test_traced_and_untraced_outputs_match(spark, wl, tmp_path):
    wl.prepare(str(tmp_path / "inputs"), seed=7)
    plain = wl.output(wl.iterate(spark, str(tmp_path / "plain")))
    tracer = workloads.Tracer(spark)
    traced = wl.output(wl.iterate(spark, str(tmp_path / "traced"), tracer))
    assert plain == traced == wl.expected
    assert plain["rows"] > 0 if "rows" in plain else all(v["rows"] > 0 for v in plain.values())
    assert {s.top for s in tracer.spans} == {True}
    assert {s.phase for s in tracer.spans} <= {"call", "construct", "action"}
    # the isolated calls run (and, for kg_build, check the linked mentions)
    # on what the traced call committed
    wl.isolated(spark, tracer, str(tmp_path / "traced"))
    assert {s.top for s in tracer.spans} == {True, False}
