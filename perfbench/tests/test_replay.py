"""Replay fidelity: the traced layer-by-layer replay of dedup_full gives
the same (key, cluster_rep) rows as run_pipeline, so the per-layer
numbers describe the program that the untraced runs time."""

import pytest

from layers import FUNNEL
from tracing import Tracer
from workloads import PIPELINE_SPANS, DedupFull


class SmallDedup(DedupFull):
    n_base = 40
    n_files = 80


@pytest.fixture(scope="module")
def spark():
    from autovalidate_backend_api_spark.session import build_session

    s = build_session(
        app_name="perfbench-tests", master="local[2]", shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.memory": "1g"},
    )
    yield s
    s.stop()


def _rows(pdf):
    return sorted(zip(pdf["key"], pdf["cluster_rep"]))


def test_replay_matches_run_pipeline(spark, tmp_path):
    wl = SmallDedup(spark, seed=7, work_dir=str(tmp_path))
    wl.load()
    expected = wl.output(wl.run("fidelity"))
    wl.reset()

    tracer = Tracer(spark.sparkContext)
    got, counts = wl.replay(tracer, "fidelity-traced")
    wl.reset()

    assert _rows(got) == _rows(expected)
    assert wl.check(got).ok
    assert [s.name for s in tracer.spans] == [*PIPELINE_SPANS, "pipeline"]
    assert all(s.parent == "pipeline" for s in tracer.spans[:-1])
    pipeline_counts = {k for k in FUNNEL if not k.startswith("similarity.")}
    assert set(counts) == pipeline_counts
    assert counts["clusters.edges"] > 0
    assert counts["clusters.count"] < len(wl.pdf)


def test_self_time_excludes_children(spark):
    tracer = Tracer(spark.sparkContext)
    with tracer.span("outer", "r"):
        with tracer.span("inner", "r"):
            spark.range(10).count()
    inner, outer = tracer.spans
    assert tracer.self_seconds(outer) == pytest.approx(outer.wall_s - inner.wall_s)
    assert inner.group == "r/inner"
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
