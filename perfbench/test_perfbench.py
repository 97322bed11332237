"""Tests of the benchmark itself: a tiny-size smoke of each workload and of
a traced run, and the checks' ability to catch a wrong tier row.

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import oracle  # noqa: E402
import scenario  # noqa: E402
import spans  # noqa: E402


# retention drops the first day, so the deep read decodes it
TINY = scenario.Sizes(history_days=2, retention_days=0)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    from kfts_insar_spark.session import get_spark

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark(app_name="perfbench-tests", cores=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + log_dir,
    })
    yield spark, log_dir
    spark.stop()


def run_tiny(spark, work, names, tracer=None) -> scenario.Scenario:
    sc = scenario.Scenario(spark, TINY, seed=7, seconds=0, work_dir=str(work),
                           cores=2, tracer=tracer)
    for phase in sc.phases(names):
        phase()
    return sc


@pytest.mark.parametrize("workload", sorted(scenario.WORKLOADS))
def test_workload_smoke_is_correct(session, tmp_path, workload):
    spark, _ = session
    _, names, op_metric = scenario.WORKLOADS[workload]
    sc = run_tiny(spark, tmp_path, names)
    assert sc.ledger.errors == []
    for name in ("backfill_docs_per_s", "stored_bytes_per_doc"):
        assert sc.m[name] > 0, name
    assert sc.layer[op_metric] > 0 and sc.layer["retention_s"] > 0
    # resumed and one-shot gap tiers agree within the stated tolerance
    assert sc.layer["pipeline.gap_max_abs_diff"] < 1.0


def test_traced_run_emits_every_layer_metric(session, tmp_path):
    import run

    spark, log_dir = session
    tracer = spans.Tracer()
    restore = spans.instrument(tracer)
    try:
        sc = run_tiny(spark, tmp_path, scenario.TRACED_PHASES, tracer)
        sc.probe_layers()
    finally:
        restore()
    assert sc.ledger.errors == []
    # untraced, traced, untraced
    assert len(sc.samples["ingest"]) == 3 and "ingest_first_s" in sc.layer
    jobs, tasks = spans.read_event_log(log_dir)
    assert jobs and tasks
    sc.layer.update(run.layer_metrics_from_trace(sc, tracer, jobs, tasks))
    # measured by run.measure around the whole session
    for name in ("setup.session_s", "failed_op_share", "peak_rss_mb"):
        sc.layer[name] = 0.0
    wanted = {m["name"] for m in run._spec()["per_layer"]}
    assert wanted <= set(sc.layer), sorted(wanted - set(sc.layer))
    assert sc.layer["snapshot.commits"] >= 5
    assert sc.layer["spark.jobs"] >= 1
    # every span closed inside the op that caused it, on a recorded thread
    assert all(s.end >= s.start and s.thread for s in tracer.spans)


def test_tampered_tier_row_is_a_failed_op(session, tmp_path):
    spark, _ = session
    sc = run_tiny(spark, tmp_path, scenario.WORKLOADS["serve_reads"][1])
    assert sc.ledger.failed == 0
    frames = {k: v.copy() for k, v in sc.read_tiers().items()}
    frames["1h"].loc[0, "sum_tok"] += 1
    sc.check_tiers(frames)
    assert sc.ledger.failed == 1
    assert sc.ledger.errors[0].startswith("tier 1h:")


def test_gap_compare_tolerates_last_bits_only():
    import pandas as pd

    want = pd.DataFrame({"source": ["web"] * 2, "shard": [0, 0], "bucket_es": [0, 300],
                         "phase": [694.3078126552864, 1.0], "std": [1.0, 1.0],
                         "innov": [float("nan"), 2.0], "gap_filled": [True, False]})
    close = want.assign(phase=[694.3078126552865, 1.0])
    err, worst = oracle.compare_gap(want, close)
    assert err is None and 0 < worst < 1e-12
    err, _ = oracle.compare_gap(want, want.assign(phase=[694.31, 1.0]))
    assert err is not None and "phase" in err


def test_compare_exact_reports_a_missing_column():
    import pandas as pd

    want = pd.DataFrame({"source": ["web"], "bucket_es": [0], "n_docs": [1]})
    got = want.rename(columns={"n_docs": "docs"})
    assert oracle.compare_exact(want, got, ["source", "bucket_es"]) == "missing columns ['n_docs']"
    assert oracle.compare_exact(want, want.copy(), ["source", "bucket_es"]) is None


def test_read_median_leaves_out_stolen_passes():
    assert scenario.calm_passes([0.0, 0.05, 0.0, 0.002], 2) == [0, 2, 3]
    # too few clean passes: the n_min with the least steal
    assert scenario.calm_passes([0.05, 0.02, 0.03], 2) == [1, 2]
    steal, total = scenario.steal_ticks()
    assert 0 <= steal <= total


def test_tail_and_self_time():
    assert scenario.tail(list(range(1, 6))) == (5, 100.0, 5)
    v, pct, n = scenario.tail(list(range(1, 21)))
    assert (v, pct, n) == (10, 50.0, 20)
    parent = spans.Span(0, "p", "pipeline", 0.0, 10.0, None, "main")
    kids = [spans.Span(1, "a", "snapshot", 1.0, 4.0, 0, "t1"),
            spans.Span(2, "b", "snapshot", 3.0, 6.0, 0, "t2")]
    st = spans.self_times([parent] + kids, 0.0, 10.0)
    assert st["pipeline"] == pytest.approx(5.0)
    assert st["snapshot"] == pytest.approx(6.0)
