"""Event-log parsing, per-layer aggregation and cachereg hit/miss tracing.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import tracing

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
MB = 1024 * 1024


def test_parse_event_log_sums_task_metrics_per_job():
    jobs = tracing.parse_event_log(LOG)
    assert [j["id"] for j in jobs] == [0, 1, 2]
    assert [j["tag"] for j in jobs] == ["w|e|0|build", "w|e|0|build", "w|e|0|action"]
    j0, j1, j2 = jobs
    assert (j0["stages"], j0["tasks"]) == (1, 2)
    assert j0["exec.run_s"] == pytest.approx((273 + 271) / 1000)
    assert j0["shuffle.write_mb"] == pytest.approx(2 * 133 / MB)
    # job 1 lists a skipped stage that ran no tasks; it is not counted
    assert (j1["stages"], j1["tasks"]) == (1, 1)
    assert j1["shuffle.read_mb"] == pytest.approx(266 / MB)
    assert j0["python.run_s"] == 0.0
    assert j2["python.mb_sent"] == pytest.approx(2 * 4208 / MB)
    assert j2["python.mb_returned"] == pytest.approx(2 * 4144 / MB)
    assert j2["python.start_s"] == pytest.approx((1200 + 1190) / 1000)
    assert j2["python.run_s"] == pytest.approx((1978 + 1995) / 1000)
    assert j2["end"] > j2["start"]


def test_unit_of():
    assert tracing.unit_of("plans.build_s") == "s"
    assert tracing.unit_of("build.spill.mb") == "MB"
    assert tracing.unit_of("python.mb_sent") == "MB"
    assert tracing.unit_of("session.peak_rss_mb") == "MB"
    assert tracing.unit_of("cachereg.hit_ratio") == "ratio"
    assert tracing.unit_of("plans.build_share") == "ratio"
    assert tracing.unit_of("build.jobs") == "count"


def _span(tr, sid, layer, start, end, parent=None, tag="w|e|1|build"):
    tr.spans.append({"id": sid, "layer": layer, "name": layer, "tag": tag,
                     "parent": parent, "start": start, "end": end})


def test_layer_metrics_self_time_jobs_and_idle():
    tr = tracing.Tracer()
    # plans build 0..10, action 10..14; an operators span holding a
    # sources span, and a job launched inside each
    _span(tr, 0, "operators", 1.0, 6.0)
    _span(tr, 1, "sources", 2.0, 3.0, parent=0)
    inv = [{"prefix": "w|e|1", "pass": 1, "start": 0.0, "build_end": 10.0,
            "end": 14.0},
           {"prefix": "w|e|0", "pass": 0, "start": 20.0, "build_end": 21.0,
            "end": 22.0}]

    def job(start, end, phase, pass_="1"):
        return {"tag": f"w|e|{pass_}|{phase}", "start": start, "end": end,
                **{k: 1.0 for k in tracing.JOB_METRICS},
                **{k: 0.0 for k in tracing.PYTHON_METRICS.values()}}

    jobs = [job(2.5, 3.0, "build"), job(4.0, 5.0, "build"),
            job(11.0, 13.0, "action"), job(20.5, 21.5, "action", pass_="0")]
    out = tracing.layer_metrics(tr, jobs, inv, {1}, 0.0, 0.0)
    assert out["operators.self_s"] == pytest.approx(4.0)
    assert out["sources.self_s"] == pytest.approx(1.0)
    assert (out["sources.jobs"], out["operators.jobs"]) == (1.0, 1.0)
    assert out["plans.build_s"] == 10.0
    assert out["plans.self_s"] == pytest.approx(5.0)  # 10 minus the operators span
    assert out["plans.build_share"] == pytest.approx(10 / 14)
    assert (out["build.jobs"], out["action.jobs"]) == (2.0, 1.0)  # pass 0 untraced
    assert out["driver.idle_s"] == pytest.approx(14 - 0.5 - 1.0 - 2.0)


def test_cache_lookups_classified_through_the_registry():
    pytest.importorskip("pyspark")
    from tts_data_pipeline_spark import cachereg
    from tts_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", cpus=1)
    tr = tracing.Tracer()
    tr.install()
    try:
        tr.active = True
        tr.tag = "w|e|0|build"
        a = cachereg.cache_replacing("perfbench_test", spark.range(10))
        b = cachereg.cache_replacing("perfbench_test", spark.range(10))
        c = cachereg.cache_replacing("perfbench_test", spark.range(20))
    finally:
        tr.uninstall()
        cachereg.cache_replacing("perfbench_test", spark.range(1)).unpersist()
    assert a is b and c is not a
    got = [(x["hit"], x["unpersisted"]) for x in tr.cache_lookups]
    assert got == [(False, False), (True, False), (False, True)]
    assert cachereg.cache_replacing.__module__ == "tts_data_pipeline_spark.cachereg"
    assert not hasattr(cachereg.cache_replacing, "__wrapped__")
