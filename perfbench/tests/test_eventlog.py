"""The event-log parser on a tiny traced run: spans become job groups, and
the parser attributes jobs, tasks and CPU to the right span."""

import os

import pytest

from eventlog import SpanStats, TraceView, Tracer, span_stats, union_length


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_task_skew():
    st = SpanStats(task_s=[1.0, 1.0, 4.0])
    assert st.task_skew == pytest.approx(4.0)
    assert SpanStats().task_skew == 1.0


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import functions as F

    from logshipper_spark.session import get_spark

    work = tmp_path_factory.mktemp("trace")
    log_dir = work / "eventlog"
    log_dir.mkdir()
    spark = get_spark(app_name="perfbench_eventlog_test", cores=2, shuffle_partitions=2,
                      extra_conf={"spark.eventLog.enabled": "true",
                                  "spark.eventLog.dir": f"file://{log_dir}",
                                  "spark.eventLog.compress": "false",
                                  "spark.driver.memory": "1g",
                                  "spark.local.dir": str(work / "local"),
                                  "spark.ui.showConsoleProgress": "false"})
    tracer = Tracer(spark, enabled=True)
    out = str(work / "out")
    try:
        with tracer.span("pass", 0):
            with tracer.span("agg", 0):
                spark.range(20_000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")) \
                    .count().collect()
            with tracer.span("write", 0):
                spark.range(1_000, numPartitions=2).write.mode("overwrite").parquet(out)
            with tracer.span("lineage", 0):
                spark.range(10).write.mode("append").parquet(str(work / "ckpt" / "_lineage"))
            with tracer.span("driver_only", 0):
                sum(range(1000))
        spark.range(10).count()   # outside any span: no job group
    finally:
        spark.stop()
    return TraceView(tracer.spans, span_stats(str(log_dir))), out


def test_jobs_and_tasks_attributed_to_spans(traced):
    view, _ = traced
    agg = view.stat(view.one(0, "agg"))
    assert agg.jobs >= 1 and agg.tasks >= 4 and agg.stages >= 2
    assert agg.shuffle_write_mb > 0 and agg.cpu_s > 0
    assert agg.job_s > 0 and agg.job_s <= view.one(0, "agg").wall + 0.05
    assert view.stat(view.one(0, "driver_only")).jobs == 0


def test_output_bytes_and_parent_rollup(traced):
    view, out = traced
    write = view.stat(view.one(0, "write"))
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    on_disk = sum(os.path.getsize(os.path.join(out, f)) for f in files) / 1e6
    assert write.out_mb == pytest.approx(on_disk, rel=0.05)
    root = view.stat(view.one(0, "pass"))
    agg = view.stat(view.one(0, "agg"))
    lineage = view.stat(view.one(0, "lineage"))
    assert root.tasks == agg.tasks + write.tasks + lineage.tasks
    # the untraced job is in no span
    assert sum(s.jobs for s in view.stats.values()) == root.jobs


def test_lineage_jobs_found_by_their_plan(traced):
    view, _ = traced
    assert view.stat(view.one(0, "lineage")).lineage_s > 0
    assert view.stat(view.one(0, "write")).lineage_s == 0
