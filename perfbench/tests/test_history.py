"""The staged ship_incremental history is a checkpoint the runner accepts:
it processes only the appended delta, and its lineage compaction runs on
the staged part files."""

import os

import pyarrow.parquet as pq
import pytest

import stage
from workloads import ROUTES, SINKS


@pytest.fixture(scope="module")
def run_one_delta(tmp_path_factory):
    from logshipper_spark.plans.runner import CheckpointedRunner
    from logshipper_spark.plans.spec import compile_pipeline
    from logshipper_spark.session import get_spark

    work = tmp_path_factory.mktemp("hist")
    mp = pytest.MonkeyPatch()
    mp.setattr(stage, "HISTORY_DELTAS", 3)
    mp.setattr(stage, "DELTA_TURNS", 300)
    table, ckpt, out = (str(work / k) for k in ("table", "ckpt", "sinks"))
    try:
        stage.history(7, table, ckpt, out)
    finally:
        mp.undo()
    history_rows = pq.read_table(os.path.join(ckpt, "_lineage")).num_rows
    delta = stage.transcripts(8, 300, conv_prefix="new", mega=False)
    pq.write_table(delta, os.path.join(table, "delta-00000.parquet"))

    spark = get_spark(app_name="perfbench_history_test", cores=2, shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g",
                                  "spark.local.dir": str(work / "local"),
                                  "spark.ui.showConsoleProgress": "false"})
    try:
        # threshold 3: the staged 3 part files plus this run's make 4
        runner = CheckpointedRunner(spark, ckpt, n_buckets=stage.N_BUCKETS_INCREMENTAL,
                                    lineage_compact_threshold=3)
        rep = runner.run_incremental(table, compile_pipeline(ROUTES), SINKS, out)
        lineage_rows = runner.lineage().count()
        processed = runner.processed_files()
        committed = runner._load_state()["committed"]
    finally:
        spark.stop()
    return dict(rep=rep, delta=delta, history_rows=history_rows, lineage_rows=lineage_rows,
                processed=processed, committed=committed, ckpt=ckpt, table=table)


def test_only_the_appended_delta_is_processed(run_one_delta):
    r = run_one_delta
    assert r["rep"].written == stage.routed_counts(r["delta"])
    assert len(r["processed"]) == 4
    assert len(r["committed"]) == 4
    assert sorted(os.listdir(os.path.join(r["ckpt"], "..", "sinks", "sink=errors"))) == [
        f"ingest={r['rep'].snapshot_id}"]


def test_lineage_compacts_over_the_staged_parts(run_one_delta):
    r = run_one_delta
    parts = [f for f in os.listdir(os.path.join(r["ckpt"], "_lineage"))
             if f.endswith(".parquet")]
    assert len(parts) == 1
    new_rows = sum(1 + min(n, stage.N_BUCKETS_INCREMENTAL) for n in r["rep"].written.values())
    assert r["history_rows"] < r["lineage_rows"] <= r["history_rows"] + new_rows
