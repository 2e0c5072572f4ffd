"""Driver-side parquet footers: table schemas and checkpoint lineage with
no Spark job (refined_spark.footers, load_tables, CheckpointRunner)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from refined_spark.checkpoint import CheckpointRunner
from refined_spark.footers import footer_schema
from refined_spark.pipeline import load_tables, load_weights

TABLES = ["documents", "gold_spans", "pem", "entity", "entity_emb",
          "topic_class", "ed_weights", "class_edges", "gold_pairs",
          "link_counts"]


def _last_job_id(spark) -> int:
    """Id of the newest job in the status store (-1 if none). Job ids are
    sequential, so the difference of two readings counts the jobs
    launched in between, however many old jobs the store has evicted."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def _jobs_launched(spark, fn):
    before = _last_job_id(spark)
    out = fn()
    return out, _last_job_id(spark) - before


@pytest.mark.parametrize("fx", ["fx_t1", "fx_t2"])
def test_footer_schema_equals_inferred(spark, fx, request):
    """The footer schema is the one Spark's own inference gives, for every
    table load_tables reads (``documents.warc_ts`` is ``timestamp_ntz``)."""
    fixture_dir = request.getfixturevalue(fx)
    for n in TABLES:
        p = os.path.join(fixture_dir, f"{n}.parquet")
        assert footer_schema(p) == spark.read.parquet(p).schema, n


def test_load_tables_and_resume_launch_no_jobs(spark, fx_t1,
                                               tmp_path_factory):
    t, n_jobs = _jobs_launched(spark, lambda: load_tables(spark, fx_t1))
    assert n_jobs == 0
    assert dict(t["documents"].dtypes)["warc_ts"] == "timestamp_ntz"

    run_dir = str(tmp_path_factory.mktemp("jobcount"))
    runner = CheckpointRunner(spark, run_dir, run_inputs=dict(k="v"))
    tracker = spark.sparkContext.statusTracker()
    _, n_jobs = _jobs_launched(spark, lambda: runner.stage(
        "s", lambda: spark.range(100).repartition(3).toDF("n")))
    # a fresh stage runs its write (tagged with the run's job group) and
    # nothing after it: no read-back inference, no lineage census
    assert n_jobs == len(tracker.getJobIdsForGroup(runner.job_group)) > 0

    resumed = CheckpointRunner(spark, run_dir, run_inputs=dict(k="v"))
    out, n_jobs = _jobs_launched(spark, lambda: resumed.stage(
        "s", lambda: spark.range(100).toDF("n")))
    assert resumed.stages_resumed == ["s"]
    assert n_jobs == 0
    assert out.count() == 100


def test_lineage_equals_input_file_census(spark, tmp_path_factory):
    """The manifest's footer-built lineage equals an ``input_file_name``
    census of the written files; zero-row files stay out of it."""
    run_dir = str(tmp_path_factory.mktemp("census"))
    runner = CheckpointRunner(spark, run_dir, run_inputs=dict(k="v"))
    stages = {"sparse": lambda: spark.range(3).repartition(5),
              "empty": lambda: spark.range(3).where("id < 0")}
    for name, build in stages.items():
        out = runner.stage(name, build)
        census = sorted(
            (r[0], r[1]) for r in out.groupBy(F.element_at(
                F.split(F.input_file_name(), "/"), -1)).count().collect())
        with open(os.path.join(run_dir, name, "manifest.json")) as f:
            man = json.load(f)
        assert [(p["file"], p["rows"]) for p in man["partitions"]] == census
        assert man["rows"] == sum(n for _, n in census) == out.count()
        # Spark-written footers store ``id`` as non-nullable; reads are not
        data_dir = os.path.join(run_dir, name, "data")
        assert footer_schema(data_dir) == spark.read.parquet(data_dir).schema

    # the empty stage wrote a zero-row part file, which has no lineage
    data_dir = os.path.join(run_dir, "empty", "data")
    assert any(n.endswith(".parquet") for n in os.listdir(data_dir))
    with open(os.path.join(run_dir, "empty", "manifest.json")) as f:
        assert json.load(f)["partitions"] == []


def test_resume_with_missing_part_file_fails(spark, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("missing_part"))
    runner = CheckpointRunner(spark, run_dir, run_inputs=dict(k="v"))
    runner.stage("s", lambda: spark.range(10).repartition(2))
    with open(os.path.join(run_dir, "s", "manifest.json")) as f:
        lost = json.load(f)["partitions"][0]["file"]
    os.remove(os.path.join(run_dir, "s", "data", lost))
    resumed = CheckpointRunner(spark, run_dir, run_inputs=dict(k="v"))
    with pytest.raises(FileNotFoundError, match=lost):
        resumed.stage("s", lambda: spark.range(10))


def test_load_weights_launches_no_jobs(spark, fx_t1):
    """The 5-row weights table is read on the driver from its files."""
    ed = load_tables(spark, fx_t1)["ed_weights"]
    got, n_jobs = _jobs_launched(spark, lambda: load_weights(ed))
    assert n_jobs == 0
    assert got == {r["feature"]: r["weight"] for r in ed.collect()}
    assert len(got) == 5
