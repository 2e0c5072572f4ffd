"""A10 — resumable checkpointed pipeline: manifests, lineage, resume."""

import hashlib
import importlib.util
import json
import os
import shutil

import pytest

from refined_spark.checkpoint import run_pipeline_checkpointed
from refined_spark.footers import read_parquet

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_checkpoint_run_and_resume(spark, fx_t1, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("ckpt"))

    res1 = run_pipeline_checkpointed(spark, fx_t1, run_dir, mode="spans")
    assert res1["runner"].stages_run == [
        "mentions", "candidates", "links", "clusters"]
    assert res1["runner"].stages_resumed == []
    n_clusters = res1["clusters"].count()
    assert n_clusters > 0

    # manifests carry per-partition lineage + metrics
    with open(os.path.join(run_dir, "links", "manifest.json")) as f:
        man = json.load(f)
    assert man["status"] == "ok"
    assert man["rows"] == res1["links"].count()
    assert sum(p["rows"] for p in man["partitions"]) == man["rows"]
    assert man["wall_sec"] > 0

    # full resume: nothing recomputes
    res2 = run_pipeline_checkpointed(spark, fx_t1, run_dir, mode="spans")
    assert res2["runner"].stages_run == []
    assert res2["runner"].stages_resumed == [
        "mentions", "candidates", "links", "clusters"]
    assert res2["clusters"].count() == n_clusters

    # mid-pipeline resume: invalidate 'links' -> only links recomputes;
    # clusters stays valid because the rebuilt links stage reproduces the
    # same content fingerprint (content-addressed chaining)
    shutil.rmtree(os.path.join(run_dir, "links"))
    res3 = run_pipeline_checkpointed(spark, fx_t1, run_dir, mode="spans")
    assert res3["runner"].stages_run == ["links"]
    assert res3["runner"].stages_resumed == [
        "mentions", "candidates", "clusters"]
    assert res3["clusters"].count() == n_clusters

    # results identical to the uncached pipeline
    from refined_spark.pipeline import run_pipeline

    ref = run_pipeline(spark, fx_t1, mode="spans")["clusters"]
    got = {(r["url"], r["start"], r["cluster_id"])
           for r in res3["clusters"].collect()}
    want = {(r["url"], r["start"], r["cluster_id"])
            for r in ref.collect()}
    assert got == want


def test_checkpoint_invalidation_on_input_change(spark, fx_t1, fx_t2,
                                                 tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("ckpt2"))
    run_pipeline_checkpointed(spark, fx_t1, run_dir, mode="spans")
    # different inputs -> fingerprint mismatch -> full recompute
    res = run_pipeline_checkpointed(spark, fx_t1, run_dir, mode="e2e")
    assert res["runner"].stages_resumed == []
    assert len(res["runner"].stages_run) == 4


def test_cancel_between_stages_and_resume(spark, tmp_path_factory):
    """Out-of-band cancellation (the reference cancel endpoint analog):
    a sentinel dropped while a stage runs stops the run at the NEXT
    stage entry; the completed stage's manifest survives and a fresh
    submission clears the sentinel and resumes from it."""
    import pytest

    from refined_spark.checkpoint import (
        CheckpointRunner,
        JobCancelledError,
        cancel_run,
    )

    run_dir = str(tmp_path_factory.mktemp("cancel_boundary"))
    runner = CheckpointRunner(spark, run_dir, run_inputs=dict(k="v"))

    def build_one():
        # simulate a cancel request arriving while this stage computes
        cancel_run(run_dir)
        return spark.range(10).toDF("n")

    out = runner.stage("one", build_one)
    assert out.count() == 10  # durable work kept
    with pytest.raises(JobCancelledError, match="before stage 'two'"):
        runner.stage("two", lambda: spark.range(5).toDF("n"))
    with open(os.path.join(run_dir, "one", "manifest.json")) as f:
        assert json.load(f)["status"] == "ok"

    # resubmission clears the sentinel and resumes
    runner2 = CheckpointRunner(spark, run_dir, run_inputs=dict(k="v"))
    assert not runner2.cancelled()
    runner2.stage("one", build_one)  # build_one re-cancels; stage resumes
    assert runner2.stages_resumed == ["one"]


def test_cancel_interrupts_running_stage(spark, tmp_path_factory):
    """cancel() must kill RUNNING tasks via the job group (not wait for
    the stage boundary) and mark the in-flight stage 'cancelled' so a
    resume recomputes it."""
    import threading
    import time as _time

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from refined_spark.checkpoint import (
        CheckpointRunner,
        JobCancelledError,
    )

    run_dir = str(tmp_path_factory.mktemp("cancel_midstage"))
    runner = CheckpointRunner(spark, run_dir, run_inputs=dict(k="v"))

    @F.udf(LongType())
    def slow(x):
        _time.sleep(30)
        return x

    t = threading.Timer(3.0, runner.cancel)
    t.start()
    t0 = _time.time()
    try:
        with pytest.raises(JobCancelledError, match="interrupted"):
            runner.stage(
                "slow",
                lambda: spark.range(64).repartition(8)
                .withColumn("y", slow("id")))
    finally:
        t.cancel()
    assert _time.time() - t0 < 25, "cancel did not interrupt the stage"
    with open(os.path.join(run_dir, "slow", "manifest.json")) as f:
        assert json.load(f)["status"] == "cancelled"


def test_stage_metrics_tolerates_cancelled_manifest(spark,
                                                    tmp_path_factory):
    """A cancelled-stage manifest has no 'rows' key; the metrics view
    exists to SHOW such stages, so it must surface them (rows=-1), not
    crash."""
    from refined_spark.operators.sink import stage_metrics

    run_dir = str(tmp_path_factory.mktemp("metrics_cancel"))
    os.makedirs(os.path.join(run_dir, "stg"))
    with open(os.path.join(run_dir, "stg", "manifest.json"), "w") as f:
        json.dump(dict(stage="stg", status="cancelled",
                       input_fingerprint="x", wall_sec=0.5), f)
    got = stage_metrics(spark, run_dir).collect()
    assert len(got) == 1
    assert got[0].status == "cancelled" and got[0].rows == -1


def test_fixture_content_stamp_tracks_regeneration(tmp_path):
    """The checkpoint fingerprint's fixture stamp must change when the
    generator stamps change IN PLACE (same path) — the silent-resume-
    from-deleted-data hazard."""
    from refined_spark.pipeline import fixture_content_stamp

    fx = tmp_path / "fx"
    fx.mkdir()
    (fx / "_VERSION.json").write_text('{"version": "v5"}')
    a = fixture_content_stamp(str(fx))
    assert a == fixture_content_stamp(str(fx))  # deterministic
    (fx / "_VERSION.json").write_text('{"version": "v6"}')
    assert fixture_content_stamp(str(fx)) != a


def test_stage_lineage_is_writer_file_level(spark, tmp_path_factory):
    """The manifest's lineage records the WRITTEN files (writer-task
    layout) with per-file rows+bytes — not reader split ids, which vary
    with reader config."""
    from refined_spark.checkpoint import CheckpointRunner

    run_dir = str(tmp_path_factory.mktemp("lineage"))
    runner = CheckpointRunner(spark, run_dir, run_inputs=dict(k="v"))
    runner.stage("s", lambda: spark.range(100).repartition(3).toDF("n"))
    with open(os.path.join(run_dir, "s", "manifest.json")) as f:
        man = json.load(f)
    parts = man["partitions"]
    assert len(parts) == 3  # one entry per written part file
    assert sum(p["rows"] for p in parts) == man["rows"] == 100
    data_dir = os.path.join(run_dir, "s", "data")
    for p in parts:
        assert p["file"].endswith(".parquet")
        assert os.path.getsize(
            os.path.join(data_dir, p["file"])) == p["bytes"] > 0


def test_stage_restores_caller_job_group(spark, tmp_path_factory):
    """A stage tags its jobs with the run's group, then hands the caller's
    own group (id, description, interrupt flag) back."""
    from refined_spark.checkpoint import CheckpointRunner

    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")
    sc.setJobGroup("caller", "caller's jobs", interruptOnCancel=True)
    try:
        want = [sc.getLocalProperty(k) for k in props]
        runner = CheckpointRunner(spark, str(tmp_path_factory.mktemp("grp")))
        runner.stage("s", lambda: spark.range(10))
        assert sc.statusTracker().getJobIdsForGroup(runner.job_group)
        assert [sc.getLocalProperty(k) for k in props] == want == [
            "caller", "caller's jobs", "true"]
    finally:
        for k in props:
            sc.setLocalProperty(k, None)


@pytest.mark.parametrize("bad", [dict(mode="span"),
                                 dict(typing_mode="bogus")])
def test_bad_protocol_raises_before_any_stage(spark, fx_t1, tmp_path, bad):
    """A misspelt mode or typing mode is rejected at entry: no stage runs
    a job and the run_dir is never made (the typing mode used to be
    checked only in the links stage, after two stages were written)."""
    run_dir = str(tmp_path / "run")
    group = "refined_spark:" + hashlib.sha256(
        os.path.abspath(run_dir).encode()).hexdigest()[:12]
    with pytest.raises(ValueError, match=next(iter(bad))):
        run_pipeline_checkpointed(spark, fx_t1, run_dir, **bad)
    assert not os.path.exists(run_dir)
    assert not spark.sparkContext.statusTracker().getJobIdsForGroup(group)


def _run_job_module():
    spec = importlib.util.spec_from_file_location(
        "run_job", os.path.join(REPO, "tools", "run_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_run_job_e2e_matches_in_memory(spark, fx_t1, tmp_path):
    """The production job runs dictionary MD with --mode=e2e, and its
    clusters equal the in-memory e2e pipeline's."""
    from refined_spark.pipeline import run_pipeline

    run_dir = str(tmp_path / "run")
    summary = _run_job_module().main(fx_t1, run_dir, mode="e2e",
                                     spark=spark)
    assert summary["n_docs"] == 120
    assert summary["stages_run"] == [
        "mentions", "candidates", "links", "clusters"]
    got = {tuple(r) for r in read_parquet(
        spark, os.path.join(run_dir, "clusters", "data")).select(
        "url", "start", "cluster_id").collect()}
    res = run_pipeline(spark, fx_t1, mode="e2e")
    try:
        want = {tuple(r) for r in res["clusters"].select(
            "url", "start", "cluster_id").collect()}
    finally:
        res["unpersist"]()
    assert got and got == want
