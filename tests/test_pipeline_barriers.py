"""run_pipeline's barrier policy: doc-scale frames persisted,
vocabulary-scale frames checkpointed, and ``unpersist()`` releasing
both."""

import pytest

from refined_spark.pipeline import run_pipeline

VOCAB_TABLES = ("pem", "entity", "entity_emb", "topic_class")


@pytest.mark.parametrize("mode", ["spans", "e2e"])
def test_unpersist_releases_every_persisted_rdd(spark, fx_t1, mode,
                                                persistent_rdd_ids):
    before = persistent_rdd_ids()
    res = run_pipeline(spark, fx_t1, mode=mode)
    assert res["clusters"].count() > 0
    assert persistent_rdd_ids() - before
    res["unpersist"]()
    assert not persistent_rdd_ids() - before
    # the checkpointed lineage is gone: a derived frame fails, loudly
    with pytest.raises(Exception, match="(?i)checkpoint"):
        res["with_logits"].count()


@pytest.mark.parametrize("mode", ["spans", "e2e"])
def test_scoring_plan_reads_only_barriers(spark, fx_t1, mode):
    """The scoring plan reads the vocabulary tables only through their
    checkpoints: no scan of the resource tables and no embedding UDF."""
    res = run_pipeline(spark, fx_t1, mode=mode)
    try:
        wl = res["with_logits"]
        files = wl.inputFiles()
        assert not [f for f in files for n in VOCAB_TABLES
                    if f"/{n}.parquet" in f]
        plan = wl._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan
        assert "_embed_udf" not in plan
    finally:
        res["unpersist"]()


@pytest.mark.parametrize("bad", [dict(mode="span"),
                                 dict(typing_mode="bogus")])
def test_bad_protocol_raises_before_any_job(spark, fx_t1, bad):
    """A misspelt mode or typing mode is rejected at entry: no Spark job
    runs (a bad mode used to run the e2e branch under its own name)."""
    sc = spark.sparkContext
    sc.setJobGroup("bad-protocol", "bad-protocol")
    try:
        with pytest.raises(ValueError, match=next(iter(bad))):
            run_pipeline(spark, fx_t1, **bad)
        assert not sc.statusTracker().getJobIdsForGroup("bad-protocol")
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
