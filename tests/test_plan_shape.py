"""Plan properties of the ER plan: which shuffles each stage runs.

Person coref is doc-local, so the candidates plan hash-partitions the
mention rows on url once and resolves coref inside each partition; the
alias arrays are built once per plan. Clustering without pair edges
picks its cluster ids with one window shuffle. Every test reads the
executed plan (AQE's final plan) after the action."""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from refined_spark.checkpoint import run_pipeline_checkpointed
from refined_spark.footers import read_parquet
from refined_spark.operators.candidates import (
    mention_candidate_arrays,
    pem_surface_arrays,
)
from refined_spark.operators.clustering import cluster_mentions
from refined_spark.operators.extract import with_extracted_text
from refined_spark.operators.mentions import mentions_from_spans
from refined_spark.pipeline import load_tables


def _final_plan(df) -> str:
    """Collect ``df``, then return the plan that ran."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _shuffle_exchanges(plan: str) -> list[str]:
    """The shuffle Exchange nodes of ``plan`` (broadcasts and reused
    exchanges are not shuffles)."""
    return [ln.strip(" :+-") for ln in plan.splitlines()
            if re.search(r"(^|[\s+-])Exchange ", ln)]


@pytest.fixture(scope="module")
def t1(spark, fx_t1, tmp_path_factory):
    """t1's tables, with the mentions read back from parquet as the
    checkpointed job reads them."""
    t = load_tables(spark, fx_t1)
    path = str(tmp_path_factory.mktemp("plan_shape") / "mentions")
    docs = with_extracted_text(t["documents"]).select(
        "url", F.col("extracted").alias("text"))
    mentions_from_spans(docs, t["gold_spans"]).write.parquet(path)
    return dict(t, mentions=read_parquet(spark, path))


@pytest.mark.parametrize("backward", [False, True])
@pytest.mark.parametrize("broadcast_pem", [True, False])
def test_candidates_one_mention_exchange(spark, t1, broadcast_pem,
                                         backward):
    df = mention_candidate_arrays(
        t1["mentions"], pem_surface_arrays(t1["pem"], t1["entity"]),
        broadcast_pem=broadcast_pem, backward=backward)
    ex = _shuffle_exchanges(_final_plan(df))
    by_url = [e for e in ex if e.startswith("Exchange hashpartitioning(url#")]
    alias = [e for e in ex if "hashpartitioning(surface_form#" in e]
    # one exchange of mention rows, not coalesced by AQE
    assert len(by_url) == 1 and "REPARTITION_BY_NUM" in by_url[0], ex
    # one alias-array subtree: one (surface_form) aggregation
    assert len(alias) == 1, ex
    # the salted path's hot-key census aggregates (norm_sf, count) rows;
    # at this size AQE runs its salted join as a broadcast join
    rest = [e for e in ex if e not in by_url + alias]
    assert all("hashpartitioning(norm_sf#" in e for e in rest), ex
    assert broadcast_pem is False or not rest, ex
    assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


@pytest.fixture(scope="module")
def ckpt_run(spark, fx_t1, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("plan_shape_ckpt"))
    return run_dir, run_pipeline_checkpointed(spark, fx_t1, run_dir)


def test_checkpointed_candidates_keep_core_width(spark, ckpt_run):
    """The candidates stage writes one part file per url partition, so
    the links stage scores it at full width."""
    run_dir, _ = ckpt_run
    with open(os.path.join(run_dir, "candidates", "manifest.json")) as f:
        parts = json.load(f)["partitions"]
    assert len(parts) >= spark.sparkContext.defaultParallelism


def test_clusters_without_pair_edges_one_exchange(ckpt_run):
    """One window shuffle on the component; links are read once, with no
    join back of per-component cluster ids."""
    _, res = ckpt_run
    plan = _final_plan(cluster_mentions(res["links"]))
    ex = _shuffle_exchanges(plan)
    assert len(ex) == 1 and "hashpartitioning(component#" in ex[0], ex
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
