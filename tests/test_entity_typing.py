"""F4 entity typing — confidence parity, sparse-distance identity,
ET-mode links vs the sequential replay, and checkpoint protocol fold.

Reference semantics under test: EntityTyping.forward (sigmoid(Linear(m)),
entity_typing_layer.py:26-47) and the ED layer's class features
(delta = candidate_classes * predicted, dist = full-width L2,
entity_disambiguation_layer.py:56-61)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from refined_spark.operators.entity_typing import (
    class_names_sorted,
    et_conf_matrix,
    et_confidence_table,
    et_top_classes,
)
from refined_spark.operators.wikidata import class_vocab_from_edges


def _names(spark, fx_t1):
    edges = spark.read.parquet(os.path.join(fx_t1, "class_edges.parquet"))
    return class_names_sorted(class_vocab_from_edges(edges))


def test_confidence_table_matches_shared_matrix(spark, fx_t1):
    """Spark UDF output == one driver-side call of the shared numpy
    helper — bitwise (same code, so any drift means the UDF mangled
    batching or ordering)."""
    names = _names(spark, fx_t1)
    gold = spark.read.parquet(os.path.join(fx_t1, "gold_spans.parquet"))
    et = et_confidence_table(gold.select("ctx_word"), names).collect()
    assert et, "no context words"
    words = [r["ctx_word"] for r in et]
    conf, sq = et_conf_matrix(words, names)
    for i, r in enumerate(et):
        assert np.array_equal(np.asarray(r["et_conf"]), conf[i]), words[i]
        assert r["et_sq"] == sq[i]
    # sigmoid range sanity + distinct words get distinct vectors
    assert 0.0 < conf.min() and conf.max() < 1.0
    assert len({tuple(c) for c in conf}) == len(words)


def test_sparse_distance_identity(spark, fx_t1):
    """The operator's O(|classes|) distance == brute-force full-width L2
    between the indicator vector and the confidence vector."""
    from refined_spark.operators.scoring import pair_feature_table

    names = _names(spark, fx_t1)
    entity = spark.read.parquet(os.path.join(fx_t1, "entity.parquet"))
    emb = spark.read.parquet(os.path.join(fx_t1, "entity_emb.parquet"))
    topic = spark.read.parquet(os.path.join(fx_t1, "topic_class.parquet"))
    gold = spark.read.parquet(os.path.join(fx_t1, "gold_spans.parquet"))
    ctx_words = gold.select("ctx_word").where(
        F.col("ctx_word").isNotNull()).distinct()
    tf = et_confidence_table(ctx_words, names)
    pairs = (gold.select("ctx_word").distinct()
             .crossJoin(entity.select("qcode").limit(20)))
    feats = pair_feature_table(pairs, entity, emb, topic, ctx_words,
                               typing_frame=tf).collect()
    conf_by_ctx = {r["ctx_word"]: np.asarray(r["et_conf"])
                   for r in tf.collect()}
    classes_by_q = {r["qcode"]: list(r["class_idx"])
                    for r in entity.select("qcode", "class_idx").collect()}
    n = len(names)
    checked = 0
    for r in feats:
        conf = conf_by_ctx.get(r["ctx_word"])
        classes = classes_by_q.get(r["qcode"])
        if conf is None or classes is None:
            assert r["class_delta"] == 0.0 and r["class_dist"] == 0.0
            continue
        ind = np.zeros(n)
        ind[classes] = 1.0
        assert r["class_dist"] == pytest.approx(
            float(np.linalg.norm(ind - conf)), abs=1e-9)
        assert r["class_delta"] == pytest.approx(
            float(conf[classes].sum()), abs=1e-12)
        checked += 1
    assert checked > 10


def test_et_links_match_fixture_replay(spark, fx_t1):
    """run_pipeline(typing_mode='et') reproduces the independently
    generated expected_links_et table — predictions exactly, confidences
    within fp tolerance, with the prebuilt feature map — and that table
    provably differs from prior-mode links (asserted at generation
    time)."""
    from refined_spark.pipeline import run_pipeline

    res = run_pipeline(spark, fx_t1, typing_mode="et")
    got = {(r["url"], r["start"]): (r["pred_qcode"], r["confidence"])
           for r in res["links"].collect()}
    exp = pd.read_parquet(os.path.join(fx_t1, "expected_links_et.parquet"))
    assert len(got) == len(exp)
    for _, row in exp.iterrows():
        pred, conf = got[(row["url"], row["start"])]
        assert pred == (
            row["pred_qcode"] if pd.notna(row["pred_qcode"]) else None), \
            (row["url"], row["start"])
        assert conf == pytest.approx(row["confidence"], abs=1e-9), \
            (row["url"], row["start"])
    prior = pd.read_parquet(os.path.join(fx_t1, "expected_links.parquet"))
    merged = exp.merge(prior, on=["url", "start"], suffixes=("_et", "_p"))
    assert (merged["pred_qcode_et"].fillna("∅")
            != merged["pred_qcode_p"].fillna("∅")).any()
    res["unpersist"]()


def test_et_top_classes_matches_expected(spark, fx_t1):
    names = _names(spark, fx_t1)
    gold = spark.read.parquet(os.path.join(fx_t1, "gold_spans.parquet"))
    got = (et_top_classes(gold, names, k=3)
           .select("url", "start", "et_rank", "class_name")
           .toPandas()
           .sort_values(["url", "start", "et_rank"], ignore_index=True))
    exp = (pd.read_parquet(os.path.join(fx_t1, "expected_et_types.parquet"))
           .sort_values(["url", "start", "et_rank"], ignore_index=True))
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(
        got.astype({"start": "int64", "et_rank": "int64"}),
        exp.astype({"start": "int64", "et_rank": "int64"}))


def test_typing_mode_folds_into_checkpoint_fingerprint(spark, fx_t1,
                                                       tmp_path):
    """A run_dir checkpointed under prior typing recomputes the links
    stage under ET (the fingerprint changes), and the resumed-under-ET
    links match the ET expected table."""
    from refined_spark.checkpoint import run_pipeline_checkpointed

    run_dir = str(tmp_path / "run")
    run_pipeline_checkpointed(spark, fx_t1, run_dir)
    out = run_pipeline_checkpointed(spark, fx_t1, run_dir,
                                    typing_mode="et")
    assert "links" in out["runner"].stages_run
    links = spark.read.parquet(os.path.join(run_dir, "links", "data")) \
        .select("url", "start", "pred_qcode", "confidence").collect()
    exp = pd.read_parquet(os.path.join(fx_t1, "expected_links_et.parquet"))
    exp_map = {(r["url"], r["start"]):
               (r["pred_qcode"] if pd.notna(r["pred_qcode"]) else None)
               for _, r in exp.iterrows()}
    got_map = {(r["url"], r["start"]): r["pred_qcode"] for r in links}
    assert got_map == exp_map
    # the links stage builds its feature map from the candidate arrays
    # (no prebuilt map), the other logits path
    exp_conf = {(r["url"], r["start"]): r["confidence"]
                for _, r in exp.iterrows()}
    for r in links:
        assert r["confidence"] == pytest.approx(
            exp_conf[(r["url"], r["start"])], abs=1e-9), (r["url"], r["start"])


def test_bad_typing_mode_raises(spark, fx_t1):
    from refined_spark.pipeline import run_pipeline

    with pytest.raises(ValueError, match="typing_mode"):
        run_pipeline(spark, fx_t1, typing_mode="bogus")


def test_et_feature_cols_out_of_range_class_raises(spark):
    """A class_idx past the confidence vector (entity table referencing
    a class absent from the class-edge vocab) must RAISE — not silently
    propagate NULL features — in both ansi modes (try_element_at +
    raise_error guard)."""
    from refined_spark.operators.entity_typing import et_feature_cols

    d, s = et_feature_cols()
    bad = spark.createDataFrame(
        [([0.5, 0.25], 0.3, [5])],
        "et_conf: array<double>, et_sq: double, class_idx: array<int>")
    with pytest.raises(Exception, match="out of (range|bounds)"):
        bad.select(d.alias("d"), s.alias("s")).collect()
    # neutral contracts unchanged: missing conf row / null class list
    ok = spark.createDataFrame(
        [(None, None, [0, 1]), ([0.5, 0.25], 0.3, None)],
        "et_conf: array<double>, et_sq: double, class_idx: array<int>")
    rows = ok.select(d.alias("d"), s.alias("s")).collect()
    assert all(r["d"] == 0.0 and r["s"] == 0.0 for r in rows)
