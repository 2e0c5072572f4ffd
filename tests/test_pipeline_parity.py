"""The correctness core: Spark pipeline vs the row-at-a-time NumPy oracle
(the 'reference rule'), per-stage and end-to-end (pairwise F1 >= 0.99)."""

import os

import pytest

from refined_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, fx_t1):
    return run_pipeline(spark, fx_t1, mode="spans")


def _rows(df, cols, sort_cols=None):
    sort_cols = sort_cols or cols
    return [tuple(r[c] for c in cols)
            for r in df.orderBy(*sort_cols).collect()]


def test_candidates_match_oracle(spark, fx_t1, result):
    exp = spark.read.parquet(os.path.join(fx_t1, "expected_candidates.parquet"))
    cols = ["url", "start", "qcode", "cand_source", "cand_rank"]
    got = _rows(result["candidates"], cols)
    want = _rows(exp, cols)
    assert got == want
    # probabilities too (exact: both sides read the same pem doubles)
    gotp = _rows(result["candidates"], ["url", "start", "qcode", "prob"])
    wantp = _rows(exp, ["url", "start", "qcode", "prob"])
    assert gotp == wantp


def test_links_match_oracle(spark, fx_t1, result):
    exp = spark.read.parquet(os.path.join(fx_t1, "expected_links.parquet"))
    got = _rows(result["links"], ["url", "start", "pred_qcode"])
    want = _rows(exp, ["url", "start", "pred_qcode"])
    assert got == want
    # confidences within fp tolerance (different summation orders)
    gotc = dict(((r["url"], r["start"]), r["confidence"])
                for r in result["links"].collect())
    for r in exp.collect():
        assert abs(gotc[(r["url"], r["start"])] - r["confidence"]) < 1e-6


def test_clusters_match_oracle(spark, fx_t1, result):
    exp = spark.read.parquet(os.path.join(fx_t1, "expected_clusters.parquet"))
    got = _rows(result["clusters"], ["url", "start", "cluster_id"])
    want = _rows(exp, ["url", "start", "cluster_id"])
    assert got == want


def test_pairwise_f1_gate(spark, fx_t2):
    """THE gate: F1 >= 0.99 vs reference-rule clusters on same-block pairs,
    at the t2 (sf0.01-equivalent) tier."""
    from refined_spark.operators.metrics import pairwise_f1

    res = run_pipeline(spark, fx_t2, mode="spans")
    exp = spark.read.parquet(os.path.join(fx_t2, "expected_clusters.parquet"))
    pairs = res["tables"]["gold_pairs"]
    row = pairwise_f1(pairs, res["clusters"], exp).collect()[0]
    assert row["f1"] >= 0.99, dict(row.asDict())


def test_e2e_mode_finds_matchable_mentions(spark, fx_t1):
    """Dictionary MD (JVM extraction + one Arrow crossing) detects
    exactly the dict-matchable gold spans, with their text and context
    word, and normalizes each surface like the Python spec."""
    from refined_spark.functions.normalize import normalize_surface_form

    res = run_pipeline(spark, fx_t1, mode="e2e")
    cols = ["url", "start", "length", "mention_text", "ctx_word"]
    rows = res["mentions"].select(*cols, "norm_sf").collect()
    res["unpersist"]()
    gold = spark.read.parquet(os.path.join(fx_t1, "gold_spans.parquet"))
    want = {tuple(r) for r in gold.where("dict_matchable").select(*cols)
            .collect()}
    assert {tuple(r[c] for c in cols) for r in rows} == want
    for r in rows:
        assert r["norm_sf"] == normalize_surface_form(r["mention_text"]), r


def _pylist(fx, name):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(fx, f"{name}.parquet")).to_pylist()


def test_e2e_plan_matches_oracle_on_detected_mentions(spark, fx_t2):
    """The production e2e plan's candidates and links on the mentions it
    detected equal the sequential NumPy oracle (fixtures/oracle.py) run
    over those same mentions: every candidate row exactly, every
    prediction exactly, confidences within fp tolerance. Links are
    checked on both logits paths: the pipeline's prebuilt feature map
    with pair logits, and the map built from the candidate arrays."""
    from refined_spark.fixtures.oracle import run_oracle
    from refined_spark.operators.scoring import (links_from_logits,
                                                 with_candidate_logits)
    from refined_spark.pipeline import load_weights

    res = run_pipeline(spark, fx_t2, mode="e2e")
    t = res["tables"]
    spans = [r.asDict() for r in res["mentions"].select(
        "url", "start", "length", "mention_text", "ctx_word").collect()]
    cand_cols = ["url", "start", "qcode", "prob", "cand_source", "cand_rank"]
    got_cands = {tuple(r) for r in res["candidates"].select(cand_cols)
                 .collect()}
    unshared = links_from_logits(with_candidate_logits(
        res["cand_arr"], t["entity"], t["entity_emb"], t["topic_class"],
        load_weights(t["ed_weights"])))
    got_links = [{(r["url"], r["start"]): (r["pred_qcode"], r["confidence"])
                  for r in links.collect()}
                 for links in (res["links"], unshared)]
    res["unpersist"]()

    cand_out, link_out, _clusters = run_oracle(
        [], spans, _pylist(fx_t2, "pem"), _pylist(fx_t2, "entity"),
        _pylist(fx_t2, "entity_emb"), _pylist(fx_t2, "ed_weights"),
        _pylist(fx_t2, "topic_class"))
    assert len(spans) > 1000 and len(cand_out) > len(spans)
    assert any(c["cand_source"] == "coref" for c in cand_out)
    assert got_cands == {tuple(c[k] for k in cand_cols) for c in cand_out}
    assert len(link_out) == len(spans)
    for got in got_links:
        assert len(got) == len(link_out)
        for r in link_out:
            pred, conf = got[(r["url"], r["start"])]
            assert pred == r["pred_qcode"], r
            assert abs(conf - r["confidence"]) < 1e-9, r


def test_salted_nonbroadcast_equals_broadcast(spark, fx_t2):
    """broadcast_pem=False routes the alias-array attach through the
    skew-salted shuffle join (blocking.salted_array_join); the result
    must be row-identical to the broadcast plan."""
    from refined_spark.operators.candidates import (
        explode_candidate_arrays,
        mention_candidate_arrays,
        pem_surface_arrays,
    )
    from refined_spark.operators.extract import extracted_text_col
    from refined_spark.operators.mentions import detect_mention_rows
    from refined_spark.pipeline import load_tables, match_dictionary

    t = load_tables(spark, fx_t2)
    docs = t["documents"].withColumn("text", extracted_text_col("html"))
    mentions = detect_mention_rows(
        spark, docs, match_dictionary(t["pem"], t["entity"])).cache()
    pa = pem_surface_arrays(t["pem"], t["entity"])
    cols = ["mention_key", "qcode", "prob", "cand_source", "cand_rank"]
    a = {tuple(r) for r in explode_candidate_arrays(
        mention_candidate_arrays(mentions, pa, broadcast_pem=True))
        .where("qcode is not null").select(cols).collect()}
    b = {tuple(r) for r in explode_candidate_arrays(
        mention_candidate_arrays(mentions, pa, broadcast_pem=False))
        .where("qcode is not null").select(cols).collect()}
    assert a == b and a
