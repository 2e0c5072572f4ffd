"""M3 backward (2-pass) person coreference — reference
candidate_generator.py:123-159 ``backward_coref``: a pre-pass registers
every strong human name, so a receiver with no registration BEFORE it
falls back to the document's LAST registration; wherever an earlier
registration exists, pass-2 overwrites restore forward semantics.

The array-native production plan is checked against the fixture oracle
parquet (the sequential NumPy-side replay, fixtures/oracle.py) in both
directions, and against a hand case."""

import os

import pytest

from refined_spark.operators.candidates import (
    explode_candidate_arrays,
    mention_candidate_arrays,
    pem_surface_arrays,
)
from refined_spark.operators.mentions import mentions_from_spans

COLS = ["url", "start", "qcode", "prob", "cand_source", "cand_rank"]


@pytest.fixture(scope="module")
def world(spark, fx_t1):
    docs = spark.read.parquet(os.path.join(fx_t1, "coref_docs.parquet"))
    spans = spark.read.parquet(os.path.join(fx_t1, "coref_spans.parquet"))
    pem = spark.read.parquet(os.path.join(fx_t1, "pem.parquet"))
    entity = spark.read.parquet(os.path.join(fx_t1, "entity.parquet"))
    mentions = mentions_from_spans(docs, spans).cache()
    mentions.count()
    return dict(mentions=mentions, arrays=pem_surface_arrays(pem, entity))


def _arr_rows(arr_df):
    return {tuple(r) for r in explode_candidate_arrays(arr_df)
            .where("qcode is not null").select(COLS).collect()}


def _exp_rows(spark, fx, name):
    return {tuple(r) for r in
            spark.read.parquet(os.path.join(fx, f"{name}.parquet"))
            .select(COLS).collect()}


def test_backward_matches_oracle_fixture(spark, fx_t1, world):
    got = _arr_rows(mention_candidate_arrays(
        world["mentions"], world["arrays"], backward=True))
    assert got and got == _exp_rows(spark, fx_t1, "expected_candidates_back")


def test_forward_matches_oracle_and_differs(spark, fx_t1, world):
    got = _arr_rows(mention_candidate_arrays(
        world["mentions"], world["arrays"], backward=False))
    want_fwd = _exp_rows(spark, fx_t1, "expected_candidates_fwd")
    want_back = _exp_rows(spark, fx_t1, "expected_candidates_back")
    assert got == want_fwd
    # non-vacuity: the corpus actually discriminates the two protocols
    assert want_fwd != want_back


def test_backward_hand_case(spark, fx_t1, world):
    """Pattern-4 style: receiver precedes BOTH registrants sharing a
    surname — backward must take the document-LAST registration."""
    docs = spark.createDataFrame(
        [("u1", "Chan spoke first. Alice Chan (chemist) met Bob Chan "
                "(lawyer) later.")],
        "url string, text string")
    spans = spark.createDataFrame(
        [("u1", 0, 4, "Chan"), ("u1", 18, 10, "Alice Chan"),
         ("u1", 39, 8, "Bob Chan")],
        "url string, start int, length int, mention_text string")
    pem = spark.createDataFrame(
        [("alice chan", "Q1", 0.9, 1), ("bob chan", "Q2", 0.8, 1)],
        "surface_form string, qcode string, prob double, rank int")
    entity = spark.createDataFrame(
        [("Q1", True), ("Q2", True)], "qcode string, is_human boolean")
    mentions = mentions_from_spans(docs, spans)
    arrays = pem_surface_arrays(pem, entity)

    fwd = explode_candidate_arrays(mention_candidate_arrays(
        mentions, arrays, backward=False)).where(
        "start = 0 and qcode is not null").collect()
    assert fwd == []  # no registration before the receiver

    back = {(r["qcode"], r["cand_source"]) for r in explode_candidate_arrays(
        mention_candidate_arrays(mentions, arrays, backward=True)).where(
        "start = 0 and qcode is not null").collect()}
    # document-LAST registration is Bob Chan, not Alice Chan
    assert back == {("Q2", "coref")}
