"""Doc-local person coref (M2-M4) against the sequential oracle.

``mention_candidate_arrays`` resolves coref with a (url, word) window
inside the url partitions; ``fixtures.oracle.candidates_rows`` replays
the reference's per-document dict in start order. Both directions must
agree row for row on the fixture corpora, on a wide generated corpus
with hot shared surnames, on generated single documents, and on one
10k-mention document."""

import os

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from refined_spark.fixtures import oracle
from refined_spark.functions.normalize import normalize_surface_form
from refined_spark.operators.candidates import (
    explode_candidate_arrays,
    mention_candidate_arrays,
    pem_surface_arrays,
)

COLS = ["url", "start", "qcode", "prob", "cand_source", "cand_rank"]
DIRECTIONS = [False, True]


def _pem_dict(pem_rows):
    """surface -> [(qcode, prob)] in the oracle's canonical order."""
    pem: dict[str, list] = {}
    for r in pem_rows:
        pem.setdefault(r["surface_form"], []).append((r["qcode"], r["prob"]))
    return {k: oracle.sort_candidates(v) for k, v in pem.items()}


def _check(spark, spans, pem_rows, humans, backward):
    """Spark candidate rows == oracle rows. spans: dicts with url, start
    and mention_text; pem_rows: dicts with surface_form, qcode, prob and
    a rank consistent with the oracle's order; humans: human qcodes."""
    mentions = spark.createDataFrame(
        [(s["url"], s["start"],
          normalize_surface_form(s["mention_text"], remove_the=True), None,
          oracle.mention_key(s["url"], s["start"])) for s in spans],
        "url string, start int, norm_sf string, ctx_word string,"
        " mention_key string")
    pem = spark.createDataFrame(
        [(r["surface_form"], r["qcode"], float(r["prob"]), int(r["rank"]))
         for r in pem_rows],
        "surface_form string, qcode string, prob double, rank int")
    qcodes = sorted({r["qcode"] for r in pem_rows} | set(humans))
    entity = spark.createDataFrame([(q, q in humans) for q in qcodes],
                                   "qcode string, is_human boolean")
    got = {tuple(r) for r in explode_candidate_arrays(
        mention_candidate_arrays(mentions, pem_surface_arrays(pem, entity),
                                 backward=backward))
        .where("qcode is not null").select(COLS).collect()}
    want = oracle.candidates_rows(spans, _pem_dict(pem_rows), set(humans),
                                  backward=backward)
    assert got == {tuple(r[c] for c in COLS) for r in want}
    return want


def _ranked(pem_rows):
    """Give each surface's rows the rank of the oracle's order."""
    out = []
    for sf, cands in _pem_dict(pem_rows).items():
        out += [dict(surface_form=sf, qcode=q, prob=p, rank=i)
                for i, (q, p) in enumerate(cands, 1)]
    return out


@pytest.mark.parametrize("backward", DIRECTIONS)
@pytest.mark.parametrize("fx", ["fx_t1", "fx_t2"])
def test_fixture_corpora_match_oracle(spark, request, fx, backward):
    d = request.getfixturevalue(fx)

    def rows(name):
        return [r.asDict() for r in
                spark.read.parquet(os.path.join(d, f"{name}.parquet"))
                .collect()]

    humans = {r["qcode"] for r in rows("entity") if r["is_human"]}
    spans = rows("gold_spans")
    pem = rows("pem")
    assert _check(spark, spans, pem, humans, backward)
    # non-vacuity: the corpus exercises coref
    assert any(r["cand_source"] == "coref" for r in oracle.candidates_rows(
        spans, _pem_dict(pem), humans, backward=backward))


def _wide_corpus(n_docs=400, seed=7):
    """Many documents over a small name universe: three hot surnames
    shared by every first name, human and non-human candidates, bare
    surnames with and without direct candidates, registrations before
    and after their receivers."""
    rng = np.random.Generator(np.random.PCG64(seed))
    firsts = [f"first{i}" for i in range(12)]
    lasts = ["smith", "lee", "chan"]
    pem_rows, q = [], 0
    for f in firsts:
        for ln in lasts:
            for _ in range(int(rng.integers(1, 4))):
                q += 1
                pem_rows.append(dict(surface_form=f"{f} {ln}",
                                     qcode=f"Q{q}",
                                     prob=float(rng.choice(
                                         [0.04, 0.05, 0.3, 0.7, 0.9]))))
    humans = {r["qcode"] for r in pem_rows if int(r["qcode"][1:]) % 5}
    # a direct (non-human) reading of two bare surnames
    pem_rows += [dict(surface_form="lee", qcode="Q9001", prob=0.6),
                 dict(surface_form="chan", qcode="Q9002", prob=0.95)]
    names = ([f"{f} {ln}" for f in firsts for ln in lasts] + lasts
             + firsts + ["nobody"])
    spans = []
    for d in range(n_docs):
        url = f"https://wide.example/{d:05d}"
        for i in range(int(rng.integers(1, 25))):
            spans.append(dict(url=url, start=i * 40,
                              mention_text=str(rng.choice(names))))
    return spans, _ranked(pem_rows), humans


@pytest.mark.parametrize("backward", DIRECTIONS)
def test_wide_corpus_hot_surnames_match_oracle(spark, backward):
    spans, pem, humans = _wide_corpus()
    want = _check(spark, spans, pem, humans, backward)
    assert sum(r["cand_source"] == "coref" for r in want) > 500


WORDS = ["john", "smith", "ann", "lee"]
QCODES = ["Q1", "Q2", "Q3", "Q4", "Q5"]
HUMANS = {"Q1", "Q2", "Q3"}
PROBS = [0.01, 0.05, 0.06, 0.3, 0.8, 0.95]


@st.composite
def single_docs(draw):
    """One document of 1-12 mentions over four words (surfaces of 1-3
    words, repeats allowed) and an alias table over its surfaces."""
    surface = st.lists(st.sampled_from(WORDS), min_size=1,
                       max_size=3).map(" ".join)
    doc = draw(st.lists(surface, min_size=1, max_size=12))
    pem = []
    for sf in sorted(set(doc)):
        qs = draw(st.lists(st.sampled_from(QCODES), max_size=3, unique=True))
        pem += [dict(surface_form=sf, qcode=q_,
                     prob=draw(st.sampled_from(PROBS))) for q_ in qs]
    return doc, pem


def _doc_case(doc, pem):
    spans = [dict(url="u", start=i * 10, mention_text=t)
             for i, t in enumerate(doc)]
    return spans, _ranked(pem)


_P = dict(prob=0.9)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=single_docs(), backward=st.booleans())
# registration before its receiver
@example(case=(["john smith", "smith"],
               [dict(surface_form="john smith", qcode="Q1", **_P)]),
         backward=False)
# registration after its receiver (only backward resolves it)
@example(case=(["smith", "john smith"],
               [dict(surface_form="john smith", qcode="Q1", **_P)]),
         backward=True)
# receivers with no registration at all, one with direct candidates
@example(case=(["smith", "lee"], [dict(surface_form="lee", qcode="Q4",
                                       **_P)]), backward=True)
# a repeated word inside one surface; a receiver with direct candidates
@example(case=(["john john", "john", "smith"],
               [dict(surface_form="john john", qcode="Q2", prob=0.95),
                dict(surface_form="john", qcode="Q2", prob=0.3),
                dict(surface_form="john", qcode="Q5", prob=0.3)]),
         backward=False)
def test_single_document_property(spark, case, backward):
    spans, pem = _doc_case(*case)
    _check(spark, spans, pem, HUMANS, backward)


def test_ten_thousand_mentions_one_document(spark):
    """One document, 10k mentions on three hot words: the window's
    running frame keeps the plan linear in the document's length."""
    spans, pem, humans = _long_doc(10_000)
    want = _check(spark, spans, pem, humans, backward=True)
    assert len({r["start"] for r in want}) == 10_000


def _long_doc(n):
    names = ["ann smith", "smith", "bob lee", "lee", "ann", "carl smith"]
    spans = [dict(url="https://long.example/0", start=i * 12,
                  mention_text=names[i % len(names)]) for i in range(n)]
    pem = [dict(surface_form="ann smith", qcode="Q1", prob=0.7),
           dict(surface_form="bob lee", qcode="Q2", prob=0.9),
           dict(surface_form="carl smith", qcode="Q3", prob=0.5),
           dict(surface_form="ann", qcode="Q4", prob=0.2)]
    return spans, _ranked(pem), {"Q1", "Q2", "Q3"}
