"""The ER executors agree: the in-memory ``run_pipeline``, the
checkpointed production job and the streaming linker compose the same
stages through pipeline.py's shared builders, so they link and cluster
t1 identically under every protocol. The checkpointed ``mentions`` stage
owns its extraction guard."""

import json
import os

import pytest

from refined_spark import checkpoint
from refined_spark import pipeline as pipeline_mod
from refined_spark.checkpoint import run_pipeline_checkpointed
from refined_spark.pipeline import run_pipeline

PROTOCOLS = [(m, tm) for m in ("spans", "e2e") for tm in ("prior", "et")]


def _links(df) -> dict:
    return {(r["url"], r["start"]): (r["pred_qcode"], r["confidence"])
            for r in df.select("url", "start", "pred_qcode",
                               "confidence").collect()}


def _clusters(df) -> set:
    return {tuple(r) for r in df.select("url", "start",
                                        "cluster_id").collect()}


def _assert_links_agree(got: dict, want: dict) -> None:
    assert got and got.keys() == want.keys()
    assert {k: q for k, (q, _) in got.items()} == \
        {k: q for k, (q, _) in want.items()}
    worst = max(abs(got[k][1] - want[k][1]) for k in want)
    assert worst <= 1e-9, worst


@pytest.fixture(scope="module")
def in_memory(spark, fx_t1):
    """run_pipeline's links and clusters per protocol, collected once."""
    out = {}
    for mode, typing_mode in PROTOCOLS:
        res = run_pipeline(spark, fx_t1, mode=mode, typing_mode=typing_mode)
        try:
            out[mode, typing_mode] = (_links(res["links"]),
                                      _clusters(res["clusters"]))
        finally:
            res["unpersist"]()
    return out


@pytest.mark.parametrize("mode,typing_mode", PROTOCOLS)
def test_checkpointed_equals_in_memory(spark, fx_t1, tmp_path, in_memory,
                                       mode, typing_mode):
    res = run_pipeline_checkpointed(spark, fx_t1, str(tmp_path / "run"),
                                    mode=mode, typing_mode=typing_mode)
    links, clusters = in_memory[mode, typing_mode]
    _assert_links_agree(_links(res["links"]), links)
    assert _clusters(res["clusters"]) == clusters


def test_streaming_e2e_et_equals_in_memory(spark, fx_t1, tmp_path,
                                           in_memory):
    """The one streaming protocol no other test covers: dictionary MD
    with ET typing, over two micro-batches."""
    from refined_spark.streaming.linking import (split_documents,
                                                 streaming_links)

    split = split_documents(spark, os.path.join(fx_t1, "documents.parquet"),
                            2, dest=str(tmp_path / "docs"))
    got = _links(streaming_links(
        spark, fx_t1, split, mode="e2e", typing_mode="et",
        max_files_per_trigger=1, out_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt")))
    _assert_links_agree(got, in_memory["e2e", "et"][0])


def _corpus_with_documents(spark, fx_t1, path, documents) -> str:
    """A fixture dir holding t1's resource tables and ``documents``."""
    os.makedirs(path)
    for n in ("gold_spans", "pem", "entity", "entity_emb", "topic_class",
              "ed_weights", "class_edges", "gold_pairs", "link_counts"):
        os.symlink(os.path.join(fx_t1, f"{n}.parquet"),
                   os.path.join(path, f"{n}.parquet"))
    documents.write.parquet(os.path.join(path, "documents.parquet"))
    return path


@pytest.mark.parametrize("mode", ["spans", "e2e"])
def test_contract_violation_fails_mentions_stage(spark, fx_t1, tmp_path,
                                                 monkeypatch, mode,
                                                 persistent_rdd_ids):
    """A corpus that violates the extraction HTML contract fails the
    checkpointed ``mentions`` stage: no ``ok`` manifest for it, no later
    stage, and no cache left behind."""
    bad = spark.createDataFrame(
        [("u0", bytearray(b"<p>a &nbsp; b</p>"))], "url string, html binary")
    fx = _corpus_with_documents(spark, fx_t1, str(tmp_path / "fx"), bad)
    run_dir = str(tmp_path / "run")
    monkeypatch.setattr(checkpoint, "EXTRACTION_GUARD_MOD", 1)
    before = persistent_rdd_ids()
    with pytest.raises(Exception, match="extraction HTML contract"):
        run_pipeline_checkpointed(spark, fx, run_dir, mode=mode)
    manifest = os.path.join(run_dir, "mentions", "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            assert json.load(f)["status"] != "ok"
    assert not os.path.exists(os.path.join(run_dir, "candidates"))
    assert not persistent_rdd_ids() - before


def test_resumed_mentions_run_no_guard(spark, fx_t1, tmp_path, monkeypatch):
    """The guard belongs to the ``mentions`` stage: the cold job runs it
    once, and a resume that reuses that stage does not run it again."""
    calls = []
    guard = pipeline_mod.assert_extraction_contract
    monkeypatch.setattr(pipeline_mod, "assert_extraction_contract",
                        lambda docs, mod: calls.append(mod) or guard(docs,
                                                                     mod))
    run_dir = str(tmp_path / "run")
    run_pipeline_checkpointed(spark, fx_t1, run_dir)
    assert calls == [checkpoint.EXTRACTION_GUARD_MOD]
    os.remove(os.path.join(run_dir, "candidates", "manifest.json"))
    res = run_pipeline_checkpointed(spark, fx_t1, run_dir)
    assert res["runner"].stages_resumed[0] == "mentions"
    assert res["runner"].stages_run == ["candidates"]
    assert calls == [checkpoint.EXTRACTION_GUARD_MOD]
