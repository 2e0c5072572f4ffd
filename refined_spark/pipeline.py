"""End-to-end ER pipeline: extract → mentions → candidates → scoring →
links → transitive clusters.

Stage graph (per SURVEY.md §3.1's Spark restatement):

  documents ──extract(E1, map)──┐
  gold_spans ──────────────────mentions(M1) ──⋈ broadcast pem (M2/blocking)
      └─ groupBy(url) coref (M3/M4) ─ candidates
  candidates ⋈ entity ⋈ entity_emb ⋈ topic_class → scores (F3-F6, codegen)
      → window argmax + threshold (F7) → links
      → large-star/small-star CC (A9) → clusters

Shuffle census at scale (the thing that matters at 100 TB):
  1. mentions⋈documents + groupBy(url) coref: ONE hash shuffle on url.
  2. candidate scoring joins: broadcast (dims) — zero shuffle — or
     qcode_idx shuffle when the embedding table exceeds broadcast range.
  3. per-mention windows: shuffle on mention_key.
  4. CC: one groupBy per star round (log-bounded; 2-3 on ER graphs).
Filters/column pruning reach the parquet scan (only url/html/text/lang are
read; `html` only when extraction runs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config
from .footers import read_parquet
from .operators.candidates import (
    explode_candidate_arrays,
    mention_candidate_arrays,
    pair_candidate_arrays,
    pem_surface_arrays,
)
from .operators.clustering import cluster_mentions
from .operators.extract import extracted_text_col, with_extracted_text
from .operators.mentions import detect_mention_rows, mentions_from_spans
from .operators.scoring import (
    explode_scored_arrays,
    feature_map_by_ctx,
    links_from_logits,
    observed_pairs_from_mentions,
    with_candidate_logits,
)


def load_tables(spark: SparkSession, fixture_dir: str) -> dict[str, DataFrame]:
    names = ["documents", "gold_spans", "pem", "entity", "entity_emb",
             "topic_class", "ed_weights", "class_edges", "gold_pairs",
             "link_counts"]
    # schemas come from the parquet footers on the driver: a bare
    # spark.read.parquet runs one schema-inference job per table
    t = {n: read_parquet(spark, os.path.join(fixture_dir, f"{n}.parquet"))
         for n in names}
    # Parallelism comes from the SCAN, never from shuffling the raw corpus:
    # the fixture generator shards documents/gold_spans into many files
    # (real corpora are thousands of files), so map stages (extraction,
    # mention detection) run at full width with zero shuffle of html bytes.
    # Downstream stages shuffle only the small mention/candidate rows on
    # their natural keys (url, mention_key) — repartitioning the raw html
    # here would move the entire corpus through the shuffle for nothing.
    return t


def load_weights(ed_weights: DataFrame) -> dict[str, float]:
    return {r["feature"]: r["weight"] for r in ed_weights.collect()}


def match_dictionary_df(pem: DataFrame, entity: DataFrame) -> DataFrame:
    """Matcher keys AS A DATAFRAME (one ``key`` column): pem surfaces +
    words of multi-word human surfaces (the global analog of the coref
    registration trigger). Never touches the driver."""
    human_sfs = (
        pem.join(entity.select("qcode", "is_human"), "qcode")
        .where(F.col("is_human")
               & (F.col("prob") > config.PERSON_COREF_PEM_MIN))
        .select("surface_form")
        .where(F.instr("surface_form", " ") > 0)
        .distinct()
    )
    words = human_sfs.select(
        F.explode(F.split("surface_form", " ")).alias("key"))
    return (pem.select(F.col("surface_form").alias("key"))
            .unionByName(words).distinct())


def write_match_dictionary(pem: DataFrame, entity: DataFrame,
                           path: str, reuse: bool = True) -> str:
    """Materialize the matcher dictionary as a parquet artifact the
    workers open lazily (mentions.load_match_dictionary) — the driver
    never collects or pickles the key set (at reference scale that is 18M
    keys). `reuse=True` skips the write when a committed artifact exists
    (the dictionary is a pure function of the pem/entity fixtures).
    On a cluster `path` lives on shared/object storage — the same
    deployment shape as shipping the reference's LMDB file to workers."""
    if reuse and os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    match_dictionary_df(pem, entity).coalesce(1).write.mode(
        "overwrite").parquet(path)
    return path


def match_dictionary(pem: DataFrame, entity: DataFrame) -> list[str]:
    """Driver-side key list — FIXTURE/TEST SCALE ONLY (collects the alias
    table); the production path is :func:`write_match_dictionary` +
    ``dict_path``."""
    return [r["key"] for r in match_dictionary_df(pem, entity).collect()]


def fixture_content_stamp(fixture_dir: str) -> str:
    """Hash of the fixture dir's PATH + generator CONTENT stamps
    (_VERSION.json/_EXTRAS.json): the key under which anything derived
    from the fixtures (match dictionary, checkpoint fingerprints) may
    be reused — regenerating fixtures in place changes the stamps and
    so invalidates every derivation (round-2 advisor finding class).
    Missing stamps hash as empty (caller-supplied resource dirs outside
    the fixture generator)."""
    import hashlib

    h = hashlib.sha256(os.path.abspath(fixture_dir).encode())
    for stamp in ("_VERSION.json", "_EXTRAS.json"):
        p = os.path.join(fixture_dir, stamp)
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _default_dict_dir(fixture_dir: str) -> str:
    """Artifact dir keyed on :func:`fixture_content_stamp` — see there
    for why path alone is not enough."""
    import tempfile

    return os.path.join(tempfile.gettempdir(), "refined_spark_dicts",
                        fixture_content_stamp(fixture_dir)[:16])


def run_pipeline(
    spark: SparkSession,
    fixture_dir: str,
    mode: str = "spans",
    broadcast_pem: bool = True,
    broadcast_emb: bool = True,
    dict_dir: str | None = None,
    documents: DataFrame | None = None,
    gold_spans: DataFrame | None = None,
    extraction_guard_mod: int | None = 4096,
    emb_precision: str = "fp32",
    backward_coref: bool = False,
    typing_mode: str = "prior",
    pre_extracted: bool = False,
) -> dict[str, DataFrame]:
    """Returns {'mentions','candidates','links','clusters'} DataFrames.

    mode='spans': provided-spans (the F1-gated configuration, reference
    process_text(spans=...) semantics). mode='e2e': dictionary MD (the
    match dictionary is materialized as a parquet artifact and loaded
    executor-side — no driver collect; pass ``dict_dir`` to place it on
    shared storage in a cluster deployment).

    typing_mode='prior' (default): the class-prior ET stand-in.
    typing_mode='et': the reference's real F4 path — a deterministic
    linear+sigmoid entity-typing pass per distinct context word, with
    the ED layer consuming class_delta/class_dist (operators/
    entity_typing.py). Swapping protocols changes link decisions, so the
    flag folds into the checkpoint fingerprint (checkpoint.py).

    pre_extracted=True: ``documents`` carries (url, text) directly —
    the reference's ``Doc.from_text`` shape (dataset_factory.py feeds
    raw dataset text with no HTML stage) — so extraction and its
    contract guard are skipped.
    """
    t = load_tables(spark, fixture_dir)
    # the API facade (api.RefinedSpark) processes caller-supplied corpora
    # against the fixture_dir's RESOURCE tables (pem/entity/embeddings…)
    if documents is not None:
        t["documents"] = documents
    if gold_spans is not None:
        t["gold_spans"] = gold_spans
    if emb_precision == "fp16":
        # the reference's documented half-precision trade
        # (preprocessor.py:188-200): half the at-rest/broadcast bytes,
        # scores fp16-rounded (decode back to fp32 is exact)
        from .functions.fp16 import ensure_fp16_sidecar, read_entity_emb_fp16

        t["entity_emb"] = read_entity_emb_fp16(
            spark, ensure_fp16_sidecar(spark, fixture_dir))
    elif emb_precision != "fp32":
        raise ValueError(f"emb_precision must be fp32|fp16, "
                         f"got {emb_precision!r}")

    # Default-on sampled extraction-contract guard: the JVM extractor is
    # byte-identical to the Python parser spec only on the corpus HTML
    # contract; a violating corpus would silently shift every downstream
    # span offset. One ~1/mod-of-a-scan action makes it fail loudly here
    # instead (pass None to opt out; tools/run_job.py runs the denser
    # mod=256 variant as a standalone guard stage).
    if extraction_guard_mod and not pre_extracted:
        from .operators.extract import assert_extraction_contract

        assert_extraction_contract(t["documents"],
                                   mod=extraction_guard_mod)

    if pre_extracted and mode == "spans":
        docs = t["documents"].select("url", "text")
        mentions = mentions_from_spans(docs, t["gold_spans"])
    elif mode == "spans":
        # extraction runs map-side on scan partitions; only (url, text)
        # reaches the spans join shuffle — html never leaves the scan
        docs = with_extracted_text(t["documents"]).select(
            "url", F.col("extracted").alias("text"))
        mentions = mentions_from_spans(docs, t["gold_spans"])
    else:
        # extraction runs JVM-side inside the scan stage (codegen regexp
        # chain, golden-checked vs the Python parser); only the dictionary
        # matcher crosses to Python — one Arrow hop, text in, mention
        # rows out
        docs = (t["documents"].select("url", "text") if pre_extracted
                else t["documents"].withColumn(
                    "text", extracted_text_col("html")))
        dict_path = write_match_dictionary(
            t["pem"], t["entity"], dict_dir or _default_dict_dir(fixture_dir))
        mentions = detect_mention_rows(spark, docs, dict_path=dict_path)

    # The mentions subtree (html parse + dictionary match — the most
    # expensive map stage) is referenced by candidates, scoring AND links;
    # without persistence the final action recomputes it three times.
    # At cluster scale the equivalent is the checkpointed stage table
    # (checkpoint.py); locally an in-memory persist.
    mentions = mentions.persist()
    # Array-native candidate/scoring path: one row per mention carrying
    # its merged candidate ARRAY. Multi-word mentions never shuffle;
    # single-word mentions shuffle twice (coref join + latest-reg agg)
    # with key-width rows; scoring + linking are pure map stages over a
    # broadcast feature map. First full-table shuffle of the whole job
    # is the final cluster aggregation.
    pem_arrays = pem_surface_arrays(t["pem"], t["entity"])
    cand_arr = mention_candidate_arrays(
        mentions, pem_arrays, broadcast_pem=broadcast_pem,
        backward=backward_coref)
    weights = load_weights(t["ed_weights"])
    # The distinct (surface, ctx) pairs drive BOTH broadcast builds
    # (feature map + pair logits). Persisted because each broadcast
    # build is its own job: without the persist every build re-scans the
    # full mentions cache for a vocabulary-sized result. This is the
    # ONLY doc-scale pass outside the main pipeline action.
    surf_ctx = mentions.select("norm_sf", "ctx_word").distinct().persist()
    # ORDERED materialization barriers. The broadcast builds (feature
    # map, pair logits, coref word table) and the main action all
    # traverse these caches from separate concurrently-submitted jobs;
    # a lazily-persisted frame dedups work only across SEQUENTIAL reads,
    # so every concurrent first reader recomputes the full upstream —
    # the bench stage log showed the extraction+MD map stage running 4x
    # side by side. One count per cache, in dependency order, makes each
    # doc-scale pass happen exactly once. Cluster equivalent: the
    # checkpointed stage tables (checkpoint.py).
    mentions.count()
    surf_ctx.count()
    # feature domain from surf_ctx (not cand_arr), so the candidate
    # subtree is consumed exactly once per action and never needs
    # caching; zero doc-scale shuffles (see observed_pairs docstring)
    pairs = observed_pairs_from_mentions(mentions, pem_arrays,
                                         surf_ctx=surf_ctx)
    typing_frame = None
    if typing_mode == "et":
        # F4 forward pass over the distinct context vocabulary; the
        # class weight "matrix" derives from the class-edge vocab alone
        # (model-parameter scale) — see entity_typing.py
        from .operators.entity_typing import (class_names_sorted,
                                              et_confidence_table)
        from .operators.wikidata import class_vocab_from_edges

        names = class_names_sorted(class_vocab_from_edges(t["class_edges"]))
        typing_frame = et_confidence_table(
            surf_ctx.select("ctx_word"), names)
    elif typing_mode != "prior":
        raise ValueError(f"typing_mode must be prior|et, "
                         f"got {typing_mode!r}")
    fmap = feature_map_by_ctx(pairs, t["entity"], t["entity_emb"],
                              t["topic_class"], typing_frame=typing_frame)
    # Zipf dedup of the scoring math: logits once per DISTINCT
    # (surface, ctx) pair, broadcast back; per-mention evaluation only
    # for coref receivers (mention-specific candidate arrays)
    # the pair table is bytes-tiny but its logits projection is the
    # heaviest per-row JVM math in the job, so AQE's size-based
    # coalescing would serialize it onto one task; pin at core width
    pair_frame = pair_candidate_arrays(
        surf_ctx, pem_arrays, broadcast_pem=broadcast_pem,
    ).repartition(spark.sparkContext.defaultParallelism)
    pair_logits = with_candidate_logits(
        pair_frame, t["entity"], t["entity_emb"], t["topic_class"],
        weights, feature_map=fmap)
    with_logits = with_candidate_logits(
        cand_arr, t["entity"], t["entity_emb"], t["topic_class"], weights,
        feature_map=fmap, pair_logits=pair_logits)
    candidates = explode_candidate_arrays(cand_arr).where(
        F.col("qcode").isNotNull())
    scored = explode_scored_arrays(with_logits)
    links = links_from_logits(with_logits).persist()
    # same barrier: cluster_mentions joins two subtrees (members x
    # cluster ids) that BOTH read links — cold, they'd recompute the
    # scoring pass twice in concurrent stages
    links.count()
    clusters = cluster_mentions(links)

    def unpersist() -> None:
        """Release the persisted frames — callers that run multiple
        pipelines per session (entry harness, tests) should invoke this
        when a result set is superseded, or cached blocks accumulate."""
        mentions.unpersist()
        surf_ctx.unpersist()
        links.unpersist()

    return dict(mentions=mentions, candidates=candidates, scored=scored,
                links=links, clusters=clusters, cand_arr=cand_arr,
                with_logits=with_logits, tables=t, unpersist=unpersist)
