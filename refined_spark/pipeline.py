"""End-to-end ER pipeline: extract → mentions → candidates → scoring →
links → transitive clusters.

Stage graph (per SURVEY.md §3.1's Spark restatement):

  documents ──extract(E1, map)──┐
  gold_spans ──────────────────mentions(M1) ── repartition(url)
      ⋈ broadcast alias arrays (M2/blocking)
      → (url, word) window coref (M3) → in-row merge (M4) ─ candidates
  candidates ⋈ entity ⋈ entity_emb ⋈ topic_class → scores (F3-F6, codegen)
      → in-row argmax + threshold (F7) → links
      → large-star/small-star CC over pair edges (A9) + cluster-id
        window → clusters

Shuffle census at scale (the thing that matters at 100 TB):
  1. mentions: spans mode joins gold_spans ⋈ documents on url; e2e mode
     detects mentions map-side on the scan partitions (no shuffle).
  2. candidates: ONE hash shuffle of key-width mention rows on url
     (REPARTITION_BY_NUM, which AQE does not coalesce); person coref is
     a (url, word) window inside those partitions, and the alias arrays
     attach through a broadcast join after it. The alias arrays
     themselves come from one groupBy(surface_form) over the pem rows.
  3. scoring and links: map stages over broadcast vocabulary tables
     (feature map, pair logits); their only shuffles build those tables
     from the distinct (surface, ctx) pairs.
  4. clusters: one window shuffle on the component without pair edges;
     with them, one groupBy per star round on the entity-contracted
     graph (log-bounded; 2-3 on ER graphs).
Filters/column pruning reach the parquet scan (only url/html/text/lang are
read; `html` only when extraction runs).

Composition: the stages are built in one place, by :func:`build_resources`,
:func:`build_mentions` and :func:`build_links`. Every executor calls them
and adds only its own execution policy: :func:`run_pipeline` (in-memory
barriers and the vocabulary scoring chain),
checkpoint.run_pipeline_checkpointed (parquet stages, resumable) and
streaming.linking.StreamingLinker (resources once, stages per batch).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config
from .caching import local_checkpoint, release_checkpoints
from .footers import read_parquet
from .operators.candidates import (
    explode_candidate_arrays,
    mention_candidate_arrays,
    pair_candidate_arrays,
    pem_surface_arrays,
)
from .operators.clustering import cluster_mentions
from .operators.entity_typing import class_names_sorted, et_confidence_table
from .operators.extract import (
    assert_extraction_contract,
    extracted_text_col,
    sampled_html_col,
)
from .operators.mentions import detect_mention_rows, mentions_from_spans
from .operators.scoring import (
    feature_map_by_ctx,
    links_from_logits,
    observed_pairs_from_mentions,
    with_candidate_logits,
)
from .operators.wikidata import class_vocab_from_edges

# default density of the sampled extraction-contract guard: 1/4096 of the
# documents also run the Python parser spec (build_mentions)
EXTRACTION_GUARD_MOD = 4096


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
    """feature -> weight of the (5-row) ``ed_weights`` table, read on the
    driver with pyarrow from the table's local files: no Spark job. The
    frame must be a plain read of the table (as ``load_tables`` gives)."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    # ParquetFile.read on the calling thread: read_table would start
    # Arrow's thread pools in the driver for five rows
    return {r["feature"]: r["weight"]
            for f in ed_weights.inputFiles()
            for r in pq.ParquetFile(unquote(urlparse(f).path)).read(
                columns=["feature", "weight"], use_threads=False).to_pylist()}


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


def check_protocol(mode: str, typing_mode: str) -> None:
    """Reject an unknown ``mode`` or ``typing_mode`` before any work:
    both fold into the checkpoint fingerprint, and an unknown ``mode``
    would otherwise run the e2e branch under its own fingerprint."""
    if mode not in ("spans", "e2e"):
        raise ValueError(f"mode must be spans|e2e, got {mode!r}")
    if typing_mode not in ("prior", "et"):
        raise ValueError(f"typing_mode must be prior|et, "
                         f"got {typing_mode!r}")


@dataclass(frozen=True)
class Resources:
    """The static inputs of one ER protocol: the tables, the ED
    weights, the match dictionary's dir (e2e mode) and the ET class
    names (et mode)."""

    mode: str
    typing_mode: str
    tables: dict[str, DataFrame]
    weights: dict[str, float]
    dict_path: str | None
    class_names: list[str] | None


def build_resources(spark: SparkSession, fixture_dir: str,
                    mode: str = "spans", typing_mode: str = "prior",
                    dict_dir: str | None = None) -> Resources:
    """Check the protocol, then load what every stage reads. In e2e mode
    the match dictionary's place is ``dict_dir`` (default: a dir keyed
    by the fixture content stamp); :func:`build_mentions` writes it on
    first use. The ET class names are one model-parameter-scale
    collect."""
    check_protocol(mode, typing_mode)
    t = load_tables(spark, fixture_dir)
    dict_path = class_names = None
    if mode == "e2e":
        dict_path = dict_dir or _default_dict_dir(fixture_dir)
    if typing_mode == "et":
        class_names = class_names_sorted(
            class_vocab_from_edges(t["class_edges"]))
    return Resources(mode, typing_mode, t, load_weights(t["ed_weights"]),
                     dict_path, class_names)


def build_mentions(spark: SparkSession, r: Resources, documents: DataFrame,
                   guard_mod: int | None,
                   pre_extracted: bool = False) -> DataFrame:
    """The mention rows of ``documents``: the gold spans over the
    extracted text (spans mode) or dictionary MD over it (e2e mode; the
    match dictionary is written here unless one is already committed,
    so a checkpointed run writes it inside its ``mentions`` stage).
    Extraction runs JVM-side inside the scan stage; only (url, text)
    leaves it.

    The sampled extraction-contract guard lives here. The JVM extractor
    equals the Python parser spec only on the corpus HTML contract, and
    a violating corpus would silently shift every downstream span
    offset, so ~1/``guard_mod`` of the documents run both and a mismatch
    fails loudly. Spans mode has no Python stage on the scan: it runs
    the one-job standalone guard now, before the frame exists. E2e mode
    carries the sampled html into the MD scan (``spec_col``), so the
    guard fires in the first action over the returned frame.
    ``guard_mod=None`` and ``pre_extracted=True`` (``documents`` already
    carries ``text``, the reference's ``Doc.from_text`` shape) skip it.
    """
    guard = bool(guard_mod) and not pre_extracted
    if guard and r.mode == "spans":
        assert_extraction_contract(documents, mod=guard_mod)
    text = F.col("text") if pre_extracted else extracted_text_col("html")
    spec = ([sampled_html_col(guard_mod).alias("spec_html")]
            if guard and r.mode == "e2e" else [])
    docs = documents.select("url", text.alias("text"), *spec)
    if r.mode == "spans":
        return mentions_from_spans(docs, r.tables["gold_spans"])
    dict_path = write_match_dictionary(r.tables["pem"], r.tables["entity"],
                                       r.dict_path)
    return detect_mention_rows(spark, docs, dict_path=dict_path,
                               spec_col="spec_html" if spec else None)


def _typing_frame(r: Resources, ctx_words: DataFrame) -> DataFrame | None:
    """The ET confidence table over ``ctx_words`` in et mode, else None.
    A row is a pure function of (ctx_word, class vocab), so a frame over
    a batch's words carries the full corpus's values for them."""
    if r.typing_mode != "et":
        return None
    return et_confidence_table(ctx_words, r.class_names)


def build_links(r: Resources, cand_arr: DataFrame,
                feature_map: DataFrame | None = None,
                pair_logits: DataFrame | None = None,
                ) -> tuple[DataFrame, DataFrame]:
    """Score the candidate arrays and link them: ``(with_logits,
    links)``. Without a prebuilt ``feature_map`` the map is built from
    ``cand_arr``'s own (ctx_word, qcode) pairs, with the ET typing frame
    over its ctx words; a prebuilt map already carries its typing
    features. ``pair_logits``: see scoring.with_candidate_logits."""
    t = r.tables
    typing_frame = (_typing_frame(r, cand_arr.select("ctx_word"))
                    if feature_map is None else None)
    with_logits = with_candidate_logits(
        cand_arr, t["entity"], t["entity_emb"], t["topic_class"], r.weights,
        feature_map=feature_map, pair_logits=pair_logits,
        typing_frame=typing_frame)
    return with_logits, links_from_logits(with_logits)


def run_pipeline(
    spark: SparkSession,
    fixture_dir: str,
    mode: str = "spans",
    dict_dir: str | None = None,
    documents: DataFrame | None = None,
    gold_spans: DataFrame | None = None,
    extraction_guard_mod: int | None = EXTRACTION_GUARD_MOD,
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

    Extraction guard (default on, 1/``extraction_guard_mod`` of the
    documents; None opts out): see :func:`build_mentions`. Spans mode
    runs it as one standalone job before the mentions barrier; e2e mode
    runs it inside the mentions scan, so a violation fails the
    ``mentions`` barrier and leaves no cache behind.

    Barrier policy: every per-run table is computed once. Doc-scale
    frames (``mentions``, ``links``) are ``persist()``ed and counted in
    dependency order. Vocabulary-scale frames (the alias arrays, the
    observed (ctx_word, qcode) pairs, the feature map, the pair logits)
    are eager local checkpoints (caching.local_checkpoint): later plans
    read them as leaves, so the final action neither re-runs them at
    each use site (pushed-down filters and pruned columns defeat
    exchange reuse) nor re-optimises their subplans. A local checkpoint
    does not survive the loss of an executor — the trade the CC rounds
    already make; the resumable production job is
    checkpoint.run_pipeline_checkpointed. ``unpersist()`` ends the
    result's life: it releases the caches and the checkpoints, after
    which frames derived from the result fail instead of recomputing.
    """
    if emb_precision not in ("fp32", "fp16"):
        raise ValueError(f"emb_precision must be fp32|fp16, "
                         f"got {emb_precision!r}")
    r = build_resources(spark, fixture_dir, mode, typing_mode, dict_dir)
    t = r.tables
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

    # The mentions subtree (html parse + dictionary match — the most
    # expensive map stage) is referenced by candidates, scoring AND links;
    # without persistence the final action recomputes it three times.
    # At cluster scale the equivalent is the checkpointed stage table
    # (checkpoint.py); locally an in-memory persist.
    mentions = build_mentions(spark, r, t["documents"], extraction_guard_mod,
                              pre_extracted=pre_extracted).persist()
    # The distinct (surface, ctx) pairs drive the feature domain, the
    # pair logits and the ET table: persisted so that the doc-scale
    # mentions cache is scanned once for this vocabulary-sized result.
    surf_ctx = mentions.select("norm_sf", "ctx_word").distinct().persist()
    # ORDERED materialization barriers, one per frame in dependency
    # order: concurrently-submitted first readers of a lazily-persisted
    # frame each recompute its full upstream (the bench stage log showed
    # the extraction+MD map stage running 4x side by side), so each
    # doc-scale pass happens exactly once this way.
    try:
        mentions.count()    # the e2e extraction guard fires here
    except Exception:
        mentions.unpersist()
        surf_ctx.unpersist()
        raise
    surf_ctx.count()
    # Array-native candidate/scoring path: one row per mention carrying
    # its merged candidate ARRAY. The mention rows shuffle once, on url
    # (doc-local coref); scoring + linking are pure map stages over
    # broadcast vocabulary tables; the cluster-id window is the last
    # doc-scale shuffle.
    ckpts: list = []        # RDDs of the vocabulary-scale checkpoints
    pem_arrays = local_checkpoint(
        pem_surface_arrays(t["pem"], t["entity"]), ckpts)
    cand_arr = mention_candidate_arrays(mentions, pem_arrays,
                                        backward=backward_coref)
    # feature domain from surf_ctx (not cand_arr), so the candidate
    # subtree is consumed exactly once per action and never needs
    # caching; zero doc-scale shuffles (see observed_pairs docstring)
    pairs = local_checkpoint(
        observed_pairs_from_mentions(mentions, pem_arrays,
                                     surf_ctx=surf_ctx), ckpts)
    fmap = local_checkpoint(
        feature_map_by_ctx(pairs, t["entity"], t["entity_emb"],
                           t["topic_class"],
                           typing_frame=_typing_frame(
                               r, surf_ctx.select("ctx_word"))),
        ckpts)
    # Zipf dedup of the scoring math: logits once per DISTINCT
    # (surface, ctx) pair, broadcast back; per-mention evaluation only
    # for coref receivers (mention-specific candidate arrays)
    # the pair table is bytes-tiny but its logits projection is the
    # heaviest per-row JVM math in the job, so AQE's size-based
    # coalescing would serialize it onto one task; pin at core width
    pair_frame = pair_candidate_arrays(surf_ctx, pem_arrays).repartition(
        spark.sparkContext.defaultParallelism)
    pair_logits = local_checkpoint(
        with_candidate_logits(pair_frame, t["entity"], t["entity_emb"],
                              t["topic_class"], r.weights, feature_map=fmap),
        ckpts)
    with_logits, links = build_links(r, cand_arr, feature_map=fmap,
                                     pair_logits=pair_logits)
    links = links.persist()
    # same barrier: callers read links next to clusters, so the scoring
    # pass runs once, here
    links.count()
    candidates = explode_candidate_arrays(cand_arr).where(
        F.col("qcode").isNotNull())
    clusters = cluster_mentions(links)

    def unpersist() -> None:
        """End the result's life: release the persisted frames and the
        checkpoints. Callers that run multiple pipelines per session
        (entry harness, tests) invoke this when a result set is
        superseded, or cached blocks accumulate; afterwards the result's
        frames fail on use (checkpointed lineage is not recomputed)."""
        mentions.unpersist()
        surf_ctx.unpersist()
        links.unpersist()
        release_checkpoints(ckpts)

    return dict(mentions=mentions, candidates=candidates, links=links,
                clusters=clusters, cand_arr=cand_arr,
                with_logits=with_logits, tables=t, unpersist=unpersist)
