"""F3-F7 — pairwise (mention, candidate) scoring + winner extraction.

Re-implements the reference's ED scoring dataflow declaratively:

- F3 bi-encoder description score: ``dot(desc_emb, mention_emb)`` with the
  no-description mask to -100 (/root/reference/src/refined/model_components/
  ed_layer_2.py:61-132). Entity embeddings are PRE-MATERIALIZED in the
  ``entity_emb`` table (the reference does exactly this with an fp16 memmap,
  inference/processor.py:525-553) and joined in — compute becomes a join.
- F5 class lookup: candidates join the entity dim's ``class_idx`` array.
- F6 prior mixing: one linear layer over
  [class_overlap, pem, class_dist, desc_score]
  (entity_disambiguation_layer.py:36-119), pem==0 masked to -1e8,
  NOTA logit 0 appended, softmax.
- F7 argmax + threshold: first-occurrence argmax per mention, ED
  threshold 0.15 (evaluation/evaluation.py:70-81).

The features depend only on the (ctx_word, qcode) pair, so they are
computed once per DISTINCT observed pair (:func:`pair_feature_table`) and
collected into a broadcast map (:func:`feature_map_by_ctx`). The mention
embedding is a hash-embedding pandas UDF evaluated once per distinct
context word; the per-candidate dot product runs JVM-side via
``zip_with``+``aggregate``. Logits (:func:`with_candidate_logits`) and
links (:func:`links_from_logits`) are array expressions over each
mention's candidate array: no shuffle of the mention table. The
sequential replay in :mod:`refined_spark.fixtures.oracle` is the
cross-check.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from .. import config
from ..functions.embed import hash_embed


@pandas_udf(ArrayType(FloatType()))
def _embed_udf(words: pd.Series) -> pd.Series:
    return words.map(
        lambda w: [float(x) for x in hash_embed(w)] if w else None
    )


_CTX_NULL_KEY = "\x01"  # sentinel: group NULL ctx_word into the feature map


def pair_feature_table(pairs: DataFrame, entity: DataFrame,
                       entity_emb: DataFrame, topic_class: DataFrame,
                       ctx_words: DataFrame,
                       typing_frame: DataFrame | None = None) -> DataFrame:
    """(ctx_word, qcode) -> (desc_score, class features) for the DISTINCT
    observed pairs. The features depend only on the pair, never on the
    individual mention, and mention surfaces are Zipfian: at corpus scale
    the same pair recurs millions of times, so the heavy 300-dim math
    runs once per pair instead of once per candidate row — the
    materialize-then-join move the reference makes for description
    embeddings (processor.py:525-553), one level further.

    Class features come in two protocols:

    - prior (default): ``class_overlap`` — membership of the context
      topic's class in the candidate's class set (the deterministic ET
      stand-in, SURVEY §7.1).
    - ET (``typing_frame`` = the (ctx_word, et_conf, et_sq) frame from
      :func:`~refined_spark.operators.entity_typing.et_confidence_table`):
      the reference ED layer's real class features — ``class_delta``
      (candidate-class × predicted-confidence product, collapsed) and
      ``class_dist`` (full-width L2 between indicator and confidence
      vectors, computed sparsely) — entity_disambiguation_layer.py:56-61.
    """
    ent_dim = entity.select("qcode", "qcode_idx", "class_idx")
    emb = entity_emb.select("qcode_idx", "desc_emb")
    # The distinct ctx-word table is bytes-tiny but CPU-heavy (one Python
    # embed call per word). AQE coalesces its exchange by SIZE down to one
    # partition, serializing the whole vocabulary's UDF work into a
    # single 25s task (observed in the bench stage log). Explicit
    # numPartitions pins the exchange at core width — AQE leaves
    # user-specified repartitions alone.
    par = ctx_words.sparkSession.sparkContext.defaultParallelism
    ctx_embs = ctx_words.repartition(par).withColumn(
        "ctx_emb", _embed_udf(F.col("ctx_word")))
    feats = (
        pairs
        .join(ent_dim, "qcode", "left")
        .join(emb, "qcode_idx", "left")
        .join(F.broadcast(ctx_embs), "ctx_word", "left")
    )
    if typing_frame is None:
        feats = feats.join(
            F.broadcast(topic_class.withColumnRenamed("topic", "ctx_word")
                        .withColumnRenamed("class_idx", "t_class_idx")),
            "ctx_word", "left")
    else:
        feats = feats.join(F.broadcast(typing_frame), "ctx_word", "left")
    desc_nonzero = F.exists("desc_emb", lambda x: x != 0.0)
    dot = F.aggregate(
        F.zip_with("desc_emb", "ctx_emb",
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    desc_score = (
        F.when(F.col("desc_emb").isNull() | ~desc_nonzero,
               F.lit(config.NO_DESC_MASK))
        .when(F.col("ctx_emb").isNull(), F.lit(0.0))
        .otherwise(dot)
    )
    if typing_frame is not None:
        from .entity_typing import et_feature_cols
        class_delta, class_dist = et_feature_cols()
        return feats.select(
            "ctx_word", "qcode",
            desc_score.alias("desc_score"),
            class_delta.alias("class_delta"),
            class_dist.alias("class_dist"))
    overlap = (
        F.when(F.col("t_class_idx").isNull() | F.col("class_idx").isNull(),
               F.lit(0.0))
        .otherwise(F.array_contains(
            "class_idx", F.col("t_class_idx").cast("smallint")
        ).cast("double"))
    )
    return feats.select(
        "ctx_word", "qcode",
        desc_score.alias("desc_score"),
        overlap.alias("class_overlap"))


def observed_pairs_from_mentions(mentions: DataFrame,
                                 pem_arrays: DataFrame,
                                 surf_ctx: DataFrame | None = None
                                 ) -> DataFrame:
    """The (ctx_word, qcode) feature domain WITHOUT touching the candidate
    frame: distinct (norm_sf, ctx_word) mention pairs (Zipf-deduped,
    narrow shuffle) x the broadcast alias arrays cover every direct
    candidate.

    Coref candidates are covered on the WORD axis, which is the axis the
    protocol actually pairs on: a receiver (single-word mention w, ctx c)
    can only ever be handed the capped human candidates of a multi-word
    surface CONTAINING w (candidate_generator.py:74-94) — so
    (c, q) pairs with q ∈ human(s), w ∈ words(s), s OBSERVED as a
    multi-word mention cover every coref candidate. All three inputs are
    vocabulary-scale (distinct surfaces/ctx words), so the coref domain
    is one broadcast equi-join on the word — ZERO doc-scale shuffles.
    Earlier formulations paid two url-level distincts plus a url
    SortMergeJoin over the full mentions table per pipeline run (doc-
    scale shuffles on the e2e critical path) for a doc-co-occurrence
    bound the feature map does not need: extra map entries are never
    looked up (a mention only probes its own candidates), so looser-on-
    doc/exact-on-word is harmless; coverage of every real candidate is
    what matters, and the NumPy cross-check
    (tests/test_pipeline_parity.py) pins it. The word join is NOT the
    round-1-review cross-join blowup: it is keyed by the receiver word
    and bounded by observed multi-word surfaces x <=MAX_CANDIDATES
    human candidates — the same broadcast budget as pem_arrays itself.
    """
    minp = config.PERSON_COREF_PEM_MIN
    if surf_ctx is None:
        surf_ctx = mentions.select("norm_sf", "ctx_word").distinct()
    direct_pairs = (
        surf_ctx.join(F.broadcast(pem_arrays),
                      surf_ctx.norm_sf == pem_arrays.surface_form)
        .select("ctx_word", F.explode("pem_arr").alias("c"))
        .select("ctx_word", F.col("c.qcode").alias("qcode"))
    )
    # (word, qcode): capped human candidates of multi-word surfaces that
    # are OBSERVED as mentions, exploded per word — vocabulary-scale
    word_q = (
        surf_ctx.where(F.col("norm_sf").contains(" "))
        .select("norm_sf").distinct()
        .join(F.broadcast(pem_arrays),
              F.col("norm_sf") == pem_arrays.surface_form)
        .select("norm_sf", F.explode(F.expr(
            f"filter(pem_arr, c -> c.is_human AND c.prob > {minp})"
        )).alias("c"))
        .select(F.explode(F.split("norm_sf", " ")).alias("word"),
                F.col("c.qcode").alias("qcode")).distinct()
    )
    recv = (surf_ctx.where(~F.col("norm_sf").contains(" "))
            .select("norm_sf", "ctx_word"))
    coref_pairs = recv.join(
        F.broadcast(word_q), recv.norm_sf == word_q.word
    ).select("ctx_word", "qcode")
    return direct_pairs.unionByName(coref_pairs).distinct()


def feature_map_by_ctx(pairs: DataFrame, entity: DataFrame,
                       entity_emb: DataFrame,
                       topic_class: DataFrame,
                       typing_frame: DataFrame | None = None) -> DataFrame:
    """(ctx_key -> {qcode -> feature struct}) map frame — the
    broadcastable feature store for the logits transform. Build ONCE per
    pipeline and share across logits call sites. The struct is
    (desc_score, class_overlap) in prior mode, (desc_score, class_delta,
    class_dist) in ET mode (``typing_frame`` given)."""
    ctx_words = (pairs.select("ctx_word")
                 .where(F.col("ctx_word").isNotNull()).distinct())
    feats = pair_feature_table(pairs, entity, entity_emb, topic_class,
                               ctx_words, typing_frame=typing_frame)
    feat_struct = (F.struct("desc_score", "class_delta", "class_dist")
                   if typing_frame is not None
                   else F.struct("desc_score", "class_overlap"))
    # same size-vs-CPU mismatch as the embed build: the map-assembly agg
    # is small in bytes, so AQE coalesces it to one task; pin the
    # exchange at core width by repartitioning on the grouping key (the
    # agg then reuses this partitioning — no extra exchange)
    par = feats.sparkSession.sparkContext.defaultParallelism
    return (feats.withColumn(
        "ctx_key", F.coalesce("ctx_word", F.lit(_CTX_NULL_KEY)))
        .repartition(par, "ctx_key")
        .groupBy("ctx_key")
        .agg(F.map_from_entries(F.collect_list(F.struct(
            "qcode", feat_struct))).alias("fmap")))


def _fmap_value_fields(feature_map: DataFrame) -> list[str]:
    """Field names of the fmap's value struct — lets the logits builder
    infer the typing protocol from a prebuilt map (callers pass the map
    without re-passing the typing frame it was built from)."""
    return [f.name
            for f in feature_map.schema["fmap"].dataType.valueType.fields]


def with_candidate_logits(cand_df: DataFrame, entity: DataFrame,
                          entity_emb: DataFrame, topic_class: DataFrame,
                          weights: dict[str, float],
                          feature_map: DataFrame | None = None,
                          pair_logits: DataFrame | None = None,
                          typing_frame: DataFrame | None = None
                          ) -> DataFrame:
    """cand_df (mention_key, ctx_word, cand_arr [, norm_sf, has_coref])
    -> + ``logits`` array.

    The per-candidate linear layer (F6) evaluates as a transform() over
    the candidate array with feature lookup in a BROADCAST map keyed by
    (ctx_word -> qcode -> features): zero shuffle of the mention table.
    Broadcast budget: the map holds one entry per distinct observed
    (ctx_word, qcode) pair, so it scales with the alias table and the
    context vocabulary, not with the corpus — the same budget the
    reference spends on its PEM dict on every worker. Nothing checks
    that budget here; a map beyond the executors' broadcast memory fails
    the job.

    ``feature_map``: a prebuilt :func:`feature_map_by_ctx` frame, shared
    across call sites; without one the map is built from the distinct
    (ctx_word, qcode) pairs of ``cand_df``.

    ``pair_logits`` (round-2 scale move): a broadcast
    (norm_sf, ctx_word) -> logits table precomputed on the DISTINCT
    surface-context pairs. Mention surfaces are Zipfian, so the map-scan
    logits transform — the hottest per-row array math in the job — runs
    once per distinct pair instead of once per mention; per-mention
    evaluation remains only for coref receivers (their candidate array
    is mention-specific). Requires cand_df to carry norm_sf + has_coref.
    """
    if feature_map is None:
        pairs = (cand_df.select("ctx_word", F.explode("cand_arr").alias("c"))
                 .select("ctx_word", F.col("c.qcode").alias("qcode"))
                 .distinct())
        feature_map = feature_map_by_ctx(pairs, entity, entity_emb,
                                         topic_class,
                                         typing_frame=typing_frame)
    et_mode = (typing_frame is not None
               or "class_delta" in _fmap_value_fields(feature_map))

    j = cand_df.join(
        F.broadcast(feature_map),
        F.coalesce(cand_df["ctx_word"], F.lit(_CTX_NULL_KEY))
        == feature_map["ctx_key"], "left").drop("ctx_key")
    w = weights
    # summation order (class, pem, dist, desc, bias) matches the fixture
    # oracle's fold
    if et_mode:
        # ET protocol: same linear mix, with the reference ED layer's
        # real class features — delta (prior-mode 'class_overlap' weight
        # slot) and the L2 class distance (the 'class_dist' slot, whose
        # negative weight penalizes type disagreement).
        first = (f"{w['class_overlap']}D * "
                 f"element_at(fmap, c.qcode).class_delta")
        dist_term = (f"{w['class_dist']}D * "
                     f"element_at(fmap, c.qcode).class_dist")
    else:
        first = (f"{w['class_overlap']}D * "
                 f"element_at(fmap, c.qcode).class_overlap")
        dist_term = (f"{w['class_dist']}D * "
                     f"(1.0D - element_at(fmap, c.qcode).class_overlap)")
    logit_expr = F.expr(
        f"transform(cand_arr, c -> CASE WHEN c.prob = 0D "
        f"THEN cast({config.PEM_ZERO_MASK} as double) ELSE "
        f"{first}"
        f" + {w['pem']}D * c.prob"
        f" + {dist_term}"
        f" + {w['desc_score']}D * element_at(fmap, c.qcode).desc_score"
        f" + {w['bias']}D END)")
    if pair_logits is None:
        return j.withColumn("logits", logit_expr)
    b = F.broadcast(pair_logits.select(
        F.col("norm_sf").alias("_b_sf"),
        F.col("ctx_word").alias("_b_ctx"),
        F.col("logits").alias("_b_logits")))
    j = j.join(b, (j["norm_sf"] == b["_b_sf"])
               & j["ctx_word"].eqNullSafe(b["_b_ctx"]), "left")
    # CASE evaluates lazily per row: the map-scan transform only runs for
    # coref receivers; everyone else reuses the pair-level result
    logits = F.when(F.col("has_coref"), logit_expr).otherwise(
        F.coalesce(F.col("_b_logits"), logit_expr))
    return (j.withColumn("logits", logits)
            .drop("_b_sf", "_b_ctx", "_b_logits"))


def links_from_logits(with_logits: DataFrame,
                      threshold: float = config.ED_THRESHOLD) -> DataFrame:
    """F7 as pure array math per mention row — softmax with NOTA term,
    first-occurrence argmax, ED threshold. No shuffle at all."""
    from .candidates import start_from_mention_key, url_from_mention_key

    mx = F.array_max("logits")
    sum_exp = F.aggregate("logits", F.lit(0.0).cast("double"),
                          lambda a, x: a + F.exp(x))
    denom = sum_exp + F.lit(1.0)
    # array_position = FIRST index of the max = lowest cand_rank tie-break
    win = F.element_at(F.col("cand_arr"),
                       F.array_position("logits", mx).cast("int"))["qcode"]
    conf_win = F.exp(mx) / denom
    return with_logits.select(
        url_from_mention_key().alias("url"),
        start_from_mention_key().alias("start"),
        "mention_key",
        F.when((mx >= 0.0) & (conf_win >= threshold), win)
        .alias("pred_qcode"),
        F.when(F.size("cand_arr") == 0, F.lit(0.0))
        .otherwise(F.when(mx >= 0.0, conf_win)
                   .otherwise(F.lit(1.0) / denom)).alias("confidence"),
    )


def with_wiki_titles(spans: DataFrame, entity: DataFrame,
                     qcode_col: str = "pred_qcode") -> DataFrame:
    """Attach the human-readable ``wiki_title`` for each predicted qcode
    — the reference's optional display lookup (data_lookups.py:71-74)
    and the Koala candidate names (api/app/services/job_service.py:
    181-192). One broadcast left join against the entity dimension
    (entity is model-resource-scale, never corpus-scale); NOTA/'Q-1'
    and NIL predictions keep a NULL title."""
    titles = entity.select(F.col("qcode").alias(qcode_col), "wiki_title")
    return spans.join(F.broadcast(titles), qcode_col, "left")


def topk_from_logits(with_logits: DataFrame, k: int = 5) -> DataFrame:
    """F7 tail — per-mention sorted top-k predictions incl. the NOTA
    sentinel, mirroring the reference's ``top_k_predicted_entities``
    (/root/reference/src/refined/inference/processor.py:366-397: softmax
    sort desc, pad entities excluded, entity_not_in_list kept as id -1 —
    rendered 'Q-1' here) and the API's top-k-per-cell output
    (api/app/services/job_service.py:143-179).

    Pure array math per mention row (zero shuffle): scores =
    softmax(logits + NOTA 0), stable sort by (score desc, candidate rank),
    slice k, posexplode. Scores round to 4 decimals like the reference.
    Output: (url, start, mention_key, topk_rank, qcode, score).
    """
    from .candidates import start_from_mention_key, url_from_mention_key

    sum_exp = F.aggregate("logits", F.lit(0.0).cast("double"),
                          lambda a, x: a + F.exp(x))
    denom = sum_exp + F.lit(1.0)  # + exp(0) for NOTA
    d = with_logits.withColumn("_denom", denom)
    # struct sort is lexicographic ascending -> (-score, pos) gives
    # score desc with first-occurrence (candidate-rank) tie-break;
    # NOTA's pos = size(cand_arr) places it after score-ties
    entries = F.concat(
        F.expr("transform(arrays_zip(cand_arr, logits), (z, i) -> "
               "struct(-exp(z.logits) / _denom as neg, i as pos, "
               "z.cand_arr.qcode as qcode))"),
        F.expr("array(struct(-1.0D / _denom as neg, "
               "size(cand_arr) as pos, 'Q-1' as qcode))"),
    )
    top = F.slice(F.array_sort(entries), 1, k)
    z = d.select(
        "mention_key",
        F.posexplode(top).alias("pos_out", "e"),
    )
    return z.select(
        url_from_mention_key().alias("url"),
        start_from_mention_key().alias("start"),
        "mention_key",
        (F.col("pos_out") + 1).cast("int").alias("topk_rank"),
        F.col("e.qcode").alias("qcode"),
        F.round(-F.col("e.neg"), 4).alias("score"),
    )


def with_class_check(links: DataFrame, mentions: DataFrame,
                     entity: DataFrame, topic_class: DataFrame) -> DataFrame:
    """F9 — entity-classes vs predicted-classes consistency check
    (/root/reference/src/refined/doc_preprocessing/class_handler.py:104-118):
    a linked span fails when the predicted entity's (implied) class set is
    non-empty and disjoint from the span's predicted classes; failing spans
    get confidence -1.0. The deterministic ET stand-in predicts the class
    of the context topic word (same domain the class_overlap feature uses).

    Broadcast dim joins only — no shuffle of the links table beyond its
    existing partitioning.
    """
    m = mentions.select("mention_key", "ctx_word")
    t = F.broadcast(topic_class.withColumnRenamed("topic", "ctx_word")
                    .withColumnRenamed("class_idx", "t_class_idx"))
    ent = F.broadcast(entity.select(F.col("qcode").alias("pred_qcode"),
                                    F.col("class_idx").alias("ent_classes")))
    j = (links.join(m, "mention_key", "left")
         .join(t, "ctx_word", "left")
         .join(ent, "pred_qcode", "left"))
    failed = (
        F.col("pred_qcode").isNotNull()
        & (F.size(F.coalesce("ent_classes", F.array())) > 0)
        & (F.col("t_class_idx").isNull()
           | ~F.array_contains("ent_classes",
                               F.col("t_class_idx").cast("smallint")))
    )
    # unlinked spans keep the reference's default failed_class_check=False
    # (class_check_span only touches spans with a predicted entity)
    return (
        j.withColumn("failed_class_check", F.coalesce(failed, F.lit(False)))
        .withColumn("confidence",
                    F.when(failed, F.lit(-1.0)).otherwise(F.col("confidence")))
        .drop("ctx_word", "t_class_idx", "ent_classes")
    )
