"""M2-M4 — candidate generation: blocking join + person-name coreference.

M2 (candidate lookup) IS the blocking step: a broadcast hash equi-join of
mentions against the alias table on the blocking key ``norm_sf`` — the
Spark restatement of the reference's PEM dict lookup
(/root/reference/src/refined/doc_preprocessing/candidate_generator.py:63-72).
The alias table is broadcast in its array layout
(:func:`pem_surface_arrays`: one rank-sorted candidate array per surface),
so attaching candidates expands no rows.

M3 (person coreference) is the engine's single order-sensitive operator:
the reference threads a per-document dict through mentions in start order
(candidate_generator.py:56-94, reset per doc at refined_model.py:440-454 —
fragile there, exact here). :func:`mention_candidate_arrays` states that
protocol relationally: a (url, word) join of single-word receivers against
the registrations of multi-word human surfaces, then one aggregation that
picks the latest registration per receiver.

M4 (dedup keep-max-prob by qcode) happens in-row on the merged array,
matching the reference's stable sorted-merge + unique()
(general_utils.py:61-67).

The sequential dict replay in :mod:`refined_spark.fixtures.oracle` is the
cross-check for all three.

Skew: hot blocking keys ("john"-style aliases) inflate the M2 join. The
broadcast path is immune (no shuffle of the big side); with
``broadcast_pem=False`` the attach runs through
:func:`~.blocking.salted_array_join`, which splits hot surfaces
SKEW_SALT_BUCKETS ways, and AQE skew-join splitting backstops residual
imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import config


def url_from_mention_key() -> F.Column:
    """mention_key = url ':' lpad(start, 8, '0') — invert without a join."""
    return F.expr("substring(mention_key, 1, length(mention_key) - 9)")


def start_from_mention_key() -> F.Column:
    return F.expr("cast(substring(mention_key, -8, 8) as int)")


def pem_surface_arrays(pem: DataFrame, entity: DataFrame) -> DataFrame:
    """(surface_form, pem_arr) — the alias table in the reference's own
    deployment layout (LMDB value = rank-sorted candidate list per
    surface, lmdb_wrapper.py:17-115): one row per surface form, the
    candidates as a rank-sorted array. Broadcasting THIS instead of the
    exploded (surface, qcode) rows lets candidate attachment happen with
    zero row expansion."""
    p = pem.join(F.broadcast(entity.select("qcode", "is_human")),
                 "qcode", "left").na.fill({"is_human": False})
    return p.groupBy("surface_form").agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("rank").cast("int").alias("rank"),
            "qcode", "prob", "is_human"))).alias("pem_arr"))


_TAG_DIRECT = ("transform(coalesce(pem_arr, array()), c -> struct("
               "-c.prob as negp, cast(0 as tinyint) as src_order,"
               " c.rank as orig_rank, c.qcode as qcode, c.prob as prob))")
_TAG_COREF = ("transform(coalesce(coref_arr, array()), c -> struct("
              "-c.prob as negp, cast(1 as tinyint) as src_order,"
              " c.rank as orig_rank, c.qcode as qcode, c.prob as prob))")


def _merge_rank_arrays(df: DataFrame) -> DataFrame:
    """pem_arr + coref_arr -> cand_arr: the reference's stable merge by
    (-prob, source, origin rank), first-occurrence dedup by qcode, top-30
    — entirely array expressions per mention row, no shuffle.

    Fast path (the overwhelming majority of mentions): no coref array ->
    pem_arr is ALREADY rank-sorted and qcode-unique (A1 guarantees both),
    so the candidate list is a plain slice+retag — the O(n^2)
    slice-per-element dedup only runs for actual coref receivers.
    """
    direct_only = F.expr(
        f"transform(slice(coalesce(pem_arr, array()), 1,"
        f" {config.MAX_CANDIDATES}),"
        " c -> struct(c.qcode as qcode, c.prob as prob,"
        " cast(0 as tinyint) as src_order, c.rank as orig_rank))")
    out = (
        df.withColumn("has_coref",
                      F.size(F.coalesce("coref_arr", F.array())) > 0)
        .withColumn("sorted_arr", F.expr(
            f"CASE WHEN coref_arr IS NULL OR size(coref_arr) = 0 "
            f"THEN NULL ELSE sort_array(concat({_TAG_DIRECT}, {_TAG_COREF}))"
            f" END"))
        .withColumn("dedup_arr", F.expr(
            "filter(sorted_arr, (x, i) -> i = 0 OR NOT exists("
            "slice(sorted_arr, 1, i), y -> y.qcode = x.qcode))"))
        .withColumn("cand_arr", F.coalesce(
            F.expr(
                f"transform(slice(dedup_arr, 1, {config.MAX_CANDIDATES}),"
                " c -> struct(c.qcode as qcode, c.prob as prob,"
                " c.src_order as src_order, c.orig_rank as orig_rank))"),
            direct_only))
    )
    return out.drop("pem_arr", "coref_arr", "sorted_arr", "dedup_arr")


def mention_candidate_arrays(mentions: DataFrame, pem_arrays: DataFrame,
                             broadcast_pem: bool = True,
                             backward: bool = False) -> DataFrame:
    """M2+M3+M4 with array-native physics.

    ``backward=True``: the reference's 2-pass coref protocol
    (candidate_generator.py:123-159) — a receiver with no registration
    before it takes the document's LAST registration instead of nothing.
    Same two narrow shuffles; the join just keeps all (url, word)
    registration rows and the pick becomes
    coalesce(latest-before-receiver, latest-overall).

    Output: (mention_key, ctx_word, cand_arr) — one row PER MENTION, the
    final merged/deduped/top-30 candidate list in rank order.

    Shuffle census (the point of this plan):
    - multi-word mentions: ZERO shuffles — candidates attach via the
      broadcast alias-array join and merge in-row;
    - single-word mentions (the only possible coref receivers): exactly
      two narrow shuffles — the (url, word) registration join and the
      latest-registration aggregation — carrying only
      (mention_key, norm_sf, ctx_word); their candidate arrays re-attach
      from the broadcast afterwards;
    - registrations are the small filtered subset of strong human
      multi-word mentions, exploded per word."""
    m = mentions.select("url", "start", "norm_sf", "ctx_word",
                        "mention_key")
    if broadcast_pem:
        src = F.broadcast(pem_arrays)

        def attach(df):
            return df.join(src, df.norm_sf == pem_arrays.surface_form,
                           "left").drop("surface_form")
    else:
        # alias table beyond broadcast range: skew-salted shuffle join
        # (mention surfaces are Zipfian — an unsalted shuffle join sends
        # every "john" mention to one reduce task). One cheap count
        # pre-pass finds the hot surfaces; both attach sites share it.
        from .blocking import hot_keys, salted_array_join

        hot = hot_keys(m, "norm_sf")

        def attach(df):
            return salted_array_join(df, pem_arrays, hot)

    direct = attach(m)

    minp = config.PERSON_COREF_PEM_MIN
    cap = config.PERSON_COREF_PEM_CAP
    shorts = F.expr(
        f"transform(filter(pem_arr, c -> c.is_human AND c.prob > {minp}),"
        f" c -> struct(c.rank as rank, c.qcode as qcode,"
        f" least(c.prob, cast({cap} as double)) as prob,"
        f" c.is_human as is_human))")
    registering = direct.where(
        F.col("norm_sf").contains(" ")
        & F.expr(f"exists(coalesce(pem_arr, array()),"
                 f" c -> c.is_human AND c.prob > {minp})"))
    reg = registering.select(
        F.col("url").alias("r_url"),
        F.col("start").alias("start_reg"),
        F.explode(F.split("norm_sf", " ")).alias("word"),
        shorts.alias("shorts"),
    )

    single = direct.where(~F.col("norm_sf").contains(" ")).select(
        "mention_key", "url", "start", "norm_sf", "ctx_word")
    join_cond = (single.url == reg.r_url) & (single.norm_sf == reg.word)
    if not backward:
        join_cond = join_cond & (reg.start_reg < single.start)
    joined = single.join(reg, join_cond, "left")
    if backward:
        before = F.col("start_reg") < F.col("start")
        pick = F.coalesce(
            # latest registration before the receiver (pass-2 overwrite)
            F.max_by(F.when(before, F.col("shorts")),
                     F.when(before, F.col("start_reg"))),
            # else the document's last registration (pre-pass residue)
            F.max_by("shorts", "start_reg"),
        )
    else:
        pick = F.max_by("shorts", "start_reg")
    latest = joined.groupBy("mention_key").agg(
        F.first("norm_sf").alias("norm_sf"),
        F.first("ctx_word").alias("ctx_word"),
        pick.alias("coref_arr"),
    )
    single_full = attach(latest).select(
        "mention_key", "norm_sf", "ctx_word", "pem_arr", "coref_arr")

    multi = direct.where(F.col("norm_sf").contains(" ")).select(
        "mention_key", "norm_sf", "ctx_word", "pem_arr",
        F.lit(None).cast(
            "array<struct<rank:int,qcode:string,prob:double,"
            "is_human:boolean>>").alias("coref_arr"))

    return _merge_rank_arrays(single_full.unionByName(multi))


def pair_candidate_arrays(surf_ctx: DataFrame,
                          pem_arrays: DataFrame,
                          broadcast_pem: bool = True) -> DataFrame:
    """Candidate arrays at the DISTINCT (norm_sf, ctx_word) pair level —
    the Zipf-dedup of the direct (non-coref) candidate computation: a
    mention's direct candidate list is a pure function of its surface
    form, so it is computed once per distinct pair and broadcast back
    (see scoring.with_candidate_logits pair_logits).

    ``broadcast_pem=False`` (alias table beyond broadcast range) routes
    the attach through the same skew-salted shuffle join as
    mention_candidate_arrays — previously this path hard-coded the
    broadcast, silently defeating the flag exactly at the scale it
    exists for (round-2 advisor finding). Skew here is bounded by the
    ctx vocabulary (pairs are DISTINCT), but a hot surface × wide topic
    vocabulary still concentrates on one reduce task unsalted."""
    if broadcast_pem:
        pc = (surf_ctx.join(F.broadcast(pem_arrays),
                            surf_ctx.norm_sf == pem_arrays.surface_form,
                            "left")
              .drop("surface_form"))
    else:
        from .blocking import hot_keys, salted_array_join

        keyed = surf_ctx.withColumn(
            "mention_key", F.concat_ws("\x00", "norm_sf", "ctx_word"))
        pc = salted_array_join(
            keyed, pem_arrays, hot_keys(keyed, "norm_sf")
        ).drop("mention_key")
    pc = pc.withColumn("coref_arr", F.lit(None).cast(
        "array<struct<rank:int,qcode:string,prob:double,"
        "is_human:boolean>>"))
    return _merge_rank_arrays(pc)


def explode_candidate_arrays(cand_df: DataFrame) -> DataFrame:
    """Array frame -> the public candidates table: (url, start,
    mention_key, qcode, prob, cand_source, cand_rank) rows, with a
    NULL-qcode sentinel for no-candidate mentions. Pure map."""
    return (
        cand_df.select(
            "mention_key", F.posexplode_outer("cand_arr").alias("pos", "c"))
        .select(url_from_mention_key().alias("url"),
                start_from_mention_key().alias("start"),
                "mention_key",
                F.col("c.qcode").alias("qcode"),
                F.col("c.prob").alias("prob"),
                F.when(F.col("c.src_order") == 0, F.lit("direct"))
                .when(F.col("c.src_order") == 1, F.lit("coref"))
                .alias("cand_source"),
                (F.col("pos") + 1).cast("int").alias("cand_rank"))
    )
