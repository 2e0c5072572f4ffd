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
protocol relationally and doc-locally: the mention rows are hash-
partitioned on url once, and a (url, word) window ordered by start hands
each single-word receiver the latest registration of a multi-word human
surface before it — no further exchange.

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
imbalance. Hot shared surnames do not skew coref: its only exchange is
keyed on url, and a hot word is one window partition per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
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

    Coref is doc-local, so the mention rows are hash-partitioned on url
    ONCE (``REPARTITION_BY_NUM`` at ``defaultParallelism``: AQE does not
    coalesce it, so the heavy per-row candidate/logit math downstream
    keeps core width) and coref resolves inside each partition:

    - every mention emits a "self" row keyed by its own ``norm_sf``, and
      a registering mention (multi-word, with a strong human candidate)
      one more row per distinct word carrying its capped short-name
      candidates;
    - a window ``PARTITION BY (url, word) ORDER BY start`` takes the
      latest registration strictly before each self row
      (``last(shorts, ignorenulls)`` over ``UNBOUNDED PRECEDING .. 1
      PRECEDING``). Hash partitioning on url satisfies the window's
      clustering on (url, word), so it adds no exchange. A multi-word
      self row never meets a registration: its key holds a space and a
      registered word does not.

    ``backward=True``: the reference's 2-pass coref protocol
    (candidate_generator.py:123-159) — a receiver with no registration
    before it takes the document's LAST registration instead of nothing:
    the same window, coalesced with the partition-wide last value.

    Output: (mention_key, norm_sf, ctx_word, has_coref, cand_arr) — one
    row PER MENTION, the final merged/deduped/top-30 candidate list in
    rank order.

    Shuffle census (the point of this plan): exactly one exchange of
    mention rows, the url repartition, carrying key-width rows; the
    alias arrays attach after it through the broadcast join, which keeps
    the url partitioning. With ``broadcast_pem=False`` the alias arrays
    attach first, through the skew-salted shuffle join on
    (norm_sf, salt), and the url repartition follows it."""
    m = mentions.select("url", "start", "norm_sf", "ctx_word",
                        "mention_key")
    n_parts = mentions.sparkSession.sparkContext.defaultParallelism
    if broadcast_pem:
        by_url = m.repartition(n_parts, "url")
        direct = by_url.join(
            F.broadcast(pem_arrays),
            by_url.norm_sf == pem_arrays.surface_form, "left",
        ).drop("surface_form")
    else:
        # alias table beyond broadcast range: skew-salted shuffle join
        # (mention surfaces are Zipfian — an unsalted shuffle join sends
        # every "john" mention to one reduce task); one cheap count
        # pre-pass finds the hot surfaces
        from .blocking import hot_keys, salted_array_join

        direct = salted_array_join(
            m, pem_arrays, hot_keys(m, "norm_sf")).repartition(n_parts, "url")

    minp = config.PERSON_COREF_PEM_MIN
    cap = config.PERSON_COREF_PEM_CAP
    shorts = F.expr(
        f"transform(filter(pem_arr, c -> c.is_human AND c.prob > {minp}),"
        f" c -> struct(c.rank as rank, c.qcode as qcode,"
        f" least(c.prob, cast({cap} as double)) as prob,"
        f" c.is_human as is_human))")
    # a registering mention: multi-word, with a strong human candidate
    registering = F.col("norm_sf").contains(" ") & (F.size(shorts) > 0)
    keys = F.concat(
        F.array(F.struct(F.col("norm_sf").alias("word"),
                         F.lit(True).alias("is_self"))),
        F.when(registering, F.transform(
            F.array_distinct(F.split("norm_sf", " ")),
            lambda w: F.struct(w.alias("word"),
                               F.lit(False).alias("is_self"))))
        .otherwise(F.array()))
    rows = direct.select("mention_key", "url", "start", "norm_sf",
                         "ctx_word", "pem_arr", F.inline(keys))

    w = Window.partitionBy("url", "word").orderBy("start")
    reg_shorts = F.when(~F.col("is_self"), shorts)
    pick = F.last(reg_shorts, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    if backward:
        pick = F.coalesce(pick, F.last(reg_shorts, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)))
    resolved = rows.select(
        "mention_key", "norm_sf", "ctx_word", "pem_arr", "is_self",
        pick.alias("coref_arr"),
    ).where("is_self").drop("is_self")
    return _merge_rank_arrays(resolved)


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
