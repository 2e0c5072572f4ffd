"""M2-M4 — candidate generation: blocking join + person-name coreference.

M2 (candidate lookup) IS the blocking step: a broadcast hash equi-join of
mentions against the normalized alias table on the blocking key
``norm_sf`` — the Spark restatement of the reference's PEM dict lookup
(/root/reference/src/refined/doc_preprocessing/candidate_generator.py:63-72).

M3 (person coreference) is the engine's single order-sensitive operator:
the reference threads a per-document dict through mentions in start order
(candidate_generator.py:56-94, reset per doc at refined_model.py:440-454 —
fragile there, exact here). ``groupBy(url).applyInPandas`` gives each doc
its own sequential pass; docs are independent, so the stage parallelizes
per-url — at 10^12 docs this is a single hash-shuffle on url, co-partitioned
with the mentions join that precedes it.

M4 (dedup keep-max-prob by qcode) happens inside the same pass, matching
the reference's stable sorted-merge + unique() (general_utils.py:61-67).

Skew: hot blocking keys ("john"-style aliases) inflate the M2 join. The
broadcast path is immune (no shuffle of the big side); for the non-broadcast
path :func:`direct_candidates` pre-salts the pem side SKEW_SALT_BUCKETS
ways, and AQE skew-join splitting backstops residual imbalance.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import config

MENTION_COLS = ["url", "start", "length", "mention_text", "norm_sf",
                "ctx_word", "mention_key"]


def url_from_mention_key() -> F.Column:
    """mention_key = url ':' lpad(start, 8, '0') — invert without a join."""
    return F.expr("substring(mention_key, 1, length(mention_key) - 9)")


def start_from_mention_key() -> F.Column:
    return F.expr("cast(substring(mention_key, -8, 8) as int)")

CANDIDATE_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("start", IntegerType()),
    StructField("qcode", StringType()),
    StructField("prob", DoubleType()),
    StructField("cand_source", StringType()),
    StructField("cand_rank", IntegerType()),
])


def direct_candidates(mentions: DataFrame, pem: DataFrame, entity: DataFrame,
                      broadcast_pem: bool = True) -> DataFrame:
    """Blocking join: one row per (mention, direct candidate); mentions with
    no candidates keep a single row with NULL qcode (the coref stage needs
    to see them).

    ``broadcast_pem=True`` for dictionary-sized alias tables (the reference
    ships its whole 18M-key PEM to every worker — same tradeoff). At the
    33M-entity scale with a pem too big to broadcast, pass False: the join
    becomes a shuffle hash join on the blocking key with the pem side
    pre-salted; AQE skew-join handles hot keys beyond that.
    """
    p = pem.join(F.broadcast(entity.select("qcode", "is_human")),
                 "qcode", "left").na.fill({"is_human": False})
    p = p.select(
        F.col("surface_form"), F.col("qcode"), F.col("prob"),
        F.col("rank"), F.col("is_human"),
    )
    m = mentions.select(*MENTION_COLS)
    if broadcast_pem:
        p = F.broadcast(p)
        return m.join(p, m.norm_sf == p.surface_form,
                      "left").drop("surface_form")
    # non-broadcast path: the module docstring promises pem-side
    # salting, and until r5 this branch was a plain unsalted shuffle
    # (salted_candidate_join existed but was never called) — a
    # Zipf-hot surface would funnel every matching mention into one
    # reduce task at exactly the scale the flag exists for
    from .blocking import hot_keys, salted_candidate_join

    hot = hot_keys(m, "norm_sf")
    return salted_candidate_join(m, p, hot)


def with_person_coref(direct: DataFrame,
                      mentions: DataFrame | None = None,
                      backward: bool = False) -> DataFrame:
    """Person-name coreference, fully declarative (zero Python in the path).

    The reference threads a per-doc dict sequentially
    (candidate_generator.py:56-94). That protocol is exactly expressible
    relationally, because:

    - only multi-word surfaces with a human candidate (pem > 0.05)
      REGISTER words into the dict (each word -> that mention's capped
      human candidates, overwriting previous registrations);
    - only single-word surfaces can RECEIVE (dict keys are single words);
    - a receiver sees the LATEST registration before it in start order.

    Physical shape — exactly TWO shuffles:

    1. receiver x registration equi-join on (url, word) with
       start_reg < start_recv as residual;
    2. one ``groupBy(mention_key)`` hash aggregation; everything the
       reference does sequentially per doc — latest-registration wins,
       stable merge by (-prob, source_order, origin_rank), first-
       occurrence dedup by qcode, top-30 truncation, rank assignment —
       happens in JVM array expressions over the collected candidate
       list (<=60 elements), codegen'd, no sort-based windows.

    (Sort keys form a total order per mention: ranks are distinct within
    a source and src_order splits the sources, so sort_array is exact.)
    The earlier window formulation spent 3 extra full-table shuffles
    (latest-reg window, dedup window, rank window); at 10^12 docs each of
    those is a petabyte-class reshuffle of the candidate table.

    ``mentions``: pass the (persisted) mentions table to avoid a
    distinct() over the exploded candidate rows for the receiver side.

    ``backward=True`` is the reference's 2-pass protocol
    (candidate_generator.py:123-159 ``backward_coref``): a pre-pass
    registers every strong human name first, so a receiver with no
    registration BEFORE it falls back to the LAST registration in the
    document (the pass-2 overwrites reproduce forward semantics whenever
    an earlier registration exists). Declaratively that is one change:
    the join keeps all (url, word) registrations and the per-mention
    pick becomes coalesce(latest-before-receiver, latest-overall).
    """
    # keep null-qcode rows: a mention with no candidates must still reach
    # the scoring/link stage (explode_outer below re-emits it), so the
    # link extractor never needs to join the mentions table back in
    cand = direct.where(F.col("qcode").isNotNull())

    # registrations: one row per (word of registering surface, human cand)
    registering = cand.where(
        F.col("is_human")
        & (F.col("prob") > config.PERSON_COREF_PEM_MIN)
        & F.col("norm_sf").contains(" "))
    reg = (
        registering.select(
            "url",
            F.col("start").alias("start_reg"),
            F.explode(F.split("norm_sf", " ")).alias("word"),
            F.col("qcode").alias("c_qcode"),
            F.least(F.col("prob"),
                    F.lit(config.PERSON_COREF_PEM_CAP)).alias("c_prob"),
            F.col("rank").alias("c_rank"),
        )
    )

    # receivers: single-word mentions (dict keys are single words)
    m_cols = ["url", "start", "norm_sf", "mention_key"]
    if mentions is not None:
        recv = mentions.select(*m_cols)
    else:
        recv = direct.select(*m_cols).distinct()
    recv = recv.where(~F.col("norm_sf").contains(" "))
    join_cond = (recv.url == reg.url) & (recv.norm_sf == reg.word)
    if not backward:
        join_cond = join_cond & (reg.start_reg < recv.start)
    joined = recv.join(reg, join_cond).drop(reg.url)
    # Shuffle-volume discipline: url and start are DERIVABLE from
    # mention_key (url ":" lpad(start,8)), so no shuffle below carries
    # them — they are recomputed from the key after the final exchange.
    # cand_source travels as a 1-byte code for the same reason. On the
    # memory-bound shuffle path, row width is the scaling limiter.
    indirect = joined.select(
        "mention_key",
        F.col("c_qcode").alias("qcode"),
        F.col("c_prob").alias("prob"),
        F.lit(1).cast("tinyint").alias("src_order"),  # 1 = coref
        F.col("c_rank").alias("orig_rank"),
        F.col("start_reg"),
    )
    direct_rows = cand.select(
        "mention_key", "qcode", "prob",
        F.lit(0).cast("tinyint").alias("src_order"),  # 0 = direct
        F.col("rank").alias("orig_rank"),
        F.lit(None).cast("int").alias("start_reg"),
    )
    # mentions whose blocking join found nothing: carried through with a
    # NULL qcode so downstream stages see every mention without a join
    # back to the mentions table (the NULL row is dropped from the
    # candidate array; posexplode_outer re-emits it as a NULL candidate)
    nocand_rows = direct.where(F.col("qcode").isNull()).select(
        "mention_key", "qcode",
        F.col("prob"),
        F.lit(2).cast("tinyint").alias("src_order"),
        F.lit(None).cast("int").alias("orig_rank"),
        F.lit(None).cast("int").alias("start_reg"),
    )
    merged = direct_rows.unionByName(indirect).unionByName(nocand_rows)

    collected = (
        merged.groupBy("mention_key")
        .agg(F.sort_array(F.collect_list(F.struct(
                 (-F.col("prob")).alias("negp"),
                 F.col("src_order"),
                 F.col("orig_rank"),
                 F.col("qcode"),
                 F.col("prob"),
                 F.col("start_reg"),
             ))).alias("arr"))
    )
    # latest registration wins; first occurrence per qcode; top-30.
    # backward: latest-BEFORE-receiver if one exists (pass-2 overwrite),
    # else latest in the whole document (the pre-pass residue).
    if backward:
        recv_start = "cast(substring(mention_key, -8, 8) as int)"
        maxreg_expr = (
            f"coalesce("
            f"array_max(transform(filter(arr, c -> c.src_order = 1"
            f" AND c.start_reg < {recv_start}), c -> c.start_reg)),"
            f" array_max(transform(filter(arr, c -> c.src_order = 1),"
            f" c -> c.start_reg)))")
    else:
        maxreg_expr = ("array_max(transform(filter(arr,"
                       " c -> c.src_order = 1), c -> c.start_reg))")
    staged = (
        collected
        .withColumn("maxreg", F.expr(maxreg_expr))
        .withColumn("arr1", F.expr(
            "filter(arr, x -> x.qcode IS NOT NULL AND"
            " (x.src_order = 0 OR x.start_reg = maxreg))"))
        .withColumn("arr2", F.expr(
            "filter(arr1, (x, i) -> i = 0 OR NOT exists("
            "slice(arr1, 1, i), y -> y.qcode = x.qcode))"))
    )
    final_arr = F.expr(f"slice(arr2, 1, {config.MAX_CANDIDATES})")
    return (
        staged.select(
            "mention_key", F.posexplode_outer(final_arr).alias("pos", "c"))
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


def with_person_coref_python(direct: DataFrame,
                             backward: bool = False) -> DataFrame:
    """Sequential per-document coreference (reference-shaped protocol),
    kept as the cross-check implementation for tests.

    Input: output of :func:`direct_candidates`.
    Output: CANDIDATE_SCHEMA rows (cand_source in {'direct','coref'}),
    cand_rank 1-based in the canonical order, truncated to MAX_CANDIDATES.

    ``backward=True`` replays the reference's literal 2-pass loop
    (candidate_generator.py:123-159): pass 1 registers every strong human
    name into the dict; pass 2 is the normal forward loop (its overwrites
    restore forward semantics wherever an earlier registration exists).
    """
    per_mention = (
        direct.groupBy(*MENTION_COLS)
        .agg(F.sort_array(F.collect_list(
            F.struct("rank", "qcode", "prob", "is_human"))).alias("cands"))
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("start")
        person_coref: dict[str, list[tuple[str, float]]] = {}
        if backward:
            # pre-pass: registrations only (reads are discarded)
            for row in pdf.itertuples(index=False):
                shorts = [
                    (c["qcode"], min(c["prob"], config.PERSON_COREF_PEM_CAP))
                    for c in row.cands
                    if c["qcode"] is not None and c["is_human"]
                    and c["prob"] > config.PERSON_COREF_PEM_MIN
                ]
                words = row.norm_sf.split(" ")
                if shorts and len(words) > 1:
                    for w in words:
                        person_coref[w] = shorts
        out = []
        for row in pdf.itertuples(index=False):
            direct_cands = [
                (c["qcode"], c["prob"], bool(c["is_human"]))
                for c in row.cands if c["qcode"] is not None
            ]
            if not direct_cands:
                if row.norm_sf in person_coref:
                    final = [
                        (q, p, "coref")
                        for q, p in person_coref[row.norm_sf]
                    ][: config.MAX_CANDIDATES]
                else:
                    final = []
            else:
                shorts = [
                    (q, min(p, config.PERSON_COREF_PEM_CAP))
                    for q, p, h in direct_cands
                    if h and p > config.PERSON_COREF_PEM_MIN
                ]
                words = row.norm_sf.split(" ")
                if shorts and len(words) > 1:
                    for w in words:
                        person_coref[w] = shorts
                if row.norm_sf in person_coref:
                    merged = sorted(
                        [(q, p, "direct") for q, p, _h in direct_cands]
                        + [(q, p, "coref")
                           for q, p in person_coref[row.norm_sf]],
                        key=lambda c: -c[1],  # stable; direct first on ties
                    )
                    seen, final = set(), []
                    for q, p, src in merged:
                        if q not in seen:
                            seen.add(q)
                            final.append((q, p, src))
                    final = final[: config.MAX_CANDIDATES]
                else:
                    final = [(q, p, "direct") for q, p, _h in direct_cands][
                        : config.MAX_CANDIDATES]
            for rank, (q, p, src) in enumerate(final, 1):
                out.append((row.url, row.start, q, p, src, rank))
        return pd.DataFrame(
            out, columns=["url", "start", "qcode", "prob", "cand_source",
                          "cand_rank"],
        )

    return per_mention.groupBy("url").applyInPandas(run, CANDIDATE_SCHEMA)


# ---------------------------------------------------------------------------
# Array-native candidate path (the production physical plan)
# ---------------------------------------------------------------------------

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
      multi-word mentions, exploded per word.
    The row-per-candidate formulation this replaces shuffled every
    candidate of every mention twice (dedup agg + link agg)."""
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
    """Array frame -> the public candidates table (CANDIDATE_SCHEMA rows,
    NULL-qcode sentinel for no-candidate mentions). Pure map."""
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
