"""S1 — Wikidata JSON dump scan → lookup fan-out, and A3 — per-entity
class-index arrays built from the fanned-out relation triples.

Reference behavior (NOT code): the offline ETL streams the bz2
JSON-lines dump once and fans each entity out into lookup files —
label/description/aliases/sitelinks plus relation triples for
P31/P279/P17/P641/P106 (/root/reference/src/refined/
offline_data_generation/process_wikidata_dump.py:51-211) — which the
class-tensor build then unions and intersects with the subclass closure
(generate_qcode_to_type_indices.py:22-95).

Spark-first restatement:

* the dump is ONE line-oriented scan (`spark.read.text`; bz2 is a
  splittable Hadoop codec, so a multi-hundred-GB dump parallelizes at
  the block level with zero pre-splitting) — `from_json` with an
  explicit schema does the per-entity parse JVM-side; no Python touches
  a dump byte;
* the 16-file fan-out becomes column selections off the SAME parsed
  DataFrame — Catalyst prunes the json struct per output, so each
  lookup write reads only the fields it emits;
* real dump lines carry a trailing ',' (the dump is one giant JSON
  array); `rtrim(value, ',')` + a null filter after `from_json` drops
  both the commas and the '['/']' bracket lines, mirroring the
  reference's per-line strip.

The class-array build (A3) chains directly off the fan-out exactly as
the reference's offline stage does: union the relation triples, walk
the P279 closure (iterative self-join — `closure.class_closure`), map
class ids to the dense vocabulary index, and aggregate a sorted
distinct index array per entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Properties the reference extracts relation triples for
# (process_wikidata_dump.py: P31 instance-of, P279 subclass-of,
# P17 country, P641 sport, P106 occupation).
RELATION_PROPS = ["P31", "P279", "P17", "P641", "P106"]

# Relation sources that feed the class-array union (the reference's
# occupation/sport/country/instance-of tensor inputs; P279 is the DAG
# itself, not a per-entity class source).
CLASS_SOURCE_PROPS = ["P31", "P106", "P17", "P641"]

def _struct(**fields: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(k, v) for k, v in fields.items()])


_VALUE_STRUCT = _struct(value=T.StringType())
_SNAK = _struct(mainsnak=_struct(datavalue=_struct(
    value=_struct(id=T.StringType()))))


def dump_schema() -> T.StructType:
    """Schema for the subset of the wikidata entity JSON the lookups
    need. Map-typed languages/properties keep the schema stable across
    dumps (new languages/properties parse for free, Catalyst prunes
    untouched keys)."""
    lang_val = T.MapType(T.StringType(), _VALUE_STRUCT)
    return _struct(
        id=T.StringType(),
        type=T.StringType(),
        labels=lang_val,
        descriptions=lang_val,
        aliases=T.MapType(T.StringType(), T.ArrayType(_VALUE_STRUCT)),
        claims=T.MapType(T.StringType(), T.ArrayType(_SNAK)),
        sitelinks=T.MapType(T.StringType(), _struct(title=T.StringType())),
    )


def read_wikidata_dump(spark: SparkSession, path: str) -> DataFrame:
    """One splittable text scan → parsed entity rows (invalid / bracket
    lines dropped, trailing array commas stripped)."""
    parsed = (
        spark.read.text(path)
        .select(F.from_json(F.rtrim(F.regexp_replace(
            F.col("value"), r",\s*$", "")), dump_schema()).alias("e"))
        .where(F.col("e.id").isNotNull())
        .select("e.*")
    )
    return parsed


def _relation(parsed: DataFrame, prop: str) -> DataFrame:
    """(qcode, value_id) pairs for one property — null-safe explode."""
    return (
        parsed.select(
            F.col("id").alias("qcode"),
            F.explode(F.coalesce(
                F.element_at("claims", prop),
                F.array().cast(T.ArrayType(_SNAK)))).alias("c"))
        .select("qcode",
                F.col("c.mainsnak.datavalue.value.id").alias("value_id"))
        .where(F.col("value_id").isNotNull())
    )


def wikidata_lookups(parsed: DataFrame,
                     lang: str = "en",
                     site: str = "enwiki",
                     human_id: str = "Q5") -> dict[str, DataFrame]:
    """The fan-out: one DataFrame per lookup, all column selections off
    the shared parse (write them with :func:`write_lookups` for the
    reference's 16-file sink shape)."""
    out: dict[str, DataFrame] = {
        "labels": (parsed.select(
            F.col("id").alias("qcode"),
            F.element_at("labels", lang)["value"].alias("label"))
            .where(F.col("label").isNotNull())),
        "descriptions": (parsed.select(
            F.col("id").alias("qcode"),
            F.element_at("descriptions", lang)["value"].alias("description"))
            .where(F.col("description").isNotNull())),
        "aliases": (parsed.select(
            F.col("id").alias("qcode"),
            F.explode(F.coalesce(
                F.element_at("aliases", lang),
                F.array().cast(T.ArrayType(_VALUE_STRUCT)))).alias("a"))
            .select("qcode", F.col("a.value").alias("alias"))
            .where(F.col("alias").isNotNull())),
        "sitelinks": (parsed.select(
            F.col("id").alias("qcode"),
            F.element_at("sitelinks", site)["title"].alias("wiki_title"))
            .where(F.col("wiki_title").isNotNull())),
        "human": (_relation(parsed, "P31")
                  .where(F.col("value_id") == F.lit(human_id))
                  .select("qcode").distinct()),
    }
    for prop in RELATION_PROPS:
        out[prop.lower()] = _relation(parsed, prop)
    return out


def write_lookups(lookups: dict[str, DataFrame], out_dir: str) -> None:
    """S1 sink: one parquet dataset per lookup (the reference's 16
    JSON-lines files; parquet keeps downstream scans columnar)."""
    import os

    for name, df in lookups.items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))


_KV = "array<struct<kind:string,value:string>>"


def lookup_fanout(parsed: DataFrame, lang: str = "en",
                  site: str = "enwiki") -> DataFrame:
    """All lookups as ONE long (qcode, kind, value) table — the
    oracle-able surface of the fan-out (each row appears in exactly one
    of the reference's output files).

    SINGLE-SCAN physical plan: per entity, every lookup entry is packed
    into one in-row (kind, value) array and exploded once — the dump is
    read and JSON-parsed exactly once, matching the reference's
    stream-once ETL. (A union of per-lookup selections — the obvious
    formulation — re-scans the dump once per branch: 9 full reads of a
    multi-hundred-GB file.)"""
    def opt(kind: str, col) -> F.Column:
        return F.when(col.isNotNull(), F.array(F.struct(
            F.lit(kind).alias("kind"), col.alias("value")))
        ).otherwise(F.array().cast(_KV))

    alias_entries = F.transform(
        F.coalesce(F.element_at("aliases", lang),
                   F.array().cast(T.ArrayType(_VALUE_STRUCT))),
        lambda a: F.struct(F.lit("alias").alias("kind"),
                           a["value"].alias("value")))
    def rel_entry(prop: str) -> F.Column:
        kind = prop.lower()
        return F.transform(
            F.coalesce(F.element_at("claims", prop),
                       F.array().cast(T.ArrayType(_SNAK))),
            lambda c: F.struct(
                F.lit(kind).alias("kind"),
                c["mainsnak"]["datavalue"]["value"]["id"].alias("value")))

    rel_entries = [rel_entry(p) for p in RELATION_PROPS]
    entries = F.concat(
        opt("label", F.element_at("labels", lang)["value"]),
        opt("description", F.element_at("descriptions", lang)["value"]),
        alias_entries.cast(_KV),
        opt("sitelink", F.element_at("sitelinks", site)["title"]),
        *[r.cast(_KV) for r in rel_entries],
    )
    return (
        parsed.select(F.col("id").alias("qcode"),
                      F.explode(entries).alias("e"))
        .select("qcode", "e.kind", "e.value")
        .where(F.col("value").isNotNull())
    )


def class_vocab_from_edges(edges: DataFrame) -> DataFrame:
    """(class_name → dense 0-based class_idx), index = rank in the
    sorted distinct node-name list — the same deterministic rule the
    entity fixtures use. Runs through the same two-pass
    :func:`~refined_spark.operators.pem_build.dense_index` as the A2
    entity index (the DAG is ~1.4k classes in the reference, where a
    global rank window was harmless — but there is no reason to keep a
    single-task shape around for a vocabulary that can grow)."""
    from .pem_build import dense_index

    nodes = (edges.select(F.col("child_class").alias("class_name"))
             .unionByName(edges.select(
                 F.col("parent_class").alias("class_name")))
             .distinct())
    return dense_index(nodes, "class_name", "class_idx").withColumn(
        "class_idx", F.col("class_idx").cast("int"))


def build_class_arrays(relations: DataFrame, edges: DataFrame) -> DataFrame:
    """A3 — (qcode, class_idx ARRAY<INT>) from relation triples + the
    subclass DAG: union of class sources → reflexive-transitive closure
    → dense index → sorted distinct array per entity.

    ``relations``: (qcode, class_name) long table — e.g. the
    CLASS_SOURCE_PROPS slices of :func:`lookup_fanout`.
    ``edges``: (child_class, parent_class) — e.g. the p279 lookup.

    Scale shape: closure and vocab are class-DAG-sized (broadcast);
    the only entity-scale shuffle is the final groupBy(qcode) — with
    map-side partial aggregation of the collect_set.
    """
    from .closure import class_closure

    clo = class_closure(edges)
    vocab = class_vocab_from_edges(edges)
    anc = (
        relations.join(F.broadcast(clo),
                       relations.class_name == clo.child_class)
        .select("qcode", F.col("ancestor_class").alias("class_name"))
    )
    return (
        anc.join(F.broadcast(vocab), "class_name")
        .groupBy("qcode")
        .agg(F.sort_array(F.collect_set("class_idx")).alias("class_idx"))
    )
