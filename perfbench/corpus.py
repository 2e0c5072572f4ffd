"""Seeded corpora for the benchmark workloads.

The library generator (``refined_spark.fixtures.gen``) pins seed 42, so
this module threads the benchmark's own seed: the universe comes from
``gen.build_universe`` (corpus_link) or :func:`wide_universe`
(ckpt_resume) driven by a seeded NumPy generator, and the documents follow
the same document model as ``gen.build_docs`` (events -> paragraphs ->
HTML that the extractor reproduces byte-identically) driven by a seeded
``random.Random``. The engine receives only the written parquet tables.

Each corpus also stores the NumPy-oracle clusters
(``fixtures.oracle.run_oracle``) as ``expected_clusters.parquet``; the
benchmark checks the engine's clusters against them.

A corpus is built once per (workload, seed, size) into a cache directory
and reused by later runs; building happens outside every timed region.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timedelta
from html import escape

import numpy as np
import pyarrow as pa

from refined_spark import config
from refined_spark.fixtures import gen, vocab
from refined_spark.fixtures.oracle import run_oracle
from refined_spark.functions.embed import hash_embed
from refined_spark.functions.normalize import normalize_surface_form

CORPUS_VERSION = "c2"

# Per-workload universe and document-mix parameters.
# corpus_link: the generator's default bench universe (50 stems, 60
#   persons, 35 "Acme" entities) -- few distinct surfaces, heavy Zipf
#   sharing, every mention found by dictionary MD.
# ckpt_resume: a wide universe -- synthetic stems, hundreds of persons
#   spread over the 10 shared surnames, the same Acme hot key -- so
#   blocking/coref shuffles run on skewed keys and scoring shares little
#   work across mentions.
WORKLOADS = {
    "corpus_link": dict(universe="default", n_stems=50, n_persons=60,
                        n_hot=35, pair_cap=50, salt=1),
    "ckpt_resume": dict(universe="wide", n_stems=2000, n_persons=400,
                        n_hot=35, pair_cap=50, salt=2),
}

N_SHARDS = 16  # >= 4x the benchmark's cores, so scans run at full width

_DOC_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
_SPAN_SCHEMA = pa.schema([
    ("url", pa.string()), ("start", pa.int32()), ("length", pa.int32()),
    ("mention_text", pa.string()), ("gold_qcode", pa.string()),
    ("coarse_type", pa.string()), ("ctx_word", pa.string()),
    ("norm_sf", pa.string()), ("dict_matchable", pa.bool_()),
])
_WEIGHTS = [
    dict(feature="class_overlap", weight=2.0),
    dict(feature="pem", weight=1.5),
    dict(feature="class_dist", weight=-1.0),
    dict(feature="desc_score", weight=3.0),
    dict(feature="bias", weight=0.0),
]


def _synthetic_stems(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct capitalised pseudo-words, disjoint from every
    vocabulary pool (they are three syllables of a letter set the pools
    do not combine this way)."""
    onsets = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
              "v", "z"]
    vowels = ["a", "e", "i", "o", "u"]
    syl = [o + v for o in onsets for v in vowels]
    taken = {w.lower() for w in (*vocab.FILLER, *vocab.NAME_STEMS,
                                 *vocab.NIL_SURFACES, *vocab.FIRST_NAMES,
                                 *vocab.LAST_NAMES_SHARED,
                                 *vocab.LAST_NAMES_UNIQUE)}
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(syl[int(i)] for i in rng.integers(0, len(syl), 3)) + "x"
        if w not in seen and w not in taken:
            seen.add(w)
            out.append(w.capitalize())
    return out


def wide_universe(cfg: dict, rng: np.random.Generator) -> dict:
    """A universe with the same data model as ``gen.build_universe`` but
    far more distinct surfaces: synthetic ambiguous stems, persons that
    mostly share the 10 shared surnames, and the ``Acme`` hot key."""
    _names, cidx, closure = gen._class_tables()
    base_topics = [t for t, c in vocab.TOPIC_CLASS.items()
                   if c != "C_person"]
    entities: list[dict] = []
    surfaces: dict[str, list[str]] = {}
    display: dict[str, str] = {}
    topic_rows: dict[str, str] = {}

    def add_entity(label, topic_word, class_name, is_human, has_desc,
                   never_gold=False):
        e = dict(qcode=f"Q{100 + len(entities)}", label=label,
                 topic=topic_word,
                 description=(f"{label}, a notable {topic_word}"
                              if has_desc else None),
                 class_idx=sorted(cidx[c] for c in closure[class_name]),
                 is_human=is_human, wiki_title=label.replace(" ", "_"),
                 never_gold=never_gold)
        entities.append(e)
        topic_rows.setdefault(topic_word, class_name)
        return e

    def add_surface(surface, qcode):
        norm = normalize_surface_form(surface)
        surfaces.setdefault(norm, []).append(qcode)
        display.setdefault(norm, surface)

    stems = _synthetic_stems(rng, cfg["n_stems"])
    for stem in stems:
        k = 1 + int(rng.random() < 0.55) + int(rng.random() < 0.25)
        for j, base_t in enumerate(rng.choice(base_topics, size=k,
                                              replace=False)):
            base_t = str(base_t)
            tword = base_t if k == 1 else f"{base_t}{j}"
            e = add_entity(stem, tword, vocab.TOPIC_CLASS[base_t],
                           is_human=False, has_desc=True)
            add_surface(stem, e["qcode"])
            if rng.random() < 0.5:
                e["alias"] = f"{stem} {base_t.capitalize()}"
                add_surface(e["alias"], e["qcode"])
        if rng.random() < 0.3:
            base_t = str(rng.choice(base_topics))
            e = add_entity(stem + " (other)", f"{base_t}x",
                           vocab.TOPIC_CLASS[base_t], is_human=False,
                           has_desc=False, never_gold=True)
            add_surface(stem, e["qcode"])

    persons = []
    for _ in range(cfg["n_persons"]):
        first = vocab.FIRST_NAMES[int(rng.integers(len(vocab.FIRST_NAMES)))]
        pool = (vocab.LAST_NAMES_SHARED if rng.random() < 0.9
                else vocab.LAST_NAMES_UNIQUE)
        last = pool[int(rng.integers(len(pool)))]
        occ = vocab.OCCUPATIONS[int(rng.integers(len(vocab.OCCUPATIONS)))]
        e = add_entity(f"{first} {last}", occ, "C_person", is_human=True,
                       has_desc=True)
        e["last"] = last
        persons.append(e)
        add_surface(e["label"], e["qcode"])
    famous = next((p for p in persons if p["last"] == "Johnson"), None)
    if famous is not None:
        add_surface("Johnson", famous["qcode"])
    for i in range(cfg["n_hot"]):
        e = add_entity("Acme", f"conglomerate{i}", "C_company",
                       is_human=False, has_desc=True)
        add_surface("Acme", e["qcode"])

    for i, e in enumerate(sorted(entities, key=lambda x: x["qcode"]), 1):
        e["qcode_idx"] = i
    ent_by_q = {e["qcode"]: e for e in entities}

    pem_rows = []
    for norm in sorted(surfaces):
        qcodes = surfaces[norm]
        totals = rng.choice(np.arange(20, 20 + 8 * len(qcodes)),
                            size=len(qcodes), replace=False)
        ssum = float(totals.sum())
        ranked = sorted(((q, int(t)) for q, t in zip(qcodes, totals)),
                        key=lambda x: (-x[1] / ssum, x[0]))
        for rank, (q, t) in enumerate(ranked[:config.MAX_CANDIDATES], 1):
            pem_rows.append(dict(surface_form=norm, qcode=q, prob=t / ssum,
                                 rank=rank))
    pem_by_sf: dict[str, list[tuple[str, float]]] = {}
    for r in pem_rows:
        pem_by_sf.setdefault(r["surface_form"], []).append(
            (r["qcode"], r["prob"]))
    human_words = set()
    for sf, cands in pem_by_sf.items():
        if " " in sf and any(ent_by_q[q]["is_human"]
                             and p > config.PERSON_COREF_PEM_MIN
                             for q, p in cands):
            human_words.update(sf.split(" "))
    return dict(entities=entities, persons=persons, pem_rows=pem_rows,
                pem_by_sf=pem_by_sf, link_rows=[], cidx=cidx,
                topic_rows=topic_rows,
                match_dict=set(pem_by_sf) | human_words,
                ent_by_q=ent_by_q, stems=stems)


def _pick_gold(r: random.Random, uni: dict, norm_sf: str) -> str | None:
    elig = [(q, p) for q, p in uni["pem_by_sf"].get(norm_sf, [])
            if not uni["ent_by_q"][q]["never_gold"]
            and uni["ent_by_q"][q]["description"] is not None]
    if not elig:
        return None
    return r.choices([q for q, _ in elig], weights=[p for _, p in elig])[0]


def _raw_variant(r: random.Random, surface: str) -> str:
    x = r.random()
    if x < 0.60:
        return surface
    if x < 0.75:
        parts = surface.split(" ")
        parts[0] = parts[0].upper()
        return " ".join(parts)
    if x < 0.85:
        return "The " + surface
    chars = list(surface)
    for i, ch in enumerate(chars):
        rep = vocab.DIACRITIC_MAP.get(ch.lower())
        if rep:
            chars[i] = rep if ch.islower() else rep.upper()
            break
    return "".join(chars)


def build_docs(n_docs: int, uni: dict, r: random.Random):
    """Documents and gold spans with ``gen.build_docs``'s event mix:
    NIL surfaces, persons (full name then 1-2 surname corefs), the Acme
    hot key, and ambiguous stems with an optional ``(topic)`` context."""
    docs, spans = [], []
    t0 = datetime(2025, 1, 1)
    stems, persons = uni["stems"], uni["persons"]
    filler = vocab.FILLER
    stem_norm = {s: normalize_surface_form(s) for s in stems}
    for i in range(n_docs):
        url = f"https://example.org/page/{i:07d}"
        x = r.random()
        lang = "en" if x < 0.9 else ("de" if x < 0.95 else "fr")
        events = []
        n_ev = r.randint(1, 5)
        j = 0
        while j < n_ev:
            x = r.random()
            if x < 0.08:
                events.append((r.choice(vocab.NIL_SURFACES).split(" "),
                               None, None))
            elif x < 0.30:
                p = r.choice(persons)
                ctx = p["topic"] if r.random() < 0.85 else None
                events.append((p["label"].split(" "), p["qcode"], ctx))
                for _k in range(r.randint(1, 2)):
                    events.append(([p["last"]], p["qcode"], p["topic"]))
                    j += 1
            elif x < 0.36:
                gold = _pick_gold(r, uni, "acme")
                if gold is not None:
                    events.append((_raw_variant(r, "Acme").split(" "), gold,
                                   uni["ent_by_q"][gold]["topic"]))
            else:
                stem = r.choice(stems)
                gold = _pick_gold(r, uni, stem_norm[stem])
                if gold is None:
                    j += 1
                    continue
                ent = uni["ent_by_q"][gold]
                surface = (ent["alias"] if "alias" in ent
                           and r.random() < 0.25 else stem)
                ctx = ent["topic"] if r.random() < 0.95 else None
                events.append((_raw_variant(r, surface).split(" "), gold,
                               ctx))
            j += 1

        n_paras = r.randint(1, 3)
        cuts = sorted(r.randint(0, len(events)) for _ in range(n_paras - 1))
        bounds = [0, *cuts, len(events)]
        para_texts, para_meta = [], []
        for a, b in zip(bounds, bounds[1:]):
            tokens = r.choices(filler, k=r.randint(2, 4))
            meta = []
            for m_tokens, gold, ctx in events[a:b]:
                start_tok = len(tokens)
                tokens.extend(m_tokens)
                if ctx:
                    tokens.append(f"({ctx})")
                tokens.extend(r.choices(filler, k=r.randint(2, 5)))
                meta.append((start_tok, len(m_tokens), gold, ctx))
            offs, pos = [], 0
            for t in tokens:
                offs.append(pos)
                pos += len(t) + 1
            para_texts.append(" ".join(tokens) + ".")
            para_meta.append([(offs[st], " ".join(tokens[st:st + n]), gold,
                               ctx) for st, n, gold, ctx in meta])

        base = 0
        for ptext, metas in zip(para_texts, para_meta):
            for off, mtext, gold, ctx in metas:
                norm = normalize_surface_form(mtext)
                spans.append(dict(
                    url=url, start=base + off, length=len(mtext),
                    mention_text=mtext, gold_qcode=gold,
                    coarse_type="MENTION", ctx_word=ctx, norm_sf=norm,
                    dict_matchable=norm in uni["match_dict"]))
            base += len(ptext) + 1

        parts = ["<html><body>"]
        for ptext in para_texts:
            if r.random() < 0.25:
                first, _sep, rest = ptext.partition(" ")
                parts.append(f"<p><b>{escape(first)}</b> {escape(rest)}</p>")
            else:
                parts.append(f"<p>{escape(ptext)}</p>")
            if r.random() < 0.2:
                parts.append("<script>var x = 1;</script>")
        parts.append("</body></html>")
        docs.append(dict(url=url, warc_ts=t0 + timedelta(seconds=i),
                         html="".join(parts).encode("utf-8"),
                         text="\n".join(para_texts), lang=lang))
    return docs, spans


def generate(workload: str, seed: int, n_docs: int, out_dir: str) -> None:
    """Write every table ``pipeline.load_tables`` reads, plus the oracle
    clusters, for one (workload, seed, size) into ``out_dir``."""
    cfg = WORKLOADS[workload]
    rng = np.random.Generator(np.random.PCG64(
        np.random.SeedSequence([seed, cfg["salt"]])))
    uni = (gen.build_universe(cfg, rng) if cfg["universe"] == "default"
           else wide_universe(cfg, rng))
    docs, spans = build_docs(n_docs, uni,
                             random.Random(int(rng.integers(2 ** 63))))

    from refined_spark.operators.extract import extract_text
    for d in docs[:200]:
        if extract_text(d["html"]) != d["text"]:
            raise RuntimeError(f"generated HTML does not extract to its "
                               f"text: {d['url']}")
    text_of = {d["url"]: d["text"] for d in docs}
    for sp in spans:
        start, end = sp["start"], sp["start"] + sp["length"]
        if text_of[sp["url"]][start:end] != sp["mention_text"]:
            raise RuntimeError(f"span offset drift in {sp['url']}")

    os.makedirs(out_dir)
    write = gen._write
    for name, rows, schema in (("documents", docs, _DOC_SCHEMA),
                               ("gold_spans", spans, _SPAN_SCHEMA)):
        gen._write_sharded(os.path.join(out_dir, f"{name}.parquet"), rows,
                           schema, rows_per_file=-(-len(rows) // N_SHARDS))
    write(os.path.join(out_dir, "link_counts.parquet"), uni["link_rows"],
          pa.schema([("surface_form_raw", pa.string()),
                     ("qcode", pa.string()), ("source", pa.string()),
                     ("cnt", pa.int64())]))
    write(os.path.join(out_dir, "pem.parquet"), uni["pem_rows"],
          pa.schema([("surface_form", pa.string()), ("qcode", pa.string()),
                     ("prob", pa.float64()), ("rank", pa.int32())]))
    ent_rows = [dict(qcode=e["qcode"], qcode_idx=e["qcode_idx"],
                     label=e["label"], description=e["description"],
                     topic=e["topic"], class_idx=e["class_idx"],
                     is_human=e["is_human"], wiki_title=e["wiki_title"])
                for e in uni["entities"]]
    write(os.path.join(out_dir, "entity.parquet"), ent_rows, pa.schema([
        ("qcode", pa.string()), ("qcode_idx", pa.int64()),
        ("label", pa.string()), ("description", pa.string()),
        ("topic", pa.string()), ("class_idx", pa.list_(pa.int16())),
        ("is_human", pa.bool_()), ("wiki_title", pa.string())]))
    emb_rows = [dict(qcode_idx=0, desc_emb=[0.0] * config.EMB_DIM)]
    for e in uni["entities"]:
        emb = (hash_embed(e["topic"]) if e["description"] is not None
               else np.zeros(config.EMB_DIM, dtype=np.float32))
        emb_rows.append(dict(qcode_idx=e["qcode_idx"],
                             desc_emb=[float(v) for v in emb]))
    write(os.path.join(out_dir, "entity_emb.parquet"), emb_rows, pa.schema([
        ("qcode_idx", pa.int64()), ("desc_emb", pa.list_(pa.float32()))]))
    topic_rows = [dict(topic=t, class_idx=uni["cidx"][c])
                  for t, c in sorted(uni["topic_rows"].items())]
    write(os.path.join(out_dir, "topic_class.parquet"), topic_rows,
          pa.schema([("topic", pa.string()), ("class_idx", pa.int16())]))
    write(os.path.join(out_dir, "class_edges.parquet"),
          [dict(child_class=c, parent_class=p) for c, p in vocab.CLASS_EDGES],
          pa.schema([("child_class", pa.string()),
                     ("parent_class", pa.string())]))
    write(os.path.join(out_dir, "ed_weights.parquet"), _WEIGHTS,
          pa.schema([("feature", pa.string()), ("weight", pa.float64())]))
    write(os.path.join(out_dir, "gold_pairs.parquet"),
          gen.build_gold_pairs(spans, cfg["pair_cap"], seed=seed),
          pa.schema([("url_a", pa.string()), ("start_a", pa.int32()),
                     ("url_b", pa.string()), ("start_b", pa.int32()),
                     ("block_key", pa.string()),
                     ("same_entity", pa.bool_())]))
    _cand, _links, clusters = run_oracle(docs, spans, uni["pem_rows"],
                                         ent_rows, emb_rows, _WEIGHTS,
                                         topic_rows)
    write(os.path.join(out_dir, "expected_clusters.parquet"), clusters,
          pa.schema([("url", pa.string()), ("start", pa.int32()),
                     ("cluster_id", pa.string())]))
    # the content stamp the engine folds into checkpoint fingerprints
    with open(os.path.join(out_dir, "_VERSION.json"), "w") as f:
        json.dump(dict(version=CORPUS_VERSION, workload=workload, seed=seed,
                       n_docs=n_docs), f, sort_keys=True)


def ensure_corpus(cache_root: str, workload: str, seed: int,
                  n_docs: int) -> str:
    """Return the cached corpus dir, generating it first if missing. The
    build goes to a scratch dir renamed into place, so a killed build
    never leaves a half-written corpus behind."""
    out = os.path.join(cache_root,
                       f"{workload}-s{seed}-n{n_docs}-{CORPUS_VERSION}")
    if os.path.exists(os.path.join(out, "_VERSION.json")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(workload, seed, n_docs, tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
