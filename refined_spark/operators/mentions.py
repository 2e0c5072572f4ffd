"""M1 — mention detection + mention-table construction.

Two modes, mirroring the reference:

- provided-spans mode (``Refined.process_text(spans=...)``,
  /root/reference/src/refined/inference/processor.py:139-170): the span
  inventory comes from a labeled table (gold_spans); the engine only
  attaches normalization + context. This is the mode the F1 gate runs in.
- e2e mode: a deterministic dictionary matcher (the stand-in for the
  transformer MD head, SURVEY.md §2.3 M1/§7.1): longest-match token
  n-grams whose normalized form is in the match dictionary (alias-table
  keys + words of multi-word human surfaces — the global analog of the
  coref registration trigger, candidate_generator.py:74-80).

Context extraction (the deterministic stand-in for the mention-encoder
input) is pure Column work: the corpus marks the disambiguating context
as "(word)" right after a mention; ``F.regexp_extract`` pulls it JVM-side.

Scale: both modes are shuffle-free maps over documents; the matcher
dictionary is an ~O(1M key) broadcast set (same deployment shape as the
reference's per-process LMDB/PEM dict, lmdb_wrapper.py:43-55).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.normalize import normalize_surface_form, normalize_udf

_TOKEN_RE = re.compile(r"\S+")
MAX_NGRAM = 3


def _norm_token_cached(tok: str, cache: dict[str, str]) -> str:
    """Token-level normalization (remove_the=False: "the " stripping is a
    phrase-level rule, handled in the matcher). Memoized per worker —
    token vocabularies are Zipfian, so the hit rate is ~1."""
    v = cache.get(tok)
    if v is None:
        v = normalize_surface_form(tok, remove_the=False)
        if len(cache) < 2_000_000:
            cache[tok] = v
        else:
            return v
    return v


def _match_doc(text: str, match_dict: set[str], first_words: set[str],
               cache: dict[str, str]) -> list:
    """Max-munch dictionary matcher over whitespace tokens.

    Phrase normalization = join of token normalizations (+ the phrase-level
    "the "-prefix rule), which equals ``normalize_surface_form(phrase)``
    because every other rule is per-character and never touches the single
    spaces between tokens. Two fast-path filters keep this ~O(tokens):
    a memoized per-token normalization and a first-word index — an n-gram
    is only assembled when its (normalized) first word starts some
    dictionary key.
    """
    if not text:
        return []
    toks = [(m.start(), m.group()) for m in _TOKEN_RE.finditer(text)]
    norm = [_norm_token_cached(t, cache) for _off, t in toks]
    out, i, n = [], 0, len(toks)
    while i < n:
        w0 = norm[i]
        the_skip = w0 == "the"
        if not (w0 in first_words or the_skip):
            i += 1
            continue
        matched = False
        for k in range(min(MAX_NGRAM, n - i), 0, -1):
            parts = norm[i:i + k]
            if the_skip and k > 1:
                phrase_norm = " ".join(parts[1:])
            else:
                phrase_norm = " ".join(parts)
            if phrase_norm in match_dict:
                first_off = toks[i][0]
                last_off, last_tok = toks[i + k - 1]
                phrase = text[first_off:last_off + len(last_tok)]
                out.append((first_off, len(phrase), phrase))
                i += k
                matched = True
                break
        if not matched:
            i += 1
    return out


# per-python-worker token-normalization memo (survives across batches)
_TOKEN_NORM_CACHE: dict[str, str] = {}

# per-python-worker match-dictionary cache keyed by artifact path: the key
# set is built EXECUTOR-SIDE from the parquet artifact the dictionary job
# wrote — the driver never materializes (or pickles) the 18M-key set. Same
# deployment shape as the reference's per-process LMDB file
# (lmdb_wrapper.py:43-55): a file artifact opened lazily by each worker.
_DICT_CACHE: dict[str, tuple[set, set]] = {}


def load_match_dictionary(path: str) -> tuple[set, set]:
    """(keys, first_words) from a dictionary parquet artifact — executor-
    side, cached per worker process."""
    v = _DICT_CACHE.get(path)
    if v is None:
        import pyarrow.parquet as pq

        col = pq.read_table(path, columns=["key"])["key"].to_pylist()
        keys = {k for k in col if k}
        first_words = {k.split(" ", 1)[0] for k in keys}
        v = (keys, first_words)
        if len(_DICT_CACHE) < 4:
            _DICT_CACHE[path] = v
    return v


def attach_context(df: DataFrame, text_col: str = "text") -> DataFrame:
    """ctx_word = word in "(word)" immediately after the span, else NULL."""
    tail = F.substring(
        F.col(text_col), F.col("start") + F.col("length") + 1, 64
    )
    ctx = F.regexp_extract(tail, r"^ \((\w+)\)", 1)
    return df.withColumn("ctx_word", F.when(ctx == "", None).otherwise(ctx))


def mention_id_col() -> F.Column:
    """Fixed-width mention key: url ':' lpad(start, 8). The width
    covers starts < 10^8 — 100 MB of extracted text per document, two
    orders beyond any real web page. Offsets at or past the bound FAIL
    LOUDLY (assert_true): lpad would otherwise truncate and silently
    MERGE distinct mentions across every key-keyed stage (r5
    review)."""
    guard = F.assert_true(
        F.col("start") < 100_000_000,
        F.lit("mention_id_col: start offset >= 10^8 would truncate "
              "the fixed-width mention key"))
    return F.when(guard.isNull(),
                  F.concat(F.col("url"), F.lit(":"),
                           F.lpad(F.col("start").cast("string"), 8,
                                  "0")))


def mentions_from_spans(documents: DataFrame, spans: DataFrame) -> DataFrame:
    """Provided-spans mode. spans: (url, start, length, mention_text).

    Output: url, start, length, mention_text, norm_sf, ctx_word, mention_key.
    The documents join is an equi-join on url (broadcast-able only for tiny
    corpora; at scale both sides hash-partition on url — a single shuffle
    that the downstream per-url coref stage reuses).
    """
    joined = spans.select("url", "start", "length", "mention_text").join(
        documents.select("url", "text"), "url"
    )
    out = attach_context(joined)
    return (
        out.withColumn("norm_sf", normalize_udf(F.col("mention_text")))
        .withColumn("mention_key", mention_id_col())
        .drop("text")
    )


# Java regex \w is ASCII; Python's is Unicode — pin to ASCII for parity
# with attach_context's JVM regexp_extract.
_CTX_RE = re.compile(r"^ \((\w+)\)", re.ASCII)

_MENTION_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("start", IntegerType()),
    StructField("length", IntegerType()),
    StructField("mention_text", StringType()),
    StructField("norm_sf", StringType()),
    StructField("ctx_word", StringType()),
    StructField("mention_key", StringType()),
])


def _mention_rows_runner(dict_src, spec_col: str | None = None):
    """mapInPandas body: (url, text) batches -> mention rows.

    dict_src: ("bc", broadcast) for a driver-broadcast key set (fixture
    scale) or ("path", parquet_path) for the executor-side artifact load
    (production scale — zero driver materialization).

    spec_col: a column of sampled html (NULL off the sample) whose parser
    extraction must equal the batch's text; a mismatch raises the
    extraction-contract error before the batch's rows are emitted."""
    from ..functions.normalize import normalize_surface_form
    from .extract import extract_text, extraction_contract_error

    def run(batches):
        if dict_src[0] == "bc":
            d, fw = dict_src[1].value
        else:
            d, fw = load_match_dictionary(dict_src[1])
        tok_cache = _TOKEN_NORM_CACHE
        phrase_cache: dict[str, str] = {}
        for pdf in batches:
            urls, starts, lengths, texts_m, norms, ctxs, mkeys = (
                [], [], [], [], [], [], [])
            texts = pdf["text"].tolist()
            specs = (pdf[spec_col].tolist() if spec_col
                     else [None] * len(texts))
            bad = []
            for url, text, spec in zip(pdf["url"].tolist(), texts, specs):
                text = text or ""
                if spec is not None and extract_text(spec) != text:
                    bad.append(url)
                for off, ln, phrase in _match_doc(text, d, fw, tok_cache):
                    nrm = phrase_cache.get(phrase)
                    if nrm is None:
                        nrm = normalize_surface_form(phrase)
                        if len(phrase_cache) < 1_000_000:
                            phrase_cache[phrase] = nrm
                    m = _CTX_RE.match(text[off + ln:off + ln + 64])
                    urls.append(url)
                    starts.append(off)
                    lengths.append(ln)
                    texts_m.append(phrase)
                    norms.append(nrm)
                    ctxs.append(m.group(1) if m else None)
                    # same bound as mention_id_col: truncation would
                    # silently merge distinct mentions
                    if off >= 100_000_000:
                        raise ValueError(
                            "mention key: start offset >= 10^8 in "
                            f"{url!r}")
                    mkeys.append(f"{url}:{off:08d}")
            if bad:
                raise extraction_contract_error(bad[:5])
            yield pd.DataFrame(dict(
                url=urls, start=pd.array(starts, dtype="int32"),
                length=pd.array(lengths, dtype="int32"),
                mention_text=texts_m, norm_sf=norms, ctx_word=ctxs,
                mention_key=mkeys))

    return run


def _dict_src(spark, match_keys, dict_path):
    if dict_path is not None:
        return ("path", dict_path)
    keys = {k for k in match_keys if k}
    first_words = {k.split(" ", 1)[0] for k in keys}
    return ("bc", spark.sparkContext.broadcast((keys, first_words)))


def detect_mention_rows(spark, documents: DataFrame,
                        match_keys: list[str] | None = None,
                        text_col: str = "text",
                        dict_path: str | None = None,
                        spec_col: str | None = None) -> DataFrame:
    """E2e mode: dictionary MD over an existing text column (e.g. the
    JVM extraction output) in one Arrow crossing — text in, normalized
    mention rows out. Output schema matches :func:`mentions_from_spans`.

    Pass ``dict_path`` (a parquet artifact written by
    ``pipeline.write_match_dictionary``) to load the key set executor-side
    — the production path; ``match_keys`` broadcasts from the driver and
    is for fixture-scale runs/tests only.

    ``spec_col`` (e.g. :func:`~.extract.sampled_html_col`): the sampled
    extraction-contract guard rides this scan — each non-NULL html is
    parsed by the Python spec and compared with ``text_col``; a mismatch
    fails the job (a ``PythonException`` carrying the contract message)."""
    run = _mention_rows_runner(_dict_src(spark, match_keys, dict_path),
                               spec_col=spec_col)
    cols = [F.col(spec_col)] if spec_col else []
    return (documents.select("url", F.col(text_col).alias("text"), *cols)
            .mapInPandas(run, _MENTION_SCHEMA))

