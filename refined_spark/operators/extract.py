"""E1 — HTML -> text extraction (the byte-identical per-row invariant).

The input table carries ``html BINARY``; the pipeline must reproduce the
``text`` column byte-identically per url (BASELINE.json input_hint). The
reference consumes pre-extracted text (its analog is the WikiExtractor
stage, /root/reference/src/refined/offline_data_generation/clean_wikipedia.py:25-60);
our corpus is HTML, so extraction is the first operator of every run.

Implementation: a deterministic, stdlib-only extractor (no bs4/lxml in the
container, and determinism across versions is the point — SURVEY.md §7.3
calls this out as a hard part). The fixture generator emits HTML whose
canonical extraction is exactly this function's output, and pytest pins
goldens, so the invariant is structural.

Contract:
- block-level elements (<p>, <h1..6>, <li>, <br>) contribute "\\n" joins
- <script>/<style> subtrees are dropped
- character/entity references are unescaped
- runs of whitespace inside a block are collapsed to single spaces,
  blocks are stripped; empty blocks dropped

Spark surface: :func:`extracted_text_col` / :func:`with_extracted_text`
— the same extraction as a JVM regexp chain inside codegen, with the
Python parser kept as the executable spec that the sampled runtime guard
(:func:`assert_extraction_contract`) and pytest check it against. Scale:
pure map, no shuffle; pipelines with the parquet scan; column-pruned
(only ``html`` is read if only ``extracted`` is selected downstream).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BLOCK_TAGS = {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "div", "title"}
_DROP_TAGS = {"script", "style"}
_WS_RE = re.compile(r"[ \t\r\n\f\v]+")


class _TextExtractor(HTMLParser):
    """Event-driven extraction; deterministic by construction."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._buf: list[str] = []
        self._drop_depth = 0

    def _flush(self) -> None:
        raw = "".join(self._buf)
        self._buf = []
        text = _WS_RE.sub(" ", raw).strip(" ")
        if text:
            self.blocks.append(text)

    def handle_starttag(self, tag, attrs):
        if tag in _DROP_TAGS:
            self._drop_depth += 1
        elif tag in _BLOCK_TAGS or tag == "br":
            self._flush()

    def handle_endtag(self, tag):
        if tag in _DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if self._drop_depth == 0:
            self._buf.append(data)

    def result(self) -> str:
        self._flush()
        return "\n".join(self.blocks)


def extract_text(html: bytes | str) -> str:
    """Deterministic HTML -> text. Pure function; golden-tested."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    parser = _TextExtractor()
    parser.feed(html)
    parser.close()
    return parser.result()


def extracted_text_col(html_col):
    """JVM (WholeStageCodegen) restatement of :func:`extract_text` as a
    regexp_replace chain — byte-identical to the Python parser on the
    well-formed HTML class the corpus contract covers (block/inline tags,
    script/style subtrees, html.escape entity refs; no conditional
    comments, no '>' inside attribute values). pytest cross-checks every
    fixture and driver-testdata document against the Python oracle.

    Why: extraction is the widest map stage of every run; the parser
    version burns ~40us of allocation-heavy Python per document, which is
    the worst-scaling workload on a memory-bound host. The JVM chain runs
    inside codegen, never leaves the scan stage, and keeps the Python
    implementation as the executable spec.
    """
    nul = chr(0)  # block-boundary sentinel (never in corpus text)
    s = F.col(html_col).cast("string") if isinstance(html_col, str) else \
        html_col.cast("string")
    # 1. drop script/style subtrees (incl. unclosed-to-EOF, parser parity)
    s = F.regexp_replace(s, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", "")
    s = F.regexp_replace(s, r"(?is)<(script|style)\b[^>]*>.*$", "")
    # 2. block-level tags (open or close) become sentinel block marks —
    #    distinct from literal newlines, which are plain whitespace
    s = F.regexp_replace(
        s, r"(?i)</?(p|h[1-6]|li|div|title|br)\b[^>]*/?>", nul)
    # 3. strip remaining (inline) tags
    s = F.regexp_replace(s, r"(?s)<[^>]*>", "")
    # 4. entity references (html.escape set + apostrophe variants);
    #    &amp; LAST = single-pass semantics of convert_charrefs
    for ref, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                    ("&#x27;", "'"), ("&#39;", "'"), ("&apos;", "'"),
                    ("&amp;", "&")):
        s = F.replace(s, F.lit(ref), F.lit(ch))
    # 5. collapse whitespace runs within blocks, trim each block, drop
    #    empty blocks, join the blocks with newline
    s = F.regexp_replace(s, "[ \\t\\r\\n\\f\\x0B]+", " ")
    s = F.regexp_replace(s, " ?" + nul + " ?", nul)
    s = F.regexp_replace(s, nul + "+", nul)
    s = F.regexp_replace(s, "^[" + nul + " ]+|[" + nul + " ]+$", "")
    return F.replace(s, F.lit(nul), F.lit("\n"))


def _sampled(mod: int) -> F.Column:
    """The guard's deterministic sample: ``xxhash64(url) % mod == 0``."""
    return F.pmod(F.xxhash64("url"), F.lit(mod)) == 0


def sampled_html_col(mod: int) -> F.Column:
    """``html`` on the guard's sample rows, NULL elsewhere — the spec
    input a fused scan carries next to its JVM text (see
    mentions.detect_mention_rows ``spec_col``)."""
    return F.when(_sampled(mod), F.col("html"))


def extraction_contract_error(urls: list[str]) -> AssertionError:
    return AssertionError(
        f"JVM extractor diverged from parser spec on sampled urls "
        f"{urls} — corpus violates the extraction HTML contract")


def assert_extraction_contract(documents: DataFrame,
                               mod: int = 256) -> int:
    """Sampled runtime cross-check of the JVM extractor against the
    Python parser spec: a deterministic xxhash64(url) % mod == 0 sample
    runs BOTH paths. Raises on any mismatch (naming up to 5 urls);
    returns the number of sampled documents checked.

    Why: the JVM chain equals the parser only on the corpus HTML contract
    (no bare '&nbsp;'-class named refs, no '>' inside attribute values,
    valid UTF-8). On a real crawl a contract violation would silently
    shift every downstream span offset — this check makes it fail loudly
    for ~1/mod of the scan cost. One job: each partition emits one
    summary row (sampled, mismatched, up to 5 urls) that the driver sums.
    ``pipeline.build_mentions`` runs it in spans mode, and in e2e mode
    the same check inside the mentions scan (:func:`sampled_html_col`);
    golden pytest covers the full fixture corpus.
    """
    both = documents.where(_sampled(mod)).select(
        "url", "html", extracted_text_col("html").alias("jvm_text"))

    def check(batches):
        n, bad = 0, []
        for pdf in batches:
            n += len(pdf)
            bad += [u for u, h, j in zip(pdf["url"], pdf["html"],
                                         pdf["jvm_text"])
                    if extract_text(h) != j]
        yield pd.DataFrame({"n": [n], "n_bad": [len(bad)],
                            "bad": [bad[:5]]})

    rows = both.mapInPandas(
        check, "n long, n_bad long, bad array<string>").collect()
    if sum(r["n_bad"] for r in rows):
        raise extraction_contract_error(
            [u for r in rows for u in r["bad"]][:5])
    return sum(r["n"] for r in rows)


def with_extracted_text(documents: DataFrame,
                        out_col: str = "extracted") -> DataFrame:
    """documents(url, warc_ts, html, text, lang) -> + extracted STRING,
    by the codegen regexp chain (:func:`extracted_text_col`)."""
    return documents.withColumn(out_col, extracted_text_col("html"))
