"""Streaming entity linking — the flagship per-document pipeline
(extract → mention detect → candidates → score → link) run as a
Structured Streaming job over continuously-arriving documents.

Reference analog: the API's background job over a multipart-uploaded
corpus (/root/reference/api/app/endpoints/refined_api.py:55-167 +
app/services/job_service.py:90-117) — documents arrive over time and
results accumulate per batch. The reference drains its upload buffer
sequentially on one node; here the arriving files ARE a Spark file
stream and every micro-batch is a distributed job.

Why this composes soundly: every per-document link stage depends only
on STATIC resources (pem alias arrays, entity/embedding/class tables,
ED weights, the match dictionary artifact) plus the document row
itself. The only corpus-dependent intermediate — the broadcast
(ctx, qcode) feature map — is a deterministic pure function of its key
set (each row is computed from the static tables alone), so a
per-batch map restricted to the batch's pairs yields byte-identical
logits to the full-corpus map. Hence streamed links == batch links
regardless of how the corpus splits into micro-batches — which is the
oracle the tests and the ``stream_links`` entry gate on.

What does NOT stream: transitive clustering (A9) is a fixed point over
the whole link graph, not a per-row map — run it as a periodic batch
job over the accumulated link sink (the lambda shape the reference's
one-shot jobs sidestep entirely).

Scale notes (1000-executor / 100 TB framing):
- Static resources build ONCE per query lifetime, not per batch:
  ``pem_arrays`` is persisted before the stream starts and every
  micro-batch reuses the cached blocks (executor-side, no rebuild).
- Per batch, the plan is the batch pipeline's map-heavy core: html
  never leaves the scan stage, candidates attach via the broadcast
  alias join, scoring is codegen array math, the link projection is
  shuffle-free. Past the mentions (spans mode joins the gold spans on
  url), the only doc-scale shuffle is the one hash shuffle of the
  key-width mention rows on url for doc-local coref — bounded by batch
  size, not stream history.
- Each batch's documents pass the sampled extraction-contract guard
  (pipeline.build_mentions): a standalone job per batch in spans mode,
  fused into the MD scan in e2e mode.
- No unbounded state: linking is stateless per document, so there is
  no watermark and no state store growth; the sink is an append-only
  table.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..operators.candidates import (
    mention_candidate_arrays,
    pem_surface_arrays,
)
from ..pipeline import (EXTRACTION_GUARD_MOD, build_links, build_mentions,
                        build_resources)

LINK_COLS = ["url", "start", "mention_key", "pred_qcode", "confidence"]


class StreamingLinker:
    """Holds the once-built static resources and links one batch of
    documents at a time — usable directly inside ``foreachBatch`` or on
    plain batch DataFrames (the parity surface the tests exercise)."""

    def __init__(self, spark: SparkSession, fixture_dir: str,
                 mode: str = "spans", backward_coref: bool = False,
                 dict_dir: str | None = None, typing_mode: str = "prior"):
        self.spark = spark
        self.backward = backward_coref
        self.resources = build_resources(spark, fixture_dir, mode,
                                         typing_mode, dict_dir)
        t = self.resources.tables
        # static across every batch → persist + materialize now so
        # micro-batches hit cached blocks instead of rebuilding
        self.pem_arrays = pem_surface_arrays(t["pem"], t["entity"]).persist()
        self.pem_arrays.count()

    def link_batch(self, documents: DataFrame) -> DataFrame:
        """One micro-batch of input_hint-shaped documents → link rows.
        Pure function of (static resources, batch) — see module
        docstring for why this equals the batch pipeline's links. The
        batch's documents pass the sampled extraction guard
        (pipeline.build_mentions)."""
        mentions = build_mentions(self.spark, self.resources, documents,
                                  EXTRACTION_GUARD_MOD)
        cand_arr = mention_candidate_arrays(mentions, self.pem_arrays,
                                            backward=self.backward)
        return build_links(self.resources, cand_arr)[1].select(*LINK_COLS)

    def release(self) -> None:
        self.pem_arrays.unpersist()


def read_link_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """The accumulated link sink as one batch DataFrame. Batches land as
    ``batch-NNNNNNNN/`` subdirectories (see :func:`streaming_links`), so
    the read recurses past them without partition inference — the sink
    schema stays exactly ``LINK_COLS``."""
    return (spark.read.option("recursiveFileLookup", "true")
            .parquet(out_dir).select(*LINK_COLS))


def streaming_links(spark: SparkSession, fixture_dir: str,
                    documents_dir: str, mode: str = "spans",
                    max_files_per_trigger: int = 1,
                    out_dir: str | None = None,
                    checkpoint_dir: str | None = None,
                    backward_coref: bool = False,
                    typing_mode: str = "prior",
                    timeout: int = 300) -> DataFrame:
    """Run the linking pipeline as a finite file stream
    (Trigger.AvailableNow) over ``documents_dir`` and return the
    accumulated link sink as a batch DataFrame.

    ``max_files_per_trigger=1`` makes every input file its own
    micro-batch, so a K-file corpus genuinely exercises K incremental
    jobs (the tests split the corpus to force this). In production the
    same call without the trigger cap runs continuously over an
    arriving directory / object-store prefix.

    Exactly-once sink semantics: ``foreachBatch`` is at-least-once — a
    micro-batch whose parquet job commits but whose offset write does
    not is RE-RUN on restart, so a blind ``mode('append')`` would
    duplicate its rows. Each batch therefore overwrites its own
    ``batch-NNNNNNNN/`` subdirectory keyed on the replay-stable
    ``batch_id``; a replayed batch rewrites identical content instead of
    appending a second copy, and the sink read
    (:func:`read_link_sink`) recurses over the batch dirs.

    Restartability: the checkpoint location defaults to a STABLE path
    derived from (documents_dir, out_dir) — a crashed or re-invoked job
    over the same arriving directory resumes from its recorded offsets
    instead of re-linking every file into the sink. Pass
    ``checkpoint_dir`` explicitly to place it somewhere durable
    (production) or unique (forcing a from-scratch replay).
    """
    schema = spark.read.parquet(documents_dir).schema
    # default sink is STABLE (derived from documents_dir), matching the
    # stable default checkpoint below — a random mkdtemp here made the
    # docstring's default-call resume promise silently false (fresh
    # sink + fresh checkpoint on every invocation)
    out = out_dir or os.path.join(
        tempfile.gettempdir(),
        "rs_stream_links_sink_" + hashlib.sha256(
            os.path.abspath(documents_dir).encode()).hexdigest()[:16])
    os.makedirs(out, exist_ok=True)
    ckpt = checkpoint_dir or os.path.join(
        tempfile.gettempdir(),
        "rs_stream_links_ckpt_" + hashlib.sha256(
            f"{os.path.abspath(documents_dir)}|{os.path.abspath(out)}"
            .encode()).hexdigest()[:16])
    # a FRESH checkpoint must not adopt someone else's sink: batch ids
    # restart at 0, overwriting low batches but leaving any higher
    # stale batch-* dirs to be silently merged by read_link_sink.
    # Resuming (offsets present) keeps its own batches, by design.
    if not os.path.isdir(os.path.join(ckpt, "offsets")):
        stale = sorted(glob.glob(os.path.join(out, "batch-*")))
        if stale:
            raise ValueError(
                f"streaming_links: out_dir {out!r} already holds "
                f"{len(stale)} batch dir(s) but checkpoint {ckpt!r} is "
                "fresh — their batch ids would collide with the new "
                "stream's. Pass a clean out_dir, or the original "
                "checkpoint_dir to resume this sink.")
    linker = StreamingLinker(spark, fixture_dir, mode=mode,
                             backward_coref=backward_coref,
                             typing_mode=typing_mode)
    stream = (spark.readStream.schema(schema).format("parquet")
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .load(documents_dir))

    def _write_batch(df: DataFrame, batch_id: int) -> None:
        (linker.link_batch(df).write.mode("overwrite")
         .parquet(os.path.join(out, "batch-%08d" % batch_id)))

    try:
        q = (stream.writeStream
             .foreachBatch(_write_batch)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(
                f"link stream did not drain within {timeout}s — failing "
                "loudly rather than returning a partial sink")
    finally:
        linker.release()
    return read_link_sink(spark, out)


def periodic_clusters(spark: SparkSession, sink_dir: str,
                      pair_edges: DataFrame | None = None,
                      prev_components: DataFrame | None = None,
                      ) -> dict[str, DataFrame]:
    """The batch leg of continuous ER: read the accumulated streaming
    link sink and refresh the A9 transitive clusters. Runs on whatever
    cadence the deployment wants (the reference's one-shot jobs have no
    analog — this is the piece a continuous crawl needs). Returns
    ``{'clusters', 'components'}``; persist components and pass it back
    as ``prev_components`` next period so the closure is incremental
    over new pair edges instead of re-walking history
    (operators/clustering.cluster_refresh documents the identity)."""
    from ..operators.clustering import cluster_refresh

    return cluster_refresh(read_link_sink(spark, sink_dir),
                           pair_edges=pair_edges,
                           prev_components=prev_components)


def split_documents(spark: SparkSession, documents_path: str,
                    n_files: int, dest: str | None = None) -> str:
    """Rewrite a documents parquet as ``n_files`` part files so the
    file stream sees a multi-batch arrival (idempotent per dest)."""
    dest = dest or os.path.join(
        tempfile.gettempdir(),
        "rs_stream_docs_%s_%d" % (
            hashlib.sha256(os.path.abspath(documents_path).encode())
            .hexdigest()[:16], n_files))
    marker = os.path.join(dest, "_SUCCESS")
    if not os.path.exists(marker):
        (spark.read.parquet(documents_path)
         .repartition(n_files)
         .write.mode("overwrite").parquet(dest))
    return dest
