"""A10 — resumable batch execution: per-stage checkpoint manifests with
per-partition lineage + metrics.

The reference resumes its 15-step offline DAG via file-existence guards
(/root/reference/src/refined/offline_data_generation/preprocess_all.py:165-251)
and tracks job progress with in-memory counters
(api/app/services/job_service.py:17-240). The north_rule upgrades that to:

- each pipeline stage materializes to parquet under ``<run_dir>/<stage>/``
- a ``manifest.json`` records: status, row count, wall time, input
  fingerprint, and PER-FILE row counts (lineage: each non-empty part
  file the writer tasks produced, with its rows and bytes). Rows and
  schemas come from the parquet footers on the driver, so neither the
  lineage nor the read-back of a stage runs a Spark job
- on resume, stages with a complete+matching manifest load from parquet
  (a part file the manifest lists but the run_dir lacks fails loudly);
  the first missing/dirty stage and everything after recompute.

The input fingerprint chains stage manifests (a stage's fingerprint
includes its upstream's), so editing an upstream invalidates downstream
automatically — file-grained resume upgraded to DAG-aware resume.

The run_dir is read through ``os.path`` (manifests, the cancel sentinel,
footers), so on a cluster it is a shared mount; stage writes are atomic
via the parquet committer, and the manifest is written last.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .footers import footer_row_counts, read_parquet

MANIFEST = "manifest.json"
CANCEL_SENTINEL = "CANCEL"


class JobCancelledError(RuntimeError):
    """Raised when a run is cancelled mid-pipeline (the engine analog of
    the reference's cancel endpoint + per-row cancel checks,
    api/app/endpoints/refined_api.py:192-206,
    api/app/services/job_service.py:114-117)."""

# Bumped whenever a stage's OUTPUT SCHEMA changes incompatibly; folded
# into the fingerprint chain so a run_dir checkpointed by an older
# pipeline recomputes instead of resuming with a stale layout (v2: the
# candidates stage became the array-per-mention frame).
PIPELINE_SCHEMA_VERSION = 3  # v3: candidate frame carries norm_sf/has_coref


class CheckpointRunner:
    def __init__(self, spark: SparkSession, run_dir: str,
                 run_inputs: dict | None = None) -> None:
        self.spark = spark
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self._chain = hashlib.sha256(
            json.dumps({**(run_inputs or {}),
                        "_schema_version": PIPELINE_SCHEMA_VERSION},
                       sort_keys=True).encode()
        ).hexdigest()
        self.stages_run: list[str] = []
        self.stages_resumed: list[str] = []
        # one job group per run: every stage's Spark jobs are tagged with
        # it, so cancel() can interrupt RUNNING tasks (not just the next
        # stage boundary). A fresh runner clears a stale sentinel — a new
        # submission is an explicit intent to run.
        self.job_group = "refined_spark:" + hashlib.sha256(
            os.path.abspath(run_dir).encode()).hexdigest()[:12]
        sentinel = os.path.join(run_dir, CANCEL_SENTINEL)
        if os.path.exists(sentinel):
            os.remove(sentinel)

    # -- cancellation ------------------------------------------------------

    def _sentinel_path(self) -> str:
        return os.path.join(self.run_dir, CANCEL_SENTINEL)

    def cancel(self) -> None:
        """Cancel this run: durable sentinel (observed at the next stage
        boundary, and by cancel_run() from ANY process sharing the
        run_dir) + job-group interruption (kills running tasks now).
        Safe to call from another thread — the reference's cancel
        endpoint shape."""
        cancel_run(self.run_dir)
        self.spark.sparkContext.cancelJobGroup(self.job_group)

    def cancelled(self) -> bool:
        return os.path.exists(self._sentinel_path())

    def _check_cancelled(self, stage: str) -> None:
        if self.cancelled():
            raise JobCancelledError(
                f"run {self.run_dir} cancelled before stage {stage!r}")

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), MANIFEST)

    def _load_manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                return json.load(f)
        except Exception:  # noqa: BLE001
            return None

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Run or resume one stage; returns the materialized DataFrame."""
        sdir = self._stage_dir(name)
        data_dir = os.path.join(sdir, "data")
        man = self._load_manifest(name)
        expected_fp = self._chain
        if (man is not None and man.get("status") == "ok"
                and man.get("input_fingerprint") == expected_fp):
            missing = [p["file"] for p in man.get("partitions", [])
                       if not os.path.exists(os.path.join(data_dir,
                                                          p["file"]))]
            if missing:
                raise FileNotFoundError(
                    f"stage {name!r} manifest lists part files missing "
                    f"from {data_dir}: {missing}")
            self._chain = man["output_fingerprint"]
            self.stages_resumed.append(name)
            return read_parquet(self.spark, data_dir)

        self._check_cancelled(name)
        t0 = time.time()
        sc = self.spark.sparkContext
        sc.setJobGroup(self.job_group, f"stage:{name}",
                       interruptOnCancel=True)
        try:
            df = build()
            df.write.mode("overwrite").parquet(data_dir)
        except Exception as e:  # noqa: BLE001 — classify cancel vs real
            if self.cancelled():
                self._write_manifest(name, dict(
                    stage=name, status="cancelled",
                    input_fingerprint=expected_fp,
                    wall_sec=round(time.time() - t0, 3)))
                raise JobCancelledError(
                    f"stage {name!r} interrupted by cancel") from e
            raise
        finally:
            sc.setJobGroup("", "")
        # NOTE: a cancel that lands after the write completes lets this
        # stage finish its manifest (the work is durable — resume keeps
        # it) and stops the run at the NEXT stage's entry check.
        out = read_parquet(self.spark, data_dir)
        # lineage = the WRITTEN FILES (one per writer task — the stable
        # writer-side layout) with their footer row counts, read on the
        # driver with no Spark job; zero-row files carry no lineage.
        # Reader splits (spark_partition_id() of the read-back) would
        # vary with maxPartitionBytes and say nothing about which task
        # produced what.
        parts = [(f, n) for f, n in footer_row_counts(data_dir) if n]
        n_rows = sum(n for _, n in parts)
        out_fp = hashlib.sha256(
            (expected_fp + name + str(n_rows)).encode()).hexdigest()
        self._write_manifest(name, dict(
            stage=name,
            status="ok",
            input_fingerprint=expected_fp,
            output_fingerprint=out_fp,
            rows=n_rows,
            wall_sec=round(time.time() - t0, 3),
            partitions=[dict(file=f, rows=n,
                             bytes=os.path.getsize(os.path.join(data_dir, f)))
                        for f, n in parts],
            schema=out.schema.simpleString(),
        ))
        self._chain = out_fp
        self.stages_run.append(name)
        return out

    def _write_manifest(self, name: str, manifest: dict) -> None:
        os.makedirs(self._stage_dir(name), exist_ok=True)
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(name))


def cancel_run(run_dir: str) -> None:
    """Durably request cancellation of the run using ``run_dir`` — from
    any process (the CLI analog of the reference's cancel endpoint). The
    running job observes it at the next stage boundary; in-process
    callers use CheckpointRunner.cancel(), which also interrupts running
    tasks via the job group."""
    os.makedirs(run_dir, exist_ok=True)
    with open(os.path.join(run_dir, CANCEL_SENTINEL), "w") as f:
        f.write(str(time.time()))


def run_pipeline_checkpointed(
    spark: SparkSession, fixture_dir: str, run_dir: str,
    mode: str = "spans",
    backward_coref: bool = False,
    typing_mode: str = "prior",
) -> dict:
    """The production entry point: same stages as run_pipeline, but each
    stage materialized + manifested, resumable mid-pipeline.

    ``backward_coref`` and ``typing_mode`` fold into the run
    fingerprint: a run_dir checkpointed under one coref/typing protocol
    recomputes (not resumes) the affected stages under the other."""
    from .operators.candidates import (
        mention_candidate_arrays,
        pem_surface_arrays,
    )
    from .operators.clustering import cluster_mentions
    from .operators.extract import extracted_text_col, with_extracted_text
    from .operators.mentions import detect_mention_rows, mentions_from_spans
    from .operators.scoring import links_from_logits, with_candidate_logits
    from .pipeline import (fixture_content_stamp, load_tables,
                           load_weights, write_match_dictionary)

    t = load_tables(spark, fixture_dir)
    # the fingerprint covers fixture CONTENT (generator stamps), not
    # just the path: regenerating fixtures in place must dirty every
    # stage, or a resume silently reuses parquet of deleted data — the
    # same hazard class _default_dict_dir guards (round-2 advisor
    # finding), now applied to the checkpoint chain itself
    fx_stamp = fixture_content_stamp(fixture_dir)
    runner = CheckpointRunner(
        spark, run_dir, run_inputs=dict(fixture_dir=fixture_dir, mode=mode,
                                        fixture_stamp=fx_stamp,
                                        backward_coref=backward_coref,
                                        typing_mode=typing_mode))

    def build_mentions():
        if mode == "spans":
            docs = with_extracted_text(t["documents"]).select(
                "url", F.col("extracted").alias("text"))
            return mentions_from_spans(docs, t["gold_spans"])
        docs = t["documents"].withColumn(
            "text", extracted_text_col("html"))
        # dictionary artifact lives in the run_dir (shared storage on a
        # cluster) and is loaded lazily by each worker — no driver
        # collect. The dir is keyed by the fixture CONTENT stamp so a
        # forced recompute against regenerated fixtures writes a fresh
        # dictionary instead of reusing the stale _SUCCESS-guarded one
        # (the stale-dict variant of the fingerprint hazard above).
        dict_path = write_match_dictionary(
            t["pem"], t["entity"],
            os.path.join(run_dir, f"match_dict-{fx_stamp[:12]}"))
        return detect_mention_rows(spark, docs, dict_path=dict_path)

    mentions = runner.stage("mentions", build_mentions)
    # checkpointed candidates = the ARRAY frame (one row per mention with
    # its merged candidate list) — parquet holds the nested type natively
    # and the links stage resumes from it without re-aggregating
    candidates = runner.stage(
        "candidates",
        lambda: mention_candidate_arrays(
            mentions, pem_surface_arrays(t["pem"], t["entity"]),
            backward=backward_coref))
    weights = load_weights(t["ed_weights"])

    def build_links():
        typing_frame = None
        if typing_mode == "et":
            from .operators.entity_typing import (class_names_sorted,
                                                  et_confidence_table)
            from .operators.wikidata import class_vocab_from_edges

            names = class_names_sorted(
                class_vocab_from_edges(t["class_edges"]))
            typing_frame = et_confidence_table(
                candidates.select("ctx_word"), names)
        elif typing_mode != "prior":
            raise ValueError(f"typing_mode must be prior|et, "
                             f"got {typing_mode!r}")
        return links_from_logits(
            with_candidate_logits(candidates, t["entity"],
                                  t["entity_emb"], t["topic_class"],
                                  weights, typing_frame=typing_frame))

    links = runner.stage("links", build_links)
    clusters = runner.stage("clusters", lambda: cluster_mentions(links))
    return dict(mentions=mentions, candidates=candidates, links=links,
                clusters=clusters, runner=runner, tables=t)
