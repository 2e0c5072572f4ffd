"""spark-submit job entry: checkpointed ER pipeline over a corpus dir.

Usage (via tools/submit.sh):
    spark-submit --py-files refined_spark.zip tools/run_job.py \
        <corpus_dir> <run_dir> [--mode=e2e] [--backward-coref] \
        [--typing-mode=et]

Cancellation (the reference's cancel-endpoint analog,
api/app/endpoints/refined_api.py:192-206): from any shell,

    python tools/run_job.py cancel <run_dir>

drops the durable sentinel; the running job stops at the next stage
boundary, marks the in-flight stage ``cancelled`` in its manifest, and
exits with a ``status: cancelled`` JSON line (exit code 3). A later
resubmission clears the sentinel and resumes from the completed stages.

The corpus dir must contain the input_hint-shaped ``documents.parquet``
plus the dimension tables (pem/entity/entity_emb/topic_class/ed_weights);
``run_dir`` receives stage checkpoints + manifests and the final
``clusters`` table. The ``mentions`` stage runs the sampled
extraction-contract guard over the corpus (1/64 of the documents, see
``refined_spark.checkpoint.run_pipeline_checkpointed``): a corpus that
violates the extraction HTML contract fails there, loudly, instead of
silently shifting span offsets downstream.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession


def main(corpus_dir: str, run_dir: str, mode: str = "spans",
         backward_coref: bool = False, typing_mode: str = "prior",
         spark: SparkSession | None = None) -> dict:
    """Run (or resume) the job and print its one-line JSON summary, which
    it also returns. A ``spark`` session passed in stays the caller's;
    without one the job makes its own and stops it at the end."""
    own_session = spark is None
    if own_session:
        spark = SparkSession.builder.appName("refined_spark_job").getOrCreate()
    from refined_spark.checkpoint import (JobCancelledError,
                                          run_pipeline_checkpointed)
    from refined_spark.footers import footer_row_counts

    t0 = time.time()
    try:
        res = run_pipeline_checkpointed(spark, corpus_dir, run_dir,
                                        mode=mode,
                                        backward_coref=backward_coref,
                                        typing_mode=typing_mode)
    except JobCancelledError as e:
        print(json.dumps(dict(status="cancelled", detail=str(e),
                              wall_sec=round(time.time() - t0, 2))))
        if own_session:
            spark.stop()
        raise SystemExit(3) from e
    n_docs = sum(n for _, n in footer_row_counts(
        f"{corpus_dir}/documents.parquet"))
    n_clusters = res["clusters"].select("cluster_id").distinct().count()
    dt = time.time() - t0
    summary = dict(
        n_docs=n_docs,
        n_clusters=n_clusters,
        wall_sec=round(dt, 2),
        docs_per_sec=round(n_docs / dt, 1),
        stages_run=res["runner"].stages_run,
        stages_resumed=res["runner"].stages_resumed,
    )
    print(json.dumps(summary))
    if own_session:
        spark.stop()
    return summary


if __name__ == "__main__":
    if sys.argv[1] == "cancel":
        # the cancel CLI runs from a plain shell (no --py-files zip);
        # resolve the package from the repo checkout
        sys.path.insert(0, os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))))
        from refined_spark.checkpoint import cancel_run

        cancel_run(sys.argv[2])
        print(json.dumps(dict(status="cancel_requested",
                              run_dir=sys.argv[2])))
    else:
        # protocol flags (all fold into the checkpoint fingerprint, so a
        # run_dir submitted under one protocol recomputes under another):
        #   --mode=e2e            dictionary mention detection (default
        #                         spans: the corpus's gold spans)
        #   --backward-coref      2-pass person coref
        #   --typing-mode=et      real F4 entity-typing features in ED
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        flags = [a for a in sys.argv[1:] if a.startswith("--")]
        opts = dict(mode="spans", typing_mode="prior")
        for f in flags:
            if f.startswith(("--mode=", "--typing-mode=")):
                k, v = f[2:].split("=", 1)
                opts[k.replace("-", "_")] = v
            elif f != "--backward-coref":
                raise SystemExit(f"unknown flag {f}")
        main(args[0], args[1],
             backward_coref="--backward-coref" in flags, **opts)
