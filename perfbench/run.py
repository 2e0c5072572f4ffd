"""Benchmark of the refined_spark ER engine through its public functions.

    python3 perfbench/run.py --cores 4 --workload corpus_link --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout. Each run is one fresh process with its
own Spark session at a fixed ``local[N]``. It builds (or reuses) the
seeded corpus for (workload, seed), then:

1. starts the session;
2. runs the workload's full-size warm-up cold and discards its time: a
   ``corpus_link`` pass, or for ``ckpt_resume`` the production
   checkpointed job into a fresh run_dir;
3. sets up the per-corpus resources (registered tables + a freshly
   written match dictionary) several times;
4. times passes of the workload for ``--seconds`` seconds.

A ``corpus_link`` pass is ``run_pipeline(mode="e2e")``. A ``ckpt_resume``
pass resumes the warm-up's checkpointed job after a kill that landed in
``candidates``: every stage after ``mentions`` is deleted and recomputed
from the checkpointed mentions. Every output is
checked and a failed check counts as a failed operation. With
``--trace 1`` the run is traced instead (see layers.py): the event log is
on, one pass runs layer by layer behind barriers, and the per-layer
metrics are printed. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Host diagnostics go to
stderr and never adjust a metric. NOTES.md records why the workloads and
sizes are what they are, and the measured spread.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections.abc import Callable  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")   # corpus cache + per-run scratch

N_DOCS = {"corpus_link": 2_000, "ckpt_resume": 2_000}
CKPT_MODE = "spans"      # the checkpointed job tools/run_job.py ships
# the stages a kill in candidates leaves to the resume
RESUMED_STAGES = ["candidates", "links", "clusters"]
RESOURCE_BUILDS = 3     # setup repetitions; setup_s uses their median
ARCHIVE_DOCS = 100      # corpus size of the class-archive training passes
ARCHIVE_TIMEOUT_S = 300
F1_MIN = 0.99
LAYERS = ("session", "pipeline", "extract", "mentions", "candidates",
          "scoring", "clustering", "checkpoint")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(N_DOCS))
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4,
                   help="Spark runs at local[min(cores, nproc)]")
    p.add_argument("--make-archive", metavar="PATH",
                   help="only train the class archive into PATH")
    args = p.parse_args(argv)
    if not args.make_archive and None in (args.workload, args.seed,
                                          args.seconds):
        p.error("--workload, --seed and --seconds are required")
    return args


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


@contextlib.contextmanager
def single_instance(path: str):
    """Only one benchmark process measures at a time: two overlapping
    runs share the cores and roughly double each other's pass times. A
    second run waits, without a deadline, until the first one ends; the
    wait is outside every timed region."""
    with open(path, "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)


# -- host-drift record (diagnostics only) -----------------------------------

def cpu_steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def calibrate_cpu(spark) -> float:
    """A fixed pure-JVM, shuffle-free job (tools/control_worker.py's
    kernel): its time tracks how fast the host runs right now."""
    t0 = time.perf_counter()
    spark.range(1_000_000, numPartitions=8).selectExpr(
        "sum(cast(xxhash64(id, id + 1, id + 2) as decimal(38, 0)))").collect()
    return time.perf_counter() - t0


# -- output checks ----------------------------------------------------------

def cluster_digest(clusters) -> tuple[int, str]:
    """Materialize every column of ``clusters`` in one job; returns
    (rows, order-free digest)."""
    from pyspark.sql import functions as F

    r = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("url", "start", "cluster_id")
              .cast("decimal(38,0)")).alias("h")).collect()[0]
    return int(r["n"]), str(r["h"])


def pairwise_f1(clusters_pdf, oracle_pdf, pairs_pdf) -> float:
    """Pairwise F1 of the engine's clusters against the oracle clusters
    over the generator's gold pairs (same cluster = positive). A mention
    the engine did not output is in no pair's cluster."""
    ours = dict(zip(zip(clusters_pdf["url"], clusters_pdf["start"]),
                    clusters_pdf["cluster_id"]))
    ref = dict(zip(zip(oracle_pdf["url"], oracle_pdf["start"]),
                   oracle_pdf["cluster_id"]))
    tp = fp = fn = 0
    for ua, sa, ub, sb in zip(pairs_pdf["url_a"], pairs_pdf["start_a"],
                              pairs_pdf["url_b"], pairs_pdf["start_b"]):
        a, b = (ua, int(sa)), (ub, int(sb))
        pred = a in ours and b in ours and ours[a] == ours[b]
        want = ref[a] == ref[b]
        tp += pred and want
        fp += pred and not want
        fn += want and not pred
    return 2 * tp / max(2 * tp + fp + fn, 1)


class Checks:
    """Counts operations attempted and output checks failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED: {what}")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


# -- the workloads ------------------------------------------------------------

@dataclass
class Pass:
    """One timed pass: its wall time, its clusters digest, and how to
    check its outputs and release what it cached."""
    wall: float
    digest: tuple[int, str]
    check: Callable[[], None] = lambda: None
    release: Callable[[], None] = lambda: None


class Bench:
    """One workload over one corpus in one session."""

    def __init__(self, workload: str, spark, fixture_dir: str,
                 work: str) -> None:
        import pandas as pd

        self.workload = workload
        self.spark = spark
        self.fx = fixture_dir
        self.work = work
        self.n_docs = N_DOCS[workload]
        self.checks = Checks()
        self.gold = pd.read_parquet(
            os.path.join(fixture_dir, "gold_spans.parquet"))
        self.oracle = pd.read_parquet(
            os.path.join(fixture_dir, "expected_clusters.parquet"))
        self.pairs = pd.read_parquet(
            os.path.join(fixture_dir, "gold_pairs.parquet"))
        self._dirs = 0
        self.dict_dir = self._fresh_dir("dict")
        self.run_dir = ""               # the warm-up's checkpointed job

    def _fresh_dir(self, kind: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{kind}-{self._dirs}")

    def build_resources(self) -> float:
        """Register the tables and write a fresh match dictionary, which
        the following passes use."""
        from refined_spark.pipeline import load_tables, write_match_dictionary

        t0 = time.perf_counter()
        t = load_tables(self.spark, self.fx)
        path = self._fresh_dir("dict")
        write_match_dictionary(t["pem"], t["entity"], path, reuse=False)
        self.dict_dir = path
        return time.perf_counter() - t0

    def run_pass(self) -> Pass:
        """corpus_link: ``run_pipeline(mode="e2e")`` until the clusters
        are materialized. ckpt_resume: the warm-up job's resume after a
        kill that landed in ``candidates``."""
        if self.workload == "corpus_link":
            return self._memory_pass()
        return self.ckpt_resume()

    def _memory_pass(self) -> Pass:
        from refined_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        res = run_pipeline(self.spark, self.fx, mode="e2e",
                           dict_dir=self.dict_dir)
        digest = cluster_digest(res["clusters"])
        return Pass(time.perf_counter() - t0, digest,
                    lambda: self.check_spans(res["mentions"]),
                    res["unpersist"])

    def check_spans(self, mentions) -> None:
        """The detected (url, start, length) set is the generator's
        dict_matchable gold set."""
        got = {(r[0], r[1], r[2]) for r in mentions.select(
            "url", "start", "length").collect()}
        g = self.gold[self.gold["dict_matchable"]]
        want = set(zip(g["url"], g["start"].astype(int),
                       g["length"].astype(int)))
        self.checks.record(got == want, f"{len(got ^ want)} detected spans "
                           "differ from the dict_matchable gold")

    def check_f1(self, clusters, what: str) -> None:
        f1 = pairwise_f1(clusters.toPandas(), self.oracle, self.pairs)
        log(f"{what}: pairwise F1 vs oracle {f1:.5f}")
        self.checks.record(f1 >= F1_MIN, f"{what}: F1 {f1} < {F1_MIN}")

    def ckpt_job(self) -> Pass:
        """The production checkpointed job, cold, into a fresh run_dir,
        which the resumes reuse."""
        from refined_spark.checkpoint import run_pipeline_checkpointed

        self.run_dir = self._fresh_dir("ckpt")
        t0 = time.perf_counter()
        res = run_pipeline_checkpointed(self.spark, self.fx, self.run_dir,
                                        mode=CKPT_MODE)
        digest = cluster_digest(res["clusters"])
        return Pass(time.perf_counter() - t0, digest, lambda: self.check_f1(
            res["clusters"], "checkpointed job"))

    def ckpt_resume(self) -> Pass:
        """Resume the checkpointed job after a kill that landed in
        ``candidates``: ``mentions`` is intact and every later stage is
        gone. The resume must rerun exactly those stages, so no resume is
        a fingerprint-matched no-op; its clusters must equal the cold
        job's (checked as every pass's)."""
        from refined_spark.checkpoint import run_pipeline_checkpointed

        for stage in RESUMED_STAGES:
            shutil.rmtree(os.path.join(self.run_dir, stage))
        t0 = time.perf_counter()
        res = run_pipeline_checkpointed(self.spark, self.fx, self.run_dir,
                                        mode=CKPT_MODE)
        digest = cluster_digest(res["clusters"])
        wall = time.perf_counter() - t0
        runner = res["runner"]
        self.checks.record(
            runner.stages_resumed == ["mentions"]
            and runner.stages_run == RESUMED_STAGES,
            f"resume ran {runner.stages_run}, resumed "
            f"{runner.stages_resumed}")
        return Pass(wall, digest)


def warm_up(b: Bench) -> Pass:
    """The discarded full-size cold run: a corpus_link pass, or
    ckpt_resume's cold checkpointed job, whose run_dir every resume
    reuses. Its outputs are fully checked and its clusters digest is the
    reference for every later pass."""
    p = b.ckpt_job() if b.workload == "ckpt_resume" else b.run_pass()
    p.check()
    p.release()
    log(f"warm-up {p.wall:.2f}s")
    return p


def timed_passes(b: Bench, seconds: float, digest0) -> list[float]:
    """Passes until ``seconds`` of pass time are spent (at least one);
    each pass's clusters must equal the warm-up pass's."""
    walls: list[float] = []
    while not walls or sum(walls) < seconds:
        p = b.run_pass()
        p.release()
        walls.append(p.wall)
        b.checks.record(p.digest == digest0,
                        f"pass clusters {p.digest} != warm-up {digest0}")
    log(f"timed passes {[round(w, 2) for w in walls]}")
    return walls


def measure(args, b: Bench) -> dict:
    """The untraced protocol; returns the end-to-end metrics. The first
    resource set-up comes before the warm-up, which uses its dictionary;
    the others follow the warm-up."""
    builds = [b.build_resources()]
    warm = warm_up(b)
    builds += [b.build_resources() for _ in range(RESOURCE_BUILDS - 1)]
    log(f"setup: resources {[round(x, 2) for x in builds]}")
    walls = timed_passes(b, args.seconds, warm.digest)
    return {
        "docs_per_s": (b.n_docs / statistics.median(walls), "1/s"),
        "setup_s": (statistics.median(builds), "s"),
    }


def traced_pass(b: Bench, tracer) -> tuple[int, str]:
    """The workload's stage composition called layer by layer, each call
    followed by a persist+count barrier inside its span, so a layer's
    span holds only its own work: ``run_pipeline(mode="e2e")``'s for
    corpus_link, ``run_pipeline_checkpointed(mode="spans")``'s (no
    parquet) for ckpt_resume. Returns the clusters digest."""
    from pyspark.sql import functions as F

    from refined_spark.operators.candidates import (
        mention_candidate_arrays, pair_candidate_arrays, pem_surface_arrays)
    from refined_spark.operators.clustering import cluster_mentions
    from refined_spark.operators.extract import (extracted_text_col,
                                                 with_extracted_text)
    from refined_spark.operators.mentions import (detect_mention_rows,
                                                  mentions_from_spans)
    from refined_spark.operators.scoring import (
        feature_map_by_ctx, links_from_logits, observed_pairs_from_mentions,
        with_candidate_logits)
    from refined_spark.pipeline import load_tables, load_weights

    spark = b.spark
    t = load_tables(spark, b.fx)
    e2e = b.workload == "corpus_link"
    held = []

    def barrier(df, span):
        df = df.persist()
        held.append(df)
        span.rows = df.count()
        return df

    with tracer.span("extract") as s:
        if e2e:
            docs = t["documents"].select(
                "url", extracted_text_col("html").alias("text"))
        else:
            docs = with_extracted_text(t["documents"]).select(
                "url", F.col("extracted").alias("text"))
        docs = barrier(docs, s)
    with tracer.span("mentions") as s:
        if e2e:
            m = detect_mention_rows(spark, docs, dict_path=b.dict_dir)
        else:
            m = mentions_from_spans(docs, t["gold_spans"])
        mentions = barrier(m, s)
    with tracer.span("candidates") as s:
        pem_arrays = pem_surface_arrays(t["pem"], t["entity"])
        cand_arr = barrier(mention_candidate_arrays(mentions, pem_arrays), s)
    with tracer.span("scoring") as s:
        weights = load_weights(t["ed_weights"])
        dims = (t["entity"], t["entity_emb"], t["topic_class"], weights)
        if e2e:
            surf_ctx = barrier(
                mentions.select("norm_sf", "ctx_word").distinct(), s)
            fmap = feature_map_by_ctx(
                observed_pairs_from_mentions(mentions, pem_arrays,
                                             surf_ctx=surf_ctx),
                *dims[:3])
            pair_logits = with_candidate_logits(
                pair_candidate_arrays(surf_ctx, pem_arrays).repartition(
                    spark.sparkContext.defaultParallelism),
                *dims, feature_map=fmap)
            logits = with_candidate_logits(cand_arr, *dims, feature_map=fmap,
                                           pair_logits=pair_logits)
        else:
            logits = with_candidate_logits(cand_arr, *dims)
        links = barrier(links_from_logits(logits), s)
    with tracer.span("clustering") as s:
        rows, digest = cluster_digest(cluster_mentions(links))
        s.rows = rows
    for df in held:
        df.unpersist()
    return rows, digest


def measure_traced(args, b: Bench, tracer, session_s: float) -> dict:
    """The traced protocol: the same warm-up (the ``session`` span), one
    traced pass, then one untraced pass of the workload (the ``pipeline``
    span). For ckpt_resume that pass is the resume, the only workload
    run with the checkpoint layer on its path, so it is the
    ``checkpoint`` span as well.

    The tracing overhead is the traced pass minus an untraced run of the
    same plan. For corpus_link that is the untraced pass, run_pipeline's
    fused plan. For ckpt_resume it is the traced pass's own composition
    run once more outside every span: the resume reads its mentions back
    from parquet and writes parquet, so it is not the same plan. The
    untraced runs come second, so the overhead also holds whatever
    warm-up the traced pass still paid."""
    from layers import Tracer

    ckpt = b.workload == "ckpt_resume"
    b.build_resources()             # as untraced; setup_s is not reported
    with tracer.span("session") as s:
        warm = warm_up(b)
        s.rows = warm.digest[0]
    ckpt_bytes = dir_bytes(b.run_dir) if ckpt else 0
    t0 = time.perf_counter()
    digest = traced_pass(b, tracer)
    traced_s = time.perf_counter() - t0
    b.checks.record(digest == warm.digest, f"traced pass clusters {digest} "
                                           f"!= warm-up {warm.digest}")
    with tracer.span("pipeline") as s, (
            tracer.span("checkpoint") if ckpt
            else contextlib.nullcontext()) as c:
        p = b.run_pass()
        s.rows = p.digest[0]
        if c:
            c.rows = p.digest[0]
    p.release()
    b.checks.record(p.digest == warm.digest, f"pass clusters {p.digest} "
                                             f"!= warm-up {warm.digest}")
    base_s = p.wall
    if ckpt:
        t0 = time.perf_counter()
        digest = traced_pass(b, Tracer())       # its spans are discarded
        base_s = time.perf_counter() - t0
        b.checks.record(digest == warm.digest, f"untraced composition "
                        f"clusters {digest} != warm-up {warm.digest}")
    log(f"untraced pass {p.wall:.2f}s, traced pass {traced_s:.2f}s, "
        f"untraced same plan {base_s:.2f}s")
    return dict(session_start_s=session_s, cold_pass_s=warm.wall,
                trace_overhead_s=traced_s - base_s,
                resume_s=p.wall if ckpt else 0.0,
                ckpt_write_bytes=ckpt_bytes)


def per_layer_metrics(tracer, evdir: str, cores: int, extra: dict,
                      jvm_peak_mb: float) -> dict:
    import layers

    jobs, tasks = layers.read_event_log(evdir)
    out: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        # a layer that is not on the workload's path (checkpoint on
        # corpus_link) has no span and reads 0 throughout
        span = tracer.get(layer)
        got = (layers.layer_metrics(span, jobs, tasks, cores) if span
               else dict.fromkeys(layers.UNITS, 0.0))
        for k, v in got.items():
            out[f"{layer}.{k}"] = (v, layers.UNITS[k])
    mt = layers.span_tasks(tracer.get("mentions"), jobs, tasks)
    for k, v in layers.py_metrics(mt).items():
        out[f"mentions.{k}"] = (v, "MB" if k.endswith("_mb") else "s")
    ck = tracer.get("checkpoint")
    out["checkpoint.write_mb"] = (extra["ckpt_write_bytes"] / 1e6, "MB")
    out["checkpoint.resume_s"] = (extra["resume_s"], "s")
    out["checkpoint.lineage_s"] = (
        layers.lineage_seconds(ck, jobs) if ck else 0.0, "s")
    pl = tracer.get("pipeline")
    gap = (pl.end_ms - pl.start_ms - layers.busy_ms(
        layers.span_tasks(pl, jobs, tasks), pl.start_ms, pl.end_ms)) / 1000
    out["pipeline.driver_gap_s"] = (gap, "s")
    out["pipeline.trace_overhead_s"] = (extra["trace_overhead_s"], "s")
    out["session.start_s"] = (extra["session_start_s"], "s")
    out["session.cold_pass_s"] = (extra["cold_pass_s"], "s")
    out["session.jvm_peak_rss_mb"] = (jvm_peak_mb, "MB")
    return out


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) for every process visible in /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                table[int(d)] = (int(fields[1]), fields[0])
            except (OSError, IndexError, ValueError):
                continue
    return table


def _descendants(pid: int) -> set[int]:
    table = _proc_table()
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, (pp, _s) in table.items() if pp in frontier}
        out |= frontier
    return out


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM this process launched and wait until
    it and its Python worker processes have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    workers = _descendants(gw.proc.pid) if gw is not None else set()
    try:
        spark.stop()
    except Exception as e:      # noqa: BLE001 - a SIGTERM can cut py4j
        log(f"spark.stop failed ({e!r}); ending the JVM anyway")
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()       # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        table = _proc_table()
        workers = {w for w in workers
                   if w in table and table[w][1] != "Z"}
        time.sleep(0.1)


def session_conf(work: str) -> dict:
    """Spark's local dirs and warehouse live in the run's own dir."""
    return {"spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}


def start_session(cores: int, conf: dict, jvm_flag: str = ""):
    from refined_spark.session import get_spark

    if jvm_flag:
        conf = {**conf, "spark.driver.extraJavaOptions": jvm_flag}
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def class_archive(cores: int) -> str | None:
    """The JVM class-data-sharing archive of the classes the workloads
    load, made once per checkout. With it, a session starts about 5 s
    sooner. Only the session start and the discarded warm-up load
    classes, so no timed region changes. Returns None if the JVM cannot
    make one; the runs then go without.

    The training runs in a child process: the engine's UDF objects keep
    a handle on the first JVM of a process, so a process cannot start a
    second one."""
    path = os.path.join(STATE, "classes.jsa")
    if os.path.exists(path) or os.path.exists(path + ".failed"):
        return path if os.path.exists(path) else None
    log("training the class archive (once per checkout)")
    tmp = f"{path}.tmp{os.getpid()}"
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--cores", str(cores),
         "--make-archive", tmp], start_new_session=True)
    try:
        child.wait(timeout=ARCHIVE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("class archive training timed out")
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        # the JVM and the Python workers are in the child's process group
        with contextlib.suppress(ProcessLookupError):
            os.killpg(child.pid, signal.SIGKILL)
    if child.returncode == 0 and os.path.exists(tmp):
        os.replace(tmp, path)
        return path
    with contextlib.suppress(FileNotFoundError):
        os.remove(tmp)
    open(path + ".failed", "w").close()
    return None


def make_archive(path: str, cores: int, conf: dict) -> int:
    """Run each workload's warm-up cold on a small corpus in a session
    that writes the class archive to ``path`` when its JVM exits, so the
    archive holds both workloads' classes whichever runs first."""
    import corpus

    spark = start_session(cores, conf,
                          jvm_flag=f"-XX:ArchiveClassesAtExit={path}")
    try:
        for workload in sorted(N_DOCS):
            fx = corpus.ensure_corpus(os.path.join(STATE, "corpus"),
                                      workload, 0, ARCHIVE_DOCS)
            warm_up(Bench(workload, spark, fx, conf["spark.local.dir"]))
    finally:
        stop_session(spark)
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an exception, so every ``finally`` stops the
    # JVM and the archive child this run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "refined_spark")):
        print(f"perfbench: no refined_spark package under {ROOT}; run "
              "from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    cores = max(1, min(args.cores, os.cpu_count() or 1))
    # an empty conf dir: a class archive needs a classpath of jars only
    os.environ["SPARK_CONF_DIR"] = os.path.join(STATE, "conf")
    # temp files stay in the checkout, for Python and for every JVM that
    # spark-submit starts; no JVM writes perf data under /tmp
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    tool_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if java_opts not in tool_opts:      # the archive child inherits them
        os.environ["JAVA_TOOL_OPTIONS"] = f"{tool_opts} {java_opts}".strip()
    for d in (os.environ["SPARK_CONF_DIR"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    if args.make_archive:           # a child of a run that holds the lock
        work = os.path.join(STATE, f"train-{os.getpid()}")
        try:
            return make_archive(args.make_archive, cores, session_conf(work))
        finally:
            shutil.rmtree(work, ignore_errors=True)

    with single_instance(os.path.join(STATE, "lock")):
        import corpus
        from layers import Tracer

        t0 = time.perf_counter()
        fx = corpus.ensure_corpus(os.path.join(STATE, "corpus"),
                                  args.workload, args.seed,
                                  N_DOCS[args.workload])
        gen_s = time.perf_counter() - t0
        log(f"corpus {os.path.basename(fx)} ready in {gen_s:.1f}s")
        archive = class_archive(cores)
        work = os.path.join(STATE, f"run-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf = session_conf(work)
        jvm_flag = f"-XX:SharedArchiveFile={archive}" if archive else ""
        if args.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": evdir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        steal0 = cpu_steal_ticks()
        tracer = Tracer()
        spark = None
        try:
            t_session = time.perf_counter()
            spark = start_session(cores, conf, jvm_flag)
            session_s = time.perf_counter() - t_session
            log(f"session start {session_s:.2f}s")
            b = Bench(args.workload, spark, fx, work)
            if args.trace:
                extra = measure_traced(args, b, tracer, session_s)
                peak_mb = jvm_peak_rss_mb(spark)
            else:
                metrics = measure(args, b)
            calib = calibrate_cpu(spark)
            stop_session(spark)
            spark = None
            if args.trace:
                metrics = per_layer_metrics(tracer, evdir, cores, extra,
                                            peak_mb)
                tracer.write(os.path.join(
                    STATE, f"spans-{args.workload}-s{args.seed}.json"))
        finally:
            if spark is not None:
                stop_session(spark)
            shutil.rmtree(work, ignore_errors=True)
        log(json.dumps(dict(host_cpu_calibration_s=round(calib, 3),
                            cpu_steal_ticks=cpu_steal_ticks() - steal0,
                            local_cores=cores)))
    print(json.dumps(dict(
        correct=b.checks.failed == 0, attempted=b.checks.attempted,
        failed=b.checks.failed,
        metrics={k: dict(value=v, unit=u) for k, (v, u) in metrics.items()})))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
