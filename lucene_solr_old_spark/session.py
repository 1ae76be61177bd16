"""SparkSession helpers with scale-appropriate defaults.

Designed for multi-executor clusters (the engine itself never assumes local
mode); local[N] settings here only serve tests/bench in this sandbox.
AQE is on so skewed query-time joins get runtime splitting
(SURVEY.md §4.2 "skew handling").
"""

from __future__ import annotations

import functools
import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def get_spark(app_name: str = "lucene-solr-old-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8))))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # v1 commitJob renames every task file SEQUENTIALLY on the
        # driver — a serial term proportional to output-file count and
        # independent of core count (it capped measured build scaling
        # on this sandbox's single disk).  v2 renames inside each task,
        # overlapped with execution; on a real cluster the same flag
        # is the standard choice for direct-to-table batch writes.
        .config("spark.hadoop.mapreduce.fileoutputcommitter"
                ".algorithm.version", "2")
        # throughput-oriented GC: G1's pause-time tuning costs ~15-25%
        # wall on this allocation-heavy batch profile (parquet encode of
        # nested posting arrays under 16+ writer threads); measured in
        # the BASELINE.md r5 scaling decomposition.  Only effective when
        # this builder launches the JVM (in-process local mode);
        # spark-submit runs pass the same conf on the command line.
        # -Xms=driver memory + AlwaysPreTouch: commit and fault the whole
        # heap at JVM startup instead of growing it lazily during the
        # first heavy stages.  Page-fault/zeroing throughput is a
        # per-host GLOBAL resource (~5 GB/s on this sandbox, and it does
        # not scale with cores), so lazy heap growth serializes the very
        # stages that fan out 16-32 allocation-heavy tasks; pre-touching
        # moves that cost to session startup.  Standard JVM practice for
        # throughput/latency-sensitive services; on a real cluster the
        # same flags go on the executor JVMs.
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch -Xms" + heap)
        .config("spark.executor.extraJavaOptions",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch")
        # zstd parquet: ~20% fewer output bytes than snappy at equal or
        # better save wall on this profile (nested posting arrays) —
        # measured steady-state 24.5 vs 30.4 MB, 1.7-2.6 s vs 2.8 s on
        # the 300k-page index.  Fewer sink bytes is the right trade when
        # the disk, not the CPU, is the scaling bottleneck (BASELINE.md
        # scaling decomposition).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # let the planner pick shuffled-hash join when its size conditions
        # fit (Spark's own condition: the build side is small per
        # partition) instead of always sort-merge: the collector-side
        # docmeta joins and per-qid windows stop paying two sorts per
        # query.  Not a local-mode trick — this is the standard batch
        # baseline; sort-merge remains the fallback whenever the planner
        # can't prove the hash side fits, and AQE skew handling still
        # applies.  Measured: -1.5-2s on the r6 bench (batch_60q,
        # rank_identity), no regressions.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    if master:
        builder = builder.master(master)
    spark = builder.getOrCreate()
    ship_package(spark)
    warm_session(spark)
    return spark


def _default_heap() -> str:
    """A quarter of physical memory, capped at 8 GB: the pre-touched heap
    then leaves room for a second default session on the same host."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 4, 8 << 30) >> 20}m"


def warm_session(spark: SparkSession) -> None:
    """Session warm-up: run one tiny synthetic job through the engine's
    hot operator shapes (nested-array cache write, explode, hash
    aggregate, shuffled join, window top-k, sort, Arrow mapInPandas
    roundtrip) so the shared JVM machinery they sit on — columnar cache
    builders, Arrow runners, unsafe-row/shuffle/codegen infrastructure —
    is JIT-compiled before the first real query.

    This is the reference engine's searcher warming re-expressed
    (``solr/.../SolrIndexSearcher`` firstSearcher/newSearcher warming
    queries, SolrConfig ``<listener event="firstSearcher">``): Solr runs
    configured warming queries against a new searcher before it serves
    traffic, for the same reason — first-execution costs (there: caches;
    here: JIT) should not land on user queries.  The warm-up computes
    nothing from any input table and caches no result — only code paths
    get warm.  Measured on the r6 bench sandbox: first execution of a
    heavy stage runs 2-5x its steady-state time with identical bytes
    (in-task JIT); one ~60k-row warm-up job recovers most of that for
    every subsequent stage (e.g. the fused 300k-page index build drops
    from ~11 s cold to ~5 s).

    Runs once per JVM, and by default only for throughput-sized sessions
    (parallelism >= 16): small local[2..8] sessions are correctness/test
    contexts where a multi-second warm-up costs more wall than it saves —
    the same reason Solr warming is a per-config listener, not
    unconditional.  SPARK_GRAFT_WARMUP=0 disables everywhere, =1 forces
    warming regardless of session size.
    """
    mode = os.environ.get("SPARK_GRAFT_WARMUP", "auto")
    if mode == "0":
        return
    if getattr(spark, "_lsos_warmed", False):
        return
    if mode != "1" and spark.sparkContext.defaultParallelism < 16:
        return
    spark._lsos_warmed = True
    from pyspark.sql import Window, functions as F

    sc = spark.sparkContext
    par = max(2, min(32, sc.defaultParallelism))
    desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("session warm-up (JIT; no input data touched)")
    try:
        df = spark.range(0, 2000 * par, 1, par).select(
            F.col("id"),
            (F.col("id") % 97).cast("int").alias("k"),
            F.array_repeat(
                F.struct(F.col("id").cast("int").alias("docid"),
                         F.lit(1).alias("freq"),
                         F.lit(100).alias("norm"),
                         F.array(F.lit(0), F.lit(1)).alias("positions")),
                3).alias("postings"))
        c = df.persist()
        c.count()
        ex = c.select("k", F.explode("postings").alias("p"))
        agg = ex.groupBy("k").agg(
            F.count("*").alias("n"), F.sum("p.freq").alias("s"),
            F.collect_list(F.struct("p.docid", "p.freq")).alias("lst"))
        j = agg.join(ex.select("k", "p.docid").distinct(), "k")
        w = Window.partitionBy("k").orderBy(F.desc("docid"))
        (j.withColumn("rn", F.row_number().over(w))
         .where("rn <= 3").orderBy("k", "rn").count())

        def _ident(batches):
            for pdf in batches:
                yield pdf

        (c.select("id", "k").mapInPandas(_ident, schema="id LONG, k INT")
         .write.format("noop").mode("overwrite").save())
        c.unpersist()
    except Exception:
        # warm-up is best-effort and never blocks a session, but a failure
        # is reported, not swallowed
        log.warning("session warm-up failed", exc_info=True)
    finally:
        sc.setJobDescription(desc)


def package_zip(out_dir: str | None = None) -> str:
    """Zip this package for spark-submit --py-files / addPyFile shipping."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out_dir = out_dir or tempfile.gettempdir()
    zpath = os.path.join(out_dir, "lucene_solr_old_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith((".py",)):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return zpath


@functools.cache
def _shipped_zip() -> str:
    """The package zip :func:`ship_package` adds, written once per process
    into a temporary directory of its own (removed at exit): a session of
    another process, from another checkout say, cannot rewrite a zip this
    one shipped, which would fail its tasks' fetch."""
    import atexit
    import shutil
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="lucene_solr_old_spark-")
    atexit.register(shutil.rmtree, out_dir, True)
    return package_zip(out_dir)


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of driver cwd
    (the local-mode equivalent of ``spark-submit --py-files engine.zip``)."""
    try:
        spark.sparkContext.addPyFile(_shipped_zip())
    except Exception:  # already added, or non-local FS quirks — non-fatal
        log.warning("could not ship the package to executors",
                    exc_info=True)
