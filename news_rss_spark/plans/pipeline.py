"""The flagship batch job: the reference daemon's steady-state loop
(src/feeds/rss_feeds/mod.rs:71-155) as one declarative Spark plan.

    read documents (doc_id, spans)                 # S1: feed fetch -> pre-landed table scan
      -> with_bucket                               # stable logical partitioning
      -> [coalesce to the scan's bytes]            # clustered input: see _sized
      -> LEFT ANTI doc_id live sink ids            # D1/D2 cross-run, TTL on first_seen
      -> [hash-repartition by bucket]              # unclustered, under-split scan only
      -> mapInArrow extract + in-kernel dedup      # P1-P9 + L1-L3 + D1 within-run
      -> append + bucket, first_seen, run_id       # S4/S5 publish, flat parquet
      -> one groupBy(bucket) over the landed sink  # D3 ledger + damage and duplicate-id guards
         (its read-back coalesced to its bytes)

Cross-run dedup (D1) is the poller's rule (``operators.dedup``): documents
whose id is live in the sink never reach the kernel, and the sink is only
appended to, so a crash-resume, a re-run and a new input snapshot are one
operation.  The ledger gates no work; it records lineage and lets a run
notice a lost sink file.  All relational steps are stock
Catalyst-optimized DataFrame ops; the only Python is the Arrow-batched
kernel.  The sink is flat parquet with ``bucket`` an ordinary column,
written by ``operators.dedup.append_rows`` one file per write task; an
Iceberg sink would be a change to that write helper.

Stage sizing: every Python task pays a fixed worker set-up (about 0.25 s
measured on a 4-vCPU host), and a scan of small files gives one task per
file, so a stage fed by a file scan runs on ``max(defaultParallelism,
ceil(sizeInBytes / spark.sql.files.maxPartitionBytes))`` partitions: the
clustered kernel input and the read-back under the lineage aggregate are
coalesced to that width when they have more splits (``_sized``).  A
stage fed by a shuffle is sized by AQE: the unclustered path repartitions
by ``bucket`` with no number.  The ledger rows go to Spark as an Arrow
table, read on the JVM side, so the ledger append runs no Python worker.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_rss_spark import EXTRACTOR_VERSION
from news_rss_spark.operators.dedup import (
    DAMAGED,
    anti_join_seen,
    append_rows,
    dedup_within_run,
    sink_ids,
)
from news_rss_spark.operators.extraction import extract_articles
from news_rss_spark.operators.lineage import (
    DEFAULT_N_BUCKETS,
    LINEAGE_DDL,
    lineage_rows,
    with_bucket,
)


@dataclass
class JobResult:
    published_count: int      # ok rows in the whole sink
    skipped_buckets: int      # buckets the ledger recorded before this run
    lineage_buckets: int      # ledger rows this run appended
    gc_staging_dirs: int = 0


def _gc_orphan_staging(spark: SparkSession, sink_path: str) -> int:
    """Remove orphaned write-staging dirs a killed predecessor left under
    the sink (``_temporary`` from the classic FileOutputCommitter the
    append uses, ``.spark-staging-<uuid>`` from a dynamic partition
    overwrite).

    A SIGKILL between staging and commit strands the full staged output —
    at 100 TB that is an entire extra copy of the sink per crash, and it
    sits INSIDE the sink path where nothing else ever reclaims it
    (measured: a killed 50M-doc run left 30 GB of staging that OOM'd the
    resume until cleared).  The lineage protocol is single-writer-per-sink
    (concurrent runs would race the ledger append), so any staging dir
    present before the job's own write belongs to a dead run by definition.

    Scheme-agnostic via the Hadoop FileSystem API — works for file://,
    hdfs:// and s3a:// sinks alike; Spark's own scans never read dot/
    underscore-prefixed dirs, so this is purely a storage reclaim.  A
    missing sink is a first run (nothing to reclaim); any other failure to
    resolve, list or delete raises, before the job writes anything.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(sink_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return 0
    removed = 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(".spark-staging-") or name == "_temporary":
            fs.delete(st.getPath(), True)
            removed += 1
    return removed


def _completed(spark: SparkSession, lineage_path: str,
               run_id: str) -> dict[int, int]:
    """Buckets the ledger records for ``EXTRACTOR_VERSION``, each with the
    largest ``doc_count`` another run recorded (0 if only ``run_id`` did:
    a re-run of a finished run id).  An unwritten ledger means nothing is
    recorded (first run); any other failure to resolve or read it
    propagates, since swallowing it would append to a ledger that still
    cannot be read.  The probe goes through the Hadoop FileSystem API, so
    a URI-addressed ledger (file://, hdfs://, s3a://) is found too."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(lineage_path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return {}
    done: dict[int, int] = {}
    # one small collect (≤ n_buckets rows per run), no shuffle
    for r in (spark.read.schema(LINEAGE_DDL).parquet(lineage_path)
                    .filter(F.col("extractor_version") == EXTRACTOR_VERSION)
                    .select("bucket", "doc_count", "run_id").collect()):
        n = r["doc_count"] if r["run_id"] != run_id else 0
        done[r["bucket"]] = max(done.get(r["bucket"], 0), n)
    return done


def _sized(df: DataFrame) -> DataFrame:
    """``df`` on ``max(defaultParallelism, ceil(sizeInBytes /
    spark.sql.files.maxPartitionBytes))`` partitions, merged without a
    shuffle, when its scan has more splits than that.

    A scan of many small files runs one task per file, and each Python
    task pays the worker set-up again.  ``sizeInBytes`` is the optimizer's
    estimate (no IO).  ``coalesce`` merges whole partitions, so rows that
    shared a split still share one.  Left as they are: a plan without
    file statistics (its estimate is ``spark.sql.defaultSizeInBytes``), a
    very large input (its splits are as many as its bytes ask for) and a
    plan holding a shuffle, which AQE sizes (counting its partitions here
    would run the shuffle as a job of its own)."""
    spark = df.sparkSession
    qe = df._jdf.queryExecution()
    size = int(qe.optimizedPlan().stats().sizeInBytes())
    per_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    width = max(spark.sparkContext.defaultParallelism, -(-size // per_split))
    if (qe.executedPlan().nodeName() == "AdaptiveSparkPlan"
            or df.rdd.getNumPartitions() <= width):
        return df
    return df.coalesce(width)


def _new_input(spark: SparkSession, df: DataFrame, sink_path: str,
               now_utc: datetime, n_buckets: int, only_buckets: list[int] | None,
               clustered: bool, resume: bool) -> tuple[DataFrame, bool]:
    """Assign buckets, keep the wave's buckets, size the stage, and drop
    the documents whose id is live in the sink.  Returns the new rows and
    whether equal buckets now share a partition.  ``resume=False`` raises
    if the sink already holds rows."""
    df = with_bucket(df, n_buckets=n_buckets)
    if only_buckets is not None:
        # wave-scoped invocation: a driver loop that chunks the bucket space
        # across separate spark-submit runs bounds how much progress one
        # crash can lose to a single wave (the ledger lands per run)
        df = df.filter(F.col("bucket").isin([int(b) for b in only_buckets]))

    # kernel-stage width, decided on the scan (under AQE, ``df.rdd`` on
    # the joined plan would run the sink-id broadcast as a job of its
    # own).  Clustered input is coalesced to its bytes (``_sized``); whole
    # splits merge, so each bucket stays in one task.  Unclustered input
    # with fewer splits than twice the cores (news text compresses ~10x, so
    # a 128 MB split holds >1 GB of raw HTML) is hash-partitioned on
    # bucket: the one exchange clusters the write and makes the in-kernel
    # dedup global, and with no partition number AQE sizes it to the
    # shuffle's bytes.  At 100 TB the table layout should provide the
    # clustering instead (pass input_clustered_by_bucket=True).
    if clustered:
        df = _sized(df)
    spread = (not clustered and df.rdd.getNumPartitions()
              < 2 * spark.sparkContext.defaultParallelism)

    # ``bucket`` is a function of ``doc_id``, so the id alone is the key
    sink = sink_ids(df, "doc_id", sink_path)
    if sink is not None and not resume:
        raise ValueError(f"sink at {sink_path} already holds rows;"
                         " resume=False asserts a first run")
    df = anti_join_seen(df, sink, now_utc, key="doc_id", ts_col="first_seen")
    if spread:
        return df.repartition("bucket"), True
    return df, clustered


def _publish(spark: SparkSession, rows: DataFrame, sink_path: str,
             lineage_path: str, run_id: str,
             done: dict[int, int]) -> JobResult:
    """The sink append plus the ledger append.

    Orphaned staging dirs of a dead run are reclaimed first.  ``rows``
    (carrying ``bucket``, ``first_seen`` and ``run_id``) are appended to
    the sink; then ONE aggregate over a read-back of the landed
    ``(bucket, status, byte_count, id, first_seen, run_id)`` yields the
    ledger rows — the ledger can never claim more than the sink holds.  A
    ledger row is appended for each bucket this run added rows to, or that
    no ledger row records yet.  The read-back, one split per sink file, is
    coalesced to its bytes (``_sized``).

    The same aggregate guards the append.  The sink only grows, so a
    recorded bucket whose rows from other runs number fewer than ``done``
    says has lost a file, and the job raises before the ledger append.  It
    also raises when a bucket to be recorded holds one id twice within one
    ``first_seen`` (null ids are legitimate repeats: missing-guid skip
    rows; a TTL republish carries a new ``first_seen``).
    """
    gc_staging = _gc_orphan_staging(spark, sink_path)
    append_rows(rows, sink_path)

    # the schema just written: the read-back runs no schema-inference job,
    # and the aggregate prunes it to the six columns it reads
    lin = lineage_rows(
        _sized(spark.read.schema(rows.schema).parquet(sink_path)),
        EXTRACTOR_VERSION, run_id,
        F.count("id").alias("id_count"),
        F.countDistinct(F.when(F.col("id").isNotNull(),
                               F.struct("id", "first_seen"))).alias("id_distinct"),
        F.count(F.when(F.col("run_id") == run_id, 1)).alias("run_count"))
    # the collected aggregate (≤ n_buckets rows) carries ok_count per
    # bucket, so the published total needs no second sink scan
    lin_rows = lin.collect()
    earlier = {r["bucket"]: r["doc_count"] - r["run_count"] for r in lin_rows}
    torn = sorted(b for b, n in done.items() if earlier.get(b, 0) < n)
    if torn:
        # a removed file reads as missing rows, whose ids are no longer
        # live: this run has appended again those its input still holds
        raise RuntimeError(
            f"recorded sink buckets {torn} hold fewer rows from earlier runs"
            f" than their ledger recorded: {DAMAGED}.  This run appended"
            " again the lost ids its input holds and recorded nothing; run"
            " again to check the repaired buckets")
    new_rows = [r for r in lin_rows if r["bucket"] not in done or r["run_count"]]
    dup_buckets = sorted(r["bucket"] for r in new_rows
                         if r["id_count"] != r["id_distinct"])
    if dup_buckets:
        # the clustered-layout promise (equal ids share one scan split, so
        # partition-local dedup is globally correct) is trusted, not
        # planned; a violated layout surfaces here.  Raising before the
        # append leaves these buckets un-recorded, and they raise again
        # until the duplicate rows are removed.
        raise RuntimeError(
            f"duplicate ids landed in sink buckets {dup_buckets}: the"
            " input layout violated the clustering promise; delete the"
            f" sink files run_id={run_id!r} wrote (each file holds one"
            " run's rows) and rerun with input_clustered_by_bucket=False")
    if new_rows:
        # an Arrow table is read on the JVM side (a local relation); a
        # list of rows would go through a Python RDD and its worker
        ledger = pa.Table.from_pylist([r.asDict() for r in new_rows])
        (spark.createDataFrame(
            ledger.drop_columns(["id_count", "id_distinct", "run_count"]),
            schema=LINEAGE_DDL)
              .coalesce(1).write.mode("append").parquet(lineage_path))
    return JobResult(
        published_count=int(sum(r["ok_count"] for r in lin_rows)),
        skipped_buckets=len(done),
        lineage_buckets=len(new_rows),
        gc_staging_dirs=gc_staging,
    )


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    sink_path: str,
    lineage_path: str,
    now_utc: datetime,
    run_id: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    resume: bool = True,
    input_clustered_by_bucket: bool = False,
    only_buckets: list[int] | None = None,
) -> JobResult:
    """Run the extraction pipeline over ``docs``, appending to the sink
    every document whose id is not live in it yet.

    Idempotent: re-running with the same inputs appends nothing; a run
    that crashed part-way is finished by running again (its landed ids are
    live), and a new input snapshot lands only its new ids.  A document
    without a guid has no id the anti-join can match, so each run appends
    one more skip row for it.  ``resume=False`` asserts a first run: it
    raises ``ValueError`` if the sink already holds rows.  ``run_id`` names
    one run; it tells the run's rows apart from earlier ones.

    The sink holds the FULL extracted rows — ordered spans, article fields,
    status, byte counts, the lineage ``bucket``, ``first_seen`` (=
    ``now_utc``) and ``run_id`` — as flat parquet (north rule: "writes
    extracted spans plus per-partition lineage rows").  The reference's
    6-column ``news`` table is the ``to_publish_news`` projection over it,
    not a second copy.

    Single-pass plan (shuffle accounting at 100 TB):
    - when the input table is laid out clustered by ``bucket =
      pmod(xxhash64(doc_id), n_buckets)`` (Iceberg ``bucket(doc_id)``
      partition transform), the kernel path is shuffle-free: narrow kernel
      map -> append, with dedup folded into the kernel pass
      (equal ids share a partition by layout; a violated layout raises
      before the ledger append);
    - otherwise ONE hash-repartition on ``bucket`` both fixes kernel-stage
      parallelism (compressed text under-splits the scan) and clusters the
      write, and AQE sizes it to the shuffle's bytes;
    - a clustered scan of many small files is coalesced to its bytes, so
      the kernel stage does not pay the Python worker set-up per file;
    - the sink-id read takes only ``(id, first_seen)`` and joins
      before the kernel, so live documents are never extracted;
    - lineage derives from a column-pruned read-back of the written sink
      — no persist of the heavy extraction output, the kernel runs
      exactly once.
    """
    done = _completed(spark, lineage_path, run_id)
    docs_b, clustered = _new_input(spark, docs, sink_path, now_utc, n_buckets,
                                   only_buckets, input_clustered_by_bucket,
                                   resume)

    extracted = extract_articles(docs_b.select("doc_id", "spans"),
                                 now_utc=now_utc,
                                 dedup_within_partition=clustered)
    if not clustered:
        # equal ids may span partitions — fall back to a real exchange
        extracted = dedup_within_run(extracted, key="id")
    # mapInArrow replaces the schema, so re-derive the bucket from the
    # stable key (same hash expression — no join needed); skip rows carry
    # their doc_id as ``id`` so failures attribute to the right bucket.
    extracted = (with_bucket(extracted, n_buckets=n_buckets, key="id")
                 .withColumn("first_seen", F.lit(now_utc))
                 .withColumn("run_id", F.lit(run_id)))

    # the text column is byte-for-byte derivable from the text spans
    # (kernel joins them with "\n") — storing both would double the write
    # volume; readers re-attach it via extraction.with_text_from_spans
    return _publish(spark, extracted.drop("text"), sink_path, lineage_path,
                    run_id, done)


def run_feed_ingestion_job(
    spark: SparkSession,
    feeds: DataFrame,
    sink_path: str,
    lineage_path: str,
    now_utc: datetime,
    run_id: str,
    **job_kwargs,
) -> JobResult:
    """The complete reference user story in one batch call: raw feed XML
    snapshots (feed_id, xml) -> item rows -> kernel documents -> the full
    idempotent extraction pipeline (dedup, sink, lineage).

    A news-rss user switches to this engine by landing their fetched feed
    bodies as a table and invoking this; everything downstream (S1-S7,
    P1-P10, D1-D3, L1-L6) is the same single-pass plan as
    ``run_extraction_job``.  The feed parse is one extra narrow mapInArrow
    stage fused ahead of the extraction kernel — no added shuffle.
    """
    from news_rss_spark.sources.rss_xml import documents_from_feeds

    docs = documents_from_feeds(feeds)
    return run_extraction_job(spark, docs, sink_path, lineage_path,
                              now_utc, run_id, **job_kwargs)
