"""The workloads.  Each is closed loop: the next job or tick starts when the
previous one returns.

- ``resume``      a bucket-clustered page-heavy corpus, half its buckets
                  already done by an untimed crashed run ->
                  ``run_extraction_job(resume=True)``
- ``poll_ticks``  one snapshot file per tick ->
                  ``run_streaming_feed_ingestion_exactly_once``

A workload generates its input from the seed, lands it, warms the session
up, then ``measure`` times jobs (or ticks) until ``seconds`` of them have
run.  ``layers`` is the traced run: a cumulative prefix ladder of the
job's layers, each run to a noop sink, whose consecutive differences are
the layers' costs, plus counters read around the calls.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_rss_spark import EXTRACTOR_VERSION
from news_rss_spark.kernel.extract import extract_batch
from news_rss_spark.kernel.feedxml import parse_feed_batch
from news_rss_spark.operators.dedup import DEFAULT_TTL_SECS, anti_join_seen
from news_rss_spark.operators.extraction import extract_articles, to_publish_news
from news_rss_spark.operators.lineage import (
    DEFAULT_N_BUCKETS,
    completed_buckets,
    lineage_rows,
    skip_completed,
    with_bucket,
)
from news_rss_spark.plans.pipeline import run_extraction_job
from news_rss_spark.sources.rss_xml import (
    documents_from_feed_items,
    documents_from_feeds,
    feed_items,
)
from news_rss_spark.streaming.stream import (
    FEEDS_DDL,
    run_streaming_feed_ingestion_exactly_once,
)

from ingestbench import checks, probes
from ingestbench.inputs import (
    NEW_PER_POLL,
    NOW,
    SNAPSHOT_ITEMS,
    CorpusSpec,
    Input,
    TickSpec,
    corpus_input,
    poll_ticks_input,
)
from ingestbench.trace import Tracer

MIN_ITERS = 3          # jobs per run, whatever ``seconds`` says
MIN_TICKS = 10
# the traced run ladders every other tick among the first 2 * LADDER_TICKS:
# a ladder costs about two ticks, and unbounded it kept a slow host's traced
# run near the per-run time limit
LADDER_TICKS = 8
KERNEL_SAMPLE = 200    # docs per span kind for the single-thread kernel timing
HALF = list(range(0, DEFAULT_N_BUCKETS, 2))  # buckets the crashed run finished

TICK_ARROW = pa.schema([("feed_id", pa.string()), ("xml", pa.string()),
                        ("fetched_at", pa.timestamp("us", tz="UTC"))])
DOCS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))),
])


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    seconds: float
    cores: int
    deadline: float            # perf_counter() by which measuring must stop
    tracer: Tracer
    restart: object = None     # callable(cores) -> SparkSession


@dataclass
class Measurement:
    times: list[float] = field(default_factory=list)
    failed: int = 0


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _body_kind(doc: dict) -> str:
    return next((s["kind"] for s in doc["spans"]
                 if s["kind"] in ("html", "page", "desc")), "none")


def kernel_ms_per_doc(inp: Input, seed: int) -> dict[str, float]:
    """Single-thread ``extract_batch`` time per document, by body span
    kind, on a seeded sample of this input's documents (0 where the input
    has no document of that kind)."""
    rng = random.Random(seed)
    by_kind: dict[str, list[dict]] = {}
    for doc in inp.kernel_docs.values():
        by_kind.setdefault(_body_kind(doc), []).append(doc)
    out = {}
    for kind in ("page", "html", "desc"):
        docs = by_kind.get(kind, [])
        if not docs:
            out[kind] = 0.0
            continue
        sample = rng.sample(docs, min(KERNEL_SAMPLE, len(docs)))
        t0 = time.perf_counter()
        extract_batch([d["doc_id"] for d in sample], [d["spans"] for d in sample], NOW)
        out[kind] = (time.perf_counter() - t0) * 1000 / len(sample)
    return out


def kernel_cpu_s(inp: Input, ids, ms: dict[str, float]) -> float:
    """Single-thread kernel seconds the documents ``ids`` cost."""
    return sum(ms.get(_body_kind(inp.kernel_docs[i]), 0.0) for i in ids) / 1000


def feed_ms_per_item(xmls: list[str]) -> float:
    t0 = time.perf_counter()
    parsed = parse_feed_batch(xmls)
    items = sum(len(p["items"]) for p in parsed)
    return (time.perf_counter() - t0) * 1000 / max(items, 1)


def _extract_prefix(docs: DataFrame) -> DataFrame:
    """The clustered job's kernel stage as it plans it: the Arrow kernel
    with its partition-local dedup, no exchange."""
    return extract_articles(docs.select("doc_id", "spans"), now_utc=NOW,
                            dedup_within_partition=True)


class Workload:
    name = ""
    spec: object = None
    canary_spec: object = None

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inp: Input | None = None
        self.attempted = 0     # jobs or ticks the traced run made
        self.failed = 0        # of those, the ones that failed

    @property
    def spark(self) -> SparkSession:
        return self.ctx.spark

    @classmethod
    def generate(cls, seed: int, canary: bool = False) -> Input:
        raise NotImplementedError

    def land_input(self) -> None:
        """Land the run's input; timed as part of set-up.  (poll_ticks
        lands its input tick by tick.)"""

    def prepare(self) -> None:
        """Workload-specific set-up after landing (timed as set-up)."""

    def warmup(self, canary: Input) -> None:
        """Runs after ``prepare``; timed as set-up."""
        raise NotImplementedError

    def measure(self) -> Measurement:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        raise NotImplementedError


class Resume(Workload):
    """The page-heavy corpus, landed clustered by the job's bucket, after a
    crash that finished half the buckets.  Each repetition restores the
    crashed state into fresh sink and lineage dirs."""
    name = "resume"
    spec = CorpusSpec(docs=3000)
    canary_spec = CorpusSpec(docs=300)

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.input_dir = os.path.join(ctx.work, "input")
        self.pristine = os.path.join(ctx.work, "pristine")
        self.last: tuple | None = None   # (sink, lineage, JobResult)
        self.reps = 0                    # repetitions started so far

    @classmethod
    def generate(cls, seed: int, canary: bool = False) -> Input:
        return corpus_input(cls.canary_spec if canary else cls.spec, seed)

    def land_input(self) -> None:
        """The documents land as parquet clustered by the job's bucket:
        equal buckets share one file, sorted by bucket.  Spark computes only
        each id's bucket; shuffling the page bodies through Spark instead
        cost 4-10 s of set-up a run."""
        ids = sorted({d["doc_id"] for d in self.inp.rows})
        bucket = {r["doc_id"]: r["bucket"] for r in with_bucket(
            self.spark.createDataFrame([(i,) for i in ids], "doc_id string"))
            .toArrow().to_pylist()}
        files = 4 * self.ctx.cores
        rows = sorted(self.inp.rows, key=lambda d: bucket[d["doc_id"]])
        out = _fresh_dir(self.input_dir)
        for k in range(files):
            part = [d for d in rows if bucket[d["doc_id"]] % files == k]
            pq.write_table(pa.Table.from_pylist(part, schema=DOCS_ARROW),
                           f"{out}/part-{k:05d}.parquet")

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.input_dir)

    def page_job(self, df, sink, lineage, run_id):
        """The same corpus from scratch: no lineage skip, no anti-join."""
        return run_extraction_job(self.spark, df, sink, lineage, NOW, run_id,
                                  resume=False, input_clustered_by_bucket=True)

    def job(self, df, sink, lineage, run_id):
        return run_extraction_job(self.spark, df, sink, lineage, NOW, run_id,
                                  resume=True, input_clustered_by_bucket=True)

    def prepare(self) -> None:
        """The crashed predecessor: the same job over half the buckets."""
        d = _fresh_dir(self.pristine)
        run_extraction_job(self.spark, self.docs(), f"{d}/sink", f"{d}/lineage",
                           NOW, "crashed", resume=False,
                           input_clustered_by_bucket=True, only_buckets=HALF)

    def fresh(self) -> tuple[str, str]:
        """Fresh dirs for the next repetition, holding a copy of the crashed
        state; the previous repetition's dirs are removed."""
        base = self.ctx.work
        shutil.rmtree(os.path.join(base, f"it{self.reps - 1}"), ignore_errors=True)
        d = _fresh_dir(os.path.join(base, f"it{self.reps}"))
        self.reps += 1
        sink, lineage = f"{d}/sink", f"{d}/lineage"
        shutil.copytree(f"{self.pristine}/sink", sink)
        shutil.copytree(f"{self.pristine}/lineage", lineage)
        os.sync()
        return sink, lineage

    def warmup(self, canary: Input) -> None:
        """One untimed resume over the whole corpus.  Landing the input and
        the crashed run pay the Python worker start-up, but the first resume
        still runs 10-50 % slow while the JIT compiles its code paths; left
        in the timed jobs, it moved the median with the number of jobs a run
        fits."""
        self.timed_job(traced=False)

    def timed_job(self, traced: bool = True) -> tuple[float, bool]:
        """One repetition: (seconds, ok).  A job that raises or publishes
        the wrong count is a failure."""
        i = self.reps
        sink, lineage = self.fresh()
        df = self.docs()
        tracer = self.ctx.tracer if traced else Tracer("", enabled=False)
        t0 = time.perf_counter()
        try:
            with tracer.span("job"):
                res = self.job(df, sink, lineage, f"bench-{i}")
        except Exception:  # a failed job is counted, the run goes on
            traceback.print_exc()
            return time.perf_counter() - t0, False
        dt = time.perf_counter() - t0
        self.last = (sink, lineage, res)
        return dt, res.published_count == len(self.inp.valid_ids)

    def measure(self) -> Measurement:
        m = Measurement()
        while (len(m.times) < MIN_ITERS or sum(m.times) < self.ctx.seconds) \
                and time.perf_counter() < self.ctx.deadline:
            dt, ok = self.timed_job(traced=False)
            m.times.append(dt)
            m.failed += not ok
        return m

    def check(self) -> list[str]:
        if self.last is None:
            return ["no job completed"]
        sink, lineage, res = self.last
        return checks.check_batch(self.spark, self.inp, sink, lineage,
                                  res.published_count)

    # -- traced run -------------------------------------------------------
    def _pending(self, df):
        done = completed_buckets(
            self.spark.read.parquet(f"{self.pristine}/lineage"), EXTRACTOR_VERSION)
        return skip_completed(with_bucket(df), done)

    def _deduped(self, df):
        extracted = with_bucket(_extract_prefix(self._pending(df)), key="id")
        seen = self.spark.read.parquet(f"{self.pristine}/sink")
        return anti_join_seen(extracted, seen, NOW, DEFAULT_TTL_SECS,
                              key="id", ts_col="pub_date").localCheckpoint(eager=True)

    def ladder(self, df):
        """Cumulative prefixes of the job: (span name, () -> DataFrame)."""
        return [
            ("ladder.scan", lambda: df),
            ("ladder.skip", lambda: self._pending(df)),
            ("ladder.extract", lambda: _extract_prefix(self._pending(df))),
            ("ladder.dedup", lambda: self._deduped(df)),
        ]

    def counts(self, df):
        pending = self._pending(df).agg(
            F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")).first()
        before = self.spark.read.parquet(f"{self.pristine}/sink").count()
        after = self.spark.read.parquet(self.last[0]).count()
        rows_out = after - before
        return {
            "extraction.dups_dropped": pending["n"] - pending["d"],
            "dedup.rows_in": pending["d"],
            "dedup.rows_out": rows_out,
            "dedup.useful_frac": ((pending["d"] - rows_out) / pending["d"]
                                  if pending["d"] else 0.0),
        }

    def kernel_ids(self) -> set:
        """Ids the timed job's kernel stage extracts: those of the buckets
        the crashed run left."""
        done = set(HALF)
        return {r["id"] for r in self.spark.read.parquet(self.last[0])
                .select("id", "bucket").toArrow().to_pylist()
                if r["bucket"] not in done}

    def scaling_eff(self) -> float:
        """``local[1]`` against ``local[cores]`` on the from-scratch job
        over the same corpus: T1 / (cores * Tn).  Restarts the session, so
        it runs last, in dirs of its own."""
        times = []
        for n in (self.ctx.cores, 1):
            if n != self.ctx.cores:
                self.ctx.spark = self.ctx.restart(n)
                noop(extract_articles(self.docs().limit(8), now_utc=NOW))  # workers
            d = _fresh_dir(os.path.join(self.ctx.work, f"scaling{n}"))
            t0 = time.perf_counter()
            self.page_job(self.docs(), f"{d}/sink", f"{d}/lineage", f"scaling{n}")
            times.append(time.perf_counter() - t0)
            shutil.rmtree(d)
        return times[1] / (self.ctx.cores * times[0])

    def layers(self) -> dict[str, float]:
        tr = self.ctx.tracer
        df = self.docs()
        steps = self.ladder(df)
        for _ in range(2):
            with tr.span("ladder"):
                for name, build in steps:
                    with tr.span(name):
                        noop(build())
        cum = [statistics.median(tr.durations(name)) for name, _ in steps]
        cost = {name: cum[k] - (cum[k - 1] if k else 0.0)
                for k, (name, _) in enumerate(steps)}

        # full job, alternating traced and untraced repetitions
        untraced = []
        for i in range(4):
            before = probes.stage_totals(self.spark)
            dt, ok = self.timed_job(traced=i % 2 == 0)
            self.attempted += 1
            self.failed += not ok
            if i % 2:
                untraced.append(dt)
            stages = probes.diff(probes.stage_totals(self.spark), before)
        job_s = statistics.median(tr.durations("job"))
        sink, lineage, res = self.last
        sink_bytes, sink_files = probes.dir_stats(sink)
        with tr.span("ladder.lineage_rows"):
            lineage_rows(self.spark.read.parquet(sink)
                         .select("bucket", "status", "byte_count"),
                         EXTRACTOR_VERSION, "probe").collect()

        ms = kernel_ms_per_doc(self.inp, self.ctx.seed)
        stage_s = cost["ladder.extract"]
        kernel_s = kernel_cpu_s(self.inp, self.kernel_ids(), ms)
        out = {
            "kernel.page_ms_per_doc": ms["page"],
            "kernel.html_ms_per_doc": ms["html"],
            "kernel.desc_ms_per_doc": ms["desc"],
            "extraction.stage_s": stage_s,
            "extraction.kernel_share": (kernel_s / (stage_s * self.ctx.cores)
                                        if stage_s > 0 else 0.0),
            "dedup.anti_join_s": cost["ladder.dedup"],
            "lineage.skip_completed_s": cost["ladder.skip"],
            "lineage.buckets_skipped": res.skipped_buckets,
            "lineage.rows_s": tr.durations("ladder.lineage_rows")[-1],
            "pipeline.job_s": job_s,
            "pipeline.self_s": job_s - cum[-1],
            "pipeline.sink_bytes": sink_bytes,
            "pipeline.sink_files": sink_files,
            "pipeline.published": res.published_count,
            "pipeline.shuffle_write_bytes": stages["shuffle_write_bytes"],
            "pipeline.spill_bytes": stages["spill_bytes"],
            "pipeline.failed_tasks": stages["failed_tasks"],
            "tracing.overhead_s": job_s - statistics.median(untraced),
            "tracing.self_s": statistics.median(tr.self_times("ladder")),
        }
        out.update(self.counts(df))
        out["pipeline.scaling_eff"] = self.scaling_eff()
        return out


class PollTicks(Workload):
    name = "poll_ticks"
    spec = TickSpec(window=SNAPSHOT_ITEMS, new=NEW_PER_POLL, max_ticks=80)
    canary_spec = TickSpec(window=6, new=2, max_ticks=4)

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.ticks_run = 0
        base = os.path.join(ctx.work, "poll")
        self.feeds, self.sink, self.ckpt = (f"{base}/{d}" for d in
                                            ("feeds", "sink", "ckpt"))

    @classmethod
    def generate(cls, seed: int, canary: bool = False) -> Input:
        return poll_ticks_input(cls.canary_spec if canary else cls.spec, seed)

    def land_tick(self, inp: Input, feeds: str, t: int) -> None:
        """Atomically land tick ``t``'s snapshot file (hidden until renamed,
        so the file source never lists a half-written file)."""
        table = pa.Table.from_pylist(
            [{"feed_id": f, "xml": x, "fetched_at": NOW} for f, x in inp.ticks[t]],
            schema=TICK_ARROW)
        tmp = f"{feeds}/.tick-{t:05d}.parquet"
        pq.write_table(table, tmp)
        os.rename(tmp, f"{feeds}/tick-{t:05d}.parquet")

    def tick(self, inp: Input, feeds: str, sink: str, ckpt: str, t: int,
             tr: Tracer) -> None:
        with tr.span("land"):
            self.land_tick(inp, feeds, t)
        with tr.span("pass"):
            run_streaming_feed_ingestion_exactly_once(
                self.spark, feeds, sink, ckpt, now_utc=NOW)

    def warmup(self, canary: Input) -> None:
        """Every tick of the canary input, into throwaway dirs."""
        base = os.path.join(self.ctx.work, "warm")
        feeds = _fresh_dir(f"{base}/feeds")
        off = Tracer("", enabled=False)
        for t in range(len(canary.ticks)):
            self.tick(canary, feeds, f"{base}/sink", f"{base}/ckpt", t, off)
        shutil.rmtree(base, ignore_errors=True)

    def prepare(self) -> None:
        _fresh_dir(self.feeds)
        os.sync()

    def _ticks(self, on_tick=None) -> Measurement:
        m = Measurement()
        while (len(m.times) < MIN_TICKS or sum(m.times) < self.ctx.seconds) \
                and len(m.times) < len(self.inp.ticks) \
                and time.perf_counter() < self.ctx.deadline:
            t = len(m.times)
            traced = on_tick is not None and t % 2 == 0 and t < 2 * LADDER_TICKS
            tr = self.ctx.tracer if traced else Tracer("", enabled=False)
            t0 = time.perf_counter()
            try:
                with tr.span("tick"):
                    self.tick(self.inp, self.feeds, self.sink, self.ckpt, t, tr)
            except Exception:  # a failed tick is counted, the run goes on
                traceback.print_exc()
                m.failed += 1
            m.times.append(time.perf_counter() - t0)
            self.ticks_run = t + 1
            if traced:
                on_tick(t)
        return m

    def measure(self) -> Measurement:
        return self._ticks()

    def check(self) -> list[str]:
        if not self.ticks_run:
            return ["no tick completed"]
        return checks.check_stream(self.spark, self.inp, self.sink, self.ticks_run)

    # -- traced run -------------------------------------------------------
    def _tick_ladder(self, t: int) -> list[tuple[str, object]]:
        df = self.spark.read.schema(FEEDS_DDL).parquet(
            f"{self.feeds}/tick-{t:05d}.parquet")

        def news():
            return to_publish_news(extract_articles(documents_from_feeds(df),
                                                    now_utc=NOW))

        def deduped():
            seen = (self.spark.read.parquet(self.sink)
                    .filter(F.col("batch_id") != t).select("id", "datetime"))
            return anti_join_seen(news(), seen, NOW, DEFAULT_TTL_SECS,
                                  key="id", ts_col="datetime").localCheckpoint(eager=True)

        return [
            ("ladder.feed_items", lambda: feed_items(df)),
            ("ladder.to_documents", lambda: documents_from_feed_items(feed_items(df))),
            ("ladder.extract", news),
            ("ladder.dedup", deduped),
        ]

    def layers(self) -> dict[str, float]:
        tr = self.ctx.tracer
        stats = {"seen": 0, "ok_rows": 0, "appended": 0, "items": 0,
                 "distinct": 0, "errors": 0, "snapshots": 0, "kernel_s": 0.0}
        ms = kernel_ms_per_doc(self.inp, self.ctx.seed)
        steps_cost: dict[str, list[float]] = {}

        def on_tick(t: int) -> None:
            sink = self.spark.read.parquet(self.sink)
            rows_now = sink.count()
            appended = sink.filter(F.col("batch_id") == t).count()
            stats["seen"] = rows_now - appended
            stats["appended"] += appended
            steps = self._tick_ladder(t)
            cum = []
            for name, build in steps:
                with tr.span(name):
                    noop(build())
                cum.append(tr.durations(name)[-1])
            for k, (name, _) in enumerate(steps):
                steps_cost.setdefault(name, []).append(cum[k] - (cum[k - 1] if k else 0.0))
            steps_cost.setdefault("upto_dedup", []).append(cum[-1])
            c = steps[0][1]().agg(
                F.count("parse_error").alias("errors"),
                F.count(F.when(F.col("parse_error").isNull()
                               & F.col("item_index").isNotNull(), 1)).alias("items"),
                F.countDistinct("guid").alias("distinct")).first()
            stats["ok_rows"] += steps[2][1]().count()
            stats["items"] += c["items"]
            stats["distinct"] += c["distinct"]
            stats["errors"] += c["errors"]
            stats["snapshots"] += len(self.inp.ticks[t])
            stats["kernel_s"] += kernel_cpu_s(self.inp, self.inp.tick_ids[t], ms)

        before = probes.stage_totals(self.spark)
        m = self._ticks(on_tick)
        self.attempted, self.failed = len(m.times), m.failed
        stages = probes.diff(probes.stage_totals(self.spark), before)
        traced_ticks = tr.durations("tick")
        untraced = [dt for k, dt in enumerate(m.times)
                    if k % 2 and k < 2 * LADDER_TICKS]
        q = max(1, len(m.times) // 4)
        sink_bytes, sink_files = probes.dir_stats(self.sink)
        ckpt_bytes, _ = probes.dir_stats(self.ckpt)
        total_rows = self.spark.read.parquet(self.sink).count()
        xmls = [x for t in range(min(2, self.ticks_run)) for _, x in self.inp.ticks[t]]
        job_s = statistics.median(traced_ticks)

        def med(name):
            return statistics.median(steps_cost.get(name, [0.0]))

        stage_s = med("ladder.extract")
        suppressed = ((stats["ok_rows"] - stats["appended"]) / stats["ok_rows"]
                      if stats["ok_rows"] else 0.0)
        # metrics of layers a tick does not run (page kernel, lineage) are
        # left out; the result reports them as 0
        return {
            "kernel.html_ms_per_doc": ms["html"],
            "kernel.desc_ms_per_doc": ms["desc"],
            "kernel.feed_ms_per_item": feed_ms_per_item(xmls),
            "sources.feed_items_s": med("ladder.feed_items"),
            "sources.to_documents_s": med("ladder.to_documents"),
            "sources.items_out": stats["items"],
            "sources.parse_error_frac": stats["errors"] / max(stats["snapshots"], 1),
            "extraction.stage_s": stage_s,
            "extraction.dups_dropped": stats["items"] - stats["distinct"],
            "extraction.kernel_share": (
                stats["kernel_s"] / (sum(steps_cost["ladder.extract"]) * self.ctx.cores)
                if stage_s > 0 else 0.0),
            "dedup.anti_join_s": med("ladder.dedup"),
            "dedup.rows_in": stats["ok_rows"],
            "dedup.rows_out": stats["appended"],
            "dedup.useful_frac": suppressed,
            "pipeline.job_s": job_s,
            "pipeline.self_s": job_s - med("upto_dedup"),
            "pipeline.sink_bytes": sink_bytes,
            "pipeline.sink_files": sink_files,
            "pipeline.published": total_rows,
            "pipeline.shuffle_write_bytes": stages["shuffle_write_bytes"],
            "pipeline.spill_bytes": stages["spill_bytes"],
            "pipeline.failed_tasks": stages["failed_tasks"],
            "streaming.seen_rows": stats["seen"],
            "streaming.rows_appended": total_rows,
            "streaming.suppressed_frac": suppressed,
            "streaming.tick_growth": (statistics.median(m.times[-q:])
                                      / statistics.median(m.times[:q])),
            "streaming.checkpoint_bytes": ckpt_bytes,
            "streaming.sink_files": sink_files,
            "tracing.overhead_s": job_s - statistics.median(untraced),
            "tracing.self_s": statistics.median(tr.self_times("tick")),
        }


WORKLOADS = {w.name: w for w in (Resume, PollTicks)}
