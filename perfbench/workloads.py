"""The KG-construction workloads, driven through lnex_spark's
public functions.

Each workload generates its inputs from the seed (untimed), warms up
inside the set-up phase, and then runs operations in one of two forms:

* untraced — the operation timed as a whole, inside an ``op.untraced``
  span that only tags its Spark jobs;
* traced   — the same work with a materialized boundary (persist +
  count) after each layer's public call and a span around it, so each
  layer's time is its own.

Every operation's triples are checked against the gold annotator.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from lnex_spark.operators import lineage
from lnex_spark.operators.extract import extract_mentions_df
from lnex_spark.operators.incremental import batch_votes, canonical_from_votes, merge_votes
from lnex_spark.operators.link import apply_canonical, canonicalize, link_mentions, score_candidates
from lnex_spark.operators.skew import salt_repartition
from lnex_spark.operators.triples import mention_triples, region_triples, write_triples
from lnex_spark.pipeline import extract_link, finalize_triples, run_resumable
from lnex_spark.sources.tableformat import read_snapshot, read_table, write_snapshot, write_table

from perfbench import inputs as IN
from perfbench.trace import CpuMeter, PeakRss, Tracer, stolen_seconds


@dataclass
class Ctx:
    """What every operation needs: the session, the built gazetteer
    model and its source table, and the run's tracer, memory sampler
    and CPU meter."""

    spark: object
    model: object
    gaz_df: object
    cores: int
    tracer: Tracer
    rss: PeakRss
    cpu: CpuMeter


@dataclass
class Op:
    """One finished operation: wall time, turns it covered, CPU time of
    every benchmark process and CPU time stolen from the machine while
    it ran (untraced), whether its output was checked and passed, and
    (traced) per-layer counts."""

    seconds: float
    turns: int
    cpu_s: float = 0.0
    stolen_s: float = 0.0
    ok: bool = True
    checked: bool = False
    precision: float = 0.0
    recall: float = 0.0
    counts: dict = field(default_factory=dict)

    def check(self, emitted: set, gold: set, extra_ok: bool = True) -> "Op":
        self.checked = True
        self.precision, self.recall = IN.precision_recall(emitted, gold)
        self.ok = extra_ok and emitted == gold
        return self


def _clock(ctx: Ctx) -> tuple[float, float, float]:
    return time.monotonic(), ctx.cpu.seconds(), stolen_seconds()


def _untraced_op(ctx: Ctx, start: tuple[float, float, float], turns: int) -> Op:
    """The operation that began at ``start`` (a ``_clock`` reading)."""
    now = _clock(ctx)
    return Op(now[0] - start[0], turns, cpu_s=now[1] - start[1], stolen_s=now[2] - start[2])


def _triple_set(rows) -> set[IN.Triple]:
    return {(r.subj, int(r.obj)) for r in rows}


@contextmanager
def _dropping_persisted():
    """Unpersist, on exit, every DataFrame cached or persisted inside the
    block. Spark's cache manager would otherwise serve the next identical
    operation's persisted plans (extract_link's winners) from memory.
    Caches made in set-up, such as the gazetteer variant table, stay."""
    persist, cache = DataFrame.persist, DataFrame.cache
    made = []

    def recording_persist(df, *a, **kw):
        made.append(df)
        return persist(df, *a, **kw)

    def recording_cache(df):
        made.append(df)
        return cache(df)

    DataFrame.persist, DataFrame.cache = recording_persist, recording_cache
    try:
        yield
    finally:
        DataFrame.persist, DataFrame.cache = persist, cache
        for df in made:
            df.unpersist(blocking=True)


def _persisted(df):
    """Materialized layer boundary: compute and cache; returns the
    cached frame and its row count."""
    df = df.persist()
    return df, df.count()


def _hit_ratio(mentions, turns: int) -> float:
    """Turns with at least one mention / turns scanned."""
    return mentions.select("conv_id", "turn_idx").distinct().count() / turns


def _task_imbalance(salted) -> float:
    """max / median rows per partition of the salted table, i.e. per
    extraction task (the extraction stage is narrow over it)."""
    sizes = sorted(r[1] for r in salted.groupBy(F.spark_partition_id()).count().collect())
    mid = sizes[len(sizes) // 2] if sizes else 0
    return sizes[-1] / mid if mid else 0.0


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker and checksum
    files are left out."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class KgBatch:
    """One full build: salted ``extract_link`` then ``mention_triples``,
    collected, over near-unique turns with one hot conversation. A run
    repeats the build a fixed number of times sized from ``--seconds``,
    so every run measures the same builds of the in-process warm-up
    curve, however fast the host is at the time.

    The traced run also drives the spark-submit job path once over the
    same turns (``ResumeJob``), for the lineage and table-format layers."""

    name = "kg_batch"
    N_TURNS = 30_000
    N_CONVS = 400
    OPS_PER_SECOND = 0.4
    MIN_OPS = 2
    WARM_OPS = 3

    def generate(self, rng: random.Random, gaz_rows: list, work: str, seconds: float) -> None:
        rows = IN.gen_rows(rng, gaz_rows, self.N_TURNS, self.N_CONVS, hot_share=rng.uniform(0.15, 0.25))
        self.path = f"{work}/transcripts.parquet"
        IN.write_parquet(rows, self.path)
        self.gold = IN.gold_triples(rows, gaz_rows)
        self.resume = ResumeJob(self.path, f"{work}/resume", self.N_TURNS, self.gold, gaz_rows)

    def warm(self, ctx: Ctx) -> bool:
        ok = True
        for _ in range(self.WARM_OPS):
            with _dropping_persisted():
                ok = self.op(ctx).ok and ok
        return ok

    def n_ops(self, seconds: float) -> int:
        return max(self.MIN_OPS, round(seconds * self.OPS_PER_SECOND))

    def run(self, ctx: Ctx, traced: bool, seconds: float) -> list[Op]:
        ops: list[Op] = []
        for _ in range(self.n_ops(seconds)):
            with _dropping_persisted():
                ops.append(self.traced_op(ctx) if traced else self.op(ctx))
            ctx.rss.sample()
        if traced:
            with _dropping_persisted():
                ops.append(self.resume.traced_run(ctx))
            ctx.rss.sample()
        return ops

    def op(self, ctx: Ctx) -> Op:
        start = _clock(ctx)
        with ctx.tracer.span("op.untraced"):
            final = extract_link(ctx.spark.read.parquet(self.path), ctx.model, salt_partitions=ctx.cores)
            rows = mention_triples(final).collect()
        op = _untraced_op(ctx, start, self.N_TURNS)
        return op.check(_triple_set(rows), self.gold)

    def traced_op(self, ctx: Ctx) -> Op:
        tr, model = ctx.tracer, ctx.model
        t0 = time.monotonic()
        with tr.span("op"):
            with tr.span("skew"):
                salted, turns = _persisted(salt_repartition(ctx.spark.read.parquet(self.path), ctx.cores))
            with tr.span("extract"):
                mentions, n_mentions = _persisted(extract_mentions_df(salted, model.bc_struct))
            with tr.span("link"):
                winners, n_winners = _persisted(score_candidates(link_mentions(mentions, model.variants)))
            with tr.span("canon"):
                canon = canonicalize(winners)
                final, _ = _persisted(apply_canonical(winners, canon))
            with tr.span("triples"):
                rows = mention_triples(final).collect()
        op = Op(time.monotonic() - t0, self.N_TURNS)
        op.counts = {
            "extract.turns_in": turns,
            "extract.mentions_out": n_mentions,
            "extract.hit_ratio": _hit_ratio(mentions, turns),
            "skew.task_imbalance": _task_imbalance(salted),
            "link.candidates": link_mentions(mentions, model.variants).count(),
            "link.winners": n_winners,
            "canon.surface_forms": canon.count(),
            "triples.rows": len(rows),
        }
        return op.check(_triple_set(rows), self.gold)


class ResumeJob:
    """The spark-submit job path (jobs/run_kg.py) from an empty output
    directory: ``run_resumable`` over 64 conv_id buckets in 4 batches,
    then ``finalize_triples`` and ``write_triples`` for mention and
    region triples. Its check includes the resume property: a second
    invocation processes no bucket and leaves the triples unchanged."""

    N_BUCKETS = 64
    BUCKETS_PER_BATCH = 16

    def __init__(self, path: str, out: str, turns: int, gold: set, gaz_rows: list):
        self.path, self.out, self.turns, self.gold = path, out, turns, gold
        self.regions = {(int(g["geo_id"]), g["region"]) for g in gaz_rows}

    def _resumable(self, ctx: Ctx) -> list[int]:
        return run_resumable(
            ctx.spark, ctx.spark.read.parquet(self.path), ctx.model,
            winners_path=f"{self.out}/winners", manifest_path=f"{self.out}/manifest",
            n_buckets=self.N_BUCKETS, buckets_per_batch=self.BUCKETS_PER_BATCH,
            salt_partitions=ctx.cores,
        )

    def _emitted(self, ctx: Ctx) -> tuple[set, set]:
        spark = ctx.spark
        mentions = _triple_set(spark.read.parquet(f"{self.out}/mention_triples").collect())
        regions = {(int(r.subj), r.obj) for r in spark.read.parquet(f"{self.out}/region_triples").collect()}
        return mentions, regions

    def traced_run(self, ctx: Ctx) -> Op:
        """One job with spans around the lineage calls run_resumable
        makes (plan, one span per batch, manifest write), around
        finalize (materialized) and around each triple-table write."""
        tr = ctx.tracer
        plan, record = lineage.pending_buckets, lineage.record_buckets
        batch: list[int] = []

        def traced_plan(*a, **kw):
            with tr.span("lineage.plan"):
                pending = plan(*a, **kw)
            batch.append(tr.begin("lineage.batch"))
            return pending

        def traced_record(*a, **kw):
            with tr.span("lineage.manifest_write"):
                record(*a, **kw)
            tr.end(batch[-1])
            batch.append(tr.begin("lineage.batch"))

        t0 = time.monotonic()
        with tr.span("resume"):
            lineage.pending_buckets, lineage.record_buckets = traced_plan, traced_record
            try:
                processed = self._resumable(ctx)
            finally:
                lineage.pending_buckets, lineage.record_buckets = plan, record
                if batch:
                    tr.cancel(batch[-1])  # opened after the last batch: holds no work
            with tr.span("lineage.finalize"):
                triples, _ = _persisted(finalize_triples(ctx.spark, f"{self.out}/winners"))
            with tr.span("tableformat.write"):
                write_triples(triples, f"{self.out}/mention_triples")
            with tr.span("tableformat.write"):
                write_triples(region_triples(ctx.gaz_df), f"{self.out}/region_triples")
        op = Op(time.monotonic() - t0, self.turns)
        files, size = _dir_files(f"{self.out}/mention_triples")
        rfiles, rsize = _dir_files(f"{self.out}/region_triples")
        op.counts = {"tableformat.files_written": files + rfiles, "tableformat.bytes_written": size + rsize}

        mentions, regions = self._emitted(ctx)
        rerun = self._resumable(ctx)
        write_triples(finalize_triples(ctx.spark, f"{self.out}/winners"), f"{self.out}/mention_triples")
        resumed = rerun == [] and self._emitted(ctx)[0] == mentions
        complete = len(processed) == self.N_BUCKETS and regions == self.regions
        return op.check(mentions, self.gold, extra_ok=complete and resumed)


class KgIncremental:
    """A closed loop with one batch in flight: each batch is extracted,
    linked and appended to the winners table; the vote table is merged,
    every winner is re-canonicalized, and a new triple snapshot is
    committed before the next batch is handed over.

    A run processes a fixed number of batches from empty state, sized
    from ``--seconds``, so both sides of a comparison do the same work."""

    name = "kg_incremental"
    BATCH_TURNS = 1000
    N_CONVS = 200
    BATCHES_PER_SECOND = 0.67
    MIN_BATCHES = 4
    WARM_BATCHES = 2

    def n_batches(self, seconds: float) -> int:
        return max(self.MIN_BATCHES, round(seconds * self.BATCHES_PER_SECOND))

    def generate(self, rng: random.Random, gaz_rows: list, work: str, seconds: float) -> None:
        n = self.n_batches(seconds)
        rows = IN.gen_rows(rng, gaz_rows, n * self.BATCH_TURNS, self.N_CONVS, hot_share=rng.uniform(0.15, 0.25))
        os.makedirs(f"{work}/batches")
        self.paths = [f"{work}/batches/b{k:04d}.parquet" for k in range(n)]
        for k, path in enumerate(self.paths):
            IN.write_parquet(rows[k * self.BATCH_TURNS:(k + 1) * self.BATCH_TURNS], path)
        self.rows, self.gaz_rows, self.work = rows, gaz_rows, work
        self.streams = 0

    def warm(self, ctx: Ctx) -> bool:
        shutil.rmtree(self._stream(ctx, self.WARM_BATCHES, traced=False)[1])
        return True

    def run(self, ctx: Ctx, traced: bool, seconds: float) -> list[Op]:
        n = self.n_batches(seconds)
        ops, state = self._stream(ctx, n, traced)
        snapshot, gold, equals_batch = self._final_triples(ctx, n, state)
        ops[-1].check(snapshot, gold, extra_ok=equals_batch)
        shutil.rmtree(state)
        return ops

    def _stream(self, ctx: Ctx, n: int, traced: bool) -> tuple[list[Op], str]:
        """Process batches 0..n-1 from empty state into a fresh state
        directory; returns one Op per batch and that directory."""
        state = f"{self.work}/incremental/s{self.streams}"
        self.streams += 1
        ops: list[Op] = []
        votes, prev = None, {"triples": 0, "files": 0, "bytes": 0}
        for k in range(n):
            with _dropping_persisted():
                if traced:
                    votes, op = self._traced_batch(ctx, k, votes, state, prev)
                else:
                    votes, op = self._batch(ctx, k, votes, state)
            ops.append(op)
            ctx.rss.sample()
        return ops, state

    def _batch(self, ctx: Ctx, k: int, votes, state: str):
        model = ctx.model
        start = _clock(ctx)
        with ctx.tracer.span("op.untraced"):
            batch = ctx.spark.read.parquet(self.paths[k])
            mentions = extract_mentions_df(batch, model.bc_struct)
            winners = score_candidates(link_mentions(mentions, model.variants)).persist()  # read twice
            write_table(winners, f"{state}/winners", mode="append")
            votes = merge_votes(votes, batch_votes(winners)).localCheckpoint()
            final = apply_canonical(read_table(ctx.spark, f"{state}/winners"), canonical_from_votes(votes))
            write_snapshot(mention_triples(final), f"{state}/triples")
        return votes, _untraced_op(ctx, start, self.BATCH_TURNS)

    def _traced_batch(self, ctx: Ctx, k: int, votes, state: str, prev: dict):
        tr, model = ctx.tracer, ctx.model
        t0 = time.monotonic()
        with tr.span("op"):
            batch = ctx.spark.read.parquet(self.paths[k])
            with tr.span("extract"):
                mentions, n_mentions = _persisted(extract_mentions_df(batch, model.bc_struct))
            with tr.span("link"):
                winners, n_winners = _persisted(score_candidates(link_mentions(mentions, model.variants)))
            with tr.span("tableformat.write"):
                write_table(winners, f"{state}/winners", mode="append")
            with tr.span("incremental.merge"):
                votes = merge_votes(votes, batch_votes(winners)).localCheckpoint()
            with tr.span("canon"):
                canon = canonical_from_votes(votes)
                final, _ = _persisted(apply_canonical(read_table(ctx.spark, f"{state}/winners"), canon))
            with tr.span("triples"):
                triples, n_triples = _persisted(mention_triples(final))
            with tr.span("tableformat.write"):
                version = write_snapshot(triples, f"{state}/triples")
        op = Op(time.monotonic() - t0, self.BATCH_TURNS)
        files, size = _dir_files(f"{state}/winners")
        snap_files, snap_size = _dir_files(f"{state}/triples/v={version}")
        new = n_triples - prev["triples"]
        op.counts = {
            "extract.turns_in": self.BATCH_TURNS,
            "extract.mentions_out": n_mentions,
            "extract.hit_ratio": _hit_ratio(mentions, self.BATCH_TURNS),
            "link.candidates": link_mentions(mentions, model.variants).count(),
            "link.winners": n_winners,
            "canon.surface_forms": canon.count(),
            "triples.rows": n_triples,
            "incremental.vote_rows": votes.count(),
            "incremental.rewrite_ratio": n_triples / new if new > 0 else float(n_triples),
            "tableformat.files_written": files - prev["files"] + snap_files,
            "tableformat.bytes_written": size - prev["bytes"] + snap_size,
        }
        prev.update(triples=n_triples, files=files, bytes=size)
        return votes, op

    def _final_triples(self, ctx: Ctx, n: int, state: str) -> tuple[set, set, bool]:
        """(snapshot triples, gold, incremental == batch): the last
        snapshot against the gold annotator and against the batch
        pipeline's triples over the same turns."""
        snapshot = _triple_set(read_snapshot(ctx.spark, f"{state}/triples").collect())
        turns = ctx.spark.read.parquet(*self.paths[:n])
        with _dropping_persisted():
            final = extract_link(turns, ctx.model, salt_partitions=ctx.cores)
            batch = _triple_set(mention_triples(final).collect())
        gold = IN.gold_triples(self.rows[: n * self.BATCH_TURNS], self.gaz_rows)
        return snapshot, gold, snapshot == batch


WORKLOADS = {w.name: w for w in (KgBatch, KgIncremental)}
