"""The benchmark workloads.

Each workload drives the library from outside through its public functions,
as one closed-loop client:

* ``analytics`` — relational catalog entries (``metaframe_spark.queries``)
  over generated TPC-H-style tables, each built through ``MetaFrame`` and
  materialized with the ``noop`` sink. An operation is one entry; a pass
  runs every entry once.
* ``corpus`` — the two corpus halves one after the other:
  :class:`Curate` runs ``pipeline.curate_corpus`` over a generated corpus
  with exact and near duplicates (one operation per pipeline run), and
  :class:`Stream` runs ``streaming.stream_neardup_dedup`` over a directory
  of parquet files, one file per micro-batch, with fresh store, output and
  checkpoint directories on every pass (one operation per micro-batch).

:meth:`Workload.run_pass` times a pass and its operations; with a
recording tracer it also records the spans that :func:`layer_metrics`
turns into per-layer figures.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Dict, List

import datagen
from spans import StageTotals, Tracer

# Ten of the catalog's 100 relational entries: one from each tenth of the
# entries ranked by warm latency at sf0.001 (the third of every ten), so the
# sample keeps the catalog's spread from scans to sketch-heavy aggregates
# and includes a grouped-map Python UDF (q28).
ANALYTICS_ENTRIES = [
    "q49_unpivot", "q26", "q25", "q35_explode", "q54_pk_broadcast_join",
    "q71_interval_join", "q31_asof", "q08", "q28", "q91_heavy_hitters_pruned",
]

SIZES = {
    "default": {"sf": 0.001, "entries": len(ANALYTICS_ENTRIES),
                "curate_docs": 3000, "stream_docs": 1000, "stream_files": 2},
    "smoke": {"sf": 0.0002, "entries": 3,
              "curate_docs": 2000, "stream_docs": 1000, "stream_files": 2},
}


@dataclass
class PassResult:
    """One pass: its wall clock, the latency of each operation, and the
    wall clock of each named part (an analytics entry, or the curation and
    the stream halves of a corpus pass)."""

    wall_s: float
    op_s: List[float]
    parts: Dict[str, float]
    failed: int = 0
    first_span: int = 0
    extra: Dict[str, float] = field(default_factory=dict)


def cache_entries(spark) -> int:
    """Entries in the session's CacheManager (persisted plans)."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def release(result) -> None:
    """Unpersist what an operator persisted, through its original return
    value (a re-projection such as ``to_spark()`` drops the handle)."""
    handle = getattr(result, "_mf_persisted", None)
    if handle is not None:
        handle.unpersist()


def _raw(df):
    return df.to_spark() if hasattr(df, "to_spark") else df


@contextlib.contextmanager
def shims(tracer: Tracer, targets):
    """Rebind ``(module, attribute, span name)`` targets to timing shims
    for the duration of the block (no-op when the tracer is off)."""
    if not tracer.enabled:
        yield
        return
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    try:
        for (mod, attr, name), (_, _, fn) in zip(targets, saved):
            setattr(mod, attr, tracer.wrap(fn, name))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


class Workload:
    name = ""
    # input records one pass reads (documents, or table rows)
    records = 0
    # timed passes a run makes however long they take, so every part of a
    # pass has a median of more than one sample
    min_passes = 2

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.cache_left = 0

    def generate(self, dest: str) -> None:
        """Write the inputs for this seed under ``dest``."""
        raise NotImplementedError

    def use_inputs(self, dest: str) -> None:
        """Run the passes on the inputs generated under ``dest``."""
        raise NotImplementedError

    def run_pass(self, tracer: Tracer) -> PassResult:
        raise NotImplementedError

    def warm(self, off: Tracer) -> float:
        """The first untimed pass, which fills the codegen caches; returns
        the seconds of it that count as set-up."""
        t = time.monotonic()
        self.run_pass(off)
        return time.monotonic() - t

    def check(self, n_passes: int) -> int:
        """Untimed output checks after the ``n_passes`` timed passes;
        returns the number of timed operations whose output was wrong."""
        raise NotImplementedError

    def _after_op(self) -> bool:
        """Leak accounting: True when the operation left cache entries
        behind (the operation then counts as failed and the cache is
        cleared so later operations are not taxed by it)."""
        left = cache_entries(self.spark)
        self.cache_left = max(self.cache_left, left)
        if left:
            self.spark.catalog.clearCache()
        return left > 0


class Analytics(Workload):
    name = "analytics"
    # a pass takes about 5 s, so a run can afford a true median
    min_passes = 3

    def __init__(self, spark, work, seed, size):
        super().__init__(spark, work, seed, size)
        from metaframe_spark.queries import QUERIES

        self.queries = QUERIES
        self.entries = ANALYTICS_ENTRIES[: size["entries"]]
        random.Random(seed).shuffle(self.entries)
        self.data = os.path.join(work, "tables")
        self.rows: Dict[str, int] = {}
        self.wrong: set = set()

    def generate(self, dest: str) -> None:
        self.rows = datagen.write_relational(dest, self.seed, self.size["sf"])

    def use_inputs(self, dest: str) -> None:
        self.data = dest

    def _entry(self, name: str, tracer: Tracer) -> bool:
        """Build, materialize and release one entry; True when it failed."""
        with tracer.span("queries.construct"):
            result = self.queries[name](self.spark, self.data)
        raw = _raw(result)
        if tracer.enabled:
            # plan the entry's own QueryExecution to read its phase times;
            # the noop write below then plans its write command again, which
            # is part of the tracing overhead
            qe = raw._jdf.queryExecution()
            with tracer.span("catalyst.plan"):
                qe.executedPlan()
                phases = qe.tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    summary = phases.get(phase)  # a scala.Option
                    if summary.isDefined():
                        tracer.count(f"catalyst.{phase}_ms", summary.get().durationMs())
        with tracer.span("exec.materialize"):
            raw.write.format("noop").mode("overwrite").save()
        release(result)
        return self._after_op()

    def run_pass(self, tracer: Tracer) -> PassResult:
        import metaframe_spark.queries as queries

        ops, parts, failed = [], {}, 0
        first = len(tracer.spans)
        t0 = time.monotonic()
        with shims(tracer, [(queries, "load_table", "io.load_table")]), \
                tracer.span("pass"):
            for name in self.entries:
                t = time.monotonic()
                try:
                    bad = self._entry(name, tracer)
                except Exception as exc:  # one failed entry must not end the run
                    print(f"analytics: {name} failed: {exc!r}"[:500], flush=True)
                    bad = True
                ops.append(time.monotonic() - t)
                parts[name] = ops[-1]
                failed += bad
        return PassResult(time.monotonic() - t0, ops, parts, failed, first)

    def warm(self, off: Tracer) -> float:
        """The warm-up pass is the output check: every entry is collected
        and hash-compared with its DuckDB oracle over the same parquet
        (which also counts the table rows each entry reads). Returns the
        seconds of the pass without the oracle's share."""
        import metaframe_spark.queries as queries
        from metaframe_spark.queries import ORACLE
        from oracle_harness import compare, duck_connection

        con = duck_connection(self.data)
        loaded: List[str] = []
        real = queries.load_table

        def counting(spark, sf_dir, table, *a, **k):
            loaded.append(table)
            return real(spark, sf_dir, table, *a, **k)

        spark_s = 0.0
        self.records = 0
        queries.load_table = counting
        try:
            for name in self.entries:
                loaded.clear()
                t = time.monotonic()
                try:
                    result = _Collected(self.queries[name](self.spark, self.data))
                    spark_s += time.monotonic() - t
                    res = compare(result, con, ORACLE[name])
                    spark_s += result.spark_s
                    ok = res["rows_match"] and res["cols_match"] and res["hash_match"]
                except Exception as exc:
                    print(f"analytics: check of {name} raised {exc!r}"[:500], flush=True)
                    ok = False
                if not ok:
                    print(f"analytics: {name} differs from its oracle", flush=True)
                    self.wrong.add(name)
                self.records += sum(self.rows.get(t, 0) for t in loaded)
                self._after_op()
        finally:
            queries.load_table = real
            con.close()
        return spark_s

    def check(self, n_passes: int) -> int:
        return len(self.wrong) * n_passes


class _Collected:
    """Stands in for an entry's result inside ``oracle_harness.compare``:
    times the Spark side (``toPandas``) and passes on the release handle."""

    def __init__(self, result):
        self.result = result
        self._mf_persisted = getattr(result, "_mf_persisted", None)
        self.spark_s = 0.0

    def toPandas(self):
        t = time.monotonic()
        try:
            return self.result.toPandas()
        finally:
            self.spark_s = time.monotonic() - t


class Curate(Workload):
    name = "curate"

    def __init__(self, spark, work, seed, size):
        super().__init__(spark, work, seed, size)
        self.records = size["curate_docs"]
        self.data = os.path.join(work, "corpus")
        self.digests: List[tuple] = []
        self.counts: List[Dict[str, int]] = []

    def generate(self, dest: str) -> None:
        datagen.write_corpus(dest, 2 * self.seed, self.records, n_files=4)

    def use_inputs(self, dest: str) -> None:
        self.data = dest

    def _digest(self, out) -> tuple:
        """Order-insensitive digest of the curated rows: row count and the
        sum of per-row 64-bit hashes over every column."""
        from pyspark.sql import functions as F

        cols = sorted(out.columns)
        row = out.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
        ).first()
        return int(row[0]), str(row[1])

    def run_pass(self, tracer: Tracer) -> PassResult:
        import metaframe_spark.operators.sampling as sampling
        import metaframe_spark.pipeline as pipeline

        targets = [
            (pipeline, "exact_dedup_rows", "operators.dedup.exact_dedup_rows"),
            (pipeline, "minhash_near_dup_pairs", "operators.dedup.minhash_near_dup_pairs"),
            (pipeline, "near_dup_groups", "operators.dedup.near_dup_groups"),
            (pipeline, "quality_features", "operators.text.quality_features"),
            (pipeline, "shard_assignments", "operators.sampling.shard_assignments"),
            (pipeline, "global_shuffle", "operators.sampling.global_shuffle"),
            (sampling, "global_shuffle", "operators.sampling.global_shuffle"),
        ]
        docs = self.spark.read.parquet(self.data)
        frame = type(docs)
        count = frame.count

        def stage_count(df):
            # the pipeline's own per-stage counts, not counts inside operators
            if tracer.current() != "pipeline.curate_corpus":
                return count(df)
            with tracer.span("pipeline.stage_count"):
                return count(df)

        first = len(tracer.spans)
        failed = 0
        t0 = time.monotonic()
        try:
            if tracer.enabled:
                frame.count = stage_count
            with shims(tracer, targets), tracer.span("pass"):
                with tracer.span("pipeline.curate_corpus"):
                    out, counts = pipeline.curate_corpus(
                        docs, min_quality=0.0, near_dup_jaccard=0.8, n_shards=8
                    )
                # the digest is the action that materializes every output
                # column, before the release (after it, it would recompute
                # the whole pipeline)
                with tracer.span("exec.materialize"):
                    digest = self._digest(out)
                release(out)
            self.digests.append(digest)
            self.counts.append(counts)
        except Exception as exc:
            print(f"curate: pipeline run failed: {exc!r}"[:500], flush=True)
            failed = 1
        finally:
            frame.count = count
        wall = time.monotonic() - t0
        failed = max(failed, int(self._after_op()))
        return PassResult(wall, [wall], {"curate": wall}, failed, first)

    def check(self, n_passes: int) -> int:
        """``input`` and ``exact_dedup`` counts against DuckDB over the
        generated parquet; one digest for every run of this seed."""
        import duckdb

        con = duckdb.connect()
        try:
            n_in, n_exact = con.execute(
                "SELECT count(*), count(DISTINCT lower(trim(regexp_replace("
                "text, '\\s+', ' ', 'g')))) FROM read_parquet(?)",
                [os.path.join(self.data, "*.parquet")],
            ).fetchone()
        finally:
            con.close()
        bad = 0
        for c in self.counts:
            if c.get("input") != n_in or c.get("exact_dedup") != n_exact:
                print(f"curate: counts {c} differ from DuckDB input={n_in} "
                      f"exact_dedup={n_exact}", flush=True)
                bad += 1
        if len(set(self.digests)) > 1:
            print(f"curate: output digests differ across runs: {self.digests}", flush=True)
            bad = max(bad, len(self.digests) - self.digests.count(self.digests[0]))
        if self.digests:
            print(f"curate: output rows={self.digests[0][0]} digest={self.digests[0][1]}",
                  flush=True)
        return min(bad, n_passes)


class Stream(Workload):
    name = "stream"

    def __init__(self, spark, work, seed, size):
        super().__init__(spark, work, seed, size)
        self.records = size["stream_docs"]
        self.n_files = size["stream_files"]
        self.data = os.path.join(work, "feed")
        self.passes = 0
        self.survivors: List[int] = []

    def generate(self, dest: str) -> None:
        datagen.write_corpus(dest, 2 * self.seed + 1, self.records, n_files=self.n_files)

    def use_inputs(self, dest: str) -> None:
        self.data = dest
        self.schema = self.spark.read.parquet(dest).schema
        self.input_bytes = sum(
            os.path.getsize(os.path.join(dest, f)) for f in os.listdir(dest)
        )

    def _check_pass(self, out_dir: str, store_dir: str) -> bool:
        """No doc_id twice in the output, and the store holds exactly the
        output's ids; records the survivor count. True when wrong."""
        from pyspark.sql import functions as F

        out = self.spark.read.parquet(out_dir)
        n, distinct = out.agg(F.count(F.lit(1)), F.countDistinct("doc_id")).first()
        ids = out.select("doc_id")
        store_ids = self.spark.read.parquet(store_dir).select("doc_id")
        mismatch = ids.exceptAll(store_ids).count() + store_ids.exceptAll(ids).count()
        self.survivors.append(n)
        if n != distinct or mismatch:
            print(f"stream: output rows={n} distinct ids={distinct} "
                  f"store/output id mismatches={mismatch}", flush=True)
            return True
        return False

    def run_pass(self, tracer: Tracer) -> PassResult:
        import metaframe_spark.operators.dedup as dedup
        from metaframe_spark.streaming import read_file_stream, stream_neardup_dedup

        run_dir = os.path.join(self.work, f"stream-pass-{self.passes}")
        self.passes += 1
        store, out, ckpt = (os.path.join(run_dir, d) for d in ("store", "out", "ckpt"))
        targets = [
            (dedup, "minhash_near_dup_pairs", "operators.dedup.minhash_near_dup_pairs"),
            (dedup, "near_dup_groups", "operators.dedup.near_dup_groups"),
            (dedup, "minhash_near_dup_against", "operators.dedup.minhash_near_dup_against"),
        ]
        first = len(tracer.spans)
        t0 = time.monotonic()
        query = None
        try:
            with shims(tracer, targets), tracer.span("pass"), \
                    tracer.span("streaming.query") as sp:
                feed = read_file_stream(
                    self.spark, self.data, self.schema, maxFilesPerTrigger=1
                )
                query = stream_neardup_dedup(feed, store, out, checkpoint_dir=ckpt)
                query.awaitTermination()
                if sp is not None:
                    sp.extra_groups.append(str(query.runId))
            wall = time.monotonic() - t0
            progress = {p["batchId"]: p["durationMs"] for p in query.recentProgress}
            batches = [progress[b] for b in sorted(progress)]
            ops = [d.get("triggerExecution", 0) / 1000.0 for d in batches]
            failed = sum(1 for s in ops if s <= 0)
            if len(ops) != self.n_files:
                print(f"stream: {len(ops)} micro-batches for {self.n_files} files",
                      flush=True)
                failed += abs(self.n_files - len(ops))
            if self._check_pass(out, store):
                failed = len(ops)
        except Exception as exc:
            print(f"stream: pass failed: {exc!r}"[:500], flush=True)
            wall, ops, batches, failed = time.monotonic() - t0, [], [], self.n_files
        finally:
            if query is not None and query.isActive:
                query.stop()
        failed = max(failed, int(self._after_op()))
        shutil.rmtree(run_dir, ignore_errors=True)
        res = PassResult(wall, ops, {"stream": wall}, failed, first)
        for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                          ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms")):
            vals = [d.get(key, 0) for d in batches]
            res.extra[f"streaming.{name}"] = statistics.median(vals) if vals else 0.0
        if len(ops) >= 2 and ops[0] > 0:
            res.extra["streaming.latency_growth"] = ops[-1] / ops[0]
        return res

    def check(self, n_passes: int) -> int:
        """One survivor count for every pass of this seed (each pass's own
        output checks ran right after it)."""
        if len(set(self.survivors)) > 1:
            print(f"stream: survivor counts differ across passes: {self.survivors}",
                  flush=True)
            return self.n_files
        if self.survivors:
            print(f"stream: survivors={self.survivors[0]} of {self.records}", flush=True)
        return 0


class Corpus(Workload):
    """Batch curation of a base corpus, then streaming ingest of a feed.

    A pass is one ``curate_corpus`` run (one operation) followed by one
    stream over every feed file (one operation per micro-batch)."""

    name = "corpus"

    def __init__(self, spark, work, seed, size):
        super().__init__(spark, work, seed, size)
        self.curate = Curate(spark, work, seed, size)
        self.stream = Stream(spark, work, seed, size)
        self.records = self.curate.records + self.stream.records

    def generate(self, dest: str) -> None:
        self.curate.generate(os.path.join(dest, "base"))
        self.stream.generate(os.path.join(dest, "feed"))

    def use_inputs(self, dest: str) -> None:
        self.curate.use_inputs(os.path.join(dest, "base"))
        self.stream.use_inputs(os.path.join(dest, "feed"))
        self.input_bytes = self.stream.input_bytes

    def run_pass(self, tracer: Tracer) -> PassResult:
        c = self.curate.run_pass(tracer)
        s = self.stream.run_pass(tracer)
        self.cache_left = max(self.curate.cache_left, self.stream.cache_left)
        return PassResult(c.wall_s + s.wall_s, c.op_s + s.op_s, {**c.parts, **s.parts},
                          c.failed + s.failed, c.first_span, s.extra)

    def check(self, n_passes: int) -> int:
        return self.curate.check(n_passes) + self.stream.check(n_passes)


WORKLOADS = {w.name: w for w in (Analytics, Corpus)}


# -- per-layer figures from a traced pass --------------------------------

# Each figure is per traced pass (the mean over a run's traced passes) and
# reads 0 on a workload that does not exercise the layer. What each should
# move, and where:
#   core, queries, io, catalyst   total_s on analytics
#   exec.*                        total_s on both
#   operators.*, pipeline.*       total_s and records_per_s on corpus; they
#                                 stay 0 on analytics
#   streaming.*                   total_s and records_per_s on corpus
#   cache.entries_left            total_s on both: a leaked cache entry taxes
#                                 the analysis of every later plan
#   setup.*                       setup_s
#   trace.*                       nothing: the cost of tracing, and the share
#                                 of the traced wall clock inside layer spans
LAYER_METRICS = [
    ("core.dispatch_us_per_call", "us"),
    ("queries.construct_s", "s"),
    ("io.load_table_s", "s"),
    ("io.load_table_calls", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.materialize_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_s", "s"),
    ("exec.core_util", "ratio"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("operators.dedup.exact_dedup_rows_s", "s"),
    ("operators.dedup.minhash_near_dup_pairs_s", "s"),
    ("operators.dedup.minhash_near_dup_pairs_jobs", "count"),
    ("operators.dedup.near_dup_groups_s", "s"),
    ("operators.dedup.near_dup_groups_jobs", "count"),
    ("operators.dedup.minhash_near_dup_against_s", "s"),
    ("operators.sampling.shard_assignments_s", "s"),
    ("operators.sampling.shard_assignments_jobs", "count"),
    ("operators.sampling.global_shuffle_s", "s"),
    ("operators.text.quality_features_s", "s"),
    ("pipeline.curate_corpus_self_s", "s"),
    ("pipeline.stage_count_s", "s"),
    ("streaming.query_s", "s"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.write_amp", "ratio"),
    ("streaming.latency_growth", "ratio"),
    ("cache.entries_left", "count"),
    ("setup.session_s", "s"),
    ("setup.generate_s", "s"),
    ("setup.warm_s", "s"),
    ("trace.overhead_frac", "ratio"),
    ("trace.span_coverage", "ratio"),
]

# spans whose time includes their children (an operator call is one layer
# however the operator is built inside); every other span reports self time
_INCLUSIVE = ("operators.", "io.", "streaming.query")


def layer_metrics(tracer: Tracer, result: PassResult, cores: int,
                  input_bytes: int = 0) -> Dict[str, float]:
    """Per-layer figures of one traced pass."""
    first = result.first_span
    own = tracer.resolve(first)
    rolled = tracer.rolled_up(first, own)
    m: Dict[str, float] = {}
    self_total = 0.0
    for idx in range(first, len(tracer.spans)):
        sp = tracer.spans[idx]
        if sp.parent is not None:
            # the root's self time is the time outside every layer span
            self_total += sp.self_s
        secs = sp.duration if sp.name.startswith(_INCLUSIVE) else sp.self_s
        key = sp.name
        if key == "pipeline.curate_corpus":
            key = "pipeline.curate_corpus_self"
        if key != "pass":
            m[f"{key}_s"] = m.get(f"{key}_s", 0.0) + secs
        if sp.name.startswith("operators."):
            m[f"{key}_jobs"] = m.get(f"{key}_jobs", 0) + rolled[idx].jobs
        if sp.name == "io.load_table":
            m["io.load_table_calls"] = m.get("io.load_table_calls", 0) + 1
        for name, value in sp.counters.items():
            m[name] = m.get(name, 0) + value
    total = StageTotals()
    stream_out = 0
    for idx in rolled:
        if tracer.spans[idx].parent is None:
            total.add(rolled[idx])
        if tracer.spans[idx].name == "streaming.query":
            stream_out += rolled[idx].output_bytes
    m.update({
        "exec.jobs": total.jobs,
        "exec.stages": total.stages,
        "exec.tasks": total.tasks,
        "exec.task_s": total.task_s,
        "exec.core_util": total.task_s / (result.wall_s * cores) if result.wall_s else 0.0,
        "exec.shuffle_write_bytes": total.shuffle_write_bytes,
        "exec.spill_bytes": total.spill_bytes,
        "trace.span_coverage": self_total / result.wall_s if result.wall_s else 0.0,
    })
    if input_bytes:
        m["streaming.write_amp"] = stream_out / input_bytes
    m.update(result.extra)
    return m
