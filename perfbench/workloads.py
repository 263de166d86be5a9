"""The benchmark's workloads.

Every workload drives the engine only through its public entry points
(``session.get_spark``, the ``fitness_rest`` DataSource,
``ingest.incremental``, ``io`` and ``registry.all_queries()``) and is
split into ``setup`` (fixtures and warm-up, counted in ``setup_s``),
``round`` (the timed unit, repeated until the run's seconds are spent),
``after_round`` (checks, traced counts and fixture restores after each
round, outside its clocks) and ``check`` (the verdicts, after the timed
rounds). A round returns
the latencies of the operations it completed and the work units it did,
which ``metrics.py`` turns into the end-to-end metrics; ``named`` gives
the workload's own names for them.

Inputs come from ``--seed`` only through ``Context.rng``: the daily job's
new day (and with it the history window), the analyst query order and
the fresh corpus path. The query tables are generated from a fixed
seed, so every run queries the same data.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fitness_data_ingest_spark import io as fio
from fitness_data_ingest_spark import registry, registry_util
from fitness_data_ingest_spark.ingest import incremental
from fitness_data_ingest_spark.ingest.schemas import INTRADAY_RESOURCES

import datagen
import oracle
import stats
from spans import SparkProbe, Tracer

# Fixed inputs (see spec.json for why each was chosen).
QUERY_SF = 0.1
CORPUS_SF = 0.02  # 1,000 documents, 500 embeddings
QUERY_DATA_SEED = 42
HEART_SAMPLES = 86_400  # 1-second detail
OTHER_SAMPLES = 1_440  # 1-minute detail
HISTORY_DAYS = 90
EPOCH = dt.date(2024, 1, 1)


@dataclass
class Context:
    spark: object
    tracer: Tracer
    scratch: str
    cores: int
    rng: np.random.Generator
    probe: SparkProbe | None = None
    attempted: int = 0
    failed: int = 0
    failures: list[dict] = field(default_factory=list)
    notes: dict[str, float] = field(default_factory=dict)

    def attempt(self, workload: str, key: str, fn, counted: bool = True):
        """Run one operation; record an exception and carry on. Work that
        is not itself an operation (``counted=False``: set-up, restoring
        a fixture) is counted only when it fails."""
        self.attempted += counted
        try:
            return True, fn()
        except Exception as exc:  # one failed operation must not end the run
            self.attempted += not counted
            self.failed += 1
            self.failures.append(
                {
                    "workload": workload,
                    "key": key,
                    "message": f"{type(exc).__name__}: {exc}".splitlines()[0][:300],
                    "traceback": traceback.format_exc(limit=3),
                }
            )
            return False, None

    def verify(self, workload: str, key: str, fn) -> None:
        """Run one correctness check: ``fn`` returns None when the output
        is right, else what is wrong. Raising counts as wrong too."""
        self.attempted += 1
        try:
            problem = fn()
        except Exception as exc:  # a broken check is a failed check
            problem = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        if problem is not None:
            self.failed += 1
            self.failures.append({"workload": workload, "key": key, "message": problem})

    def note(self, name: str, value: float) -> None:
        """Add a per-round count for the traced per-layer report."""
        self.notes[name] = self.notes.get(name, 0.0) + value


@dataclass
class RoundResult:
    op_latencies: list[float]
    work: float  # rows landed or queries answered
    busy_s: float  # time in timed calls, the operations and any re-run
    parts: dict[str, list[float]] = field(default_factory=dict)  # named sub-timings


def _day(offset: int) -> str:
    return (EPOCH + dt.timedelta(days=int(offset))).isoformat()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------------
# ingest


def _source(spark, start: str, end: str, dates=None):
    """The eight intraday resources from the ``fitness_rest`` source:
    heart at 1-second detail, the rest at 1-minute detail. ``dates``
    restricts the read through the source's pushed-down date filter."""

    def read(resources, samples):
        df = (
            spark.read.format("fitness_rest")
            .option("resources", ",".join(resources))
            .option("start", start)
            .option("end", end)
            .option("samples_per_day", str(samples))
            .load()
        )
        return df if dates is None else df.where(F.col("date").isin(sorted(dates)))

    others = [r for r in INTRADAY_RESOURCES if r != "heart"]
    return read(["heart"], HEART_SAMPLES).unionByName(read(others, OTHER_SAMPLES))


def _rows_per_item(resource: str) -> int:
    return HEART_SAMPLES if resource == "heart" else OTHER_SAMPLES


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(files, bytes, rows) of the Parquet files in one partition dir,
    rows read from the footers."""
    files = nbytes = rows = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            full = os.path.join(path, name)
            files += 1
            nbytes += os.path.getsize(full)
            rows += pq.ParquetFile(full).metadata.num_rows
    return files, nbytes, rows


def _drain_source(ctx: Context, df) -> None:
    """Traced runs only: read the source once more on its own (count()
    pulls every row through the reader) so its cost shows apart from
    the write."""
    with ctx.tracer.span("ingest.source_read"):
        rows = df.count()
    ctx.note("ingest.rows_fetched", rows)
    ctx.note("ingest.source_partitions", df.rdd.getNumPartitions())


class IngestDaily:
    """The daily job against a 90-day x 8-resource history sink: list,
    plan, fetch only the new day, append; then an immediate re-run that
    must find nothing to do."""

    name = "ingest_daily"

    def setup(self, ctx: Context) -> None:
        t = int(ctx.rng.integers(HISTORY_DAYS, HISTORY_DAYS + 3650))
        self.checks: list[tuple[str, str | None]] = []
        self.new_day = _day(t)
        self.window = (_day(t - HISTORY_DAYS), self.new_day)
        self.sink = os.path.join(ctx.scratch, "daily-sink")
        self._write_history(t)
        self.history_files = _listing(self.sink)
        self.plans: list[tuple] = []  # (manifest, work items, pending) of the round's passes

    def _write_history(self, t: int) -> None:
        """The already-landed history of the days before day ``t``: one
        small file per (resource, day) in the layout the sink's writer
        produces. Only its listing is read by a pass, so the payload
        stays small."""
        tbl = pa.table(
            {
                "time": [f"{h:02d}:00:00" for h in range(24)],
                "value": [float(h) for h in range(24)],
            }
        )
        for d in range(t - HISTORY_DAYS, t):
            for r in INTRADAY_RESOURCES:
                part = os.path.join(self.sink, f"resource={r}", f"date={_day(d)}")
                os.makedirs(part)
                pq.write_table(tbl, os.path.join(part, "part-00000-history.snappy.parquet"))

    def _plan(self, ctx: Context):
        with ctx.tracer.span("io.file_manifest"):
            manifest = fio.file_manifest(ctx.spark, self.sink)
        with ctx.tracer.span("ingest.plan"):
            resource = F.regexp_extract("Key", r"resource=([^/]+)/", 1)
            date = F.regexp_extract("Key", r"date=([^/]+)/", 1)
            keys = manifest.where(resource != "").select(
                F.format_string("intraday/%s/%s_%s.parquet", resource, resource, date).alias("Key")
            )
            work = incremental.work_items(ctx.spark, *self.window)
            pending = incremental.pending_items(work, keys).select("resource", "date").collect()
        self.plans.append((manifest, work, len(pending)))
        return pending

    def _pass(self, ctx: Context) -> int:
        """One pass; returns the number of pending work items it found."""
        pending = self._plan(ctx)
        if pending:
            dates = {r["date"] for r in pending}
            df = _source(ctx.spark, *self.window, dates=dates)
            with ctx.tracer.span("io.write_partitioned"):
                fio.write_partitioned(
                    df, self.sink, partition_by=["resource", "date"], mode="append"
                )
        return len(pending)

    def _restore(self) -> None:
        for r in INTRADAY_RESOURCES:
            shutil.rmtree(os.path.join(self.sink, f"resource={r}", f"date={self.new_day}"))

    def round(self, ctx: Context, i: int) -> RoundResult:
        """The timed pass and its re-run, and nothing else: the checks and
        the traced counts run in ``after_round``, outside the round."""
        self.plans = []
        _, secs = _timed(lambda: self._pass(ctx))
        _, again = _timed(lambda: self._pass(ctx))
        rows = sum(_rows_per_item(r) for r in INTRADAY_RESOURCES)
        return RoundResult([secs], rows, secs + again, {"noop_pass_s": [again]})

    def after_round(self, ctx: Context, i: int) -> None:
        """Check the round's passes, then restore the sink.

        The new day must have landed exactly once: 8 pending items, each
        partition holding the fetched rows once. The re-run must have found
        nothing pending (so it wrote nothing, as the listing outside the
        new day, unchanged from set-up, confirms)."""
        (_, _, n_new), (_, _, n_again) = self.plans
        new_dirs = {
            r: os.path.join(self.sink, f"resource={r}", f"date={self.new_day}")
            for r in INTRADAY_RESOURCES
        }
        files = nbytes = 0
        landed = {}
        for r, part in new_dirs.items():
            if os.path.isdir(part):
                f, b, landed[r] = _dir_stats(part)
                files, nbytes = files + f, nbytes + b
        expected = {r: _rows_per_item(r) for r in INTRADAY_RESOURCES}
        problem = None
        if n_new != len(expected) or landed != expected:
            problem = f"pass {i}: {n_new} pending; new day landed {landed}, expected {expected}"
        self.checks.append((f"daily-{i}", problem))
        stray = {p for p in _listing(self.sink) if os.path.dirname(p) not in new_dirs.values()}
        problem = None
        if n_again or stray != self.history_files:
            problem = f"re-run {i}: {n_again} pending, {len(stray ^ self.history_files)} files changed"
        self.checks.append((f"rerun-{i}", problem))

        if ctx.tracer.enabled:
            # what the round's two plans saw, counted after the round so
            # that the traced round does the untraced round's work
            for manifest, work, pending in self.plans:
                ctx.note("io.files_listed", manifest.count())
                ctx.note("ingest.work_items", work.count())
                ctx.note("ingest.pending_items", pending)
            ctx.note("io.files_written", files)
            ctx.note("io.bytes_written", nbytes)
            ctx.note("io.rows_written", sum(landed.values()))
            _drain_source(ctx, _source(ctx.spark, *self.window, dates={self.new_day}))
        self._restore()

    def named(self, results: list[RoundResult]) -> dict[str, tuple[float, str]]:
        passes = [x for r in results for x in r.op_latencies]
        noop = [x for r in results for x in r.parts["noop_pass_s"]]
        return {
            "daily_pass_s": (stats.median(passes), "s"),
            "noop_pass_s": (stats.median(noop), "s"),
            "daily_rows_per_s": (stats.rate(sum(r.work for r in results), sum(passes)), "rows/s"),
        }

    def check(self, ctx: Context) -> dict[str, tuple[float, str]]:
        for key, problem in self.checks:
            ctx.verify(self.name, key, lambda p=problem: p)
        return {}


def _listing(path: str) -> set[str]:
    return {
        os.path.join(d, n) for d, _s, names in os.walk(path) for n in names if n.endswith(".parquet")
    }


# ---------------------------------------------------------------------
# registry

ANALYST_KEYS = (
    "tpch_q1", "tpch_q3_top10", "tpch_q5_region", "tpch_q9_profit",
    "tpch_q18_large_orders", "flagship_pipeline", "window_session",
    "events_sessionize", "join_asof", "ts_rolling_hour_avg",
    "agg_percentiles", "events_funnel",
)
CURATION_KEYS = (
    "text_quality_filter", "text_language_id", "text_pii_redact",
    "dedup_exact_hash", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "text_decontaminate", "corpus_pack_chunks", "embed_semdedup",
    "ann_ivf_topk", "multimodal_decode", "multimodal_image_dedup",
)
CORPUS_TABLES = ("documents", "embeddings")


class RegistryMix:
    """Registry keys in a closed loop. One round is an analyst pass, then
    a curation job whose shared stages start cold on a fresh corpus path.
    The analyst keys use only JVM-side operators and no shared stages, so
    running them first keeps the curation job's stage builds cold while
    the JVM is warm.

    Each key is built with ``QueryDef.spark`` and its result fetched as
    Arrow, which also gives the correctness check its input; the DuckDB
    oracle runs afterwards."""

    name = "registry_mix"
    keys = ANALYST_KEYS + CURATION_KEYS

    def setup(self, ctx: Context) -> None:
        self.queries = registry.all_queries()
        self.stage_sec = registry_util.SHARED_STAGE_BUILD_SEC
        self.results: dict[str, tuple[str, pa.Table]] = {}
        self.data = os.path.join(ctx.scratch, "tables")
        datagen.write(self.data, QUERY_SF, QUERY_DATA_SEED)
        self.corpus = os.path.join(ctx.scratch, "corpus")
        counts = datagen.write(self.corpus, CORPUS_SF, QUERY_DATA_SEED, CORPUS_TABLES)
        self.docs = counts["documents"]
        self.corpus_tag = f"{int(ctx.rng.integers(0, 2**31)):08x}"

    def _query(self, ctx: Context, key: str, data_dir: str) -> float | None:
        def run():
            with ctx.tracer.span("bench.query", key=key):
                with ctx.tracer.span("registry.build", key=key):
                    df = self.queries[key].spark(ctx.spark, data_dir)
                with ctx.tracer.span("registry.execute", key=key):
                    return df.toArrow()

        t0 = time.perf_counter()
        ok, table = ctx.attempt(self.name, key, run)
        secs = time.perf_counter() - t0
        if not ok:
            return None
        self.results[key] = (data_dir, table)
        return secs

    def _analyst_pass(self, ctx: Context) -> list[float]:
        """The analyst keys once each, in a seeded order."""
        lat = [self._query(ctx, ANALYST_KEYS[j], self.data) for j in ctx.rng.permutation(len(ANALYST_KEYS))]
        return [x for x in lat if x is not None]

    def _curation_job(self, ctx: Context, i: int) -> tuple[list[float], list[float]]:
        """The curation keys in order over the corpus presented under a
        fresh path, so the per-process shared-stage cache (keyed by input
        path) starts cold, as for a real job on a new corpus. Returns the
        key latencies and the job's wall time (none if a key failed)."""
        path = f"{self.corpus}-{self.corpus_tag}-{i}"
        os.makedirs(path)
        for name in CORPUS_TABLES:
            os.link(os.path.join(self.corpus, f"{name}.parquet"), os.path.join(path, f"{name}.parquet"))
        t0 = time.perf_counter()
        lat = [self._query(ctx, k, path) for k in CURATION_KEYS]
        job = time.perf_counter() - t0
        return [x for x in lat if x is not None], [job] if None not in lat else []

    def round(self, ctx: Context, i: int) -> RoundResult:
        """One round; every registry query is one operation."""
        self.stages_before = dict(self.stage_sec)
        ana = self._analyst_pass(ctx)
        cur, job = self._curation_job(ctx, i)
        lat = ana + cur
        return RoundResult(lat, len(lat), sum(lat), {"analyst_query_s": ana, "curation_job_s": job})

    def after_round(self, ctx: Context, i: int) -> None:
        if ctx.tracer.enabled:
            new = {k: v for k, v in self.stage_sec.items() if self.stages_before.get(k) != v}
            ctx.note("registry_util.stage_builds", len(new))
            ctx.note("registry_util.stage_build_s", sum(new.values()))

    def named(self, results: list[RoundResult]) -> dict[str, tuple[float, str]]:
        out = {}
        queries = [x for r in results for x in r.parts["analyst_query_s"]]
        if queries:
            out["query_p50_s"] = (stats.median(queries), "s")
            out["analyst_queries_per_s"] = (stats.rate(len(queries), sum(queries)), "queries/s")
            tail = stats.tail(queries)
            out["query_tail_s"] = (tail[1], f"s (p{tail[0]:.1f} of {len(queries)})") if tail else (
                float("nan"), f"s (undefined: {len(queries)} queries < 11)"
            )
        jobs = [x for r in results for x in r.parts["curation_job_s"]]
        if jobs:
            out["curation_job_s"] = (stats.median(jobs), "s")
            out["curation_docs_per_s"] = (stats.rate(self.docs * len(jobs), sum(jobs)), "docs/s")
        return out

    def check(self, ctx: Context) -> dict[str, tuple[float, str]]:
        # the cache outlives the run's own directory
        cache = os.path.join(os.path.dirname(ctx.scratch), "oracle")
        cons: dict[str, tuple[object, str]] = {}
        for key in self.keys:
            if key not in self.results:
                continue  # its failure is already counted
            data_dir, table = self.results[key]
            if data_dir not in cons:
                cons[data_dir] = (oracle.connect(data_dir), oracle.data_digest(data_dir))
            con, digest = cons[data_dir]
            sql = self.queries[key].sql
            ctx.verify(
                self.name, key,
                lambda: oracle.compare(table, oracle.expected(con, sql, digest, cache)),
            )
        for con, _ in cons.values():
            con.close()
        return {}


WORKLOADS = {w.name: w for w in (IngestDaily, RegistryMix)}
