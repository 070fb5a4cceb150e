"""The benchmark's workloads. Each is one closed-loop client: the next
operation starts when the previous one has returned.

A workload makes its inputs in ``setup`` (timed as set-up, with any
warehouse it needs and a warm-up) and runs operation ``i`` in ``op(i)``,
the only call whose time is the operation's latency. ``settle(i)``, right
after it and off the clock, keeps what the oracle will need and releases
the operation's caches. After the timed window ``check`` returns the
indices of the operations whose outputs disagree with the DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import sys
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from oracle import Oracle, agg_row, diff, q, shingle_jaccard
from spans import Tracer
from stats import median

from isp_trace_parser_spark import pipeline
from isp_trace_parser_spark.functions.extract import with_extracted_text
from isp_trace_parser_spark.operators import dedup, rollup
from isp_trace_parser_spark.operators.retention import RetentionPolicy
from isp_trace_parser_spark.serving import TierStore, series_30m_from_blocks
from isp_trace_parser_spark.sources.catalog import Catalog

# The histogram and HLL tiers are left off: they add four stages to every
# pipeline run, and with them an incremental run did not fit the time the
# benchmark may take on a loaded 4-core host (see README, Workloads).
PIPELINE_ARGS = dict(sum_cast=rollup.DEC)
INGEST_BUCKETS = 8
PREBUILT_DAYS = 10  # 2024-03-01 .. 03-10 exist before the first landing
# Set-up also lands the next day untimed: the first landing after the cold
# build cost about a quarter more CPU than the ones after it, by a margin
# that varied from run to run.
WARMUP_LANDINGS = 1
FIRST_DAY = PREBUILT_DAYS + WARMUP_LANDINGS  # the day operation 0 lands
MONTH_DAYS = 31  # landing stops at the end of March
POLICY = RetentionPolicy(raw_keep_days=5, t30_keep_days=40, t1d_keep_months=12)
# Every landing also re-crawls the day four days back (still inside raw
# retention), so each operation must find a rewrite as well as an append.
# Operations are alike on purpose: a run's median does not depend on how
# many of them fit in the window.
LATE_LAG = 4
CHECK_SERIES = 6
AGG_COLS = ["series", "bucket_ts", "avg_value", "min_value", "max_value", "sum_value", "cnt_value"]


@dataclass
class Context:
    spark: Any
    tmp: str
    seed: int
    tracer: Tracer


def _midnight(day: int) -> dt.datetime:
    return dt.datetime.combine(inputs.DAY0 + dt.timedelta(days=day), dt.time())


def _report(workload: str, what: str, problems: list[str]) -> bool:
    for p in problems:
        print(f"# {workload}: {what}: {p}", file=sys.stderr)
    return bool(problems)


class _Warehouse:
    """A pipeline-built warehouse over the seeded crawl days."""

    def __init__(self, ctx: Context, policy: RetentionPolicy | None):
        self.ctx = ctx
        self.policy = policy
        self.cat = Catalog(ctx.spark, os.path.join(ctx.tmp, "warehouse"))
        self.files: dict[tuple[int, int], str] = {}
        self.latest: dict[int, str] = {}  # day -> file of its newest version
        self.results: list[pipeline.PipelineResult] = []

    def write_inputs(self, days: list[tuple[int, int]]) -> None:
        self.files = inputs.write_days(os.path.join(self.ctx.tmp, "input"), self.ctx.seed, days)

    def ingest(self, day: int, version: int = 0) -> None:
        path = self.files[(day, version)]
        with self.ctx.tracer.span("pipeline.ingest"):
            pipeline.ingest_pages(
                self.cat, self.ctx.spark.read.parquet(path),
                n_buckets=INGEST_BUCKETS, mode="dynamic",
            )
        self.latest[day] = path

    def prebuild(self) -> None:
        days = list(range(PREBUILT_DAYS))
        paths = [self.files[(d, 0)] for d in days]
        with self.ctx.tracer.span("pipeline.ingest"):
            pipeline.ingest_pages(
                self.cat, self.ctx.spark.read.parquet(*paths), n_buckets=INGEST_BUCKETS
            )
        self.latest.update({d: p for d, p in zip(days, paths)})
        self.run_pipeline(now=_midnight(PREBUILT_DAYS))

    def run_pipeline(self, now: dt.datetime) -> None:
        with self.ctx.tracer.pipeline():
            res = pipeline.run_rollup_pipeline(
                self.ctx.spark, self.cat, policy=self.policy, now=now, **PIPELINE_ARGS
            )
        self.results.append(res)

    def input_rows(self) -> int:
        return sum(pq.read_metadata(p).num_rows for p in self.latest.values())

    def bytes_stored(self) -> int:
        tables = [t for t in os.listdir(self.cat.warehouse) if self.cat.exists(t)]
        return sum(self.cat.last_snapshot(t)["bytes"] for t in tables)

    def compression_ratio(self) -> float:
        for res in reversed(self.results):
            ratio = res.metrics.get("blocks_30m", {}).get("compression_ratio")
            if ratio is not None:
                return float(ratio)
        return 0.0

    def check_tiers(self) -> list[str]:
        """Sampled series of every avg tier and their decoded blocks
        against DuckDB over the newest version of every landed day."""
        rng = np.random.default_rng([self.ctx.seed, 13])
        series = sorted(rng.choice(inputs.urls(), CHECK_SERIES, replace=False).tolist())
        orc = Oracle(self.latest.values())
        problems = []
        try:
            for table, seconds in (("agg_30m", 1800), ("agg_1d", 86400), ("agg_1mo", None)):
                got = self.cat.read(table).where(F.col("series").isin(series)).select(AGG_COLS)
                problems += [f"{table}: {d}" for d in diff(
                    [agg_row(tuple(r)) for r in got.collect()], orc.tier(seconds, series))]
            got = series_30m_from_blocks(self.cat, series).collect()
            problems += [f"blocks_30m decode: {d}" for d in diff(
                [(r[0], r[1], q(r[2], 4)) for r in got], orc.avg_30m(series))]
        finally:
            orc.close()
        return problems


# ------------------------------------------------------------ dashboard
QUERY_KINDS = [
    "series_30m", "series_2h", "series_1d", "series_1mo",
    "series_auto", "cold_blocks",
]
AUTO_LADDER = [
    ("30m", 1800), ("1h", 3600), ("2h", 7200), ("4h", 14400), ("6h", 21600),
    ("12h", 43200), ("1d", 86400), ("2d", 172800), ("7d", 604800), ("28d", 2419200),
]


@dataclass
class Query:
    kind: str
    series: list[str]
    start: dt.datetime
    end: dt.datetime
    max_points: int = 0
    rows: list[tuple] = field(default_factory=list)
    label: str = ""


def dashboard(seed: int, op: int, last_day: int) -> list[Query]:
    """One query of each kind over 1-5 seeded series and a day-aligned
    window of 1-4 days ending with ``last_day`` (the whole month for 1mo)."""
    rng = np.random.default_rng([seed, 11, op])
    all_urls = inputs.urls()
    end = _midnight(last_day + 1)
    out = []
    for kind in QUERY_KINDS:
        series = sorted(rng.choice(all_urls, int(rng.integers(1, 6)), replace=False).tolist())
        qry = Query(kind, series, end - dt.timedelta(days=int(rng.integers(1, 5))), end)
        if kind == "series_1mo":
            qry.start, qry.end = dt.datetime(2024, 2, 1), dt.datetime(2024, 4, 1)
        if kind == "series_auto":
            qry.max_points = (24, 48, 200)[int(rng.integers(3))]
        out.append(qry)
    return out


def auto_label(span_s: int, max_points: int) -> tuple[str, int]:
    for label, res in AUTO_LADDER:
        if -(-span_s // res) <= max_points:
            return label, res
    return AUTO_LADDER[-1]


class Incremental:
    """Lands one crawl day per operation into a pre-built warehouse, brings
    every tier and retention current, and refreshes a dashboard over the
    new day. Each operation also re-crawls an older day, so the snapshot
    diff must find a rewrite and not only an append; raw partitions expire
    as the window slides. The dashboard asks one query of each kind: tier
    routing, pruning, cascades and a cold Gorilla-block decode."""

    name = "incremental"
    op_label = "land+refresh"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.wh = _Warehouse(ctx, POLICY)
        self.cat = self.wh.cat
        self.store = TierStore(self.cat)
        self.landed: list[int] = []
        self.land_s: list[float] = []
        self.query_s: list[float] = []
        self.boards: list[tuple[dict[int, str], list[Query]]] = []  # (inputs then, queries)

    def has_op(self, i: int) -> bool:
        return FIRST_DAY + i < MONTH_DAYS

    def setup(self) -> None:
        days = [(d, 0) for d in range(MONTH_DAYS)]
        days += [(d - LATE_LAG, 1) for d in range(PREBUILT_DAYS, MONTH_DAYS)]
        self.wh.write_inputs(days)
        self.wh.prebuild()
        for day in range(PREBUILT_DAYS, FIRST_DAY):
            self._land(day)
        # warm-up: one refresh over the landed days, from a query stream
        # no operation uses, never checked
        for qr in dashboard(self.ctx.seed, MONTH_DAYS, FIRST_DAY - 1):
            self._query(qr)

    def _land(self, day: int) -> None:
        """Hand over a crawl day and the late re-crawl of an older one,
        then bring every tier and retention current."""
        self.wh.ingest(day)
        self.wh.ingest(day - LATE_LAG, version=1)
        self.wh.run_pipeline(now=_midnight(day + 1))

    def _build(self, qr: Query):
        st, s, a, b = self.store, qr.series, qr.start, qr.end
        if qr.kind == "series_auto":
            df, qr.label = st.series_auto(a, b, s, max_points=qr.max_points)
            return df.select(AGG_COLS)
        if qr.kind.startswith("series_"):
            return st.series(s, a, b, qr.kind[7:]).select(AGG_COLS)
        return series_30m_from_blocks(self.cat, s, a, b)

    def _query(self, qr: Query) -> float:
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span(f"serving.{qr.kind}.plan"):
            df = self._build(qr)
        with tr.span(f"serving.{qr.kind}.exec"):
            qr.rows = [tuple(r) for r in df.collect()]
        return time.perf_counter() - t0

    def op(self, i: int) -> None:
        day = FIRST_DAY + i
        t0 = time.perf_counter()
        self._land(day)
        self.land_s.append(time.perf_counter() - t0)
        self.landed.append(day)
        board = dashboard(self.ctx.seed, i, day)
        self.boards.append((dict(self.wh.latest), board))
        self.query_s += [self._query(qr) for qr in board]

    def settle(self, i: int) -> None:
        pass

    @staticmethod
    def expected(orc: Oracle, qr: Query) -> tuple[list[tuple], list[tuple]]:
        """(got, want) for one dashboard query, in comparable form."""
        s, a, b = qr.series, qr.start, qr.end
        if qr.kind == "cold_blocks":
            return [(r[0], r[1], q(r[2], 4)) for r in qr.rows], orc.avg_30m(s, a, b)
        if qr.kind == "series_auto":
            label, seconds = auto_label(int((b - a).total_seconds()), qr.max_points)
            if label != qr.label:
                return [("label", qr.label)], [("label", label)]
        else:
            seconds = {"30m": 1800, "2h": 7200, "1d": 86400, "1mo": None}[qr.kind[7:]]
        return [agg_row(r) for r in qr.rows], orc.tier(seconds, s, a, b)

    def check(self, n_ops: int) -> set[int]:
        problems = self.wh.check_tiers()
        # retention: exactly the raw days older than the policy horizon are
        # gone, every other table keeps every landed day
        last_now = _midnight(max(self.wh.latest) + 1)
        cutoff = (last_now - dt.timedelta(days=POLICY.raw_keep_days)).date().isoformat()
        landed = {inputs.day_str(d) for d in self.wh.latest}
        want_gone = {d for d in landed if d < cutoff}
        gone: set[str] = set()
        for res in self.wh.results:
            for table, dropped in res.metrics.get("retention", {}).items():
                if table == "pages":
                    gone.update(dropped)
                elif dropped:
                    problems.append(f"retention expired {table} {dropped}")
        if gone != want_gone:
            problems.append(f"retention expired {sorted(gone)}, policy names {sorted(want_gone)}")
        present = set(self.cat.list_partitions("pages", "day_bucket"))
        if present != landed - want_gone:
            problems.append(f"raw partitions {sorted(present)} != {sorted(landed - want_gone)}")
        # the tiers are cumulative: a wrong answer taints every landing
        bad = set(range(n_ops)) if _report(self.name, "oracle", problems) else set()
        # each dashboard against the input as it stood when it was asked
        for i, (files, board) in enumerate(self.boards[:n_ops]):
            orc = Oracle(files.values())
            try:
                for qr in board:
                    if _report(self.name, f"op {i} {qr.kind}", diff(*self.expected(orc, qr))):
                        bad.add(i)
            finally:
                orc.close()
        return bad

    def extras(self) -> dict[str, Any]:
        return {
            "op_results": self.wh.results[-len(self.landed):] if self.landed else [],
            "op_query_rows": [{qr.kind: len(qr.rows) for qr in b} for _, b in self.boards],
            "compression_ratio": self.wh.compression_ratio(),
            "bytes_per_row": self.wh.bytes_stored() / self.wh.input_rows(),
        }

    def summary(self, latencies: list[float]) -> list[tuple[str, float, str, int]]:
        return [("land_p50_s", median(self.land_s), "s", len(self.land_s)),
                ("query_p50_s", median(self.query_s), "s", len(self.query_s)),
                ("bytes_stored_per_row", self.extras()["bytes_per_row"], "B/row", 1)]


# ----------------------------------------------------------------- curate
CORPUS_BASE = 600
CORPUS_FILES = 8
CORPUS_EXACT_GROUPS = 30
CORPUS_NEAR_PAIRS = 30
RECALL_FLOOR = 0.9  # planted near duplicates MinHash-LSH must find
PAIR_JACCARD_FLOOR = 0.5  # every reported pair must be at least this similar
WARMUP_PASSES = 3


@dataclass
class CurateResult:
    text_md5: dict[int, str]
    groups: list[tuple[int, int]]
    pairs: list[tuple[int, int]]


class Curate:
    """Webtext curation over an HTML corpus with planted duplicates:
    extract text, drop exact duplicates, then find near-duplicate pairs
    among the survivors with MinHash-LSH."""

    name = "curate"
    op_label = "curate"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.cat = None  # no catalog on this path
        self.results: list[CurateResult] = []

    def has_op(self, i: int) -> bool:
        return True

    def setup(self) -> None:
        table, self.text, self.planted_groups, self.planted_pairs = inputs.corpus(
            self.ctx.seed, CORPUS_BASE, CORPUS_EXACT_GROUPS, CORPUS_NEAR_PAIRS
        )
        path = os.path.join(self.ctx.tmp, "corpus")
        os.makedirs(path)
        step = -(-table.num_rows // CORPUS_FILES)
        for k in range(CORPUS_FILES):
            pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))
        self.docs = self.ctx.spark.read.parquet(path)
        self.n_docs = table.num_rows
        self._pending = None
        # warm-up: JIT, Python workers, UDF imports. The first pass is
        # cold (about three operations long); the JIT keeps compiling after
        # it, and an operation's CPU cost still falls by 5-15% from one
        # pass to the next over the following two
        for _ in range(WARMUP_PASSES):
            self._result(*self._curate(self.docs))

    def _curate(self, docs):
        """Extract, exact dedup, near-dup pairs. Returns the cached
        extraction, the kept groups and the pairs."""
        tr = self.ctx.tracer
        with tr.span("extract"):
            ext = with_extracted_text(docs).select(
                "doc_id", F.col("extracted_text").alias("text")
            ).cache()
            ext.count()
        try:
            with tr.span("dedup.exact"):
                exact = dedup.exact_dedup(ext)
                keep = exact.select("keep_id", "dup_count").collect()
            with tr.span("dedup.minhash"):
                survivors = ext.join(
                    exact.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
                )
                pairs = dedup.minhash_lsh_pairs(survivors).select("d1", "d2").collect()
        except BaseException:
            ext.unpersist(blocking=True)
            raise
        return ext, keep, pairs

    def _result(self, ext, keep, pairs) -> CurateResult:
        """The oracle's view of one pass: digests of the extracted text
        (a Spark job of the benchmark's own, so never timed), then the
        cached extraction is dropped."""
        try:
            digests = ext.select("doc_id", F.md5("text")).collect()
        finally:
            ext.unpersist(blocking=True)
        return CurateResult(
            text_md5={r[0]: r[1] for r in digests},
            groups=sorted((r[0], r[1]) for r in keep if r[1] > 1),
            pairs=sorted((min(r), max(r)) for r in pairs),
        )

    def op(self, i: int) -> None:
        self._pending = self._curate(self.docs)

    def settle(self, i: int) -> None:
        # a failed operation leaves None, so results stay indexed by operation
        pending, self._pending = self._pending, None
        self.results.append(self._result(*pending) if pending else None)

    def recall(self, res: CurateResult) -> float:
        found = set(res.pairs)
        return sum(p in found for p in self.planted_pairs) / len(self.planted_pairs)

    def check(self, n_ops: int) -> set[int]:
        orc = Oracle()
        try:
            want_groups = orc.exact_groups(self.text)
        finally:
            orc.close()
        want_md5 = {i: hashlib.md5(t.encode()).hexdigest() for i, t in enumerate(self.text)}
        planted = {(min(g), len(g)) for g in self.planted_groups}
        bad = set()
        for i, res in enumerate(self.results[:n_ops]):
            if res is None:
                bad.add(i)
                continue
            problems = []
            wrong = [d for d, h in want_md5.items() if res.text_md5.get(d) != h]
            if wrong:
                problems.append(f"extracted text differs for {len(wrong)} docs, e.g. {wrong[:3]}")
            problems += [f"exact groups: {d}" for d in diff(res.groups, want_groups)]
            if not planted <= set(res.groups):
                problems.append("a planted exact-duplicate group was not found")
            if self.recall(res) < RECALL_FLOOR:
                problems.append(f"near-dup recall {self.recall(res):.3f} < {RECALL_FLOOR}")
            low = [p for p in res.pairs
                   if shingle_jaccard(self.text[p[0]], self.text[p[1]]) < PAIR_JACCARD_FLOOR]
            if low:
                problems.append(f"{len(low)} reported pairs below Jaccard {PAIR_JACCARD_FLOOR}")
            if _report(self.name, f"op {i}", problems):
                bad.add(i)
        return bad

    def extras(self) -> dict[str, Any]:
        return {"recall": [self.recall(r) for r in self.results if r]}

    def summary(self, latencies: list[float]) -> list[tuple[str, float, str, int]]:
        return [("curate_docs_per_s", self.n_docs / median(latencies), "docs/s", len(latencies))]


WORKLOADS = {w.name: w for w in (Incremental, Curate)}
