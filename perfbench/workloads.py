"""The benchmark's workloads.

Each workload is a closed loop in one driver process: an operation starts
when the previous one has finished. Every operation's output is checked in
the same run; a wrong result or an exception counts as a failed operation
and the loop goes on.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
from spans import Span, SpanStats, Tracer


@dataclass
class Round:
    """One timed operation: its span and the counts it produced."""

    span: Span
    rows_in: int  # rows the operation took in
    rows_out: int  # rows it produced
    counts: dict = field(default_factory=dict)


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong result: {what}", file=sys.stderr, flush=True)


# fewer timed operations than this make a poor median
MIN_TIMED = 3


def _done(deadline: float, seconds: float, timed: list[Round], min_timed: int = MIN_TIMED) -> bool:
    """Whether a run stops starting operations: it has ``min_timed`` of them
    and the next would end more than half an operation past the deadline (so
    a run measures about ``seconds`` on average), or twice ``seconds`` have
    passed since the deadline, however few completed."""
    now = time.perf_counter()
    if now > deadline + 2 * seconds:
        return True
    last = timed[-1].span.dur if timed else 0.0
    return len(timed) >= min_timed and now + last / 2 >= deadline


def _measure(op, seconds: float) -> list[Round]:
    """Run ``op`` back to back until ``_done``; keep the Rounds it returns."""
    out: list[Round] = []
    deadline = time.perf_counter() + seconds
    while True:
        r = op()
        if r is not None:
            out.append(r)
        if _done(deadline, seconds, out):
            return out


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mode(xs) -> float:
    """The most common value, the lowest on a tie: what a steady round
    counts, whichever first, resume or compaction rounds a run holds."""
    xs = list(xs)
    return float(min(statistics.multimode(xs))) if xs else 0.0


def _dir_usage(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for name in files:
            n_bytes += os.path.getsize(os.path.join(d, name))
            n_files += 1
    return n_bytes, n_files


class CrawlLoop:
    """``FrontierCrawl`` over a seeded ``make_web_corpus`` corpus: bootstrap,
    rounds with their parquet state writes and manifest commits, seen
    compaction, and at the start of every measured stretch a fresh
    ``FrontierCrawl`` that resumes from the committed manifest. Schedule,
    seen set and round metrics of every round are checked against
    ``frontier.simulator.simulate``."""

    name = "crawl_loop"
    N_DOCS = 40_000
    N_HOSTS = 480
    # a crawl's first rounds run while the JVM still compiles the round's
    # plans, and round 0 keys the corpus: they are checked but not timed
    WARMUP_ROUNDS = 2
    # a measured stretch times at least four rounds, so that the same mix
    # (a resumed, a compaction and two plain rounds) is timed on a slow host
    # and a fast one, and the rates average over more of the host's drift
    MIN_TIMED = 4
    # compaction every 4 rounds rather than the default 8, so that every
    # measured stretch holds one (rounds 2-5, 6-9, 10-13)
    COMPACT_EVERY = 4
    METRIC_KEYS = ("scheduled", "spilled", "records", "html_pages", "links",
                   "dedup_hits", "robots_blocked", "invalid_urls")

    def __init__(self, spark, tracer: Tracer, work_dir: str, seed: int) -> None:
        """Generate and write the corpus and run the reference simulator on
        it; not part of any timing."""
        from warcbase_spark.fixtures import write_corpus
        from warcbase_spark.frontier.simulator import simulate

        self.spark, self.tracer = spark, tracer
        self.work_dir = work_dir
        self.corpus_dir = f"{work_dir}/corpus"
        corpus = inputs.crawl_corpus(seed, self.N_DOCS, self.N_HOSTS)
        write_corpus(corpus, self.corpus_dir)
        self.sim = simulate(corpus, max_rounds=100)
        self._states = 0
        self.fc = None  # the crawl the run goes on with
        self.state = ""
        self.rnd = 0  # its next round
        self.checked = 0  # its rounds already checked
        self.bootstrap_s: list[float] = []

    def setup(self) -> None:
        """A new ``FrontierCrawl`` and its bootstrap (seed keys, robots and
        the round-0 frontier write), in a state dir of its own; the run goes
        on with the crawl of the last set-up."""
        self._drop()
        self.state = f"{self.work_dir}/state-{self._states}"
        self._states += 1
        fc = self._crawl()
        with self.tracer.span("crawl.bootstrap") as s:
            fc.bootstrap()
        self.bootstrap_s.append(s.dur)
        self.fc, self.rnd, self.checked = fc, 0, 0

    def warmup(self, tally: Tally) -> None:
        """The crawl's first WARMUP_ROUNDS rounds; a new crawl if set-up
        failed."""
        if self.fc is None:
            self._start(tally)
        else:
            while self.fc is not None and self.rnd < self.WARMUP_ROUNDS:
                self._round(tally, resume=False)

    def measure(self, seconds: float, tally: Tally) -> list[Round]:
        """Time the crawl's next rounds until ``_done``, the first of them
        run by a fresh ``FrontierCrawl`` resumed from the committed
        manifest; then check every round not yet checked. A crawl that
        finishes or raises is followed by a new one."""
        out: list[Round] = []
        deadline = time.perf_counter() + seconds
        resume = True
        while not _done(deadline, seconds, out, self.MIN_TIMED):
            if self._finished(tally):
                self._check(tally, complete=True)
                self._drop()
                self._start(tally)
                continue
            r = self._round(tally, resume)
            resume = False
            if r is not None:
                out.append(r)
        self._check(tally, complete=True)
        return out

    def _crawl(self):
        from warcbase_spark.frontier.crawl import FrontierCrawl

        return FrontierCrawl(self.spark, self.corpus_dir, self.state, compact_every=self.COMPACT_EVERY)

    def _start(self, tally: Tally) -> None:
        """A new crawl and its untimed first rounds."""
        try:
            self.setup()
        except Exception:
            traceback.print_exc()
            tally.record(False, "crawl bootstrap raised")
            self._drop()
            return
        self.warmup(tally)

    def _finished(self, tally: Tally) -> bool:
        """Whether there is no crawl to go on with, or it has no frontier
        left."""
        if self.fc is None:
            return True
        try:
            return self.fc.load_manifest()["next_frontier_rows"] == 0
        except Exception:
            traceback.print_exc()
            tally.record(False, "crawl manifest unreadable")
            return True

    def _drop(self) -> None:
        if self.state:
            shutil.rmtree(self.state, ignore_errors=True)
        self.fc, self.state = None, ""

    def _round(self, tally: Tally, resume: bool) -> Round | None:
        """The crawl's next round; a crawl whose round raised is checked up
        to that round and dropped."""
        tr = self.tracer
        rnd = self.rnd
        before = _dir_usage(self.state)
        try:
            if resume:
                with tr.span("crawl.resume"):
                    self.fc = self._crawl()
                    with tr.span("crawl.round") as s:
                        (m,) = self.fc.run(max_rounds=rnd + 1)
            else:
                with tr.span("crawl.round") as s:
                    (m,) = self.fc.run(max_rounds=rnd + 1)
        except Exception:
            traceback.print_exc()
            tally.record(False, f"crawl round {rnd} raised")
            self._check(tally, complete=False)
            self._drop()
            return None
        after = _dir_usage(self.state)
        self.rnd += 1
        return Round(s, m.scheduled + m.spilled, m.scheduled, {
            "dedup_hits": m.dedup_hits,
            "bloom_hits": m.bloom_hits,
            "state_bytes": after[0] - before[0],
            "state_files": after[1] - before[1],
            "compaction": (rnd + 1) % self.COMPACT_EVERY == 0,
        })

    def _check(self, tally: Tally, complete: bool) -> None:
        """Check the rounds of the current crawl not checked yet."""
        if self.fc is None or self.rnd == self.checked:
            return
        try:
            ok = self._compare(complete)
        except Exception:
            traceback.print_exc()
            ok = [False] * self.rnd
        for r in range(self.checked, len(ok)):
            tally.record(ok[r], f"crawl round {r} differs from the simulator")
        self.checked = self.rnd

    def _compare(self, complete: bool) -> list[bool]:
        """Per round: schedule rows, newly seen keys and round metrics equal
        the simulator's for that round. A ``complete`` crawl must hold no
        rounds past the ones it ran; one whose round raised is compared up to
        that round."""
        got_sched, exp_sched = defaultdict(set), defaultdict(set)
        for r in self.fc.schedule().collect():
            got_sched[r["round"]].add((r["seq"], r["url_key"], r["host"], r["priority"]))
        for rnd, seq, key, host, prio in self.sim.schedule:
            exp_sched[rnd].add((seq, key, host, prio))
        got_seen, exp_seen = defaultdict(set), defaultdict(set)
        for r in self.fc.url_seen().collect():
            got_seen[r["first_round"]].add(r["url_key"])
        for key, rnd in self.sim.seen.items():
            exp_seen[rnd].add(key)
        got_metrics = {r["round"]: {k: r[k] for k in self.METRIC_KEYS} for r in self.fc.metrics().collect()}
        exp_metrics = {m["round"]: {k: m[k] for k in self.METRIC_KEYS} for m in self.sim.metrics}
        extra = set(got_sched) | set(got_seen) | set(got_metrics) if complete else set()
        return [
            got_sched[r] == exp_sched[r]
            and got_seen[r] == exp_seen[r]
            and got_metrics.get(r) == exp_metrics.get(r)
            for r in range(max([self.rnd - 1, *extra], default=-1) + 1)
        ]

    def layer_metrics(self, stats: dict[int, SpanStats], rounds: list[Round]) -> dict[str, float]:
        """Per-layer metrics over ``rounds``: medians per round, and the
        steady round's value for counts of jobs, stages and tasks."""
        st = [stats[r.span.id] for r in rounds]
        dedup = sum(r.counts["dedup_hits"] for r in rounds)
        bloom = sum(r.counts["bloom_hits"] for r in rounds)
        return {
            "crawl.jobs_per_round": _mode(s.counters["jobs"] for s in st),
            "crawl.stages_per_round": _mode(s.counters["stages"] for s in st),
            "crawl.tasks_per_round": _mode(s.counters["tasks"] for s in st),
            "crawl.driver_gap_s_per_round": _median(s.driver_gap_s for s in st),
            "crawl.task_s_per_round": _median(s.counters["task_s"] for s in st),
            "crawl.python_udf_s_per_round": _median(s.counters["python_udf_s"] for s in st),
            "crawl.bootstrap_s": _median(self.bootstrap_s),
            "crawl.resume_s": _median(s.span.dur for s in stats.values() if s.span.name == "crawl.resume"),
            "crawl.compaction_round_s": _median(r.span.dur for r in rounds if r.counts["compaction"]),
            "crawl.state_bytes_per_round": _median(r.counts["state_bytes"] for r in rounds),
            "crawl.state_files_per_round": _median(r.counts["state_files"] for r in rounds),
            "crawl.state_bytes_per_scheduled_url": _median(
                r.counts["state_bytes"] / r.rows_out for r in rounds if r.rows_out
            ),
            "crawl.dedup_hits": _median(r.counts["dedup_hits"] for r in rounds),
            "crawl.bloom_hits": _median(r.counts["bloom_hits"] for r in rounds),
            "crawl.bloom_precision": dedup / bloom if bloom else 0.0,
        }


class Analytics:
    """Repeated passes over a fixed set of registry queries, each forced
    with a noop sink, over seeded tables of the shapes they read. Each
    query's collected output is checked against its DuckDB oracle before
    any pass; every pass checks each query's row count and row checksum
    against those of that verified output."""

    name = "analytics"
    # one query per layer: operators.dedup, operators.pipeline (a stage of
    # training_pipeline) and queries (a TPC-H join)
    QUERIES = ("dedup_minhash_lsh", "decontam_eval3", "tpch_q3_top10")
    READS = {"dedup_minhash_lsh": ("documents",), "decontam_eval3": ("documents",),
             "tpch_q3_top10": ("customer", "orders", "lineitem")}
    N_DOCS = 1000
    N_CUSTOMERS = 1500
    # passes keep getting faster for many passes after the JVM starts (after
    # a single warm-up pass, by about 15% over the next four), so a run's
    # median depended on how far warm-up had got: untimed passes run for
    # this long, more of them on a fast host
    WARMUP_SECONDS = 8.0

    def __init__(self, spark, tracer: Tracer, work_dir: str, seed: int) -> None:
        """Generate and write the tables and run each query's oracle on
        them in DuckDB; not part of any timing."""
        import duckdb
        import pyarrow.parquet as pq

        from scripts.check_oracles import df_multiset
        from warcbase_spark.queries import ORACLES, QUERIES

        self.spark, self.tracer = spark, tracer
        self.data_dir = f"{work_dir}/analytics"
        os.makedirs(self.data_dir)
        tables = inputs.analytics_tables(seed, self.N_DOCS, self.N_CUSTOMERS)
        con = duckdb.connect()
        for t, table in tables.items():
            path = f"{self.data_dir}/{t}.parquet"
            pq.write_table(table, path)
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.rows_in = sum(tables[t].num_rows for q in self.QUERIES for t in self.READS[q])
        self.queries = {q: QUERIES[q] for q in self.QUERIES}
        self.oracle = {}
        for q in self.QUERIES:
            rel = con.sql(ORACLES[q])
            self.oracle[q] = df_multiset(rel.columns, rel.fetchall())
        con.close()
        self.multiset = df_multiset
        self.signature: dict[str, tuple] = {}

    def setup(self) -> None:
        """Open every table the queries read and count its rows."""
        for t in sorted({t for q in self.QUERIES for t in self.READS[q]}):
            self.spark.read.parquet(f"{self.data_dir}/{t}.parquet").count()

    def warmup(self, tally: Tally) -> None:
        """Check every query's output against its oracle and keep the row
        count and checksum of that output; then WARMUP_SECONDS of untimed
        passes."""
        for q in self.QUERIES:
            try:
                df = self.queries[q](self.spark, self.data_dir)
                obs = Observation()
                rows = self._observed(df, obs).collect()
                ok = self.multiset(df.columns, [tuple(r) for r in rows]) == self.oracle[q]
                if ok:
                    self.signature[q] = (obs.get["n"], obs.get["h"])
            except Exception:
                traceback.print_exc()
                ok = False
            tally.record(ok, f"query {q} differs from its oracle")
        end = time.perf_counter() + self.WARMUP_SECONDS
        while True:
            self._pass(tally)
            if time.perf_counter() >= end:
                break

    @staticmethod
    def _observed(df, obs: Observation):
        """``df`` with its row count and an order-free checksum of its rows
        observed into ``obs``."""
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1 << 31))).alias("h"),
        )

    def measure(self, seconds: float, tally: Tally) -> list[Round]:
        return _measure(lambda: self._pass(tally), seconds)

    def _pass(self, tally: Tally) -> Round | None:
        """One pass over QUERIES; a Round only if every query ran."""
        tr = self.tracer
        rows_out = 0
        complete = True
        with tr.span("analytics.pass") as root:
            for q in self.QUERIES:
                try:
                    with tr.span(f"query.{q}"):
                        df = self.queries[q](self.spark, self.data_dir)
                        obs = Observation()
                        self._observed(df, obs).write.mode("overwrite").format("noop").save()
                    got = (obs.get["n"], obs.get["h"])
                except Exception:
                    traceback.print_exc()
                    tally.record(False, f"query {q} raised")
                    complete = False
                    continue
                tally.record(got == self.signature.get(q),
                             f"query {q}: rows, checksum {got} != {self.signature.get(q)}")
                rows_out += got[0]
        return Round(root, self.rows_in, rows_out) if complete else None

    def layer_metrics(self, stats: dict[int, SpanStats], rounds: list[Round]) -> dict[str, float]:
        """Per query: median time and event-log sums per run of it, and
        the steady value of its job count."""
        ids = {r.span.id for r in rounds}
        out = {"analytics.pass_s": _median(r.span.dur for r in rounds)}
        for q in self.QUERIES:
            st = [s for s in stats.values() if s.span.parent in ids and s.span.name == f"query.{q}"]
            out[f"query.{q}_s"] = _median(s.span.dur for s in st)
            out[f"query.{q}.jobs"] = _mode(s.counters["jobs"] for s in st)
            for k in ("task_s", "gc_s", "python_udf_s", "shuffle_write_bytes", "spill_bytes"):
                out[f"query.{q}.{k}"] = _median(s.counters[k] for s in st)
            out[f"query.{q}.driver_gap_s"] = _median(s.driver_gap_s for s in st)
        return out


WORKLOADS = {w.name: w for w in (CrawlLoop, Analytics)}
