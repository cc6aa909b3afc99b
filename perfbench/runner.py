"""The Spark side of one benchmark run (the child process of run.py).

Order of a run:

1. generate the bench input and the oracle fixture from the seed;
2. set-up: build the session and run one warm-up pass of the workload on
   the fixture, collecting every output column (``setup_s`` is process
   start to the first timed call, input generation excluded);
3. timed passes at bench scale for ``--seconds``: each pass starts with
   cold side caches (``reset_plan_caches``) and forces every call with an
   all-column digest computed in Spark (or, for the sweep, by writing the
   result table, which is then read back and digested untimed);
4. checks: the fixture outputs against their DuckDB twins, the written
   fixture table against the in-memory result, and every pass's digests
   against the first pass's;
5. with ``--trace 1``: a second session in the same (warm) JVM, with the
   event log on, runs traced passes for another ``--seconds``, and the
   per-layer metrics are read from the spans and the event log.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from .inputs import FIXTURE, generate
from .workloads import WORKLOADS, Workload

SLOTS = 4
#: session.py defaults to 48g; the 4-core benchmark host has 15 GB in all
DEFAULT_DRIVER_MEMORY = "3g"
MB = 1024 * 1024


def tail_percentile(n: int) -> int | None:
    """Highest of the usual percentiles with at least ten samples beyond
    it; None when there are too few samples for any."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def call_tail(walls: dict[str, list[float]]) -> tuple[float, int | None]:
    """(tail wall, percentile) over every call's wall time, grouped by
    entry.  Below 20 calls no percentile has ten beyond it; the tail is
    then the slowest entry's median, which, unlike the maximum, does not
    drift with the number of passes a run fits."""
    flat = [w for ws in walls.values() for w in ws]
    p = tail_percentile(len(flat))
    if p is None:
        return max(statistics.median(ws) for ws in walls.values()), None
    return statistics.quantiles(flat, n=100, method="inclusive")[p - 1], p


class Run:
    def __init__(self, args, t_start: float):
        self.args = args
        self.t_start = t_start
        self.wl: Workload = WORKLOADS[args.workload]
        self.work = os.path.abspath(
            os.path.join(".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}")
        )
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    # -- environment ---------------------------------------------------------
    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ.setdefault("SPARK_DRIVER_MEMORY", DEFAULT_DRIVER_MEMORY)
        root = os.getcwd()
        # the Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = self.tmp
        t = time.perf_counter()
        self.bench_dir = os.path.join(self.work, "bench")
        self.fixture_dir = os.path.join(self.work, "fixture")
        self.bench_info = generate(self.bench_dir, self.args.seed, self.wl.sizes)
        self.fixture_info = generate(self.fixture_dir, self.args.seed, FIXTURE)
        self.gen_s = time.perf_counter() - t

    def session(self, eventlog: str | None = None):
        from rangebar_patterns_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
        }
        if eventlog:
            os.makedirs(eventlog, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + eventlog,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.logBlockUpdates.enabled": "true",
                }
            )
        return get_spark(
            f"perfbench-{self.wl.name}",
            master=f"local[{SLOTS}]",
            shuffle_partitions=SLOTS,
            extra_conf=conf,
        )

    # -- calls ---------------------------------------------------------------
    @staticmethod
    def digest(df) -> dict:
        """Order-insensitive all-column digest, computed in Spark: row
        count and the wrapping sum of a 64-bit hash over every column,
        plus the funnel sums when the result has them."""
        from pyspark.sql import functions as F

        h = F.xxhash64(*[df[c] for c in df.columns])
        extra = [c for c in ("n_candidates", "n_signals") if c in df.columns]
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(h).alias("hash"),
            *[F.sum(df[c]).alias(c) for c in extra],
        ).collect()[0]
        return row.asDict()

    def table_path(self, scale: str, entry: str) -> str:
        return os.path.join(self.work, "results", scale, entry)

    def call(self, spark, entry: str, tracer=None) -> dict:
        """One timed catalog call at bench scale, forced through every
        output column.  Returns its digest and wall time."""
        from rangebar_patterns_spark.sources import sinks

        fn = self.queries[entry]
        span = tracer.span(f"plans.catalog.{entry}") if tracer else nullcontext()
        t = time.perf_counter()
        with span:
            df = fn(spark, self.bench_dir)
            if entry in self.wl.sink_entries:
                sinks.overwrite_partitions(df, self.table_path("bench", entry), ["symbol"])
                d = None
            else:
                d = self.digest(df)
        wall = time.perf_counter() - t
        return {"digest": d, "wall": wall}

    # -- passes ----------------------------------------------------------------
    def warmup(self, spark) -> dict:
        """One pass on the fixture, collecting every output column."""
        from rangebar_patterns_spark.plans.catalog import reset_plan_caches
        from rangebar_patterns_spark.sources import sinks

        reset_plan_caches(spark)
        out = {}
        for entry in self.wl.entries:
            df = self.queries[entry](spark, self.fixture_dir)
            out[entry] = _collect(spark, df)
            if entry in self.wl.sink_entries:
                path = self.table_path("fixture", entry)
                sinks.overwrite_partitions(df, path, ["symbol"])
                out[entry + "#written"] = _collect(spark, spark.read.parquet(path))
        reset_plan_caches(spark)
        return out

    def passes(self, spark, seconds: float, tracer=None) -> list[dict]:
        """Whole timed passes within ``seconds``: the first always runs,
        and another starts only if a pass as long as the last one still
        fits."""
        from rangebar_patterns_spark.plans.catalog import reset_plan_caches

        from bench import tree_cpu_delta, tree_cpu_snapshot

        done: list[dict] = []
        t0 = time.perf_counter()
        while True:
            reset_plan_caches(spark)
            if tracer:
                tracer.begin_pass(len(done))
            cpu0 = tree_cpu_snapshot()
            t = time.perf_counter()
            calls = {}
            for entry in self.wl.entries:
                try:
                    calls[entry] = self.call(spark, entry, tracer)
                except Exception:
                    traceback.print_exc()
                    calls[entry] = None
            wall = time.perf_counter() - t
            cpu = tree_cpu_delta(cpu0, tree_cpu_snapshot())
            if tracer:
                tracer.end_pass()
            for entry in self.wl.sink_entries:
                if calls.get(entry):
                    calls[entry]["digest"] = self.digest(
                        spark.read.parquet(self.table_path("bench", entry))
                    )
            done.append({"wall": wall, "cpu": cpu, "calls": calls})
            if time.perf_counter() - t0 + wall > seconds:
                return done

    # -- checks ----------------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def check_passes(self, done: list[dict], first: dict[str, dict]) -> None:
        """Every call's digest against ``first`` (entry -> digest), which
        takes each entry's first digest seen when it has none yet."""
        for i, p in enumerate(done):
            for entry in self.wl.entries:
                c = p["calls"].get(entry)
                if c is None:
                    self.check(False, f"{entry} raised in pass {i}")
                    continue
                first.setdefault(entry, c["digest"])
                self.check(c["digest"] == first[entry], f"{entry} digest changed in pass {i}")

    def check_fixture(self, results: dict) -> None:
        """Fixture outputs against their DuckDB twins, with the test suite's
        order-insensitive compare; the written table against the in-memory
        result."""
        import duckdb

        sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
        from conftest import compare_frames
        from rangebar_patterns_spark.plans import catalog

        oracles = {**catalog.ORACLES, **catalog.BENCH_ORACLES, **catalog.RESTORED_ORACLES}
        con = duckdb.connect()
        try:
            con.execute("SET threads=2")
            con.execute("SET memory_limit='2GB'")
            con.execute(f"SET temp_directory='{os.path.join(self.tmp, 'duckdb')}'")
            for t in ("events", "documents", "embeddings"):
                path = os.path.join(self.fixture_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for entry in self.wl.entries:
                pairs = [(entry, oracles[entry], results[entry])]
                if entry in self.wl.sink_entries:
                    pairs.append((f"{entry} written table", None, results[entry + "#written"]))
                for what, sql, got in pairs:
                    want = con.execute(sql).df() if sql else results[entry]
                    try:
                        compare_frames(_Frame(got), want)
                        ok = True
                    except AssertionError as exc:
                        print(f"perfbench: {what}: {exc}", file=sys.stderr)
                        ok = False
                    self.check(ok, f"{what} differs from its oracle on the fixture")
        finally:
            con.close()

    # -- metrics ---------------------------------------------------------------
    def end_to_end(self, done: list[dict], setup_s: float, peak_rss: int) -> dict:
        ok = [p for p in done if all(p["calls"].values())]
        walls: dict[str, list[float]] = {}
        for p in done:
            for entry, c in p["calls"].items():
                if c:
                    walls.setdefault(entry, []).append(c["wall"])
        tail, tail_p = call_tail(walls)
        self.detail.update(
            {
                "calls": sum(map(len, walls.values())),
                "tail_percentile": tail_p or "slowest entry median",
                "passes": len(done),
                "call_wall_s": walls,
            }
        )
        return {
            "work_per_s": (
                len(ok) * self.bench_info["rows"][self.wl.work_table] / sum(p["wall"] for p in ok)
                if ok
                else 0.0,
                "1/s",
            ),
            "call_p50_s": (statistics.median(w for ws in walls.values() for w in ws), "s"),
            "call_tail_s": (tail, "s"),
            "cpu_s": (statistics.median(p["cpu"] for p in done), "s"),
            "peak_rss_mb": (peak_rss / MB, "MB"),
            "setup_s": (setup_s, "s"),
        }

    def per_layer(self, tracer, eventlog, traced, untraced, counts, start_s, steal) -> dict:
        from .eventlog import peak_cached_bytes, read_groups
        from .trace import LAYERS, parse_group

        n = len(traced)
        (log,) = [os.path.join(eventlog, f) for f in os.listdir(eventlog)]
        groups = read_groups(log)
        by_name: dict[str, list] = {}
        for gid, tot in groups.items():
            parsed = parse_group(gid)
            if parsed:
                by_name.setdefault(parsed[1], []).append(tot)
        selfs: dict[str, float] = {}
        for (_, name), s in tracer.self_times().items():
            selfs[name] = selfs.get(name, 0.0) + s
        out = {}
        for layer in LAYERS:
            tots = by_name.get(layer, [])
            wall = selfs.get(layer, 0.0) / n
            task = sum(t.task_s for t in tots) / n
            out[f"{layer}.wall_s"] = (wall, "s")
            out[f"{layer}.task_s"] = (task, "s")
            out[f"{layer}.idle_slot_s"] = (max(0.0, wall * SLOTS - task), "s")
            out[f"{layer}.tasks"] = (sum(t.tasks for t in tots) / n, "count")
            out[f"{layer}.shuffle_mb"] = (sum(t.shuffle_bytes for t in tots) / n / MB, "MB")
            out[f"{layer}.spill_mb"] = (sum(t.spill_bytes for t in tots) / n / MB, "MB")
        ret = tracer.returns
        bars_calls = len(ret.get("bars_from_events", []))
        out["sources.bars.rows"] = (bars_calls / n * self.bench_info["rows"]["events"], "count")
        out["operators.sweep.thresholds.pair_rows"] = (
            sum(v for _, v in ret.get("estimate_pair_rows", [])) / n,
            "count",
        )
        funnel = [
            c["digest"]
            for p in traced
            for c in p["calls"].values()
            if c and "n_signals" in c["digest"]
        ]
        cand = sum(d["n_candidates"] or 0 for d in funnel)
        out["operators.sweep.funnel.cells"] = (sum(d["rows"] for d in funnel) / n, "count")
        out["operators.sweep.funnel.signal_yield"] = (
            sum(d["n_signals"] or 0 for d in funnel) / cand if cand else 0.0,
            "ratio",
        )
        out.update(counts)
        out.update(self.sink_sizes())
        all_tots = [t for gid, t in groups.items() if parse_group(gid)]
        out["plans.catalog.jobs"] = (sum(t.jobs for t in all_tots) / n, "count")
        out["plans.catalog.stages"] = (sum(len(t.stages) for t in all_tots) / n, "count")
        out["plans.catalog.cache_mb"] = (peak_cached_bytes(log) / MB, "MB")
        for wl in WORKLOADS.values():
            for entry in wl.entries:
                walls = [
                    s["end"] - s["start"]
                    for s in tracer.spans
                    if s["name"] == f"plans.catalog.{entry}"
                ]
                out[f"plans.catalog.{entry}.wall_s"] = (sum(walls) / n, "s")
        out["session.start_s"] = (start_s, "s")
        out["trace.overhead_ratio"] = (
            statistics.median(p["wall"] for p in traced)
            / statistics.median(p["wall"] for p in untraced),
            "ratio",
        )
        out["host.steal_share"] = (steal, "ratio")
        return out

    @staticmethod
    def boundary_counts(tracer) -> dict:
        """Rows of what the first traced pass's barrier simulations and
        n-gram Jaccard calls returned, counted after the pass under a job
        group of their own (kept out of every layer's totals)."""

        def rows(name: str) -> int:
            return sum(df.count() for p, df in tracer.returns.get(name, []) if p == 0)

        tracer.sc.setLocalProperty("spark.jobGroup.id", "perfbench-counts")
        try:
            trades = rows("simulate_barriers")
            cand, verified = rows("ngram_candidates"), rows("ngram_jaccard_pairs")
        finally:
            tracer.sc.setLocalProperty("spark.jobGroup.id", None)
        return {
            "operators.barriers.trades": (float(trades), "count"),
            "operators.dedup.candidate_pairs": (float(cand), "count"),
            "operators.dedup.pair_yield": (verified / cand if cand else 0.0, "ratio"),
        }

    def sink_sizes(self) -> dict:
        size = files = 0
        for entry in self.wl.sink_entries:
            for dirpath, _, names in os.walk(self.table_path("bench", entry)):
                for f in names:
                    if f.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, f))
        return {
            "sources.sinks.written_mb": (size / MB, "MB"),
            "sources.sinks.files": (float(files), "count"),
        }

    # -- the run ---------------------------------------------------------------
    def run(self) -> dict:
        from .procstat import RssSampler, host_cpu_ticks, steal_share

        self.prepare()
        self.detail = {"inputs": self.bench_info, "fixture": self.fixture_info}
        from rangebar_patterns_spark.plans import catalog

        self.queries = {**catalog.QUERIES, **catalog.BENCH_QUERIES, **catalog.RESTORED_QUERIES}
        t = time.perf_counter()
        spark = self.session()
        start_s = time.perf_counter() - t
        fixture = self.warmup(spark)
        setup_s = time.perf_counter() - self.t_start - self.gen_s

        steal0 = host_cpu_ticks()
        with RssSampler() as rss:
            done = self.passes(spark, self.args.seconds)
        steal = steal_share(steal0, host_cpu_ticks())
        first: dict[str, dict] = {}
        self.check_passes(done, first)
        t = time.perf_counter()
        self.check_fixture(fixture)
        self.detail["timings_s"] = {
            "inputs": self.gen_s,
            "setup": setup_s,
            "passes": sum(p["wall"] for p in done),
            "oracle_check": time.perf_counter() - t,
        }

        if not self.args.trace:
            metrics = self.end_to_end(done, setup_s, rss.peak)
            spark.stop()
        else:
            from .trace import Tracer

            spark.stop()
            eventlog = os.path.join(self.work, "eventlog")
            # the JVM (and its code cache) stays warm across sessions
            spark = self.session(eventlog)
            tracer = Tracer(spark.sparkContext, f"{self.wl.name}-{self.args.seed}")
            tracer.install()
            try:
                traced = self.passes(spark, self.args.seconds, tracer)
                # tracing must not change a single output
                self.check_passes(traced, first)
                counts = self.boundary_counts(tracer)
            finally:
                tracer.uninstall()
            # the event log is complete only once its context stops
            spark.stop()
            metrics = self.per_layer(tracer, eventlog, traced, done, counts, start_s, steal)
            tracer.write_ndjson(os.path.join(self.work, "spans.ndjson"))
        self.detail["steal_share"] = steal
        self.detail["failed_checks"] = self.notes
        with open(os.path.join(self.work, "detail.json"), "w") as fh:
            json.dump(self.detail, fh, indent=1, sort_keys=True, default=str)
        print(f"perfbench: {json.dumps(self.detail, default=str)}", file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


class _Frame:
    """Collected rows behind the ``toPandas`` the suite's compare calls."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _collect(spark, df):
    """Every column of ``df`` as pandas, through plain (non-Arrow)
    serialization: the Arrow ``toPandas`` path segfaults intermittently
    under sustained load."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return df.toPandas()
    finally:
        spark.conf.set(key, prev)


def run_child(args, t_start: float) -> int:
    result = Run(args, t_start).run()
    tmp = args.result + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(json.dumps(result) + "\n")
    os.replace(tmp, args.result)
    return 0
