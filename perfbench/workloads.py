"""The workload runners.

Each runner does its set-up, then a closed-loop timed phase with one client
for ``seconds``.  A traced run installs the layer wrappers around traced
phases only: ``ingest`` traces its backfill and then as many tail commits as
it delivered untraced; ``analytics`` adds ``seconds`` of traced warm passes.
Correctness checks run after the timed phases.  Results land in a
:class:`Run`.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from . import checks, gen
from .instrument import Py4jCounter, SparkStatus, Tracer, cpu_seconds, jvm_pid, peak_rss_mb
from .metrics import HEADLINE, LAKEHOUSE_METHODS

# Timed tail commits per run, at least: the median of fewer samples moved
# by a fifth from run to run on a shared four-core host.
TAIL_MIN_COMMITS = 4

ANALYTICS_TABLES = [
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
]


class Run:
    """One benchmark run: its settings, metrics and report lines."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work_dir: str, cores: int) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work_dir, self.cores = work_dir, cores
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.lines: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self.self_times: dict[str, float] = {}

    def note(self, line: str) -> None:
        self.lines.append(line)

    def check(self, name: str, ok: bool, detail: str) -> bool:
        self.note(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)


# ------------------------------------------------------------- helpers

def tail(values: list[float]) -> tuple[float, int, int]:
    """``(value, percentile, n)``: the highest percentile that leaves at
    least ten samples above it.  Below 100 samples that percentile falls
    under p90 and moves with ``n``, so the maximum (p100) is reported."""
    xs = sorted(values)
    n = len(xs)
    if n < 100:
        return xs[-1], 100, n
    k = n - 10
    return xs[k - 1], (100 * k) // n, n


def closed_loop(seconds: float, op, limit: int | None = None,
                min_ops: int = 1) -> tuple[list, float]:
    """Run ``op(i)`` back to back until ``seconds`` have passed and at least
    ``min_ops`` operations ran, but no more than ``limit`` unless
    ``min_ops`` is larger; returns the results and the wall time."""
    out: list = []
    t0 = time.monotonic()
    while len(out) < min_ops or (
        time.monotonic() - t0 < seconds and (limit is None or len(out) < limit)
    ):
        out.append(op(len(out)))
    return out, time.monotonic() - t0


def start_session(run: Run, app: str, extra: dict | None = None):
    """``session.get_spark`` with every scratch path inside the work dir."""
    from linked_maps_spark.session import get_spark

    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": run.path("spark-local"),
        "spark.sql.warehouse.dir": run.path("spark-warehouse"),
        # a heap committed up front (-Xms = the driver memory) keeps peak
        # RSS from depending on when G1 chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    t0 = time.monotonic()
    spark = get_spark(app, cores=run.cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    run.layer["session.get_spark_s"] = time.monotonic() - t0
    return spark


def in_background(fn):
    """Start ``fn()`` on a thread.  The returned callable waits for it and
    returns its result or raises its exception."""
    box: dict = {}

    def go():
        try:
            box["value"] = fn()
        except BaseException as exc:  # re-raised by the caller's wait
            box["error"] = exc

    thread = threading.Thread(target=go, name="perfbench-background")
    thread.start()

    def wait():
        thread.join()
        if "error" in box:
            raise box["error"]
        return box["value"]

    return wait


@contextlib.contextmanager
def _no_span(name: str, op: bool = False):
    yield None


def consume(df) -> None:
    """Run a read to completion without shipping rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


class Probe:
    """Traced phases: wrappers, py4j counter, status-store and CPU deltas.
    Each ``with probe:`` installs everything and restores it on leaving;
    ``delta`` and ``salted`` then hold that phase's Spark stage deltas and
    salted-fold plan count.  :meth:`finish` writes the totals."""

    def __init__(self, spark, run: Run) -> None:
        self.spark, self.run = spark, run
        self.tracer = Tracer()
        self.status = SparkStatus(spark)
        self.wall = self.cpu = 0.0
        self.py4j_calls = self.jobs = 0
        self.totals: dict[str, float] = {}

    def __enter__(self):
        self.stages0 = self.status.stages()
        self.jobs0 = self.status.n_jobs()
        self.sql0 = self.status.sql_execution_max()
        self.cpu0 = cpu_seconds()
        self.tracer.install_engine_wrappers()
        self.py4j = Py4jCounter(self.spark)
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall += time.monotonic() - self.t0
        self.py4j.restore()
        self.tracer.restore()
        self.cpu += cpu_seconds() - self.cpu0
        self.py4j_calls += self.py4j.calls
        self.jobs += self.status.n_jobs() - self.jobs0
        self.delta = SparkStatus.delta(self.stages0, self.status.stages())
        for k, v in self.delta.items():
            self.totals[k] = self.totals.get(k, 0) + v
        self.salted = self.status.salted_fold_plans(self.sql0)
        return False

    def finish(self) -> None:
        lay = self.run.layer
        lay["driver.cpu_s"] = self.cpu
        lay["driver.py4j_calls"] = self.py4j_calls
        lay["spark.jobs"] = self.jobs
        lay.update(self.totals)
        lay["spark.core_busy_ratio"] = lay["spark.executor_run_s"] / (self.wall * self.run.cores)
        for m in LAKEHOUSE_METHODS:
            busy, calls = self.tracer.busy(f"lakehouse.{m}")
            lay[f"lakehouse.{m}_s"] = busy
            lay[f"lakehouse.{m}_calls"] = calls
        lay["ingest.maintain_s"] = self.tracer.busy("ingest.maintain")[0]
        lay["ingest.watermark_s"] = self.tracer.busy("ingest.watermark")[0]
        self.run.spans = self.tracer.spans
        self.run.self_times = self.tracer.self_times()


# ------------------------------------------------------------- ingest

_TABLES = ("segments", "relations", "commit_log", "metrics")


def _manifest(engine) -> dict:
    return {t: getattr(engine, t).snapshot() for t in _TABLES}


def _write_amplification(engine, before: dict, after: dict) -> tuple[int, int, int]:
    """(snapshots committed, rows in added data files, bytes of added data
    files) across the CDC tables between two manifests."""
    snaps = sum(after[t]["version"] - before[t]["version"] for t in _TABLES)
    rows = size = 0
    for t in ("segments", "relations"):
        old = {f["path"] for f in before[t]["files"]}
        root = getattr(engine, t).path
        for f in after[t]["files"]:
            if f["path"] not in old:
                full = os.path.join(root, f["path"])
                rows += pq.read_metadata(full).num_rows
                size += os.path.getsize(full)
    return snaps, rows, size


class IngestLedger:
    """Per-call ingest observations of one phase (backfill or tail)."""

    def __init__(self, name: str, engine, status: SparkStatus | None) -> None:
        self.name, self.engine, self.status = name, engine, status
        self.calls: list[dict] = []

    def ingest(self, df, commits_per_epoch: int, n_commits: int):
        """``engine.ingest`` timed alone; when traced, also the call's Spark
        job count and the manifests before and after it."""
        st = self.status
        before = _manifest(self.engine) if st else None
        jobs0 = st.n_jobs() if st else 0
        t0 = time.monotonic()
        stats = self.engine.ingest(df, commits_per_epoch=commits_per_epoch)
        dt = time.monotonic() - t0
        call = {"s": dt, "stats": stats, "commits": n_commits}
        if st:
            call["jobs"] = st.n_jobs() - jobs0
            call["snaps"], call["rows"], call["bytes"] = _write_amplification(
                self.engine, before, _manifest(self.engine)
            )
        self.calls.append(call)
        return stats, dt

    def epochs(self) -> list:
        return [e for c in self.calls for e in c["stats"].epochs]

    def layer_metrics(self, run: Run, wall: float, spark_delta: dict, salted_plans: int) -> None:
        """``ingest.<phase>.*``, ``fold.<phase>.*``, ``saltfold.<phase>.*``,
        ``lakehouse.<phase>.*`` and ``spark.<phase>.*`` for this phase."""
        p, lay, calls = self.name, run.layer, self.calls
        commits = sum(c["commits"] for c in calls)
        events = sum(c["stats"].n_events for c in calls)
        epochs = self.epochs()
        lay[f"ingest.{p}.calls"] = len(calls)
        lay[f"ingest.{p}.busy_s"] = sum(c["s"] for c in calls)
        lay[f"ingest.{p}.epochs"] = len(epochs)
        lay[f"ingest.{p}.epoch_wall_p50_s"] = statistics.median(e.wall_ms for e in epochs) / 1000.0
        lay[f"ingest.{p}.spark_jobs_per_commit"] = sum(c["jobs"] for c in calls) / commits
        lay[f"lakehouse.{p}.snapshots_per_commit"] = sum(c["snaps"] for c in calls) / commits
        lay[f"lakehouse.{p}.rows_rewritten_per_event"] = sum(c["rows"] for c in calls) / events
        lay[f"lakehouse.{p}.bytes_written_per_event"] = sum(c["bytes"] for c in calls) / events
        ids = ",".join(str(e.epoch) for e in epochs)
        walls = [
            r["wall_ms"] / 1000.0
            for r in self.engine.read_metrics().filter(f"epoch IN ({ids})")
            .select("wall_ms").collect()
            if r["wall_ms"] is not None
        ]
        kernel = sum(walls)
        med = statistics.median(walls) if walls else 0.0
        lay[f"fold.{p}.tasks"] = len(walls)
        lay[f"fold.{p}.kernel_s"] = kernel
        lay[f"fold.{p}.task_max_s"] = max(walls, default=0.0)
        lay[f"fold.{p}.task_skew"] = max(walls) / med if med else 0.0
        lay[f"fold.{p}.non_kernel_s"] = spark_delta["spark.executor_run_s"] - kernel
        lay[f"fold.{p}.kernel_share"] = kernel / wall
        lay[f"spark.{p}.executor_run_s"] = spark_delta["spark.executor_run_s"]
        lay[f"spark.{p}.jobs"] = sum(c["jobs"] for c in calls)
        lay[f"saltfold.{p}.salted_fold_plans"] = salted_plans


def hot_keys(engine) -> int:
    """Keys whose current leaf lattice has reached the engine's salting
    threshold."""
    from pyspark.sql import functions as F

    return (
        engine.current_leaves().groupBy("repo", "path").count()
        .filter(F.col("count") >= engine.salt_leaf_threshold).count()
    )


def check_lake(run: Run, engine, n_epochs: int, reference, label: str) -> bool:
    """The three ingest checks; ``reference()`` gives the reference digest
    and is called last, so it may still be computing meanwhile."""
    bad, n = checks.sha_mismatches(engine)
    ok = run.check(f"{label} sha256", bad == 0, f"{bad} mismatches in {n} segment rows")
    epochs = checks.commit_log_epochs(engine)
    ok &= run.check(
        f"{label} commit_log", len(epochs) == n_epochs and len(set(epochs)) == n_epochs,
        f"{len(epochs)} rows, {len(set(epochs))} distinct epochs, {n_epochs} committed",
    )
    digest = checks.state_digest(engine)
    digest_ref = reference()
    ok &= run.check(f"{label} digest", digest == digest_ref,
                    f"{digest[:16]} vs reference {digest_ref[:16]}")
    return ok


def reference_digest(run: Run, spark, df, n_commits: int, n_tail: int) -> str:
    """The digest pinned for this seed and tail length, else that of a
    single-epoch ingest of the same events."""
    pinned = checks.pinned_digest(run.seed, gen.INGEST, n_tail)
    if pinned is not None:
        run.note(f"reference digest: pinned for seed {run.seed}, {n_tail} tail commits")
        return pinned
    run.note("reference digest: single-epoch ingest of the same events")
    return checks.single_epoch_digest(spark, run.path("reference"), df, n_commits)


def run_ingest(run: Run) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from linked_maps_spark.changelog import commit_label, to_spark
    from linked_maps_spark.ingest import CdcEngine

    cfg = gen.INGEST
    from linked_maps_spark.ingest import prewarm_workers

    t_setup = time.monotonic()
    spark = start_session(run, "perfbench-ingest")

    def prewarm() -> float:
        prewarm_workers(spark, block=True)
        return time.monotonic()

    t_pre = time.monotonic()
    prewarmed = in_background(prewarm)
    t0 = time.monotonic()
    backfill_pdf, tail_commits = gen.ingest_plan(run.seed, cfg)
    run.layer["changelog.synth_s"] = time.monotonic() - t0
    t0 = time.monotonic()
    bf_df = to_spark(spark, backfill_pdf).repartition(run.cores).cache()
    tail_df = to_spark(spark, pd.concat(tail_commits, ignore_index=True)).cache()
    bf_df.count()
    tail_df.count()
    run.layer["changelog.to_spark_s"] = time.monotonic() - t0
    run.layer["session.prewarm_s"] = prewarmed() - t_pre
    run.e2e["setup_s"] = time.monotonic() - t_setup
    n_bf = cfg["backfill_commits"]
    labels = [commit_label(n_bf + i) for i in range(len(tail_commits))]
    run.note(
        f"ingest: backfill of {len(backfill_pdf)} events ({cfg['n_keys']} keys + "
        f"{cfg['n_dense']} dense sheets, {n_bf} commits, {cfg['commits_per_epoch']} per "
        f"epoch), then tail commits of {cfg['keys_per_commit']} Zipf-chosen keys"
    )

    def new_lake(tag: str):
        eng = CdcEngine(spark, run.path(f"lake-{tag}"))
        eng.create_tables(overwrite=True)
        return eng

    def backfill(ledger: IngestLedger, probe: Probe | None = None) -> tuple[float, float]:
        """(``ingest()`` seconds, phase wall seconds) of the backfill."""
        span = probe.tracer.span if probe else _no_span
        t0 = time.monotonic()
        with span("op.backfill", op=True):
            _, bf_s = ledger.ingest(bf_df, cfg["commits_per_epoch"], n_bf)
        return bf_s, time.monotonic() - t0

    def wal_tail(ledger: IngestLedger, first: int, seconds: float, limit: int,
                 probe: Probe | None = None, min_ops: int = 1):
        """Deliver tail commits ``first, first+1, ...`` one at a time, each
        followed by a read of its change feed; returns (latencies, change
        feed read seconds, phase wall seconds)."""
        span = probe.tracer.span if probe else _no_span
        eng = ledger.engine
        reads: list[float] = []

        def op(i: int) -> float:
            with span("op.tail_commit", op=True):
                v0 = eng.segments.version()
                _, write_s = ledger.ingest(
                    tail_df.filter(F.col("commit") == labels[first + i]), 1, 1
                )
                t1 = time.monotonic()
                consume(eng.segments.changes(v0, eng.segments.version()))
                reads.append(time.monotonic() - t1)
            return write_s + reads[-1]

        lat, wall = closed_loop(seconds, op, limit=limit, min_ops=min_ops)
        return lat, reads, wall

    if not run.trace:
        eng = new_lake("u")
        bf = IngestLedger("backfill", eng, None)
        tl = IngestLedger("tail", eng, None)
        bf_s, bf_wall = backfill(bf)
        warm, _, _ = wal_tail(tl, 0, 0.0, 1)
        lat, _, tail_wall = wal_tail(tl, 1, run.seconds, len(tail_commits) - 1,
                                     min_ops=TAIL_MIN_COMMITS)
        ledgers = [bf, tl]
        n_events = len(backfill_pdf) + sum(len(tail_commits[1 + i]) for i in range(len(lat)))
        run.e2e["throughput_per_s"] = n_events / (bf_wall + tail_wall)
        run.e2e["op_p50_s"] = statistics.median(lat)
        run.e2e["op_ptail_s"], pct, n = tail(lat)
        run.e2e["cold_s"] = bf_s
        run.e2e["peak_rss_mb"] = peak_rss_mb(jvm_pid(spark))
        run.note(f"timed: backfill {bf_s:.2f}s, then {len(lat)} tail commits in "
                 f"{tail_wall:.2f}s; op tail = p{pct} of n={n}")
        run.note(f"tail commit latencies (s): warm-up {warm[0]:.2f} (untimed), then "
                 + " ".join(f"{x:.2f}" for x in lat))
        n_tail = 1 + len(lat)
    else:
        # one lake: a traced backfill, the warm-up commit, then tail commits
        # untraced for ``seconds`` and as many again traced, so the overhead
        # ratio compares neighbouring commits of the same lake
        eng = new_lake("t")
        probe = Probe(spark, run)
        bf = IngestLedger("backfill", eng, probe.status)
        with probe:
            _, bf_wall = backfill(bf, probe)
        bf.layer_metrics(run, bf_wall, probe.delta, probe.salted)
        tl_u = IngestLedger("tail", eng, None)
        warm, _, _ = wal_tail(tl_u, 0, 0.0, 1)
        lat_u, _, _ = wal_tail(tl_u, 1, run.seconds, (len(tail_commits) - 1) // 2,
                               min_ops=TAIL_MIN_COMMITS)
        tl = IngestLedger("tail", eng, probe.status)
        with probe:
            lat_t, reads_t, tail_wall = wal_tail(tl, 1 + len(lat_u), float("inf"), len(lat_u), probe)
        tl.layer_metrics(run, tail_wall, probe.delta, probe.salted)
        probe.finish()
        run.layer["ingest.fallback_epochs"] = eng.path_counts["fallback"]
        run.layer["saltfold.hot_keys"] = hot_keys(eng)
        run.layer["lakehouse.live_files"] = sum(
            len(getattr(eng, x).snapshot()["files"]) for x in ("segments", "relations")
        )
        run.layer["lakehouse.cdf_read_p50_s"] = statistics.median(reads_t)
        run.layer["ingest.tail.warmup_commit_s"] = warm[0]
        run.layer["trace_overhead_ratio"] = statistics.median(lat_t) / statistics.median(lat_u)
        run.note(f"traced: warm-up commit {warm[0]:.2f}, untraced tail commits "
                 f"{' '.join(f'{x:.2f}' for x in lat_u)}, traced "
                 f"{' '.join(f'{x:.2f}' for x in lat_t)} (s)")
        n_tail = 1 + len(lat_u) + len(lat_t)
        ledgers = [bf, tl_u, tl]

    t_check = time.monotonic()
    all_df = bf_df.unionByName(tail_df.filter(F.col("commit").isin(labels[:n_tail])))
    # the reference ingest runs beside the checks of the measured lake
    ref = in_background(lambda: reference_digest(run, spark, all_df, n_bf + n_tail, n_tail))
    n_epochs = sum(len(ledger.epochs()) for ledger in ledgers)
    run.attempted += 1 + n_tail
    if not check_lake(run, eng, n_epochs, ref, os.path.basename(eng.warehouse)):
        run.failed += 1 + n_tail
    run.note(f"checks took {time.monotonic() - t_check:.1f}s")
    spark.stop()


# ------------------------------------------------------------- analytics

def _catalyst(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def run_analytics(run: Run) -> None:
    import __spark_entry__ as entry

    t_setup = time.monotonic()
    spark = start_session(
        run, "perfbench-analytics",
        {"spark.sql.adaptive.coalescePartitions.enabled": "true"},
    )
    data = run.path("data")
    t0 = time.monotonic()
    counts = gen.write_analytics_tables(run.seed, data)
    run.layer["bench.gen_tables_s"] = time.monotonic() - t0
    t0 = time.monotonic()
    spark.range(1000).count()  # JVM warm-up, as bench.py does
    run.layer["session.prewarm_s"] = time.monotonic() - t0
    run.e2e["setup_s"] = time.monotonic() - t_setup
    run.note(f"analytics: {counts['lineitem']} lineitem rows, {counts['documents']} documents")

    qs = entry.queries()
    modules = dict(HEADLINE)
    # (query, result key); a result is hashed as soon as it is collected,
    # outside the query's latency, so the driver never holds more than one
    results: list[tuple[str, tuple]] = []

    def one(name: str, probe: Probe | None = None, keep_df: list | None = None):
        span = probe.tracer.span if probe else _no_span
        with span(f"{modules[name]}.{name}", op=True):
            t0 = time.monotonic()
            with span(f"{modules[name]}.{name}.plan"):
                df = qs[name](spark, data)
            t1 = time.monotonic()
            with span(f"{modules[name]}.{name}.exec"):
                rows = df.collect()
            t2 = time.monotonic()
        results.append((name, checks.result_key(rows, df.columns)))
        if keep_df is not None:
            keep_df.append(df)
        return t1 - t0, t2 - t1

    cold = {name: sum(one(name)) for name, _ in HEADLINE}
    run.e2e["cold_s"] = sum(cold.values())

    # An untimed warm-up pass: the first pass after the cold one still ran
    # a fifth slower than later ones.  The DuckDB oracles run beside it and
    # finish before timing resumes.
    t0 = time.monotonic()
    oracle_wait = in_background(lambda: checks.oracle_hashes(
        data, ANALYTICS_TABLES, {n: entry.oracle_sql()[n] for n, _ in HEADLINE}
    ))
    for name, _ in HEADLINE:
        one(name)
    oracle = oracle_wait()
    run.note(f"untimed: warm-up pass and DuckDB oracles in {time.monotonic() - t0:.2f}s")

    def phase(probe: Probe | None = None, keep_df: list | None = None):
        """Whole warm passes over the nine queries for ``seconds``, so every
        query weighs the same in the pooled latencies."""
        per: dict[str, list[tuple[float, float]]] = {n: [] for n, _ in HEADLINE}

        def op(_):
            for name, _m in HEADLINE:
                per[name].append(one(name, probe, keep_df))
        passes, wall = closed_loop(run.seconds, op)
        return per, len(passes), wall

    per, n_pass, wall = phase()
    lat = [p + e for v in per.values() for p, e in v]
    # closed loop, one client: throughput over the time spent in queries
    run.e2e["throughput_per_s"] = len(lat) / sum(lat)
    run.e2e["op_p50_s"] = statistics.median(lat)
    run.e2e["op_ptail_s"], pct, n = tail(lat)
    run.e2e["peak_rss_mb"] = peak_rss_mb(jvm_pid(spark))
    run.note(f"timed: cold pass {run.e2e['cold_s']:.2f}s, then {n_pass} warm passes in "
             f"{wall:.2f}s; op tail = p{pct} of n={n}")
    if run.trace:
        dfs: list = []
        with Probe(spark, run) as probe:
            per_t, _, _ = phase(probe, dfs)
        probe.finish()
        for name, module in HEADLINE:
            run.layer[f"{module}.{name}.plan_s"] = statistics.median(p for p, _ in per_t[name])
            run.layer[f"{module}.{name}.exec_s"] = statistics.median(e for _, e in per_t[name])
            run.layer[f"{module}.{name}.cold_s"] = cold[name]
        phases = [_catalyst(df) for df in dfs]
        for ph in ("analysis", "optimization", "planning"):
            run.layer[f"catalyst.{ph}_s"] = sum(p.get(ph, 0.0) for p in phases) / len(phases)
        lat_t = [p + e for v in per_t.values() for p, e in v]
        run.layer["trace_overhead_ratio"] = statistics.median(lat_t) / run.e2e["op_p50_s"]

    t_check = time.monotonic()
    bad: dict[str, int] = {}
    for name, key in results:
        run.attempted += 1
        if key != oracle[name]:
            run.failed += 1
            bad[name] = bad.get(name, 0) + 1
    for name, _ in HEADLINE:
        n_res = sum(1 for r in results if r[0] == name)
        run.check(f"oracle {name}", name not in bad,
                  f"{n_res - bad.get(name, 0)}/{n_res} results match DuckDB, {oracle[name][0]} rows")
    run.note(f"checks took {time.monotonic() - t_check:.1f}s")
    spark.stop()


RUNNERS = {"ingest": run_ingest, "analytics": run_analytics}
