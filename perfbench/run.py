#!/usr/bin/env python3
"""Benchmark for stacktrend_spark: the medallion refresh and a query mix.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics. The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. Everything
the run writes stays under ``.perfbench/`` in the checkout. See
``perfbench/README.md`` for the workloads and every metric.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
from contextlib import nullcontext  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("medallion_refresh", "query_mix")

#: input scale of the query mixes (60,000 lineitem rows)
SF = 0.01
#: repos in the store before the timed cycles, and repos landed per cycle
STORE_REPOS = 2000
BATCH_REPOS = 200
PERSONAL_REPOS = 100
PERSONAL_ACTIVITY = 2000
MAX_CYCLES = 60
DRIVER_MEM = "2g"
#: session set-ups per run; setup_s is their median
SETUPS = 3

#: JVM-only plans: a gold mirror (the dashboard surface), a window
#: shape and two-phase ranking
NATIVE_QUERIES = (
    "gold_tech_metrics",
    "window_lead_ntile",
    "rank_global_scalable",
)

#: plans with mapInPandas, applyInPandas or Arrow UDF nodes
PYTHON_QUERIES = (
    "arrow_scalar_udf_luhn",
    "grouped_map_mad",
    "multimodal_patch_grid",
)

MIX = NATIVE_QUERIES + PYTHON_QUERIES

GOLD_TABLES = (
    "tech_metrics",
    "repo_ranks",
    "trend_daily",
    "tech_health",
    "lang_stats",
    "market_pulse",
    "adoption_matrix",
)
PERSONAL_GOLD = ("portfolio_overview", "repo_health_dashboard", "development_velocity")


def _mix_modules() -> list[str]:
    from stacktrend_spark.plans.registry import all_queries

    specs = all_queries()
    return sorted({specs[n].fn.__module__.rsplit(".", 1)[1] for n in MIX})


END_TO_END = ("setup_s", "pass_s")


def per_layer_names() -> list[str]:
    from eventlog import PYTHON_ACCUMULABLES, SPARK_METRICS

    names = [
        "failed_frac",
        "trace.pass_s",
        "trace.overhead_frac",
        "session.get_spark_s",
        "session.py_workers_s",
        "session.jvm_peak_rss_mb",
        "trend_cycle_s",
        "personal_run_s",
        "medallion.upsert_s",
        "medallion.overwrite_s.silver",
        "medallion.overwrite_s.gold",
        "medallion.read_s",
        "medallion.bytes_written",
        "medallion.files_written",
        "medallion.write_amp",
        "silver.build_s",
        "silver.rows",
        "silver.quarantined_rows",
        "classifier.rows_fresh",
        "classifier.rows_reused",
        "classifier.reuse_ratio",
        *(f"gold.{t}_s" for t in GOLD_TABLES),
        "personal.activity_metrics_s",
        "personal.gold_s",
        "orchestration.self_s",
        "orchestration.accounted_frac",
        "mix_s",
        "mix.native_s",
        "mix.python_s",
        "query_p50_s",
        *(f"query.{n}_s" for n in MIX),
        *(f"plans.{m}_s" for m in _mix_modules()),
        *SPARK_METRICS,
        "spark.slot_util",
        *(name for name, _ in PYTHON_ACCUMULABLES.values()),
    ]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written") or ".bytes_" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_ratio", "_util", "write_amp")):
        return "ratio"
    return "count"


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# session


class Session:
    """Builds the program's SparkSession and tears it down again.

    Each set-up calls ``get_spark`` and then warms the Python worker
    pool with one Arrow UDF job. The first set-up of a process launches
    the JVM; later ones rebuild the session inside the same JVM after a
    full ``stop()``."""

    def __init__(self, work: str, cpus: int):
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")

    def start(self, event_log: bool) -> tuple[float, float]:
        from stacktrend_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's files in the checkout: its temp dir, and no
            # hsperfdata file (which always goes to the system temp dir)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    # zstandard (the default codec's Python side) is absent
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.time()
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        t1 = time.time()
        warm_python_workers(self.spark)
        return t1 - t0, time.time() - t1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def warm_python_workers(spark) -> None:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def plus_one(s):
        return s + 1

    # real (not postponed) annotations: pandas_udf infers its kind from them
    plus_one.__annotations__ = {"s": pd.Series, "return": pd.Series}
    (
        spark.range(0, 4 * 64, 1, 4)
        .select(pandas_udf(plus_one, "long")("id"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def isolate(spark) -> None:
    """Drop what the previous operation cached, as bench.py does."""
    from stacktrend_spark.operators.ranking import release_pinned

    spark.catalog.clearCache()
    release_pinned()


# --------------------------------------------------------------------------
# query mixes


class QueryMix:
    def __init__(self, names: tuple[str, ...], data_dir: str, seed: int):
        from stacktrend_spark.plans.registry import all_queries

        self.specs = all_queries()
        self.order = list(names)
        random.Random(seed).shuffle(self.order)
        self.data_dir = data_dir
        self.wrong: dict[str, str] = {}
        self.check_s: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {n: [] for n in self.order}
        self.spans: dict[str, list] = {n: [] for n in self.order}
        self.attempted = 0
        self.failed = 0

    def check(self, spark) -> None:
        """Collect every query once and compare it with its DuckDB oracle
        (untimed; doubles as the warm-up pass)."""
        saved = list(sys.path)
        from verify_local import compare, duck_con

        sys.path[:] = saved  # the tool prepends its own root
        con = duck_con(self.data_dir)
        for name in self.order:
            isolate(spark)
            spec = self.specs[name]
            t0 = time.perf_counter()
            try:
                got = spec.fn(spark, self.data_dir).toPandas()
                if spec.oracle is None:
                    raise ValueError("no oracle registered")
                problems = compare(name, got, con.execute(spec.oracle).df())
            except Exception as exc:  # noqa: BLE001 - any failure is a wrong result
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                self.wrong[name] = "; ".join(problems)[:500]
            self.check_s[name] = time.perf_counter() - t0
        isolate(spark)
        con.close()

    def run(self, spark, seconds: float, tracer=None) -> None:
        """Closed loop over the shuffled mix until ``seconds`` have passed
        and every query has run at least once."""
        start = time.perf_counter()
        i = 0
        while i < len(self.order) or time.perf_counter() - start < seconds:
            name = self.order[i % len(self.order)]
            isolate(spark)
            span = tracer.span(f"query.{name}") if tracer else nullcontext()
            t0 = time.perf_counter()
            ok = True
            with span as s:
                try:
                    df = self.specs[name].fn(spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001
                    ok = False
                    self.wrong.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
            self.samples[name].append(time.perf_counter() - t0)
            if s is not None:
                self.spans[name].append(s)
            self.attempted += 1
            self.failed += not ok or name in self.wrong
            i += 1
        isolate(spark)

    def pass_s(self) -> float:
        return sum(median(v) for v in self.samples.values())

    def op_p50_s(self) -> float:
        """Median over the queries of each query's median latency."""
        return median(median(v) for v in self.samples.values())


# --------------------------------------------------------------------------
# medallion refresh


def _data_bytes(path: str, since: float | None = None) -> tuple[int, int]:
    """Bytes and number of data files under ``path`` (modified at or
    after epoch ``since`` when given)."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, n))
            if since is None or st.st_mtime >= since:
                total += st.st_size
                files += 1
    return total, files


class Medallion:
    def __init__(self, work: str, seed: int):
        from stacktrend_spark.pipelines.fixtures import bronze_repos_rows
        from stacktrend_spark.pipelines.medallion import MedallionStore

        self.seed = seed
        self.rng = random.Random(seed)
        self.work = work
        self.store = MedallionStore(os.path.join(work, "store"), backend="parquet")
        self.pool = bronze_repos_rows(STORE_REPOS + MAX_CYCLES * BATCH_REPOS // 2, seed)
        self.landed = STORE_REPOS
        self.cycles: list[float] = []
        self.personal: list[float] = []
        self.cycle_spans: list = []
        self.personal_spans: list = []
        self.writes: list[tuple[int, int, int]] = []  # (bytes, files, landed bytes)
        self.classifier: list[tuple[int, int]] = []
        self.passes = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def _land(self, spark, rows, schema, name: str):
        path = os.path.join(self.work, "landing", name)
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path), _data_bytes(path)[0]

    def seed_store(self, spark) -> None:
        from stacktrend_spark.pipelines.fixtures import AS_OF_DATE
        from stacktrend_spark.pipelines.orchestration import run_trend_pipeline
        from stacktrend_spark.pipelines.schemas import BRONZE_REPOS_SCHEMA

        bronze, _ = self._land(spark, self.pool[:STORE_REPOS], BRONZE_REPOS_SCHEMA, "seed")
        run_trend_pipeline(spark, self.store, bronze, AS_OF_DATE)

    def _batch(self) -> list[tuple]:
        """Half updates of existing repos, half new repos."""
        half = BATCH_REPOS // 2
        inserts = self.pool[self.landed : self.landed + half]
        updates = []
        for row in self.rng.sample(self.pool[: self.landed], half):
            bump = self.rng.randint(1, 500)
            updates.append(row[:10] + (row[10] + bump, row[11] + bump // 2, row[12] + bump // 10) + row[13:])
        self.landed += half
        return inserts + updates

    def _classifier_counts(self, spark, batch_df) -> tuple[int, int]:
        from stacktrend_spark.pipelines.silver import smart_split

        ids = (
            self.store.read(spark, "bronze", "github_repos")
            .select("repository_id")
            .unionByName(batch_df.select("repository_id"))
            .distinct()
        )
        needs, reused, _ = smart_split(ids, self.store.read(spark, "silver", "github_curated"))
        return needs.count(), reused.count()

    def run(self, spark, seconds: float, tracer=None) -> None:
        """Closed loop of passes, each one trend cycle and one personal
        run; another pass starts only if it should end within ``seconds``."""
        start = time.perf_counter()
        last = 0.0
        while last == 0.0 or time.perf_counter() - start + last <= seconds:
            pass_start = time.perf_counter()
            self.one_pass(spark, tracer)
            last = time.perf_counter() - pass_start

    def warm_up(self, spark) -> None:
        """One untimed trend cycle. The first update cycle compiles code
        the seeding run did not need (smart split, checkpoint); timed
        cold, it read anywhere from 8.5 s to 19.5 s on one host."""
        self.trend_cycle(spark, None)
        self.cycles.clear()
        self.writes.clear()

    def one_pass(self, spark, tracer) -> None:
        self.trend_cycle(spark, tracer)
        self.personal_run(spark, tracer)

    def trend_cycle(self, spark, tracer) -> None:
        from stacktrend_spark.pipelines.fixtures import AS_OF_DATE
        from stacktrend_spark.pipelines.orchestration import run_trend_pipeline
        from stacktrend_spark.pipelines.schemas import BRONZE_REPOS_SCHEMA

        k = self.passes
        if k >= MAX_CYCLES:
            raise RuntimeError("cycle pool exhausted; raise MAX_CYCLES")
        self.passes += 1
        batch, landed = self._land(spark, self._batch(), BRONZE_REPOS_SCHEMA, f"trend-{k}")
        if tracer:
            self.classifier.append(self._classifier_counts(spark, batch))
        self.attempted += 1
        t_epoch = time.time()
        t0 = time.perf_counter()
        span = tracer.span("orchestration.run_trend_pipeline") if tracer else nullcontext()
        with span as s:
            try:
                run_trend_pipeline(spark, self.store, batch, AS_OF_DATE)
            except Exception as exc:  # noqa: BLE001
                self.failed += 1
                self.problems.append(f"trend cycle {k}: {type(exc).__name__}: {exc}"[:500])
        self.cycles.append(time.perf_counter() - t0)
        if s is not None:
            self.cycle_spans.append(s)
        written, files = _data_bytes(self.store.root, since=t_epoch)
        self.writes.append((written, files, landed))

    def personal_run(self, spark, tracer) -> None:
        from stacktrend_spark.pipelines.fixtures import AS_OF_DATE, bronze_activity_rows, bronze_repos_rows
        from stacktrend_spark.pipelines.orchestration import run_personal_pipeline
        from stacktrend_spark.pipelines.schemas import BRONZE_ACTIVITY_SCHEMA, BRONZE_REPOS_SCHEMA

        k = self.passes
        repos = bronze_repos_rows(PERSONAL_REPOS, self.seed * 1000 + k)
        activity = bronze_activity_rows([r[0] for r in repos], PERSONAL_ACTIVITY, self.seed * 1000 + k)
        my_repos, _ = self._land(spark, repos, BRONZE_REPOS_SCHEMA, f"personal-{k}")
        my_activity, _ = self._land(spark, activity, BRONZE_ACTIVITY_SCHEMA, f"activity-{k}")
        self.attempted += 1
        t0 = time.perf_counter()
        span = tracer.span("orchestration.run_personal_pipeline") if tracer else nullcontext()
        with span as s:
            try:
                run_personal_pipeline(spark, self.store, my_repos, my_activity, AS_OF_DATE)
            except Exception as exc:  # noqa: BLE001
                self.failed += 1
                self.problems.append(f"personal run {k}: {type(exc).__name__}: {exc}"[:500])
        self.personal.append(time.perf_counter() - t0)
        if s is not None:
            self.personal_spans.append(s)

    def check(self, spark) -> dict[str, int]:
        """Invariants of the final store (untimed). A violation marks
        every timed operation failed: none of them can be trusted."""
        from pyspark.sql import functions as F

        from stacktrend_spark.pipelines.silver import smart_split

        store = self.store
        bronze = store.read(spark, "bronze", "github_repos")
        silver = store.read(spark, "silver", "github_curated")
        counts = {
            "bronze_rows": bronze.count(),
            "bronze_ids": bronze.select("repository_id").distinct().count(),
            "silver_rows": silver.count(),
            "quarantined_rows": store.read(spark, "silver", "github_quarantine").count(),
            "tech_metrics_total": store.read(spark, "gold", "tech_metrics")
            .agg(F.sum("total_repositories"))
            .first()[0],
        }
        needs, reused, _ = smart_split(bronze, silver)
        counts["rows_fresh"], counts["rows_reused"] = needs.count(), reused.count()
        rules = {
            "bronze ids = repos landed": counts["bronze_ids"] == self.landed,
            "silver + quarantined = distinct bronze ids": counts["silver_rows"]
            + counts["quarantined_rows"]
            == counts["bronze_ids"],
            "sum(tech_metrics.total_repositories) = silver rows": counts["tech_metrics_total"]
            == counts["silver_rows"],
            "fresh + reused = bronze rows": counts["rows_fresh"] + counts["rows_reused"]
            == counts["bronze_rows"],
        }
        broken = [rule for rule, ok in rules.items() if not ok]
        if broken:
            self.problems.append(f"invariants violated: {broken} with {counts}")
            self.failed = self.attempted
        return counts


# --------------------------------------------------------------------------
# traced run: layer wrappers and the metrics they feed


def install_layer_spans(tracer) -> None:
    """Open a span around every public call into the pipeline layers."""
    from stacktrend_spark.pipelines import classifier, gold, orchestration, personal, silver
    from stacktrend_spark.pipelines.medallion import MedallionStore

    def layer_table(store, *args, **kwargs):
        # read/upsert take (spark, df|layer, ...); overwrite takes (df, layer, table)
        strs = [a for a in args if isinstance(a, str)]
        return {"layer": strs[0], "table": strs[1]} if len(strs) >= 2 else {}

    for method in ("upsert", "overwrite", "read"):
        tracer.wrap(MedallionStore, method, f"medallion.{method}", layer_table)
    tracer.wrap(orchestration, "build_silver", "silver.build_silver")
    tracer.wrap(silver, "smart_split", "silver.smart_split")
    tracer.wrap(classifier.RuleBasedClassifier, "classify", "classifier.classify")
    for t in GOLD_TABLES:
        tracer.wrap(gold, t, f"gold.{t}")
    for fn in ("activity_metrics",) + PERSONAL_GOLD:
        tracer.wrap(personal, fn, f"personal.{fn}")
    tracer.wrap(orchestration, "_write_gold_concurrently", "orchestration.gold_fanout")


def medallion_layer_metrics(tracer, m: Medallion) -> dict[str, float]:
    from tracing import inclusive, self_times

    per_cycle: list[dict[str, float]] = []
    for root in m.cycle_spans:
        spans = tracer.subtree(root)
        own = self_times(spans)
        c: dict[str, float] = {k: 0.0 for k in (
            "medallion.upsert_s", "medallion.overwrite_s.silver", "medallion.overwrite_s.gold",
            "medallion.read_s", "silver.build_s", "orchestration.self_s",
            *(f"gold.{t}_s" for t in GOLD_TABLES),
        )}
        for s in spans:
            t = inclusive(spans, own, s)
            if s.name == "medallion.upsert" and s.parent == root.id:
                c["medallion.upsert_s"] += t
            elif s.name == "medallion.read" and s.parent == root.id:
                c["medallion.read_s"] += t
            elif s.name == "medallion.overwrite" and s.attrs.get("layer") == "silver":
                c["medallion.overwrite_s.silver"] += t
            elif s.name == "medallion.overwrite" and s.attrs.get("layer") == "gold":
                c["medallion.overwrite_s.gold"] += t
                c[f"gold.{s.attrs['table']}_s"] += t
            elif s.name == "silver.build_silver":
                c["silver.build_s"] += t
            elif s.name.startswith("gold.") and s.name[5:] in GOLD_TABLES:
                c[f"{s.name}_s"] += t
        # the cycle's self time: its own span plus the thread-pool
        # bookkeeping of the gold fan-out
        c["orchestration.self_s"] = own[root.id] + sum(
            own[s.id] for s in spans if s.name == "orchestration.gold_fanout"
        )
        wall = root.end - root.start
        parts = (
            c["medallion.upsert_s"] + c["medallion.read_s"] + c["silver.build_s"]
            + c["medallion.overwrite_s.silver"] + c["orchestration.self_s"]
            + sum(c[f"gold.{t}_s"] for t in GOLD_TABLES)
        )
        c["orchestration.accounted_frac"] = parts / wall
        per_cycle.append(c)
    out = {k: median(c[k] for c in per_cycle) for k in per_cycle[0]}

    per_run: list[dict[str, float]] = []
    for root in m.personal_spans:
        spans = tracer.subtree(root)
        own = self_times(spans)
        c = {"personal.activity_metrics_s": 0.0, "personal.gold_s": 0.0}
        for s in spans:
            t = inclusive(spans, own, s)
            table = s.attrs.get("table", "")
            if s.name == "personal.activity_metrics" or (
                s.name == "medallion.overwrite" and table == "github_my_activity_metrics"
            ):
                c["personal.activity_metrics_s"] += t
            elif s.name[9:] in PERSONAL_GOLD or (
                s.name == "medallion.overwrite" and table in PERSONAL_GOLD
            ):
                c["personal.gold_s"] += t
        per_run.append(c)
    out.update({k: median(c[k] for c in per_run) for k in per_run[0]})

    out["medallion.bytes_written"] = median(w[0] for w in m.writes)
    out["medallion.files_written"] = median(w[1] for w in m.writes)
    out["medallion.write_amp"] = median(w[0] / w[2] for w in m.writes)
    out["classifier.rows_fresh"] = median(c[0] for c in m.classifier)
    out["classifier.rows_reused"] = median(c[1] for c in m.classifier)
    out["classifier.reuse_ratio"] = median(c[1] / (c[0] + c[1]) for c in m.classifier)
    out["trend_cycle_s"] = median(m.cycles)
    out["personal_run_s"] = median(m.personal)
    return out


def spark_layer_metrics(events, op_groups: list[list], cpus: int, pass_s: float) -> dict[str, float]:
    """Engine metrics for one pass: per operation kind, the median over
    that kind's timed runs of each metric, summed over kinds."""
    import eventlog

    spans = [s for group in op_groups for s in group]
    per_span = eventlog.reduce(events, spans)
    out = eventlog.empty_metrics()
    for group in op_groups:
        if not group:
            continue
        sets = [per_span.get(s.id, eventlog.empty_metrics()) for s in group]
        for k in out:
            out[k] += median(x[k] for x in sets)
    out["spark.slot_util"] = out["spark.executor_run_s"] / (pass_s * cpus) if pass_s else 0.0
    return out


# --------------------------------------------------------------------------
# main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> None:
    """The benchmark builds nothing: it needs the package and the
    oracle-compare helpers of the checkout it sits in."""
    needed = ("stacktrend_spark/__init__.py", "tools/verify_local.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a stacktrend_spark checkout, missing {missing}", file=sys.stderr)
        sys.exit(2)


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
        }
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    session = Session(work, cpus)
    try:
        return run(args, session, work, cpus)
    finally:
        try:
            session.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def run(args, session: Session, work: str, cpus: int) -> int:
    import pyspark

    import datagen
    from tracing import Tracer

    # set-up, repeated: the first launches the JVM and counts from process start
    setups = []
    first = None
    for i in range(SETUPS):
        if i:
            session.stop()
        t0 = time.time()
        parts = session.start(event_log=False)
        setups.append(time.time() - (PROCESS_START if i == 0 else t0))
        first = first or parts
    spark = session.spark

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cpus,
        "driver_heap": DRIVER_MEM,
        "spark": pyspark.__version__,
        "setups_s": setups,
    }
    report: dict = {"info": info, "problems": []}
    phases = info["phases_s"] = {}
    clock = [PROCESS_START]

    def lap(name: str) -> None:
        now = time.time()
        phases[name] = round(now - clock[0], 3)
        clock[0] = now

    lap("setup")
    e2e: dict[str, float] = {"setup_s": median(setups)}
    layer: dict[str, float] = {name: 0.0 for name in per_layer_names()}
    layer["session.get_spark_s"], layer["session.py_workers_s"] = first

    def traced_session():
        """Rebuild the session with the event log on and wrap the layers."""
        session.stop()
        session.start(event_log=True)
        tracer = Tracer()
        install_layer_spans(tracer)
        return session.spark, tracer

    half = args.seconds / 2
    if args.workload == "medallion_refresh":
        info["store_repos"], info["batch_repos"] = STORE_REPOS, BATCH_REPOS
        m = Medallion(work, args.seed)
        m.seed_store(spark)
        info["store_bytes"] = _data_bytes(m.store.root)[0]
        m.warm_up(spark)
        lap("prepare")
        if args.trace:
            m.run(spark, half)
            plain = median(m.cycles) + median(m.personal)
            m.cycles, m.personal, m.writes = [], [], []
            spark, tracer = traced_session()
            m.run(spark, half, tracer)
            tracer.restore()
        else:
            m.run(spark, args.seconds)
        lap("timed")
        counts = m.check(spark)
        lap("check")
        report["problems"] = m.problems
        report["samples_s"] = {"trend_cycle": m.cycles, "personal_run": m.personal}
        report["checks"] = counts
        attempted, failed = m.attempted, m.failed
        pass_s = median(m.cycles) + median(m.personal)
        e2e["pass_s"] = pass_s
        if args.trace:
            layer.update(medallion_layer_metrics(tracer, m))
            layer["silver.rows"] = counts["silver_rows"]
            layer["silver.quarantined_rows"] = counts["quarantined_rows"]
            ops = [m.cycle_spans, m.personal_spans]
    else:
        data_dir = os.path.join(work, "data")
        info["sf"] = SF
        info["table_bytes"] = datagen.write(data_dir, SF, args.seed)
        mix = QueryMix(MIX, data_dir, args.seed)
        lap("prepare")
        mix.check(spark)
        lap("check")
        if args.trace:
            mix.run(spark, half)
            plain = mix.pass_s()
            mix.samples = {n: [] for n in mix.order}
            spark, tracer = traced_session()
            mix.run(spark, half, tracer)
            tracer.restore()
        else:
            mix.run(spark, args.seconds)
        lap("timed")
        report["problems"] = [f"{n}: {p}" for n, p in sorted(mix.wrong.items())]
        report["samples_s"] = mix.samples
        report["check_s"] = mix.check_s
        attempted, failed = mix.attempted, mix.failed
        pass_s = mix.pass_s()
        e2e["pass_s"] = pass_s
        if args.trace:
            layer["mix_s"] = pass_s
            layer["query_p50_s"] = mix.op_p50_s()
            by_module: dict[str, float] = {}
            for n, v in mix.samples.items():
                layer[f"query.{n}_s"] = median(v)
                module = mix.specs[n].fn.__module__.rsplit(".", 1)[1]
                by_module[module] = by_module.get(module, 0.0) + median(v)
            for module, v in by_module.items():
                layer[f"plans.{module}_s"] = v
            layer["mix.native_s"] = sum(layer[f"query.{n}_s"] for n in NATIVE_QUERIES)
            layer["mix.python_s"] = sum(layer[f"query.{n}_s"] for n in PYTHON_QUERIES)
            ops = [mix.spans[n] for n in mix.order]

    layer["session.jvm_peak_rss_mb"] = session.jvm_peak_rss_mb()
    layer["failed_frac"] = failed / attempted
    if args.trace:
        import eventlog

        session.stop()  # flush the event log
        events = eventlog.read_events(session.event_dir)
        layer.update(spark_layer_metrics(events, ops, cpus, pass_s))
        layer["trace.pass_s"] = pass_s
        layer["trace.overhead_frac"] = pass_s / plain - 1
        per_span = eventlog.reduce(events, tracer.spans)
        report["spans"] = [
            {**vars(s), "spark": per_span.get(s.id, {})} for s in tracer.spans
        ]
        metrics = layer
        lap("reduce")
    else:
        metrics = e2e

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    report["metrics"] = metrics
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True, default=str)
    print("info: " + json.dumps(info, sort_keys=True))
    for name, value in metrics.items():
        print(f"{name:40s} {value:14.6g} {unit_of(name)}")
    print(f"{'attempted':40s} {attempted:14d} count")
    print(f"{'failed_frac':40s} {failed / attempted:14.6g} ratio")
    for p in report["problems"]:
        print(f"problem: {p}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
