"""The benchmark's workloads and the run loop around them.

Each workload is a single closed-loop client: it issues one pass, waits
for every result, then issues the next.  A pass is a list of named
operations against the package's public functions; an operation that
raises, or whose output fails its check, counts as failed.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd

from perfbench import checks, datagen, metrics, spans

# local[K]: two task threads leave the machine's other cores to the JIT
# compiler, the garbage collector and the Python driver, which keeps
# pass times steady on a shared 4-core host
K = 2

# One scale for every workload: 60 order days (so the silver rewrite
# writes 60 operating_date partitions per pass) with ~15 tickets per
# branch and day, enough for every branch × metric series to clear the
# forecaster's 30-observation floor.  Two lines per order keep the
# support-2 part co-purchase graph sparse enough that the capped
# neighbour-Jaccard query returns pairs.
SCALE = datagen.Scale(
    orders=22_500, lineitems=45_000, customers=1_500, parts=2_000, suppliers=100,
    documents=300, embeddings=500, events=10_000, days=60,
)

MARTS = ("payments_daily_mart", "sales_by_ticket_mart", "sales_by_group_mart",
         "transfers_cube_mart")
CORPUS_OPS = (
    "dedup_decisions",
    "dedup_containment_staged",
    "dedup_sparse_cosine_staged",
    "dedup_simhash_banded",
    "docs_semdedup",
    "docs_lr_train",
    "graph_part_neighbor_jaccard_capped",
    "fuzzy_customer_entities",
)


@dataclass
class Context:
    spark: object
    sf_dir: str
    run_dir: str
    seed: int
    tracer: spans.Tracer | None
    pass_index: int = 0
    attempted: int = 0
    # (pass index, operation) -> first reason it failed
    failures: dict[tuple[int, str], str] = field(default_factory=dict)

    def fail(self, pass_index: int, op: str, reason: str) -> None:
        self.failures.setdefault((pass_index, op), reason)

    def op(self, name: str, layer: str, fn):
        """Run one operation, consuming its result, inside a span of the
        layer it calls into; a raise is recorded as a failure."""
        self.attempted += 1
        try:
            if self.tracer is not None and self.tracer.active:
                with self.tracer.span(name, layer):
                    return fn()
            return fn()
        except Exception:  # noqa: BLE001 - boundary: count it and keep measuring
            self.fail(self.pass_index, name, f"raised\n{traceback.format_exc()}")
            return None


def _dates(col):
    return pd.to_datetime(col).dt.date


class PosRefresh:
    """The daily medallion job: silver refresh, gold marts exported as CSV,
    QA, forecast, then the daily-grain read of the refreshed range."""

    name = "pos_refresh"

    def __init__(self, ctx: Context):
        from pos_pipeline_core_etl_spark import api
        from pos_pipeline_core_etl_spark.forecasting import api as fc_api
        from pos_pipeline_core_etl_spark.operators import qa
        from pos_pipeline_core_etl_spark.plans import marts
        from pos_pipeline_core_etl_spark.sources import metadata, writers

        self.ctx = ctx
        self.api, self.fc_api, self.qa, self.marts = api, fc_api, qa, marts
        self.metadata, self.writers = metadata, writers

    def prepare(self, i: int) -> dict:
        rng = random.Random(self.ctx.seed * 1000 + i)
        start = SCALE.first_day + dt.timedelta(days=rng.randrange(SCALE.days - 7))
        wh = os.path.join(self.ctx.run_dir, f"warehouse-{i}")
        shutil.rmtree(wh, ignore_errors=True)
        return {"wh": wh, "start": start, "end": start + dt.timedelta(days=6)}

    def run_pass(self, st: dict) -> dict:
        c, api, marts = self.ctx, self.api, self.marts
        spark, sf, wh = c.spark, c.sf_dir, st["wh"]
        out: dict = {}
        out["silver_refresh"] = c.op("silver_refresh", "api", lambda: api.get_payments(
            spark, sf, grain="ticket", start=st["start"], end=st["end"],
            warehouse_dir=wh, mode="missing").count())
        for m in MARTS:
            path = os.path.join(wh, "export", f"{m}.csv")
            out[m] = c.op(m, "sources.writers", lambda m=m, path=path: self.writers.export_csv_bom(
                getattr(marts, m)(spark, sf), path))
        mart = marts.payments_daily_mart(spark, sf)
        out["qa"] = c.op("qa", "operators.qa", lambda: self.qa.run_payments_qa(mart)["summary"])
        out["forecast"] = c.op("forecast", "forecasting.api", lambda: self.fc_api.run_payments_forecast(
            mart).forecast.toPandas())
        out["daily_read"] = c.op("daily_read", "api", lambda: api.get_payments(
            spark, sf, grain="daily", start=st["start"], end=st["end"],
            warehouse_dir=wh, mode="missing").toPandas())
        return out

    def written(self, st: dict) -> tuple[int, int]:
        return spans.dir_usage(os.path.join(st["wh"], "fact_payments_ticket"))

    def cleanup(self, st: dict) -> None:
        shutil.rmtree(st["wh"], ignore_errors=True)

    def expectations(self, oracle: checks.Oracle) -> dict:
        from pos_pipeline_core_etl_spark import registry
        from pos_pipeline_core_etl_spark.forecasting.models import MIN_OBSERVATIONS
        from pos_pipeline_core_etl_spark.plans import pos_adapter

        oracles = registry.all_oracles()
        want = {m: oracle.frame(oracles[m]) for m in MARTS}
        cfg = self.fc_api.ForecastConfig()
        fact = oracle.frame(pos_adapter.FACT_PAYMENTS_SQL)
        return {
            "marts": want,
            "fact": fact,
            "forecast_rows": checks.expected_forecast_rows(
                want["payments_daily_mart"], cfg.metrics, cfg.horizon_days, MIN_OBSERVATIONS),
        }

    def check(self, st: dict, out: dict, exp: dict, oracle: checks.Oracle) -> list[tuple[str, str]]:
        bad = []
        lo, hi = st["start"], st["end"]
        fact = exp["fact"]
        day = _dates(fact.operating_date)
        in_range = fact[(day >= lo) & (day <= hi)]
        if out["silver_refresh"] is not None and out["silver_refresh"] != len(in_range):
            bad.append(("silver_refresh",
                        f"{out['silver_refresh']} rows, oracle has {len(in_range)}"))
        meta = self.metadata.read_metadata(st["wh"], "fact_payments_ticket",
                                           lo.isoformat(), hi.isoformat())
        if out["silver_refresh"] is not None and (meta is None or meta.status != "ok"
                                                   or meta.rows != len(fact)):
            bad.append(("silver_refresh", f"stage metadata {meta} is not ok with {len(fact)} rows"))
        for m in MARTS:
            if out[m] is not None:
                reason = checks.compare_export(out[m], exp["marts"][m])
                if reason:
                    bad.append((m, reason))
        summary = out["qa"]
        if summary is not None and (summary["status"] != "OK" or summary["duplicates"]):
            bad.append(("qa", f"status {summary['status']}, duplicates {summary['duplicates']}"))
        fc = out["forecast"]
        if fc is not None and len(fc) != exp["forecast_rows"]:
            bad.append(("forecast", f"{len(fc)} rows, expected {exp['forecast_rows']}"))
        daily = out["daily_read"]
        if daily is not None:
            mart = exp["marts"]["payments_daily_mart"]
            day = _dates(mart.fecha)
            want = mart[(day >= lo) & (day <= hi)]
            reason = oracle.compare(daily, want)
            if reason:
                bad.append(("daily_read", reason))
        return bad


class CorpusDedup:
    """LLM data-prep registry operations over documents, embeddings and
    the part graph; no POS layer takes part."""

    name = "corpus_dedup"

    def __init__(self, ctx: Context):
        from pos_pipeline_core_etl_spark import registry

        self.ctx = ctx
        queries = registry.all_queries()
        self.fns = {n: queries[n] for n in CORPUS_OPS}

    def prepare(self, i: int) -> dict:
        return {}

    def run_pass(self, st: dict) -> dict:
        c = self.ctx
        out = {}
        for name, fn in self.fns.items():
            layer = fn.__module__.split(".", 1)[1]
            out[name] = c.op(name, layer, lambda fn=fn: fn(c.spark, c.sf_dir).toPandas())
        return out

    def written(self, st: dict) -> tuple[int, int]:
        return 0, 0

    def cleanup(self, st: dict) -> None:
        pass

    def expectations(self, oracle: checks.Oracle) -> dict:
        from pos_pipeline_core_etl_spark import registry

        sqls = registry.all_oracles()
        return {name: oracle.frame(sqls[name]) for name in CORPUS_OPS}

    def check(self, st: dict, out: dict, exp: dict, oracle: checks.Oracle) -> list[tuple[str, str]]:
        bad = []
        for name in CORPUS_OPS:
            if out[name] is not None:
                reason = oracle.compare(out[name], exp[name])
                if reason:
                    bad.append((name, reason))
        return bad


WORKLOADS = {w.name: w for w in (PosRefresh, CorpusDedup)}


@dataclass
class PassRecord:
    index: int
    traced: bool
    wall_s: float
    start: float
    end: float
    state: dict
    out: dict
    layers: dict | None = None
    files_written: int = 0
    bytes_written: int = 0
    skip_hits: int = 0
    skip_calls: int = 0
    persistent_rdds: int = 0
    local_dir_mb: float = 0.0


class _SkipCounter:
    """Counts skip-if-done checks and their hits during traced passes."""

    def __init__(self, metadata_mod, tracer: spans.Tracer):
        self.calls = self.hits = 0
        self._orig, self._tracer = metadata_mod.should_skip_stage, tracer
        metadata_mod.should_skip_stage = self

    def __call__(self, *args, **kwargs):
        hit = self._orig(*args, **kwargs)
        if self._tracer.active:
            self.calls += 1
            self.hits += bool(hit)
        return hit

    def take(self) -> tuple[int, int]:
        out = (self.hits, self.calls)
        self.hits = self.calls = 0
        return out


def run(workload: str, seed: int, seconds: int, trace: bool, run_dir: str,
        t_start: float, trace_path: str) -> tuple[dict, list[str]]:
    """Set up, warm, measure and check one workload.  Returns the result
    line and human-readable summary lines."""
    from pos_pipeline_core_etl_spark import session
    from pos_pipeline_core_etl_spark.sources import metadata

    tracer = spans.Tracer() if trace else None
    if tracer:
        tracer.install()
    sf_dir = os.path.join(run_dir, "tables")
    datagen.write_tables(datagen.generate(seed, SCALE), sf_dir)
    try:
        spark = session.get_spark(app_name="perfbench", master=f"local[{K}]")
        spark.sparkContext.setLogLevel("ERROR")
        return _measure(workload, seed, seconds, tracer, run_dir, t_start, trace_path,
                        spark, sf_dir, metadata)
    finally:
        stop_spark()


def stop_spark() -> None:
    """Stop the Spark session, then the JVM it launched and every process
    under it (the Python workers), and wait until each has ended.
    ``SparkSession.stop()`` alone leaves the JVM running until the Python
    process exits, and it then ends on its own, after this process."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    tree = spans.identities(spans.descendants(os.getpid()))
    gateway = SparkContext._gateway
    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    finally:
        jvm = getattr(gateway, "proc", None)
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
        if jvm is not None and jvm.stdin is not None:
            jvm.stdin.close()  # the gateway JVM exits at the end of its input
        SparkContext._gateway = SparkContext._jvm = None
        spans.end_processes(tree, grace_s=30.0)


def _measure(workload, seed, seconds, tracer, run_dir, t_start, trace_path,
             spark, sf_dir, metadata_mod):
    if tracer:
        tracer.bind(spark)
        tracer.active = False
    skips = _SkipCounter(metadata_mod, tracer) if tracer else None
    ctx = Context(spark, sf_dir, run_dir, seed, tracer)
    wl = WORKLOADS[workload](ctx)
    local_dir = os.environ["SPARK_LOCAL_DIRS"]

    def one_pass(i: int, traced: bool) -> PassRecord:
        st = wl.prepare(i)
        ctx.pass_index = i
        if tracer:
            tracer.run_id, tracer.active = f"pass-{i}", traced
        t0 = time.perf_counter()
        out = wl.run_pass(st)
        t1 = time.perf_counter()
        if tracer:
            tracer.active = False
        rec = PassRecord(i, traced, t1 - t0, t0, t1, st, out)
        rec.files_written, rec.bytes_written = wl.written(st)
        spark.catalog.clearCache()
        rec.persistent_rdds = len(spark.sparkContext._jsc.getPersistentRDDs())
        rec.local_dir_mb = spans.dir_usage(local_dir)[1] / 2**20
        if tracer and traced:
            rec.layers = spans.layer_totals(tracer.spans, tracer.run_id, K)
            rec.skip_hits, rec.skip_calls = skips.take()
        return rec

    passes = [one_pass(0, traced=False)]  # the warm pass, part of set-up
    setup_s = time.perf_counter() - t_start
    t_measure, steal0 = time.perf_counter(), spans.host_steal_s()
    i = 1
    while time.perf_counter() - t_measure < seconds:
        passes.append(one_pass(i, traced=bool(tracer)))
        i += 1
    measure_s, steal_s = time.perf_counter() - t_measure, spans.host_steal_s() - steal0
    peak_rss_mb = spans.tree_peak_rss_mb() if tracer else 0.0

    # output checks, outside every timed region
    oracle = checks.Oracle(sf_dir)
    try:
        exp = wl.expectations(oracle)
        for p in passes:
            for op, reason in wl.check(p.state, p.out, exp, oracle):
                ctx.fail(p.index, op, reason)
    finally:
        oracle.close()
        for p in passes:
            wl.cleanup(p.state)
    failed = len(ctx.failures)

    timed = passes[1:]
    lines = [
        f"workload {workload}  seed {seed}  local[{K}]  timed passes {len(timed)}"
        f"{' (traced)' if tracer else ''}",
        "input rows: " + ", ".join(f"{t} {n}" for t, n in SCALE.rows().items()),
        f"op_fail_ratio {metrics.fail_ratio(ctx.attempted, failed):.4f}"
        f"  ({failed} failed of {ctx.attempted} operations)",
        f"host steal during timed passes {steal_s:.2f} s over {measure_s:.1f} s",
    ]
    lines += [f"FAILED pass {i} {op}: {why}" for (i, op), why in ctx.failures.items()]
    if not tracer:
        values = {"setup_s": setup_s, "pass_s": metrics.median([p.wall_s for p in timed])}
        units = metrics.END_TO_END
    else:
        values, extra = _layer_values(tracer, passes)
        values["process.peak_rss_mb"] = peak_rss_mb
        units = metrics.per_layer_units()
        tracer.write(trace_path, {
            "workload": workload, "seed": seed, "k": K, "setup_s": setup_s,
            "passes": [{"index": p.index, "traced": p.traced, "wall_s": p.wall_s,
                        "start": p.start, "end": p.end, "layers": p.layers}
                       for p in passes],
            **extra,
        })
        lines.append(f"trace written to {trace_path}")
    lines += [f"{n} {values[n]:.6g} {u}" for n, u in units.items()]
    return metrics.result_line(ctx.attempted, failed, values, units), lines


def _layer_values(tracer: spans.Tracer, passes: list[PassRecord]) -> tuple[dict, dict]:
    traced = [p for p in passes if p.traced]
    values: dict[str, float] = {}
    setup_layers = spans.layer_totals(tracer.spans, "setup", K)
    for layer in spans.LAYERS:
        for m in spans.MEASURES:
            if layer == "session":  # the session is built once, during set-up
                values[f"{layer}.{m}"] = setup_layers[layer][m]
            else:
                values[f"{layer}.{m}"] = metrics.median([p.layers[layer][m] for p in traced])
    skip_calls = sum(p.skip_calls for p in traced)
    values["sources.metadata.files_written"] = metrics.median([p.files_written for p in traced])
    values["sources.metadata.bytes_written"] = metrics.median([p.bytes_written for p in traced])
    values["api.stage_skip_ratio"] = (
        sum(p.skip_hits for p in traced) / skip_calls if skip_calls else 0.0)
    values["spark.persistent_rdds"] = passes[-1].persistent_rdds
    values["spark.local_dir_mb"] = passes[-1].local_dir_mb
    values["trace.uncovered_s"] = metrics.median(
        [spans.uncovered_seconds(tracer.spans, f"pass-{p.index}", p.start, p.end)
         for p in traced])
    overhead = [tracer.overhead_s.get(f"pass-{p.index}", 0.0) for p in traced]
    values["trace.overhead_s"] = metrics.median(overhead)
    values["trace.overhead_ratio"] = metrics.median(
        [o / p.wall_s for o, p in zip(overhead, traced)])
    extra = {"persistent_rdds_per_pass": [p.persistent_rdds for p in passes],
             "local_dir_mb_per_pass": [p.local_dir_mb for p in passes]}
    return values, extra
