"""The two workloads: a panel of registry queries and the ETL sync.

Each runs as a closed loop with one client: one key or phase at a time,
the next starting only when the previous one has finished. A workload
returns the wall time of every operation it ran, how many it attempted
and how many failed; in a traced run the tracer also holds its spans and
counters.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.stats import self_time
from perfbench.tracing import SparkCounters, Tracer, catalyst_phases, tree_files, wrapped

#: panel data scale: lineitem ≈ 60,000 rows, 500 documents and vectors
QUERY_SF = 0.01
#: etl-sync sources: 900 documents over 150 emission days, so the 30-day
#: window of the incremental phase covers about a fifth of the partitions
ETL_SIZES = {"n_clients": 1000, "n_products": 1000, "n_docs": 900, "n_days": 150}
TABLES = ("cliente", "producto", "documento_venta", "detalle_documento")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer
    counters: SparkCounters | None = None


@dataclass
class Outcome:
    walls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


# -- registry queries ------------------------------------------------------


def fingerprint(df):
    """``(rows, sum of xxhash64 over all columns)`` of a result, and the
    DataFrame that computed it. The hash sum is a decimal(38,0): a long
    sum overflows under ANSI mode."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[df[c] for c in df.columns]) if df.columns else F.lit(0)
    agg = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h"))
    row = agg.collect()[0]
    return [int(row["n"]), None if row["h"] is None else str(row["h"])], agg


def query_setup(ctx: Ctx) -> tuple[str, dict[str, float]]:
    """Write the tables and warm the session; returns the data directory
    and the timed parts of set-up."""
    data_dir = os.path.join(ctx.work, "data")
    synth = []
    for _ in range(3):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        datagen.write_tables(data_dir, QUERY_SF)
        synth.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_queries(ctx.spark, data_dir)
    return data_dir, {"synth_s": statistics.median(synth), "warmup_s": time.perf_counter() - t0}


def warm_queries(spark, data_dir: str) -> None:
    """One scan/join/aggregate, one Arrow Python worker round trip, one
    higher-order-function plan and one eager checkpoint, so that the
    first key does not pay for compiling the session's common paths."""
    from pyspark.sql import functions as F

    from imperio_patitas_etl_spark.operators.checkpoint import persistent_rdd_ids, release_rdds
    from imperio_patitas_etl_spark.sources.parquet import load_table

    li = load_table(spark, data_dir, "lineitem")
    od = load_table(spark, data_dir, "orders")
    li.join(od, li.l_orderkey == od.o_orderkey).groupBy("o_orderstatus").agg(
        F.sum("l_extendedprice")
    ).collect()
    spark.range(0, 64, 1, 4).mapInPandas(lambda it: it, "id long").count()
    spark.range(0, 8).selectExpr(
        "aggregate(transform(sequence(0, 63), i -> i + id), CAST(0 AS BIGINT), (a, x) -> a + x) AS s"
    ).agg(F.sum("s")).collect()
    before = persistent_rdd_ids(spark)
    spark.range(0, 100, 1, 4).localCheckpoint().count()
    release_rdds(spark, persistent_rdd_ids(spark) - before)


def run_queries(ctx: Ctx, keys: list[str], family: dict[str, str], data_dir: str,
                goldens: dict) -> Outcome:
    """Each key once, in the given order; a traced run also sums work,
    build and Python-worker time per key family."""
    from imperio_patitas_etl_spark.queries import all_queries

    qs = all_queries()
    tr = ctx.tracer
    out = Outcome()
    for key in keys:
        build0, python0 = tr.total("build"), tr.counters["python.total_s"]
        wall, ok = run_key(ctx, qs.get(key), key, data_dir, goldens.get(key))
        log(f"{key}: {wall:.3f} s")
        out.walls.append(wall)
        out.attempted += 1
        out.failed += not ok
        tr.add(f"{family[key]}.work_s", wall)
        tr.add(f"{family[key]}.build_s", tr.total("build") - build0)
        tr.add(f"{family[key]}.python_s", tr.counters["python.total_s"] - python0)
    return out


def run_key(ctx: Ctx, fn, key: str, data_dir: str, golden) -> tuple[float, bool]:
    """Build and fingerprint one key; release what it left persisted."""
    from imperio_patitas_etl_spark.operators.checkpoint import persistent_rdd_ids, release_rdds

    spark, sc = ctx.spark, ctx.spark.sparkContext
    tr = ctx.tracer
    traced = tr.enabled
    g_build, g_action = f"{key}/build", f"{key}/action"
    if traced:
        ctx.counters.mark()
    before = persistent_rdd_ids(spark)
    ok, agg, persisted = False, None, set()
    t0 = time.perf_counter()
    try:
        if fn is None:
            raise KeyError(f"{key} is not in the registry")
        with tr.span("key"):
            sc.setJobGroup(g_build, key)
            with tr.span("build"):
                df = fn(spark, data_dir)
            if traced:
                with tr.span("trace"):
                    persisted = persistent_rdd_ids(spark) - before
            sc.setJobGroup(g_action, key)
            with tr.span("action"):
                got, agg = fingerprint(df)
        ok = golden is not None and got == golden
        if not ok:
            log(f"{key}: fingerprint {got} != golden {golden}")
    except Exception as e:  # a failing key is counted, the run goes on
        log(f"{key}: {type(e).__name__}: {str(e)[:300]}")
    wall = time.perf_counter() - t0
    leaked = persistent_rdd_ids(spark) - before
    release_rdds(spark, leaked)
    if traced:
        c = ctx.counters
        c.settle()
        tr.add("queries.build_jobs", len(sc.statusTracker().getJobIdsForGroup(g_build)))
        c.jobs(tr, [g_build, g_action])
        c.python_metrics(tr)
        if agg is not None:
            catalyst_phases(tr, agg._jdf)
        tr.add("checkpoint.persisted_rdds", len(persisted))
        tr.add("checkpoint.leaked_rdds", len(leaked))
    return wall, ok


# -- ETL sync --------------------------------------------------------------


def _schemas():
    from pyspark.sql import types as T

    return {
        name: T.StructType.fromDDL(ddl)
        for name, ddl in {
            "clients": "id bigint, firstName string, lastName string, code string, "
            "email string, phone string, address string, creationDate bigint",
            "products": "product_order bigint, id bigint, name string, description string, "
            "creationDate bigint, variants struct<items: array<struct<id: bigint, "
            "code: string, barCode: string, state: int, track: boolean>>>",
            "price_list": "variantid bigint, variantValue double",
            "costs": "variant_id bigint, averageCost double, history array<struct<cost: double>>",
            "documents": "id bigint, emissionDate bigint, number bigint, client struct<id: bigint>, "
            "documentType struct<id: bigint>, netAmount double, taxAmount double, "
            "totalAmount double, details struct<items: array<struct<id: bigint, "
            "variant: struct<id: bigint>, quantity: double, netUnitValue: double, "
            "discount: double, netTotal: double>>>",
        }.items()
    }


class MemorySheet:
    """In-memory stand-in for the Sheets client ``SheetsMirror`` drives:
    worksheets by title, each holding the last ``update``'s values."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.tables: dict[str, list[list[str]]] = {}

    def worksheet(self, title):
        if title not in self.tables:
            raise KeyError(title)
        return title

    def del_worksheet(self, ws):
        del self.tables[ws]

    def add_worksheet(self, title, rows, cols):
        self.tables[title] = []
        return _Worksheet(self, title)


@dataclass
class _Worksheet:
    sheet: MemorySheet
    title: str

    def update(self, rng, values):
        self.sheet.tables[self.title] = values
        self.sheet.tracer.add("mirror.cells", sum(len(r) for r in values))


@dataclass
class EtlInputs:
    records: dict
    expected: dict


def etl_setup(ctx: Ctx) -> tuple[EtlInputs, dict[str, float]]:
    """Synthesize the sources; the median of three syntheses is timed.
    Nothing is warmed: the first full sync pays for compiling the path,
    as the first sync after a service starts does."""
    synth = []
    for _ in range(3):
        t0 = time.perf_counter()
        records, expected = datagen.etl_sources(ctx.seed, **ETL_SIZES)
        synth.append(time.perf_counter() - t0)
    return EtlInputs(records, expected), {"synth_s": statistics.median(synth), "warmup_s": 0.0}


def run_etl(ctx: Ctx, inputs: EtlInputs) -> Outcome:
    """Full sync into an empty warehouse, the fixed-window documents sync,
    and a second full sync, timed one by one. A phase that raised or
    failed a check (the checks run between phases, outside their
    timings) fails the whole cycle."""
    from imperio_patitas_etl_spark.operators.checkpoint import persistent_rdd_ids, release_rdds
    from imperio_patitas_etl_spark.plans.pipeline import EtlPipeline
    from imperio_patitas_etl_spark.sinks.sheets import SheetsMirror
    from imperio_patitas_etl_spark.sinks.warehouse import ParquetWarehouse
    from imperio_patitas_etl_spark.sources.rest import PaginatedRestSource

    spark, sc = ctx.spark, ctx.spark.sparkContext
    tr = ctx.tracer
    traced = tr.enabled
    root = os.path.join(ctx.work, "warehouse")
    shutil.rmtree(root, ignore_errors=True)
    schemas, records = _schemas(), inputs.records

    def fetch(endpoint: str, q: dict) -> dict:
        tr.add("rest.pages", 1)
        rows = records[endpoint]
        return {"items": rows[q["offset"]:q["offset"] + q["limit"]]}

    rest = PaginatedRestSource(fetch, page_size=100, delay_s=0)

    def source(endpoint: str):
        def extract():
            with tr.span("extract"):
                return rest.to_dataframe(spark, endpoint, schemas[endpoint])
        return extract

    sheet = MemorySheet(tr)
    wh = ParquetWarehouse(spark, root, partitioned=True)
    pipe = EtlPipeline(
        spark=spark, warehouse=wh, sources={e: source(e) for e in records},
        exporter=SheetsMirror(sheet).exporter(),
    )
    expected = inputs.expected
    window = expected["window"]
    phases = [
        ("full_load", lambda: pipe.sync("all"), expected["full"]),
        ("incremental", lambda: pipe.sync_documents(start_date=expected["window_start"]), window),
        ("resync", lambda: pipe.sync("all"), expected["full"]),
    ]
    if traced:
        ctx.counters.mark()
    before = persistent_rdd_ids(spark)
    walls, snapshot, ok, n_report = [], None, True, 0
    targets = [
        (ParquetWarehouse, "upsert", lambda orig: _traced_upsert(tr, orig)),
        (EtlPipeline, "mirror", lambda orig: _span_around(tr, "mirror", orig)),
    ]
    try:
        with wrapped(targets if traced else []):
            for phase, call, want in phases:
                group = f"etl/{phase}"
                sc.setJobGroup(group, phase)
                t0 = time.perf_counter()
                with tr.span(phase):
                    call()
                walls.append(time.perf_counter() - t0)
                sc.setJobGroup("etl/checks", "checks")
                report = [tuple(r) for r in pipe.report().collect()]
                rows, n_report = report[n_report:], len(report)
                ok &= _check_report(phase, rows, want)
                for _, valid, invalid in rows:
                    tr.add("entities.rows_valid", valid)
                    tr.add("entities.rows_invalid", invalid)
                if phase == "full_load":
                    snapshot = {t: wh.read(t).localCheckpoint() for t in TABLES}
                else:
                    # re-syncing the same data leaves every table as the
                    # full load wrote it, so the snapshot's counts also
                    # stand in for the warehouse's in the mirror check
                    ok &= _check_idempotent(phase, snapshot, wh)
                if phase != "incremental":
                    ok &= _check_mirror(phase, sheet, snapshot, expected["full"])
                log(f"etl {phase}: {walls[-1]:.3f} s, checked in {time.perf_counter() - t0 - walls[-1]:.3f} s")
                if traced:
                    ctx.counters.settle()
                    ctx.counters.jobs(tr, [group])
                    ctx.counters.python_metrics(tr)
    except Exception as e:  # a failing phase is counted, the run goes on
        log(f"etl: {type(e).__name__}: {str(e)[:300]}")
        ok = False
    finally:
        release_rdds(spark, persistent_rdd_ids(spark) - before)
    if traced:
        _etl_layers(tr, root)
    ok &= len(walls) == 3
    return Outcome(walls=walls if ok else [], attempted=3, failed=0 if ok else 3)


def _span_around(tr: Tracer, name: str, orig):
    def call(*a, **kw):
        with tr.span(name):
            return orig(*a, **kw)
    return call


def _traced_upsert(tr: Tracer, orig):
    """``ParquetWarehouse.upsert`` inside an "upsert" span, with the
    table's data files compared before and after in "trace" spans: the
    tracer's own work, reported as its overhead."""
    def call(self, table, source):
        path = self.path(table)
        with tr.span("trace"):
            before = tree_files(path)
        with tr.span("upsert"):
            orig(self, table, source)
        with tr.span("trace"):
            after = tree_files(path)
            written = [p for p, v in after.items() if before.get(p) != v]
            tr.add("warehouse.files_written", len(written))
            tr.add("warehouse.bytes_written", sum(after[p][0] for p in written))
            tr.add("warehouse.partitions_touched", len({os.path.dirname(p) for p in written}))
    return call


def _etl_layers(tr: Tracer, root: str) -> None:
    """Per-layer numbers derived from the spans of one traced cycle."""
    live = tree_files(root)
    tr.add("warehouse.files_live", len(live))
    live_bytes = sum(size for size, _ in live.values())
    tr.counters["warehouse.write_amp"] = tr.counters["warehouse.bytes_written"] / max(live_bytes, 1)
    for i, s in enumerate(tr.spans):
        if s.name in ("full_load", "incremental", "resync"):
            kids = [(k.start, k.end) for k in tr.children(i)]
            tr.add("entities.validate_s", self_time((s.start, s.end), kids))
    tr.add("rest.extract_s", tr.total("extract"))
    tr.add("warehouse.upsert_s", tr.total("upsert"))
    tr.add("mirror.s", tr.total("mirror"))


def _check_report(phase: str, rows, want: dict) -> bool:
    got = {entity: (valid, invalid) for entity, valid, invalid in rows}
    want = {k: tuple(v) for k, v in want.items()}
    if got != want:
        log(f"etl {phase}: report {got} != expected {want}")
        return False
    return True


def _check_mirror(phase: str, sheet: MemorySheet, snapshot: dict, full: dict) -> bool:
    ok = set(sheet.tables) == set(TABLES)
    for t in TABLES:
        n_sheet = len(sheet.tables.get(t, [[]])) - 1
        ok &= n_sheet == snapshot[t].count() == full[t][0]
    if not ok:
        log(f"etl {phase}: mirror {sorted(sheet.tables)} does not match the warehouse")
    sheet.tables.clear()
    return ok


def _check_idempotent(phase: str, snapshot: dict, wh) -> bool:
    ok = True
    for t in TABLES:
        now = wh.read(t)
        if now.exceptAll(snapshot[t]).unionAll(snapshot[t].exceptAll(now)).count():
            log(f"etl {phase}: table {t} differs from the full load's")
            ok = False
    return ok
