"""Workloads: their set-up, one closed-loop pass, and the output checks.

A workload is a sequence of phases. A pass runs every phase once, one
after the other, as one client would: one sync, or one whole report or
operator library. Work that only prepares a phase (removing or restoring
the store) runs outside its timer. The first pass of a run also checks
every phase's outputs, outside the timers; each failed check is a failed
operation.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import datagen
import dump

# star-schema scale of the generated corpus (1.0 = the repo's sf0.01)
SCALE = 0.1
# report parameters, as plans/report_gate.py runs them
FROM, TO = "1995-01-01", "1995-12-31"
LEDGER_FROM, LEDGER_TO = "1992-01-01", "1998-12-31"
# the plans ROADMAP items 3-5 name: the embedding kernels (semantic_dedup),
# the tree walks (hierarchy_*) and the keeper elections (span/substring)
OPERATOR_PLANS = ("semantic_dedup", "substring_dedup_prod", "span_dedup",
                  "hierarchy_closure", "hierarchy_paths")
LLM_PLANS = OPERATOR_PLANS[:3]
HIERARCHY_PLANS = {"hierarchy_closure": "closure",
                   "hierarchy_paths": "paths"}
BENCH_TABLES = ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "documents", "embeddings")
# Spark results the output checks collect at once; the checks run outside
# the timers, and their small jobs are mostly scheduling, not CPU work
CHECK_THREADS = 4


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in dir_files(path))


def dir_files(path: str) -> set[str]:
    return {os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: object = None
    notes: dict = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, **attrs)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class PhaseResult:
    seconds: float
    # per-operation latencies: each report or operator plan. A sync adds
    # none: it is one operation of a pass, timed by ``seconds``, and
    # run_import's log spreads an incremental merge's time evenly over
    # the tables instead of timing each
    ops: list[tuple[str, float]]
    failed: int = 0


class _Log:
    """The import-log interface of ``run_import``, writing nothing."""

    def log_table(self, table: str, rows: int, seconds: float) -> None:
        pass

    def log_message(self, message: str, *, now) -> None:
        pass


def run_sync(ctx: Ctx, dumpdir: str, store: str, mode: str
             ) -> dict[str, int]:
    """One ``run_import`` with the parquet sink, as the CLI runs it."""
    from tally_database_loader_spark.__main__ import run_import
    from tally_database_loader_spark.config import load_config
    cfg = load_config(json.dumps({
        "database": {"technology": "parquet", "loadpath": store},
        "tally": {"definition": ctx.path("tally.definition.yaml"),
                  "dumpdir": dumpdir, "sync": mode}}))
    with ctx.span("sync", mode=mode):
        return run_import(ctx.spark, cfg, _Log())


def make_inputs(ctx: Ctx, with_dump: bool) -> None:
    """Everything a run reads, rebuilt from the seed: the bench tables and,
    for the loader phases, both dumps and the definition."""
    shutil.rmtree(ctx.path("in"), ignore_errors=True)
    ctx.notes["sf"] = ctx.path("in", "sf")
    datagen.generate(ctx.seed, ctx.notes["sf"], SCALE)
    if not with_dump:
        return
    specs = dump.specs()
    base = dump.derive_slice(ctx.notes["sf"])
    mutated, batch = dump.mutate(base, ctx.seed)
    with open(ctx.path("tally.definition.yaml"), "w", encoding="utf-8") as fh:
        fh.write(dump.definition_yaml(specs))
    ctx.notes.update(
        specs=specs, base=base, mutated=mutated, batch=batch,
        counts0=dump.write_dump(base, specs, ctx.path("in", "dump0")),
        counts1=dump.write_dump(mutated, specs, ctx.path("in", "dump1")))


def store_tables(ctx: Ctx) -> dict:
    from tally_database_loader_spark.operators.incremental import ParquetStore
    store = ParquetStore(ctx.path("store"))
    return {t: store.read(ctx.spark, t) for t in store.tables()}


def check_store(ctx: Ctx, expected: dict) -> list[str]:
    """The store holds exactly the typed rows the dump encodes, table by
    table: what a full sync of that dump loads."""
    specs = ctx.notes["specs"]
    got = store_tables(ctx)
    bad = [f"store lacks {name}" for name in expected if name not in got]
    results = collect_all({
        name: lambda name=name: got[name].select(
            *[f.name for f in specs[name].fields])
        for name in expected if name in got})
    for name, res in results.items():
        if isinstance(res, Exception):
            bad.append(f"store table {name}: {res!r}")
            continue
        want = dump.expected_rows(expected[name], specs[name])
        have = res[1]
        if sorted(have, key=repr) != sorted(want, key=repr):
            bad.append(f"store table {name} differs from its dump "
                       f"({len(have)} rows, dump {len(want)})")
    return bad


class Phase:
    name = ""
    needs_dump = True
    ops_per_pass = 1      # one sync; the libraries count each report/plan

    def prepare(self, ctx: Ctx) -> None:
        """Once per run after the inputs exist (part of set-up)."""

    def reset(self, ctx: Ctx) -> None:
        """Before each pass, outside the timer."""

    def run(self, ctx: Ctx, check: bool = False) -> PhaseResult:
        """One timed execution; with ``check`` the outputs are also
        verified (outside the timer) and failures recorded."""
        raise NotImplementedError

    def checks(self) -> int:
        """Checks ``run(check=True)`` performs beyond its operations."""
        return 0


class FullSync(Phase):
    """``run_import`` with ``sync: full`` into a fresh parquet store."""
    name = "full_sync"

    def reset(self, ctx):
        shutil.rmtree(ctx.path("store"), ignore_errors=True)

    def run(self, ctx, check=False):
        t0 = time.perf_counter()
        counts = run_sync(ctx, ctx.path("in", "dump0"), ctx.path("store"),
                          "full")
        dt = time.perf_counter() - t0
        return PhaseResult(dt, [], _check_sync(
            ctx, self.name, counts, "counts0", "base", check))

    def checks(self):
        return len(dump.SLICE) + 1


def _check_sync(ctx, name, counts, counts_key, tables_key, full) -> int:
    want = {k: v for k, v in ctx.notes[counts_key].items()
            if k != "__bytes__"}
    bad = [] if counts == want else [
        f"{name} loaded {counts}, the dump holds {want}"]
    if full:
        bad += [f"{name}: {b}" for b in
                check_store(ctx, ctx.notes[tables_key])]
    ctx.failures += bad
    return len(bad)


class IncrementalSync(Phase):
    """``run_import`` with ``sync: incremental`` over the mutated dump.
    Standalone it starts each pass from the post-full-sync snapshot
    taken in set-up; after a full-sync phase it merges into the store
    that phase just wrote."""
    name = "incremental_sync"

    def __init__(self, standalone: bool = True):
        self.standalone = standalone

    def prepare(self, ctx):
        if self.standalone:
            run_sync(ctx, ctx.path("in", "dump0"), ctx.path("snapshot"),
                     "full")

    def reset(self, ctx):
        if self.standalone:
            shutil.rmtree(ctx.path("store"), ignore_errors=True)
            shutil.copytree(ctx.path("snapshot"), ctx.path("store"))

    def run(self, ctx, check=False):
        t0 = time.perf_counter()
        counts = run_sync(ctx, ctx.path("in", "dump1"), ctx.path("store"),
                          "incremental")
        dt = time.perf_counter() - t0
        return PhaseResult(dt, [], _check_sync(
            ctx, self.name, counts, "counts1", "mutated", check))

    def checks(self):
        return len(dump.SLICE) + 1


def report_calls(seed: int, ledgers: list[str]):
    """The 15 reports with their arguments; the seed picks the
    ``account_ledger`` ledger."""
    import numpy as np

    from tally_database_loader_spark.plans import tally_reports as R
    ledger = ledgers[int(np.random.default_rng([seed, 2])
                         .integers(0, len(ledgers)))]
    args = {"trial_balance": (FROM, TO),
            "account_ledger": (ledger, LEDGER_FROM, LEDGER_TO),
            "sales_daily": (FROM, TO), "purchase_daily": (FROM, TO),
            "sales_monthly": (FROM, TO), "purchase_monthly": (FROM, TO),
            "daily_cash_movement": (FROM, TO),
            "group_tree_parent_child": ("Current Assets",),
            "group_tree_children_parent": ("Retail Debtors",)}
    return [(name, fn, args.get(name, ()))
            for name, fn in R.ALL_REPORTS.items()]


class ReportLibrary(Phase):
    """All 15 reports over the store; each pass re-reads the store and
    forces every report with the noop writer. Standalone, the store is
    loaded by a full sync in set-up."""
    name = "report_library"
    ops_per_pass = 15

    def __init__(self, standalone: bool = True):
        self.standalone = standalone

    def prepare(self, ctx):
        if self.standalone:
            run_sync(ctx, ctx.path("in", "dump0"), ctx.path("store"), "full")
        customers = [n for n in ctx.notes["base"]["mst_ledger"]["name"]
                     .to_pylist() if n.startswith("Customer#")]
        ctx.notes["reports"] = report_calls(ctx.seed, customers)

    def run(self, ctx, check=False):
        ops, failed = [], 0
        t0 = time.perf_counter()
        cat = store_tables(ctx)
        for name, fn, args in ctx.notes["reports"]:
            t = time.perf_counter()
            try:
                with ctx.span(f"reports.{name}"):
                    fn(cat, *args).write.format("noop").mode(
                        "overwrite").save()
            except Exception as exc:  # counted as a failed operation
                traceback.print_exc()
                ctx.failures.append(f"report {name}: {exc!r}")
                failed += 1
                continue
            ops.append((name, time.perf_counter() - t))
        dt = time.perf_counter() - t0
        if check:
            failed += self.check(ctx, cat)
        return PhaseResult(dt, ops, failed)

    def checks(self):
        return self.ops_per_pass

    def check(self, ctx, cat) -> int:
        """Each report over the store equals the DuckDB oracle of its
        ``plans.report_gate`` gate: the gate's program over
        ``report_gate.tally_catalog`` runs the same report function on
        the same slice, derived in SQL. Money is compared as the gates
        compare it (decimal cast to double at the end), on the oracle's
        columns."""
        from tally_database_loader_spark.plans import ORACLES
        from tally_database_loader_spark.plans.report_gate import (
            _money_to_double)
        results = collect_all({
            name: lambda fn=fn, args=args: _money_to_double(fn(cat, *args))
            for name, fn, args in ctx.notes["reports"]})
        con = _duck(ctx.notes["sf"])
        bad = 0
        try:
            for name, fn, args in ctx.notes["reports"]:
                gate, sql = f"report_{name}", None
                if name.startswith("group_tree_"):
                    gate = "report_group_trees"
                    sql = (f"SELECT name, parent FROM ({ORACLES[gate]}) "
                           f"WHERE direction = '{name[len('group_tree_'):]}'")
                elif name == "account_ledger":
                    sql = ORACLES[gate].replace("'Customer#000000001'",
                                                f"'{args[0]}'")
                try:
                    msg = compare(results[name], con, sql or ORACLES[gate])
                except Exception as exc:
                    traceback.print_exc()
                    msg = repr(exc)
                if msg:
                    ctx.failures.append(f"report {name} vs {gate}: {msg}")
                    bad += 1
        finally:
            con.close()
        return bad


def plan_fn(name: str):
    from tally_database_loader_spark.plans import QUERIES
    from tally_database_loader_spark.plans.bench_plans import BENCH_PLANS
    return QUERIES.get(name) or BENCH_PLANS[name]


class OperatorLibrary(Phase):
    """The nine plans ROADMAP items 3-5 will rewrite, each built and
    forced with the noop writer over the generated corpus."""
    name = "operator_library"
    needs_dump = False
    ops_per_pass = len(OPERATOR_PLANS)

    def run(self, ctx, check=False):
        ops, failed, built = [], 0, {}
        for name in OPERATOR_PLANS:
            t = time.perf_counter()
            try:
                with ctx.span(f"plan.{name}"):
                    with ctx.span("build"):
                        df = plan_fn(name)(ctx.spark, ctx.notes["sf"])
                    with ctx.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # counted as a failed operation
                traceback.print_exc()
                ctx.failures.append(f"plan {name}: {exc!r}")
                failed += 1
                continue
            ops.append((name, time.perf_counter() - t))
            built[name] = df
        if check:
            failed += self.check(ctx, built)
        return PhaseResult(sum(s for _, s in ops), ops, failed)

    def checks(self):
        return self.ops_per_pass

    def check(self, ctx, built: dict) -> int:
        """Each plan built in the pass equals its registered DuckDB
        oracle. The ``_prod`` twin has none by design; its gate twin,
        which calls the same operator entry points, is checked in its
        place."""
        from tally_database_loader_spark.plans import ORACLES
        con = _duck(ctx.notes["sf"])
        bad = 0
        try:
            for name, df in built.items():
                gate = name
                try:
                    if name.endswith("_prod"):
                        gate = name[:-len("_prod")]
                        df = plan_fn(gate)(ctx.spark, ctx.notes["sf"])
                    msg = compare(_collect(df), con, ORACLES[gate])
                except Exception as exc:
                    traceback.print_exc()
                    msg = repr(exc)
                if msg:
                    ctx.failures.append(f"plan {gate} vs its oracle: {msg}")
                    bad += 1
        finally:
            con.close()
        return bad


def _duck(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for t in BENCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(sf_dir, t + '.parquet')}')")
    return con


def _norm(v):
    import datetime
    import decimal
    import math
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _collect(df) -> tuple[list[str], list[tuple]]:
    """A DataFrame's column names and rows."""
    return [f.name for f in df.schema.fields], [tuple(r)
                                                for r in df.collect()]


def collect_all(builds: dict) -> dict:
    """``_collect`` every DataFrame factory in ``builds``, CHECK_THREADS
    at a time. A failed build or collect maps to its exception, which is
    then raised by ``compare`` or reported by the caller."""
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        futures = {k: pool.submit(lambda b=b: _collect(b()))
                   for k, b in builds.items()}
    out = {}
    for k, fut in futures.items():
        try:
            out[k] = fut.result()
        except Exception as exc:  # reported with its check
            traceback.print_exc()
            out[k] = exc
    return out


def compare(result, con, sql: str) -> str:
    """Empty when a collected Spark result (column names, rows) equals the
    DuckDB oracle as an order-insensitive multiset (column names, row
    count, values; floats to 9 decimals), else a description of the
    first difference. A result that is an exception is raised."""
    if isinstance(result, Exception):
        raise result
    s_cols = [c.lower() for c in result[0]]
    s_rows = result[1]
    rel = con.sql(sql)
    d_cols = [c.lower() for c in rel.columns]
    d_rows = rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != oracle {len(d_rows)}"
    a, b = _rows(s_cols, s_rows), _rows(d_cols, d_rows)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"first differing row {diff}"
    return ""


# the workloads the command accepts; each phase also runs on its own
WORKLOADS = {
    "lifecycle": lambda: [FullSync(), ReportLibrary(standalone=False),
                          IncrementalSync(standalone=False)],
    "operator_library": lambda: [OperatorLibrary()],
    "full_sync": lambda: [FullSync()],
    "incremental_sync": lambda: [IncrementalSync()],
    "report_library": lambda: [ReportLibrary()],
}
